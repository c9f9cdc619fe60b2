"""Incremental sketch maintenance over a stream.

``foreachBatch`` receives each micro-batch as a normal DataFrame; we
build the batch's sketch table with the same two-stage aggregation used
in batch mode, merge it with the persisted state table, and commit the
result. Because merges are exact monoid operations, the final state is
bit-identical to a one-shot batch build over the union of all
micro-batches — asserted in tests.

Crash/retry safety (the part a naive "overwrite current/" gets wrong):

- each epoch writes to its own ``epoch_{id}`` directory, always derived
  from the PREVIOUS epoch's committed state — so a crashed or retried
  epoch rebuilds from inputs that do not already contain its batch, and
  additive sketches (CMS, counting KMV, KLL, t-digest) are never
  double-counted;
- the live state is designated by a tiny ``_CURRENT`` manifest file,
  committed with an atomic rename (os.replace) — a crash mid-epoch
  leaves the manifest pointing at the last complete epoch, never at a
  half-written directory;
- a foreachBatch retry of an epoch the manifest already records is a
  no-op (the merge result is already committed and the streaming
  checkpoint will advance past it).

On object stores without atomic rename, swap `_commit_manifest` for a
conditional-put; everything else is unchanged.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from dashing_spark.operators import agg

_MANIFEST = "_CURRENT"


def merge_sketch_states(
    a: DataFrame, b: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """Merge two sketch tables keyed the same way (outer union-merge)."""
    return agg.merge_sketches_by_key(a.unionByName(b), key_cols)


def committed_epoch(state_dir: str) -> int | None:
    """Epoch id the manifest points at, or None before the first commit."""
    path = os.path.join(state_dir, _MANIFEST)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return int(fh.read().strip())


def current_state_path(state_dir: str) -> str:
    """Directory of the last committed state table."""
    epoch = committed_epoch(state_dir)
    if epoch is None:
        raise FileNotFoundError(f"no committed state under {state_dir}")
    return os.path.join(state_dir, f"epoch_{epoch}")


def _commit_manifest(state_dir: str, epoch_id: int) -> None:
    """Atomically repoint the manifest (write-then-rename)."""
    tmp = os.path.join(state_dir, f"{_MANIFEST}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(epoch_id))
    os.replace(tmp, os.path.join(state_dir, _MANIFEST))


def _gc_old_epochs(state_dir: str, keep_epoch: int) -> None:
    """Best-effort removal of epoch dirs older than the committed one."""
    try:
        for name in os.listdir(state_dir):
            # tolerate stray entries like "epoch_9.bak" (int() raises
            # ValueError, which must not kill a just-committed batch)
            if not name.startswith("epoch_"):
                continue
            try:
                epoch = int(name[6:])
            except ValueError:
                continue
            if epoch < keep_epoch:
                shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)
    except OSError:
        pass


def apply_sketch_batch(
    batch_df: DataFrame,
    epoch_id: int,
    key_cols: Sequence[str],
    make_sketch: Callable[[], object],
    state_dir: str,
    text_col: str = "text",
    build_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Merge one micro-batch into the persisted state — idempotent per
    epoch (see module docstring for the commit protocol). ``build_fn``
    overrides the default text-token sketch builder (any batch →
    sketch-table transform keyed by ``key_cols``)."""
    if batch_df.isEmpty():
        return
    prev = committed_epoch(state_dir)
    if prev is not None and prev >= epoch_id:
        if prev == epoch_id:
            return  # retried epoch already committed: no double-merge
        # the engine replays at most the LAST batch; a lower epoch id
        # means the query's counter restarted against an old state_dir
        # (fresh checkpoint, or two queries sharing state). Silently
        # skipping would drop every new batch up to the old counter —
        # refuse instead (same contract as dedup_stream.apply_dedup_batch)
        raise ValueError(
            f"epoch {epoch_id} precedes committed epoch {prev} in "
            f"{state_dir}: state_dir/checkpoint_dir mismatch"
        )
    spark = batch_df.sparkSession
    if build_fn is not None:
        batch_sketches = build_fn(batch_df)
    else:
        batch_sketches = agg.sketch_tokens_by_key(
            batch_df, list(key_cols), make_sketch, text_col=text_col
        )
    if prev is not None:
        state = spark.read.parquet(os.path.join(state_dir, f"epoch_{prev}"))
        merged = merge_sketch_states(state, batch_sketches, list(key_cols))
    else:
        merged = batch_sketches
    out = os.path.join(state_dir, f"epoch_{epoch_id}")
    # overwrite is safe: a half-written dir from a crashed attempt of
    # THIS epoch is rebuilt from the unchanged previous epoch
    merged.write.mode("overwrite").parquet(out)
    _commit_manifest(state_dir, epoch_id)
    if prev is not None:
        _gc_old_epochs(state_dir, prev)  # keep prev for safety, drop older


def incremental_sketch_query(
    stream: DataFrame,
    key_cols: Sequence[str],
    make_sketch: Callable[[], object],
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    trigger_available_now: bool = True,
    build_fn: Callable[[DataFrame], DataFrame] | None = None,
):
    """Start a streaming query that maintains a per-key sketch table.

    State lives under ``state_dir`` (one parquet dir per epoch plus an
    atomically-renamed ``_CURRENT`` manifest); the streaming engine's
    checkpoint at ``checkpoint_dir`` provides restart semantics, and the
    epoch protocol makes retried batches idempotent. Late data needs no
    watermark bookkeeping: a late row merges into its window's sketch
    whenever it arrives (sketches are order-independent monoids).
    Returns the StreamingQuery.
    """
    key_cols = list(key_cols)
    os.makedirs(state_dir, exist_ok=True)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        apply_sketch_batch(
            batch_df, epoch_id, key_cols, make_sketch, state_dir, text_col, build_fn
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the last committed state table."""
    return spark.read.parquet(current_state_path(state_dir))


def estimate_state(spark: SparkSession, state_dir: str, key_cols: Sequence[str]) -> DataFrame:
    """Read the live state table and project estimates."""
    state = read_state(spark, state_dir)
    return state.select(
        *key_cols, agg.estimate_expr()(F.col(agg.SKETCH_COL)).alias("estimate")
    )
