"""Incremental sketch maintenance over a stream.

``foreachBatch`` receives each micro-batch as a normal DataFrame; we
build the batch's sketch table with the same two-stage aggregation used
in batch mode, merge it with the persisted state table, and commit the
result. Because merges are exact monoid operations, the final state is
bit-identical to a one-shot batch build over the union of all
micro-batches — asserted in tests.

The state is a snapshot-log table (plans/snapshots.py), and each epoch
is one ``overwrite`` commit whose properties hold the epoch id and the
layout record: layout version, sketch header, key columns, and
``text_col`` or the qualified name of ``build_fn``. Crash/retry safety
(the part a naive "overwrite current/" gets wrong):

- each epoch's table is always derived from the PREVIOUS epoch's
  committed state — so a crashed or retried epoch rebuilds from inputs
  that do not already contain its batch, and additive sketches (CMS,
  counting KMV, KLL, t-digest) are never double-counted;
- a crash mid-epoch leaves the log at the last complete epoch, never at
  a half-written table; its uncommitted data dir is reaped later;
- a foreachBatch retry of the committed epoch is a no-op (the merge
  result is already committed and the streaming checkpoint will advance
  past it);
- a resume under another layout raises ValueError before the batch is
  read: merging other tokens or other sketch parameters into the state
  would return silently wrong sketches.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from dashing_spark.operators import agg
from dashing_spark.plans import snapshots
from dashing_spark.plans.pipeline import sketch_tag_for

#: bumped whenever the persisted state table changes shape
_FORMAT_VERSION = 1


def merge_sketch_states(
    a: DataFrame, b: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """Merge two sketch tables keyed the same way (outer union-merge)."""
    return agg.merge_sketches_by_key(a.unionByName(b), key_cols)


def committed_epoch(state_dir: str) -> int | None:
    """Epoch id of the committed state, or None before the first commit."""
    props = snapshots.committed_properties(state_dir)
    return None if props is None else props["epoch"]


def current_state_path(state_dir: str) -> str:
    """Directory of the last committed state table."""
    return snapshots.data_paths(state_dir)[0]


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
    layout = {
        "version": _FORMAT_VERSION,
        "sketch": sketch_tag_for(make_sketch),
        "key_cols": list(key_cols),
        **(
            {"text_col": text_col}
            if build_fn is None
            else {"build_fn": f"{build_fn.__module__}.{build_fn.__qualname__}"}
        ),
    }
    props = snapshots.committed_properties(state_dir, layout)
    if batch_df.isEmpty():
        return
    prev = None if props is None else props["epoch"]
    if not snapshots.epoch_is_new(state_dir, epoch_id, prev):
        return
    if build_fn is not None:
        merged = build_fn(batch_df)
    else:
        merged = agg.sketch_tokens_by_key(
            batch_df, list(key_cols), make_sketch, text_col=text_col
        )
    if prev is not None:
        state = snapshots.read_table(batch_df.sparkSession, state_dir)
        merged = merge_sketch_states(state, merged, list(key_cols))
    path = snapshots.write_data(state_dir, merged, f"epoch_{epoch_id}")
    snapshots.commit_paths(
        state_dir, [path], "overwrite", {"epoch": epoch_id, "layout": layout}
    )
    # keep the previous epoch's table for safety, drop older ones
    snapshots.expire_snapshots(state_dir, keep_last=2)


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

    State lives under ``state_dir`` (a snapshot-log table, one version
    per epoch); the streaming engine's
    checkpoint at ``checkpoint_dir`` provides restart semantics, and the
    epoch protocol makes retried batches idempotent. Late data needs no
    watermark bookkeeping: a late row merges into its window's sketch
    whenever it arrives (sketches are order-independent monoids).
    Returns the StreamingQuery.
    """
    key_cols = list(key_cols)

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
    return snapshots.read_table(spark, state_dir)


def estimate_state(spark: SparkSession, state_dir: str, key_cols: Sequence[str]) -> DataFrame:
    """Read the live state table and project estimates."""
    state = read_state(spark, state_dir)
    return state.select(
        *key_cols, agg.estimate_expr()(F.col(agg.SKETCH_COL)).alias("estimate")
    )
