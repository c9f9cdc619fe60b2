"""Checkpointed sketch-build pipeline with lineage + metrics.

Reference behavior being re-expressed: dashing caches each sketch in a
deterministically-named file and reuses it when present (`-W`/cache
branch, /root/reference/src/sketch_and_cmp.h:326-357). Our checkpoint
unit is the *sketch table*: a parquet (Iceberg at production — jars not
in this image, parquet has the same downstream shape) directory keyed by
a params fingerprint. A rerun with identical (input, key, sketch params)
resumes from the snapshot instead of recomputing; anything else builds
fresh under a different fingerprint.

Per the north rule, each run emits:
- per-partition lineage (partition id, rows consumed, order-insensitive
  row fingerprint) — proves which input slices fed the snapshot;
- update/merge counters + wall time as a metrics dict / JSON file.

Counters come from Spark accumulators updated inside the Arrow batch
kernels — they cross the executor boundary for free.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass
from typing import Callable, Sequence

from pyspark.sql import DataFrame, functions as F

from dashing_spark.operators import agg
from dashing_spark.params import SketchParams
from dashing_spark.plans import snapshots


@dataclass
class RunMetrics:
    rows_in: int
    keys_out: int
    partial_sketches: int
    merges: int
    resumed: bool
    wall_sec: float
    checkpoint: str
    params: dict

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)


def params_fingerprint(
    params: SketchParams,
    key_cols: Sequence[str],
    input_token: str = "",
    sketch_tag: str = "",
    text_col: str = "text",
) -> str:
    """Checkpoint key. ``input_token`` identifies the input dataset
    (semantic plan hash / source file list), ``sketch_tag`` the sketch
    constructor (serialized header bytes), and ``text_col`` the sketched
    column — without any of them a rerun against different data, a
    different sketch type, or a different column of the SAME table
    would silently resume from a stale snapshot."""
    import hashlib

    blob = json.dumps(
        {
            "params": params.to_dict(),
            "keys": list(key_cols),
            "input": input_token,
            "sketch": sketch_tag,
            "text_col": text_col,
        },
        sort_keys=True,
    )
    return hashlib.md5(blob.encode()).hexdigest()[:16]


def input_token_for(df: DataFrame) -> str:
    """Stable identifier of a DataFrame's input: the analyzed-plan
    semantic hash when available, else the sorted source-file list."""
    try:
        return f"plan:{df._jdf.semanticHash()}"
    except Exception:
        try:
            return "files:" + ",".join(sorted(df.inputFiles()))
        except Exception:
            return ""


def sketch_tag_for(make_sketch: Callable[[], object]) -> str:
    """Identify the sketch constructor by its serialized header bytes
    (magic + type id + leading params)."""
    try:
        return bytes(make_sketch().to_bytes()[:8]).hex()
    except Exception:
        return type(make_sketch()).__name__


def partition_lineage(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """(partition_id, n_rows, fingerprint): order-insensitive xor-style
    fingerprint of the rows each input partition contributed — the
    resume audit trail. Pure JVM: xxhash64 per row, bit-agnostic sum."""
    h = F.xxhash64(*cols)
    return (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__h", h)
        .groupBy("__pid")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(__h)").alias("fingerprint"),
        )
        .withColumnRenamed("__pid", "partition_id")
    )


def build_or_resume_sketch_table(
    df: DataFrame,
    key_cols: Sequence[str],
    make_sketch: Callable[[], object],
    checkpoint_dir: str,
    params: SketchParams | None = None,
    text_col: str = "text",
    salt: int | None = None,
    force: bool = False,
    lineage: bool = True,
) -> tuple[DataFrame, RunMetrics]:
    """Build the sketch table, or read it back if this exact
    (params, keys) snapshot already exists. Returns (sketches, metrics).

    ``lineage=False`` skips the per-partition lineage table: it is a
    SECOND full scan of the source (a separate count+bit_xor job), which
    at the 10^12-row regime doubles input I/O — disable it when the
    audit trail isn't needed, or when the metrics counters suffice.
    """
    spark = df.sparkSession
    params = params or SketchParams()
    fp = params_fingerprint(
        params, key_cols, input_token_for(df), sketch_tag_for(make_sketch),
        text_col=text_col,
    )
    snap = os.path.join(checkpoint_dir, f"sketches_{fp}")
    lineage_path = os.path.join(checkpoint_dir, f"lineage_{fp}")
    metrics_path = os.path.join(checkpoint_dir, f"metrics_{fp}.json")
    t0 = time.time()

    # snapshot-log table (plans/snapshots.py): resume = a committed
    # version exists; legacy pre-r6 checkpoints (bare parquet dir with
    # _SUCCESS) stay readable
    legacy = os.path.exists(os.path.join(snap, "_SUCCESS"))
    committed = snapshots.current_version(snap) is not None
    if not force and (committed or legacy):
        # a committed snapshot WINS over leftover legacy files: a
        # force=True rebuild over a pre-r6 legacy dir commits its data
        # under data/ but leaves the stale top-level part-files and
        # _SUCCESS in place — reading the bare dir would serve stale
        # pre-force rows (or fail on the mixed layout) forever
        # (r6 ADVICE #2)
        sketches = (
            snapshots.read_table(spark, snap)
            if committed
            else spark.read.parquet(snap)
        )
        m = RunMetrics(
            rows_in=0,
            keys_out=sketches.count(),
            partial_sketches=0,
            merges=0,
            resumed=True,
            wall_sec=time.time() - t0,
            checkpoint=snap,
            params=params.to_dict(),
        )
        return sketches, m

    sc = spark.sparkContext
    acc_rows = sc.accumulator(0)
    acc_partials = sc.accumulator(0)
    acc_merges = sc.accumulator(0)

    src = df.select(*key_cols, text_col)
    # the real build kernels with accumulator hooks — one implementation
    # (operators/agg.py), not a counted copy
    sketches = agg.sketch_tokens_by_key(
        src,
        list(key_cols),
        make_sketch,
        text_col=text_col,
        shingle_w=params.shingle_w,
        seed=params.seed,
        salt=salt,
        counters={"rows": acc_rows, "partials": acc_partials, "merges": acc_merges},
    )

    # atomic snapshot commit: a crash mid-write leaves the PRIOR
    # committed snapshot intact and readable (the pre-r6 code
    # overwrote the live dir — a crash destroyed the only copy)
    snapshots.commit(snap, sketches, op="overwrite", properties={"fingerprint": fp})
    if lineage:
        partition_lineage(src, [text_col]).write.mode("overwrite").parquet(
            lineage_path
        )
    out = snapshots.read_table(spark, snap)
    m = RunMetrics(
        rows_in=acc_rows.value,
        keys_out=out.count(),
        partial_sketches=acc_partials.value,
        merges=acc_merges.value,
        resumed=False,
        wall_sec=time.time() - t0,
        checkpoint=snap,
        params=params.to_dict(),
    )
    with open(metrics_path, "w") as f:
        f.write(m.to_json())
    return out, m
