"""Frequency operators: heavy hitters, CM point queries, min-count filter.

Reference semantics: the count-min filter gates sketch insertion at
`if(cm.addh(kmer) >= mincount) sketch.addh(kmer)`
(/root/reference/src/sketch_and_cmp.h:347); heavy-keeper/top-k is the
HeavyKeeper alternative (src/dashing.h:131-136). In the DataFrame model
the *candidate* top-k per group is a Window row_number (JVM-side,
shuffle-sorted); the CM sketch supplies point-estimate verification and
the scale path where exact counting of the long tail is too expensive.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from dashing_spark.functions import CountMinSketch
from dashing_spark.functions.serde import sketch_from_bytes
from dashing_spark.operators import agg
from dashing_spark.operators.ship import ensure_shipped


def token_counts(df: DataFrame, key_cols: Sequence[str], text_col: str = "text") -> DataFrame:
    """Exact (key, token, cnt) counts — explode stays whole-stage-codegen."""
    return (
        df.select(*key_cols, F.explode(F.split(F.col(text_col), " ", -1)).alias("token"))
        .groupBy(*key_cols, "token")
        .agg(F.count("*").alias("cnt"))
    )


def top_k_tokens(
    df: DataFrame, key_cols: Sequence[str], k: int, text_col: str = "text"
) -> DataFrame:
    """Exact top-k tokens per key, deterministic tie-break (cnt desc,
    token asc) — the reference's NN-heap shape as a Window."""
    counts = token_counts(df, key_cols, text_col)
    w = Window.partitionBy(*key_cols).orderBy(F.col("cnt").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _token_hashes(df: DataFrame, key_cols: Sequence[str], text_col: str) -> DataFrame:
    """(*key_cols, token, __h): the token stream with its seedless
    xxhash64 — the build-side convention :func:`cms_point_query` hashes
    its candidates with, kept in one place so the two cannot drift."""
    return df.select(
        *key_cols, F.explode(F.split(F.col(text_col), " ", -1)).alias("token")
    ).withColumn("__h", F.xxhash64("token"))


def freq_sketches_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    factories: "dict[str, object]",
    text_col: str = "text",
    salt: int | None = None,
) -> DataFrame:
    """EVERY frequency sketch in ``factories`` (name -> factory, e.g.
    CMS + HeavyKeeper) per key from ONE pass over the token stream —
    output (sketch_type, *key_cols, sketch), over :func:`_token_hashes`."""
    toks = _token_hashes(df, key_cols, text_col)
    return agg.sketch_hash_col_multi_type(toks, key_cols, factories, "__h", salt=salt)


def cms_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    text_col: str = "text",
    lg_width: int = 16,
    depth: int = 4,
    salt: int | None = None,
) -> DataFrame:
    """One count-min sketch of the token stream per key."""
    return agg.sketch_hash_col_by_key(
        _token_hashes(df, key_cols, text_col), key_cols,
        lambda: CountMinSketch.empty(lg_width, depth), "__h", salt=salt,
    )


def heavykeeper_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    text_col: str = "text",
    lg_width: int = 12,
    depth: int = 2,
    salt: int | None = None,
) -> DataFrame:
    """One HeavyKeeper top-k sketch of the token stream per key — the
    reference's CM alternative (/root/reference/src/dashing.h:131-136).
    Same pipeline shape as cms_by_key; point-query via cms_point_query
    (both sketches expose query_hashes)."""
    from dashing_spark.functions.heavykeeper import HeavyKeeper

    return agg.sketch_hash_col_by_key(
        _token_hashes(df, key_cols, text_col), key_cols,
        lambda: HeavyKeeper(lg_width, depth), "__h", salt=salt,
    )


def cms_point_query(
    candidates: DataFrame,
    cms_sketches: DataFrame,
    key_cols: Sequence[str],
    token_col: str = "token",
    est_col: str = "cm_est",
) -> DataFrame:
    """Estimate each candidate token's count from its key's sketch.

    Join is on the key (sketch side is tiny → broadcast); the per-batch
    point queries are vectorized numpy. Returns candidates + ``est_col``.
    Works for any frequency sketch exposing ``query_hashes`` (CM,
    HeavyKeeper)."""
    ensure_shipped(candidates.sparkSession)
    key_cols = list(key_cols)
    joined = candidates.withColumn("__h", F.xxhash64(token_col)).join(
        F.broadcast(cms_sketches), key_cols
    )
    schema = T.StructType(
        [f for f in joined.schema.fields if f.name not in (agg.SKETCH_COL, "__h")]
        + [T.StructField(est_col, T.LongType(), False)]
    )
    out_cols = [f.name for f in schema.fields]

    def fn(batches):
        cache: dict[bytes, CountMinSketch] = {}
        for pdf in batches:
            ests = np.zeros(len(pdf), dtype=np.int64)
            for blob, grp in pdf.groupby(agg.SKETCH_COL, sort=False):
                cm = cache.get(blob)
                if cm is None:
                    cm = cache[blob] = sketch_from_bytes(blob)
                h = grp["__h"].to_numpy(dtype=np.int64).view(np.uint64)
                ests[grp.index.to_numpy()] = cm.query_hashes(h)
            pdf = pdf.reset_index(drop=True)
            ests_aligned = ests  # groupby preserved original positions via index
            out = pdf.drop(columns=[agg.SKETCH_COL, "__h"])
            out[est_col] = ests_aligned
            yield out[out_cols]

    return joined.mapInPandas(fn, schema=schema)


# min_count_filter sketch backend → (builder, estimate column,
# default lg_width, default depth)
_SKETCH_FILTERS = {
    "cms": (cms_by_key, "cm_est", 20, 1),
    "hk": (heavykeeper_by_key, "hk_est", 12, 2),
}


def min_count_filter(
    df: DataFrame,
    key_cols: Sequence[str],
    min_count: int,
    text_col: str = "text",
    lg_width: int | None = None,
    depth: int | None = None,
    backend: str = "exact",
) -> DataFrame:
    """(key, token) rows whose token frequency within the key ≥ min_count
    — the reference's `--min-count` pre-filter (src/sketch_and_cmp.h:347).

    ``backend``: "exact" (default — groupBy count + HAVING, all JVM-side,
    one shuffle on (key, token) at any scale), "cms", or "hk".
    CMS mode never drops a frequent token (CM never underestimates) but
    may keep rare collisions — the reference's one-sided error. HK mode
    is the opposite side (the reference's HeavyKeeper alternative,
    src/dashing.h:131-136): estimates never EXCEED the true count, so
    nothing infrequent slips through, but a flow decayed out of its
    buckets can be dropped — the right trade for top-heavy filters.

    ``lg_width``/``depth`` default per backend (CMS: 20/1, HK: 12/2);
    explicit values are honored as given — the sketch constructor
    validates them, nothing is silently clamped.
    """
    counts = token_counts(df, key_cols, text_col)
    if backend == "exact":
        return counts.filter(F.col("cnt") >= min_count)
    if backend not in _SKETCH_FILTERS:
        raise ValueError(f"unknown min_count_filter backend: {backend}")
    build, est_col, lg_default, depth_default = _SKETCH_FILTERS[backend]
    sketches = build(
        df, key_cols, text_col,
        lg_width=lg_default if lg_width is None else lg_width,
        depth=depth_default if depth is None else depth,
    )
    est = cms_point_query(counts.drop("cnt"), sketches, key_cols, est_col=est_col)
    return est.filter(F.col(est_col) >= min_count)
