"""Pairwise distance topologies — `dashing dist` / `-Q` / `--nearest-neighbors`.

The reference's hand-rolled loops map onto Catalyst joins (SURVEY.md §2.5):

- all-pairs symmetric (`dist_loop`, /root/reference/src/sketch_and_cmp.h:785-880)
  -> self-join with ``a.key < b.key`` (the symmetry pruning Catalyst can't
  infer, encoded as the join condition);
- query×reference (`partdist_loop`, src/dashing.h:660-712) -> plain join of
  two sketch tables, small side broadcast;
- k-nearest-neighbor emission (`nndist_loop`, src/sketch_and_cmp.h:712-783,
  lock-striped heaps) -> Window ``row_number() <= k`` per left key — the
  heap micro-optimization is irrelevant under Spark's shuffle sort.

The pair kernel is a vectorized pandas UDF over one entry,
functions.compare.triple_batch_from_blobs: each distinct blob of a batch
is deserialized once, and every pair-comparable sketch type (HLL, KMV,
BBMH, HyperMinHash, SuperMinHash, Bloom and the counting minhashes) runs
its whole-batch kernel — zero per-row Python math. Only pairs whose
sides differ in params (mixed-k KMV) take the scalar set_triple_any.
At 10^12-scale the sketch table has one row per *key* (e.g. per
language/site/partition), so the O(n²) pair stage is over thousands of
16 KiB blobs, not over documents — broadcast + block nested loop is the
right physical plan, and we hint it.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from dashing_spark.functions.compare import (
    DISTANCE_MEASURES,
    measure_from_triple_batch,
    triple_batch_from_blobs,
)
from dashing_spark.functions.hll import resolve_estimator
from dashing_spark.operators.agg import SKETCH_COL
from dashing_spark.operators.ship import ensure_shipped


#: measures whose value depends on the (a, b) direction — mirroring a
#: pair row for these must recompute with the triple's sides swapped
ASYMMETRIC_MEASURES = frozenset(
    ("containment", "containment_dist", "full_containment_dist")
)
_SWAP_PREFIX = "swap:"


def _measures_udf(measures: Sequence[str], ksinv: float, estimator: str):
    measures = list(measures)
    resolve_estimator(estimator)  # ValueError for an unknown name

    def _measure(t0, t1, t2, ms):
        # "swap:<measure>": the same measure evaluated in the b->a
        # direction (triple sides exchanged) — used by nearest_neighbors
        # to mirror asymmetric measures correctly
        if ms.startswith(_SWAP_PREFIX):
            t0, t1, ms = t1, t0, ms[len(_SWAP_PREFIX):]
        return measure_from_triple_batch(t0, t1, t2, ms, ksinv)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _cmp(a_blobs: pd.Series, b_blobs: pd.Series) -> pd.Series:
        t0, t1, t2 = triple_batch_from_blobs(
            [bytes(x) for x in a_blobs], [bytes(x) for x in b_blobs], estimator
        )
        cols = [_measure(t0, t1, t2, ms) for ms in measures]
        return pd.Series(list(np.stack(cols, axis=1)), dtype=object)

    return _cmp


def _prefixed(df: DataFrame, key_cols: Sequence[str], prefix: str) -> DataFrame:
    cols = [F.col(k).alias(f"{prefix}{k}") for k in key_cols]
    return df.select(*cols, F.col(SKETCH_COL).alias(f"{prefix}{SKETCH_COL}"))


def _attach_measures(
    pairs: DataFrame,
    measures: Sequence[str],
    ksinv: float,
    estimator: str,
) -> DataFrame:
    a_col, b_col = f"a_{SKETCH_COL}", f"b_{SKETCH_COL}"
    udf = _measures_udf(measures, ksinv, estimator)
    pairs = pairs.withColumn("__m", udf(F.col(a_col), F.col(b_col)))
    for i, ms in enumerate(measures):
        pairs = pairs.withColumn(ms, F.col("__m").getItem(i))
    return pairs.drop("__m", a_col, b_col)


#: auto-dispatch cap on the pair-grid side count: 64² block pairs is
#: plenty of reducer parallelism while the left-side replication factor
#: (B) stays two orders below the O(n) a row-hash join would add
_MAX_GRID_BLOCKS = 64


def _validate_n_blocks(n_blocks) -> None:
    """Reject anything but int/None once the "auto" sentinel has been
    resolved — a stray string would otherwise hit `n_blocks > 1` and
    raise an opaque str-vs-int TypeError."""
    if n_blocks is not None and (
        not isinstance(n_blocks, int) or isinstance(n_blocks, bool)
    ):
        raise ValueError(
            f"n_blocks must be an int, None, or 'auto'; got {n_blocks!r}"
        )


def pick_pair_strategy(sketches: DataFrame) -> int | None:
    """Size-based physical-strategy selector for the all-pairs stage —
    the Spark analogue of the reference's distance-matrix mmap spill
    decision (/root/reference/distmat/distmat.h:188-248): small table →
    broadcast nested-loop (returns None), large table → grid theta-join
    (returns the block count B).

    Sizing comes from Catalyst's optimized-plan statistics, which are
    real whenever the sketch table is materialized (the 100 TB flow:
    `plans/pipeline.py::build_or_resume_sketch_table` writes sketch
    parquet, so the re-read scan has file-size stats). Stats propagated
    THROUGH a Python-eval node (un-materialized mapInArrow /
    applyInArrow sketch builds) are input-scaled guesses — Catalyst
    assumes UDF output ~ input size, so a 5-row sketch table over a
    50M-doc scan "weighs" gigabytes. Those plans keep the broadcast
    default rather than taxing small in-flight panels with B-way
    replication — materialize the sketch table to opt in to the
    selector at scale. Streaming plans also keep the default: the
    optimizer pass would trip the batch-only checker, and sizing a
    stream is meaningless anyway."""
    if sketches.isStreaming:
        return None
    qe = sketches._jdf.queryExecution()
    plan = qe.optimizedPlan()
    plan_str = plan.toString()
    if any(
        tok in plan_str
        for tok in ("InPandas", "MapInArrow", "PythonUDF", "MapPartitions")
    ):
        return None
    jconf = sketches.sparkSession._jsparkSession.sessionState().conf()
    threshold = int(jconf.autoBroadcastJoinThreshold())
    if threshold <= 0:
        threshold = 10 * 1024 * 1024
    size = int(plan.stats().sizeInBytes())
    unknown = size >= (1 << 60)  # defaultSizeInBytes sentinel region
    if unknown or size <= threshold:
        return None
    return max(2, min(_MAX_GRID_BLOCKS, -(-size // threshold)))


def _pair_join(
    a: DataFrame, b: DataFrame, key_cols: Sequence[str], n_blocks, cond=None
) -> DataFrame:
    """Join the "a_"- and "b_"-prefixed sketch sides, keeping the pairs
    that satisfy ``cond`` (all pairs when None).

    By default ``b`` is broadcast and the join is a nested loop. With
    ``n_blocks`` B > 1 it is the GRID join: each ``b`` row lands in
    block h(b key) mod B (column ``__bb``), each ``a`` row is exploded
    over the B block ids, and the sides meet in ONE equi-join on the
    block id — every (a, b) combination on exactly one reducer, ``b``
    never replicated, no executor holding more than one ``b`` block."""
    if not (n_blocks and n_blocks > 1):
        b = F.broadcast(b)
        return a.crossJoin(b) if cond is None else a.join(b, cond)
    b = b.withColumn(
        "__bb",
        F.pmod(F.xxhash64(*[f"b_{k}" for k in key_cols]), F.lit(n_blocks)).cast("int"),
    )
    a = a.withColumn("__bb", F.explode(F.sequence(F.lit(0), F.lit(int(n_blocks) - 1))))
    pairs = a.join(b, "__bb")
    if cond is not None:
        pairs = pairs.filter(cond)
    return pairs.drop("__bb")


def all_pairs(
    sketches: DataFrame,
    key_cols: Sequence[str],
    measures: Sequence[str] = ("ji",),
    ksinv: float = 1.0,
    estimator: str = "default",
    n_blocks: int | str | None = "auto",
) -> DataFrame:
    """Upper-triangular all-pairs comparison: rows with a_key < b_key —
    the long-format equivalent of the packed UT float32 matrix
    (/root/reference/distmat/distmat.h:151-183).

    Physical strategy: by default the right side is broadcast and the
    join is a nested loop — right while the sketch table fits an
    executor (thousands of keys × ~16 KiB blobs). Past that (10^5+ keys
    → the table no longer broadcasts), pass ``n_blocks`` to switch to
    the GRID join (:func:`_pair_join`): the left side is replicated B
    ways and meets the right side's h(key) mod B block in ONE equi-join
    on the block id, and the `a < b` condition keeps each unordered
    pair once. Total traffic n·(B+1) rows vs the O(n²) a cartesian
    would shuffle: the classic O(n·√P) theta-join cost.

    ``n_blocks="auto"`` (the default) picks the strategy from the
    table's Catalyst size statistics via :func:`pick_pair_strategy`;
    pass an int to force the grid, or None to force broadcast."""
    ensure_shipped(sketches.sparkSession)
    key_cols = list(key_cols)
    if n_blocks == "auto":
        n_blocks = pick_pair_strategy(sketches)
    _validate_n_blocks(n_blocks)
    a = _prefixed(sketches, key_cols, "a_")
    b = _prefixed(sketches, key_cols, "b_")
    cond = F.struct(*[F.col(f"a_{k}") for k in key_cols]) < F.struct(
        *[F.col(f"b_{k}") for k in key_cols]
    )
    pairs = _pair_join(a, b, key_cols, n_blocks, cond)
    return _attach_measures(pairs, measures, ksinv, estimator)


def query_reference(
    queries: DataFrame,
    references: DataFrame,
    key_cols: Sequence[str],
    measures: Sequence[str] = ("containment",),
    ksinv: float = 1.0,
    estimator: str = "default",
    n_blocks: int | str | None = "auto",
) -> DataFrame:
    """Rectangular |Q|×|R| comparison (`-Q` mode; containment family
    requires it — src/sketch_and_cmp.h:792-796). Queries are the "A"
    side of the triple, references the "B" side.

    Physical strategy mirrors :func:`all_pairs`: by default the
    reference table is broadcast and the panel is a nested loop — right
    while the panel fits an executor. A 10^6-sketch reference panel
    cannot broadcast (the reference streams row blocks through
    `partdist_loop`, /root/reference/src/dashing.h:660-712); there the
    GRID join splits the reference side into B = ceil(size/threshold)
    id-hash blocks and replicates each query row across the B block ids
    (:func:`_pair_join`, with no triangular filter), meeting in ONE
    equi-join on the block id. Per
    reducer: |R|/B build rows + a streamed pass of the queries —
    bounded memory at any reference size, traffic |Q|·B + |R| rows vs
    the broadcast's |R| × executors.

    ``n_blocks="auto"`` sizes the REFERENCE side via
    :func:`pick_pair_strategy` (materialized tables get real stats;
    in-flight Python-built panels keep the broadcast default); an int
    forces the grid, None forces broadcast."""
    ensure_shipped(queries.sparkSession)
    key_cols = list(key_cols)
    if n_blocks == "auto":
        n_blocks = pick_pair_strategy(references)
    _validate_n_blocks(n_blocks)
    q = _prefixed(queries, key_cols, "a_")
    r = _prefixed(references, key_cols, "b_")
    pairs = _pair_join(q, r, key_cols, n_blocks)
    return _attach_measures(pairs, measures, ksinv, estimator)


def nearest_neighbors(
    sketches: DataFrame,
    key_cols: Sequence[str],
    n_neighbors: int,
    measure: str = "ji",
    ksinv: float = 1.0,
    estimator: str = "default",
    n_blocks: int | str | None = "auto",
) -> DataFrame:
    """Top-k neighbors per key (`--nearest-neighbors`): symmetric pairs
    mirrored to both directions, then Window row_number ≤ k ordered by
    the measure's natural direction (emt2nntype, src/dashing.h:268-280).
    ``n_blocks`` selects the grid pair strategy (see all_pairs)."""
    key_cols = list(key_cols)
    # a directional measure's mirrored row must carry the value evaluated
    # b->a, not a copy of a->b (containment(X in Y) and containment(Y in
    # X) differ whenever |X| != |Y|) — one pair stage computes both
    # directions from the same triple
    swap = _SWAP_PREFIX + measure if measure in ASYMMETRIC_MEASURES else measure
    ut = all_pairs(
        sketches, key_cols, tuple(dict.fromkeys((measure, swap))), ksinv,
        estimator, n_blocks=n_blocks,
    )
    swapped = ut.select(
        *[F.col(f"b_{k}").alias(f"a_{k}") for k in key_cols],
        *[F.col(f"a_{k}").alias(f"b_{k}") for k in key_cols],
        F.col(swap).alias(measure),
    )
    both = ut.select(swapped.columns).unionByName(swapped)
    direction = (
        [F.col(measure).asc()] if measure in DISTANCE_MEASURES else [F.col(measure).desc()]
    )
    w = Window.partitionBy(*[f"a_{k}" for k in key_cols]).orderBy(
        *direction, *[F.col(f"b_{k}").asc() for k in key_cols]
    )
    return (
        both.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_neighbors)
    )


def estimate_cardinalities(
    sketches: DataFrame, key_cols: Sequence[str], estimator: str = "default"
) -> DataFrame:
    """`dashing card` — one cardinality estimate per sketch row
    (size_sketch_and_emit, /root/reference/src/sketch_and_cmp.h:227-251)."""
    from dashing_spark.operators.agg import estimate_expr

    return sketches.select(
        *key_cols, estimate_expr(estimator)(F.col(SKETCH_COL)).alias("cardinality")
    )


def multi_k_measures(
    df: DataFrame,
    key_col: str,
    item_col: str,
    ks: Sequence[int],
    measure: str = "mash_dist",
) -> DataFrame:
    """`mkdist` sweep (/root/reference/src/mkdistmain.cpp:12-142),
    one-scan: the pair set-triples are computed ONCE (one distinct +
    one intersection shuffle — the expensive part at 100 TB), then each
    k's distance transform is applied over an exploded literal k array,
    yielding long-format (a_key, b_key, measure, k) rows from a single
    pass. The reference shells out one subprocess per k; the former
    Spark shape unioned one full scan+join per k — at a 3-k sweep this
    plan moves 3× less data for identical output (pinned by
    tests/test_plans.py::test_multi_k_single_scan and the
    multi_k_flatten oracle gate)."""
    ks = [int(k) for k in ks]
    if not ks:
        raise ValueError("ks must be non-empty")
    if len(set(ks)) != len(ks):
        raise ValueError(f"duplicate k in {ks}")
    triples = _pair_set_triples(df, key_col, item_col)
    expl = triples.withColumn(
        "k", F.explode(F.array(*[F.lit(k) for k in ks]))
    )
    kk = F.col("k").cast("double")
    exprs = _measure_exprs(kk, F.lit(1.0) / kk)
    return expl.select("a_key", "b_key", exprs[measure].alias(measure), "k")


def flatten_multi_k(pairs_mk: DataFrame, measure: str, ks: Sequence[int]) -> DataFrame:
    """`flatten_all` (/root/reference/src/flatten_all.cpp:5-52): stack
    per-k values into one row per pair (pivot on k)."""
    return (
        pairs_mk.groupBy("a_key", "b_key")
        .pivot("k", [int(k) for k in ks])
        .agg(F.first(measure))
    )


def mash_slope(pairs_mk: DataFrame, measure: str = "mash_dist") -> DataFrame:
    """Per-pair OLS slope of measure against 1/k — the generic core of
    mkdist's per-pair Jukes–Cantor fit (mkmat2jcdistmat,
    /root/reference/src/background.cpp:102-175), domain model excluded:
    slope = covar_pop(measure, 1/k) / var_pop(1/k), pure built-in aggs."""
    withx = pairs_mk.withColumn("invk", F.lit(1.0) / F.col("k"))
    return withx.groupBy("a_key", "b_key").agg(
        (F.covar_pop(measure, "invk") / F.var_pop("invk")).alias("slope"),
        F.avg(measure).alias("mean_measure"),
    )


def exact_pair_measures(
    df: DataFrame,
    key_col: str,
    item_col: str,
    measures: Sequence[str] = ("ji",),
    k: float = 1.0,
) -> DataFrame:
    """Exact-oracle all-pairs measures from raw (key, item) rows — the
    reference's `--use-full-khash-sets` ground-truth mode
    (/root/reference/src/khset64.h:129-141) as a pure DataFrame plan:
    distinct items per key, pairwise intersection via equi-join, set
    triple by arithmetic. Stays entirely JVM-side.

    ``k`` is the shingle (k-mer) width. The Mash-family transforms divide
    by ``k`` (never multiply by a pre-rounded 1/k) so the arithmetic is
    bit-identical to an ANSI-SQL oracle writing ``-ln(...) / k``."""
    pairs = _pair_set_triples(df, key_col, item_col)
    # ksinv precomputed as a Python double: same IEEE value as SQL 1.0/k
    exprs = _measure_exprs(F.lit(float(k)), F.lit(1.0 / float(k)))
    out = pairs.select(
        "a_key", "b_key", *[exprs[ms].alias(ms) for ms in measures]
    )
    return out


def _pair_set_triples(df: DataFrame, key_col: str, item_col: str) -> DataFrame:
    """Exact all-pairs set triples from raw (key, item) rows:
    (a_key, b_key, sz_a, sz_b, t2) with a_key < b_key, zero-intersection
    pairs kept. One distinct + one intersection equi-join — the only
    data-proportional shuffles any measure family needs."""
    d = df.select(key_col, item_col).distinct()
    sizes = d.groupBy(key_col).agg(F.count("*").alias("sz"))
    a = d.select(F.col(key_col).alias("a_key"), F.col(item_col).alias("it"))
    b = d.select(F.col(key_col).alias("b_key"), F.col(item_col).alias("it"))
    inter = (
        a.join(b, "it")
        .filter(F.col("a_key") < F.col("b_key"))
        .groupBy("a_key", "b_key")
        .agg(F.count("*").alias("t2"))
    )
    sz_a = sizes.select(F.col(key_col).alias("a_key"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(key_col).alias("b_key"), F.col("sz").alias("sz_b"))
    # cross of all key pairs (a<b) keeps zero-intersection pairs too
    return (
        sz_a.crossJoin(sz_b)
        .filter(F.col("a_key") < F.col("b_key"))
        .join(inter, ["a_key", "b_key"], "left")
        .fillna({"t2": 0})
    )


def _measure_exprs(kk, ksinv) -> dict:
    """Measure-name -> Column expression over a set-triple row
    (sz_a, sz_b, t2). ``kk`` / ``ksinv`` are Column expressions so the
    same transforms serve both a fixed k (exact_pair_measures) and a
    per-row k column (multi_k_measures)."""
    t0 = (F.col("sz_a") - F.col("t2")).cast("double")
    t1 = (F.col("sz_b") - F.col("t2")).cast("double")
    t2 = F.col("t2").cast("double")
    exprs = {
        "ji": t2 / (t0 + t1 + t2),
        "sizes": t2,
        "containment": t2 / (t0 + t2),
        "symmetric_containment": t2 / (F.least(t0, t1) + t2),
    }
    ji = exprs["ji"]
    exprs["mash_dist"] = F.when(
        ji > 0, -F.log(F.lit(2.0) * ji / (F.lit(1.0) + ji)) / kk
    ).otherwise(1.0)
    exprs["full_mash_dist"] = F.when(
        ji > 0, F.lit(1.0) - F.pow(F.lit(2.0) * ji / (F.lit(1.0) + ji), ksinv)
    ).otherwise(1.0)
    c = exprs["containment"]
    exprs["containment_dist"] = F.when(c > 0, -F.log(c) / kk).otherwise(1.0)
    exprs["full_containment_dist"] = F.when(
        c > 0, F.lit(1.0) - F.pow(c, ksinv)
    ).otherwise(1.0)
    sci = exprs["symmetric_containment"]
    exprs["symmetric_containment_dist"] = F.when(sci > 0, -F.log(sci) / kk).otherwise(1.0)
    return exprs
