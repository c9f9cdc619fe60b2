"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry pairs our sketch-engine computation with exact
values computed JVM-side in the same plan; sketch estimates are emitted
as boolean bound-checks (`*_ok`) against the algorithm's published error
bound (BASELINE.md §b), while the exact columns must hash-match the
DuckDB ``oracle_sql()``. This mirrors the reference's own validation
strategy: estimates vs `--use-full-khash-sets` ground truth
(/root/reference/README.md:116).
"""

from __future__ import annotations

import atexit
import functools
import math
import os
import shutil
import sys
import tempfile
from functools import reduce
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dashing_spark.functions import HLL, KLL, TDigest
from dashing_spark.operators import agg, dedup, dist, freq, multimodal, similarity, text


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

P_HLL = 14
_HLL_RSE3 = 3 * 1.04 / math.sqrt(1 << P_HLL)  # 3σ relative error bound
QUANTILE_PS = (0.25, 0.5, 0.75, 0.95)
RANK_EPS = 0.05


@functools.cache
def _temp_root() -> str:
    """One temporary directory per process, removed at interpreter exit."""
    root = tempfile.mkdtemp(prefix="dashspark_entry_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _temp_dir(prefix: str) -> str:
    """A new directory for a query's stream source, state or checkpoint,
    under :func:`_temp_root`: the returned DataFrames may still read
    it lazily, so no query can remove its own."""
    return tempfile.mkdtemp(prefix=prefix, dir=_temp_root())


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _hll_ok(est_col, exact_col, p: int | None = None, name: str = "hll_ok"):
    """3σ HLL gate at precision ``p`` (suite default when omitted) — the
    ONE place the bound lives; every HLL query's slack must come through
    here so a bound tweak cannot miss the folded/per-doc variants."""
    rse3 = _HLL_RSE3 if p is None else 3 * 1.04 / math.sqrt(1 << p)
    slack = F.greatest(F.lit(rse3) * exact_col, F.lit(2.0))
    return (F.abs(est_col - exact_col) <= slack).alias(name)


def _lang_tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "lang", F.explode(F.split("text", " ", -1)).alias("token")
    )


# ---------------------------------------------------------------------------
# cardinality queries (dashing sketch/card/union/fold analogues)
# ---------------------------------------------------------------------------


def q_hll_card_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(P_HLL), salt=4)
    est = sk.select("lang", agg.estimate_expr("ertl_mle")("sketch").alias("est"))
    exact = (
        _lang_tokens(docs)
        .groupBy("lang")
        .agg(F.countDistinct("token").alias("exact_distinct"))
    )
    return est.join(exact, "lang").select(
        "lang", "exact_distinct", _hll_ok(F.col("est"), F.col("exact_distinct"))
    )


def q_hll_card_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dashing union`: merge per-lang sketches into one global sketch."""
    docs = _docs(spark, sf_dir)
    sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(P_HLL))
    u = agg.union_all_sketches(sk)
    est = u.select(agg.estimate_expr("ertl_mle")("sketch").alias("est"))
    exact = _lang_tokens(docs).agg(
        F.countDistinct("token").alias("exact_distinct")
    )
    return est.crossJoin(exact).select(
        "exact_distinct", _hll_ok(F.col("est"), F.col("exact_distinct"))
    )


def q_hll_fold_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dashing fold`: p=14 sketch folded to p=10, still within p=10 bound."""
    docs = _docs(spark, sf_dir)
    sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(P_HLL))
    folded = sk.select("lang", agg.fold_expr(10)("sketch").alias("sketch"))
    est = folded.select("lang", agg.estimate_expr("ertl_mle")("sketch").alias("est"))
    exact = (
        _lang_tokens(docs)
        .groupBy("lang")
        .agg(F.countDistinct("token").alias("exact_distinct"))
    )
    return est.join(exact, "lang").select(
        "lang",
        "exact_distinct",
        _hll_ok(F.col("est"), F.col("exact_distinct"), p=10, name="fold_ok"),
    )


def q_hll_fold_cross_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-precision merge — the reason `fold` exists: sketches built
    at different p in separate runs become mergeable after folding the
    finer one down (/root/reference/src/dashing.cpp:570-590,
    README.md:71-73). Half the corpus (doc_id % 2 == 0) is sketched at
    p=14 and folded to p=12; the other half is sketched natively at
    p=12; the per-lang union of the two sketch tables must estimate the
    full corpus within the p=12 bound."""
    docs = _docs(spark, sf_dir)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 != 0)
    sk_a = agg.sketch_tokens_by_key(half_a, ["lang"], lambda: HLL.empty(14))
    sk_a12 = sk_a.select("lang", agg.fold_expr(12)("sketch").alias("sketch"))
    sk_b = agg.sketch_tokens_by_key(half_b, ["lang"], lambda: HLL.empty(12))
    merged = agg.merge_sketches_by_key(sk_a12.unionByName(sk_b), ["lang"])
    est = merged.select(
        "lang", agg.estimate_expr("ertl_mle")("sketch").alias("est")
    )
    exact = (
        _lang_tokens(docs)
        .groupBy("lang")
        .agg(F.countDistinct("token").alias("exact_distinct"))
    )
    return est.join(exact, "lang").select(
        "lang",
        "exact_distinct",
        _hll_ok(F.col("est"), F.col("exact_distinct"), p=12, name="cross_merge_ok"),
    )


def q_hll_card_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence sketching analogue: different groupBy key (source)."""
    docs = _docs(spark, sf_dir)
    sk = agg.sketch_tokens_by_key(docs, ["source"], lambda: HLL.empty(P_HLL), salt=4)
    est = sk.select("source", agg.estimate_expr("ertl_mle")("sketch").alias("est"))
    exact = (
        docs.select("source", F.explode(F.split("text", " ", -1)).alias("token"))
        .groupBy("source")
        .agg(F.countDistinct("token").alias("exact_distinct"))
    )
    return est.join(exact, "source").select(
        "source", "exact_distinct", _hll_ok(F.col("est"), F.col("exact_distinct"))
    )


# ---------------------------------------------------------------------------
# quantile queries (KLL / t-digest, north-rule additions)
# ---------------------------------------------------------------------------


def _quantile_gate(
    df: DataFrame,
    key_col: str,
    value_col: str,
    make_sketch,
    ok_name: str,
    count_name: str,
) -> DataFrame:
    """Shared rank-interval gate for every quantile-sketch query: the
    sketch's q-hat passes when p lies inside the true rank interval
    [rank_lt, rank_le] (under heavy ties the rank is an interval, not a
    point) widened by RANK_EPS. ONE implementation — the subtle tie
    logic must not be copy-pasted per query."""
    sk = agg.sketch_numeric_by_key(df, [key_col], make_sketch, value_col)
    return _rank_interval_check(df, key_col, value_col, sk, ok_name, count_name)


def _rank_interval_check(
    df: DataFrame,
    key_col: str,
    value_col: str,
    sketches: DataFrame,
    ok_name: str,
    count_name: str,
) -> DataFrame:
    """Expand each sketch's quantile estimates and check every p against
    the true rank interval over ``df`` — shared by the batch AND
    streaming quantile gates (the sketches frame may come from either
    build path)."""
    qhat = sketches.select(
        key_col,
        F.posexplode(agg.quantile_expr(list(QUANTILE_PS))("sketch")).alias(
            "pi", "qhat"
        ),
    )
    ps = F.array(*[F.lit(p) for p in QUANTILE_PS])
    qhat = qhat.withColumn("p", F.element_at(ps, F.col("pi") + 1)).drop("pi")
    ranks = (
        df.join(qhat, key_col)
        .groupBy(key_col, "p")
        .agg(
            F.count("*").alias(count_name),
            (F.sum(F.when(F.col(value_col) < F.col("qhat"), 1).otherwise(0))
             / F.count("*")).alias("rank_lt"),
            (F.sum(F.when(F.col(value_col) <= F.col("qhat"), 1).otherwise(0))
             / F.count("*")).alias("rank_le"),
        )
    )
    ok = (F.col("p") >= F.col("rank_lt") - RANK_EPS) & (
        F.col("p") <= F.col("rank_le") + RANK_EPS
    )
    return ranks.select(key_col, "p", count_name, ok.alias(ok_name))


def q_kll_quantiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _quantile_gate(
        _docs(spark, sf_dir), "lang", "n_chars",
        lambda: KLL.empty(200), "kll_ok", "n_docs",
    )


def q_tdigest_quantiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _quantile_gate(
        _docs(spark, sf_dir), "lang", "n_chars",
        lambda: TDigest.empty(100), "tdigest_ok", "n_docs",
    )


# ---------------------------------------------------------------------------
# frequency queries (count-min)
# ---------------------------------------------------------------------------


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both heavy-hitter backends over one exact top-5-per-lang table:
    CM point estimates (two-sided eps*N bound) and HeavyKeeper point
    estimates (one-sided, within 10% for true elephants) — the CM
    filter (`--min-count` backend) and its HK alternative
    (/root/reference/src/dashing.h:131-136) gated in a single query.
    One shared exact-count scan; each sketch build is its own
    two-stage aggregation."""
    from dashing_spark.functions import CountMinSketch
    from dashing_spark.functions.heavykeeper import HeavyKeeper

    docs = _docs(spark, sf_dir)
    top = freq.top_k_tokens(docs, ["lang"], k=5)
    # one pass over the token-hash stream updates both frequency sketches
    # cached eagerly: the cms/hk filter branches would otherwise each
    # re-run the token scan (no runtime exchange reuse across branches)
    sk_all = freq.freq_sketches_by_key(
        docs,
        ["lang"],
        {
            "cms": lambda: CountMinSketch.empty(16, 4),
            "hk": lambda: HeavyKeeper(12, 2),
        },
    ).cache()
    sk_all.count()
    cms = sk_all.filter(F.col("sketch_type") == "cms").drop("sketch_type")
    hks = sk_all.filter(F.col("sketch_type") == "hk").drop("sketch_type")
    est = freq.cms_point_query(top, cms, ["lang"])
    est = freq.cms_point_query(
        est.select("lang", "token", "cnt", "rank", "cm_est"),
        hks,
        ["lang"],
        est_col="hk_est",
    )
    totals = _lang_tokens(docs).groupBy("lang").agg(F.count("*").alias("n_tok"))
    eps = math.e / (1 << 16)
    out = est.join(totals, "lang")
    cm_ok = (F.col("cm_est") >= F.col("cnt")) & (
        (F.col("cm_est") - F.col("cnt"))
        <= F.greatest(F.lit(eps) * F.col("n_tok"), F.lit(2.0))
    )
    hk_ok = (F.col("hk_est") <= F.col("cnt")) & (
        F.col("hk_est") >= F.lit(0.9) * F.col("cnt")
    )
    return out.select(
        "lang", "token", "cnt", "rank", cm_ok.alias("cm_ok"), hk_ok.alias("hk_ok")
    )


def q_min_count_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`--min-count` pre-filter: distinct tokens with freq ≥ 5 per lang,
    HLL built over the surviving tokens."""
    docs = _docs(spark, sf_dir)
    kept = freq.min_count_filter(docs, ["lang"], min_count=5)
    kept = kept.withColumn("__h", F.xxhash64("token"))
    sk = agg.sketch_hash_col_by_key(kept, ["lang"], lambda: HLL.empty(P_HLL), "__h")
    est = sk.select("lang", agg.estimate_expr("ertl_mle")("sketch").alias("est"))
    exact = kept.groupBy("lang").agg(F.count("*").alias("n_tokens_ge5"))
    return est.join(exact, "lang").select(
        "lang", "n_tokens_ge5", _hll_ok(F.col("est"), F.col("n_tokens_ge5"))
    )


# ---------------------------------------------------------------------------
# pairwise distance queries (dashing dist)
# ---------------------------------------------------------------------------


def q_jaccard_pairs_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    exact = dist.exact_pair_measures(
        _lang_tokens(docs), "lang", "token", measures=("ji", "sizes")
    )
    sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(P_HLL))
    est = dist.all_pairs(sk, ["lang"], measures=("ji",)).select(
        F.col("a_lang").alias("a_key"),
        F.col("b_lang").alias("b_key"),
        F.col("ji").alias("ji_est"),
    )
    out = exact.join(est, ["a_key", "b_key"])
    return out.select(
        "a_key",
        "b_key",
        F.round("ji", 9).alias("ji"),
        F.col("sizes").alias("inter_size"),
        (F.abs(F.col("ji_est") - F.col("ji")) <= 0.05).alias("hll_ji_ok"),
    )


def q_mash_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full measure family from exact set triples (result_cmp semantics,
    /root/reference/src/dashing.h:149-183).

    Gate structure: only rational arithmetic (ji, containment, sci — IEEE
    division is correctly rounded, hence bit-identical across engines) is
    hash-gated against the oracle. Each log/pow distance transform is
    verified by an in-plan INVERSE check instead: e.g. mash_dist must
    satisfy exp(-k*md)*(1+ji) == 2*ji within 1e-9 — non-circular (a
    multiply-vs-divide-by-k bug fails the bound) and immune to last-ulp
    libm differences between the JVM and DuckDB that a round(x, 6) hash
    gate can straddle."""
    docs = _docs(spark, sf_dir)
    k = 3.0  # k=3 shingle convention
    exact = dist.exact_pair_measures(
        _lang_tokens(docs),
        "lang",
        "token",
        measures=(
            "ji",
            "mash_dist",
            "full_mash_dist",
            "containment",
            "containment_dist",
            "full_containment_dist",
            "symmetric_containment",
            "symmetric_containment_dist",
        ),
        k=k,
    )
    ji, c, sci = F.col("ji"), F.col("containment"), F.col("symmetric_containment")
    g = F.lit(2.0) * ji / (F.lit(1.0) + ji)  # the Mash rational core
    tol = F.lit(1e-9)

    def _inv_exp(dist_col: str, target):
        """dist == -ln(target)/k  <=>  exp(-k*dist) == target."""
        return F.when(
            target > 0, F.abs(F.exp(-F.lit(k) * F.col(dist_col)) - target) <= tol
        ).otherwise(F.col(dist_col) == F.lit(1.0))

    def _inv_pow(dist_col: str, target):
        """dist == 1 - target^(1/k)  <=>  (1-dist)^k == target."""
        return F.when(
            target > 0,
            F.abs(F.pow(F.lit(1.0) - F.col(dist_col), F.lit(k)) - target) <= tol,
        ).otherwise(F.col(dist_col) == F.lit(1.0))

    return exact.select(
        "a_key",
        "b_key",
        F.round("ji", 9).alias("ji"),
        F.round("containment", 9).alias("containment"),
        F.round("symmetric_containment", 9).alias("symmetric_containment"),
        _inv_exp("mash_dist", g).alias("mash_dist_ok"),
        _inv_pow("full_mash_dist", g).alias("full_mash_dist_ok"),
        _inv_exp("containment_dist", c).alias("containment_dist_ok"),
        _inv_pow("full_containment_dist", c).alias("full_containment_dist_ok"),
        _inv_exp("symmetric_containment_dist", sci).alias(
            "symmetric_containment_dist_ok"
        ),
    )


def q_minhash_family_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four non-HLL minhash-family dist modes gated in one query
    over one shared exact-JI pair table: KMV (bottom-k,
    `--use-range-minhash`), b-bit one-permutation minhash
    (`--use-bb-minhash`), HyperMinHash, and SuperMinHash
    (/root/reference/src/dashing.h:42,218,231,466-470,495). Per-sketch
    tolerances are each estimator's 3σ+slack band (see the per-family
    docstrings in functions/)."""
    from dashing_spark.functions.bbmh import BBitMinHash
    from dashing_spark.functions.hmh import HyperMinHash
    from dashing_spark.functions.kmv import KMV
    from dashing_spark.functions.smh import SuperMinHash

    docs = _docs(spark, sf_dir)
    toks = _lang_tokens(docs)
    out = dist.exact_pair_measures(toks, "lang", "token", ("ji",))
    families = [
        ("kmv_ji_ok", "kmv", lambda: KMV.empty(1024), 0.05),
        ("bbmh_ji_ok", "bbmh", lambda: BBitMinHash.empty(12, 16), 0.08),
        ("hmh_ji_ok", "hmh", lambda: HyperMinHash.empty(12, 10), 0.08),
        ("smh_ji_ok", "smh", lambda: SuperMinHash.empty(1024), 0.05),
    ]
    # one scan builds all four families' sketches (the reference runs
    # one process — one input pass — per sketch type). The tiny sketch
    # table is cached EAGERLY: exchange reuse does NOT fire across the
    # per-family filter branches at runtime (accumulator-verified), so
    # without materialization each branch side would re-run the scan.
    sk_all = agg.sketch_tokens_multi_type(
        docs, ["lang"], {name: mk for _, name, mk, _ in families}
    ).cache()
    sk_all.count()
    for ok_name, name, _, tol in families:
        sk = sk_all.filter(F.col("sketch_type") == name).drop("sketch_type")
        est = dist.all_pairs(sk, ["lang"], measures=("ji",)).select(
            F.col("a_lang").alias("a_key"),
            F.col("b_lang").alias("b_key"),
            F.col("ji").alias(f"__est_{ok_name}"),
        )
        out = out.join(est, ["a_key", "b_key"])
    return out.select(
        "a_key",
        "b_key",
        F.round("ji", 9).alias("ji"),
        *[
            (F.abs(F.col(f"__est_{ok}") - F.col("ji")) <= tol).alias(ok)
            for ok, _, _, tol in families
        ],
    )


def _exact_wji_pairs(docs: DataFrame) -> DataFrame:
    """Exact per-lang-pair weighted (multiset) JI frame
    (a_key, b_key, ..., wji) — the Spark twin of _wji_pairs_oracle,
    shared by every weighted/counting-sketch dist query so the wji
    definition cannot drift between them."""
    c = freq.token_counts(docs, ["lang"])
    tot = c.groupBy("lang").agg(F.sum("cnt").alias("n"))
    a = c.select(F.col("lang").alias("a_key"), "token", F.col("cnt").alias("ca"))
    b = c.select(F.col("lang").alias("b_key"), "token", F.col("cnt").alias("cb"))
    smin = (
        a.join(b, "token")
        .filter(F.col("a_key") < F.col("b_key"))
        .groupBy("a_key", "b_key")
        .agg(F.sum(F.least("ca", "cb")).alias("smin"))
    )
    ta = tot.select(F.col("lang").alias("a_key"), F.col("n").alias("na"))
    tb = tot.select(F.col("lang").alias("b_key"), F.col("n").alias("nb"))
    return (
        smin.join(ta, "a_key")
        .join(tb, "b_key")
        .withColumn(
            "wji",
            F.col("smin").cast("double") / (F.col("na") + F.col("nb") - F.col("smin")),
        )
    )


def q_counting_wji_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both counting-minhash weighted-JI backends gated in one query
    against the shared exact multiset-JI pair table: CountingKMV
    histogram intersection (dashing CRMH, src/dashing.h:142-144) and
    counting b-bit minhash Ruzicka similarity (COUNTING_BB_MINHASH,
    src/dashing.h:233). With k=2048 ≫ vocab the CRMH bottom-k covers
    the universe, so its estimate is exact; CBBMH carries the b-bit
    sampling band."""
    from dashing_spark.functions import CountingBBitMinHash, CountingKMV

    docs = _docs(spark, sf_dir)
    toks = _lang_tokens(docs).withColumn("__h", F.xxhash64("token"))
    # one pass over the token-hash stream updates both counting sketches
    sk_all = agg.sketch_hash_col_multi_type(
        toks,
        ["lang"],
        {
            "crmh": lambda: CountingKMV.empty(2048),
            "cbbmh": lambda: CountingBBitMinHash.empty(12, 16),
        },
        "__h",
    )
    # VERDICT r4 #5: the similarities ride the DISTRIBUTED pair path —
    # dist.all_pairs dispatches the homogeneous counting blobs to the
    # vectorized crmh/cbbmh_triple_batch kernels (functions/compare.py)
    # — so the driver gates the same code a cluster would run (the old
    # shape computed the 10 pairs with driver-side row UDFs over
    # collected blobs). Eager cache: exchange reuse does not fire
    # across the per-type filter branches (accumulator-verified for
    # the multi_type siblings), so without materialization each branch
    # would re-run the token scan.
    sk_all = sk_all.cache()
    sk_all.count()
    out = _exact_wji_pairs(docs)
    for ok_name, name in (("crmh_ok", "crmh"), ("cbbmh_ok", "cbbmh")):
        sk = sk_all.filter(F.col("sketch_type") == name).drop("sketch_type")
        est = dist.all_pairs(sk, ["lang"], measures=("ji",)).select(
            F.col("a_lang").alias("a_key"),
            F.col("b_lang").alias("b_key"),
            F.col("ji").alias(f"__est_{ok_name}"),
        )
        out = out.join(est, ["a_key", "b_key"])
    return out.select(
        "a_key",
        "b_key",
        F.round("wji", 9).alias("wji"),
        (F.abs(F.col("__est_crmh_ok") - F.col("wji")) <= 0.05).alias("crmh_ok"),
        (F.abs(F.col("__est_cbbmh_ok") - F.col("wji")) <= 0.05).alias(
            "cbbmh_ok"
        ),
    )


def q_panel_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query×reference panel (`-Q` mode, rectangular containment —
    /root/reference/src/dashing.h:660-712, src/sketch_and_cmp.h:792-796)
    using the Ertl joint-MLE triple estimator (ERTL_JOINT_MLE,
    src/distmain.cpp:59-62). Queries: per-returnflag orderkey sets;
    references: per-linestatus orderkey sets."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    qrows = li.select(
        F.col("l_returnflag").alias("key"), F.xxhash64("l_orderkey").alias("__h")
    )
    rrows = li.select(
        F.col("l_linestatus").alias("key"), F.xxhash64("l_orderkey").alias("__h")
    )
    qsk = agg.sketch_hash_col_by_key(qrows, ["key"], lambda: HLL.empty(P_HLL), "__h")
    rsk = agg.sketch_hash_col_by_key(rrows, ["key"], lambda: HLL.empty(P_HLL), "__h")
    est = dist.query_reference(
        qsk, rsk, ["key"], measures=("containment",), estimator="ertl_joint_mle"
    ).select("a_key", "b_key", F.col("containment").alias("ci_est"))
    qd = li.select(
        F.col("l_returnflag").alias("a_key"), F.col("l_orderkey").alias("k")
    ).distinct()
    rd = li.select(
        F.col("l_linestatus").alias("b_key"), F.col("l_orderkey").alias("k")
    ).distinct()
    sz = qd.groupBy("a_key").agg(F.count("*").alias("sz"))
    inter = qd.join(rd, "k").groupBy("a_key", "b_key").agg(F.count("*").alias("t2"))
    allp = qd.select("a_key").distinct().crossJoin(rd.select("b_key").distinct())
    ex = (
        allp.join(sz, "a_key")
        .join(inter, ["a_key", "b_key"], "left")
        .fillna({"t2": 0})
        .select(
            "a_key",
            "b_key",
            (F.col("t2").cast("double") / F.col("sz")).alias("ci"),
        )
    )
    out = ex.join(est, ["a_key", "b_key"])
    return out.select(
        "a_key",
        "b_key",
        F.round("ci", 9).alias("containment"),
        (F.abs(F.col("ci_est") - F.col("ci")) <= 0.02).alias("joint_ok"),
    )


def q_topk_neighbors_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--nearest-neighbors 2 on exact JI (deterministic tie-break)."""
    docs = _docs(spark, sf_dir)
    ut = dist.exact_pair_measures(_lang_tokens(docs), "lang", "token", ("ji",))
    sw = ut.select(
        F.col("b_key").alias("a_key"), F.col("a_key").alias("b_key"), "ji"
    )
    both = ut.select("a_key", "b_key", "ji").unionByName(sw)
    w = Window.partitionBy("a_key").orderBy(F.col("ji").desc(), F.col("b_key").asc())
    return (
        both.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("a_key", "b_key", F.round("ji", 9).alias("ji"), "rank")
    )


def q_weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted/multiset Jaccard (WeightedSketcher semantics): exact via
    Σ min(cnt) / Σ max(cnt); sketch check via weighted HLL pairs."""
    docs = _docs(spark, sf_dir)
    exact = _exact_wji_pairs(docs)
    wsk = agg.sketch_tokens_by_key(
        docs, ["lang"], lambda: HLL.empty(P_HLL), weighted=True
    )
    west = dist.all_pairs(wsk, ["lang"], measures=("ji",)).select(
        F.col("a_lang").alias("a_key"),
        F.col("b_lang").alias("b_key"),
        F.col("ji").alias("wji_est"),
    )
    out = exact.join(west, ["a_key", "b_key"])
    return out.select(
        "a_key",
        "b_key",
        F.round("wji", 9).alias("wji"),
        (F.abs(F.col("wji_est") - F.col("wji")) <= 0.05).alias("whll_ok"),
    )


def q_weighted_jaccard_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Jaccard with CM-approximate occurrence indexing — the
    reference's actual WeightedSketcher mechanism (wjcm defaults,
    /root/reference/src/dashing.h:252-253,471-485). Exact wji is
    hash-gated; the CM-mode sketch estimate carries the documented
    bound: 0.05 (HLL p=14 JI error) — CM occurrence inflation is ≤ εN
    one-sided and negligible at this width (2^16)."""
    docs = _docs(spark, sf_dir)
    exact = _exact_wji_pairs(docs)
    wsk = agg.sketch_tokens_by_key(
        docs, ["lang"], lambda: HLL.empty(14), weighted="cm"
    )
    west = dist.all_pairs(wsk, ["lang"], measures=("ji",)).select(
        F.col("a_lang").alias("a_key"),
        F.col("b_lang").alias("b_key"),
        F.col("ji").alias("wji_cm"),
    )
    out = exact.join(west, ["a_key", "b_key"])
    return out.select(
        "a_key",
        "b_key",
        F.round("wji", 9).alias("wji"),
        (F.abs(F.col("wji_cm") - F.col("wji")) <= 0.05).alias("wcm_ok"),
    )


def q_containment_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readfilt analogue: per-doc containment vs the 'en' reference
    sketch; exact containment computed JVM-side, sketch scores
    bound-checked (mean abs err ≤ 0.1)."""
    from dashing_spark.operators import filter as flt

    docs = _docs(spark, sf_dir)
    ref_sk = agg.sketch_tokens_by_key(
        docs.filter(F.col("lang") == "en"), ["lang"], lambda: HLL.empty(10)
    )
    ref_blob = bytes(ref_sk.collect()[0]["sketch"])
    scored = flt.containment_scores(docs, ref_blob, p=10)
    en_tokens = (
        docs.filter(F.col("lang") == "en")
        .select(F.explode(F.split("text", " ", -1)).alias("t"))
        .agg(F.array_sort(F.collect_set("t")).alias("ref_set"))
    )
    exact = (
        scored.crossJoin(F.broadcast(en_tokens))
        .withColumn("toks", F.array_distinct(F.split("text", " ", -1)))
        .withColumn(
            "c_exact",
            F.size(F.array_intersect("toks", "ref_set")) / F.size("toks"),
        )
    )
    return exact.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("c_exact") >= 0.9, 1).otherwise(0)).alias("n_pass_exact"),
        (F.avg(F.abs(F.col("containment") - F.col("c_exact"))) <= 0.1).alias(
            "sketch_ci_ok"
        ),
    )


# ---------------------------------------------------------------------------
# dedup queries (training-data pipeline)
# ---------------------------------------------------------------------------


def q_dedup_exact_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup family, both tiers in one slot: text-digest dedup
    (the original query) plus canonical-URL dedup — the docs table has
    no url column, so each doc gets a deterministic synthetic URL whose
    case/port/www/tracking-param/fragment/slash/param-order VARIANTS
    (doc_id mod 6) collapse under text.canonicalize_url_col; the oracle
    builds the
    identical URLs and replicates the canonicalization chain in RE2, so
    the raw-vs-canonical distinct gap is fully hash-gated."""
    docs = _docs(spark, sf_dir)
    digests = docs.select("lang", F.md5("text").alias("digest"))
    d = digests.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("digest").alias("n_distinct_digests"),
    )
    variant = F.pmod(F.col("doc_id"), F.lit(6))
    raw_url = F.concat(
        F.when(variant < 2, F.lit("HTTPS://WWW.")).otherwise(F.lit("https://")),
        F.col("source"),
        F.lit(".example.com"),
        F.when(variant == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        F.pmod(F.col("doc_id"), F.lit(200)).cast("string"),
        F.when(variant == 1, F.lit("?utm_source=feed"))
        .when(variant == 2, F.lit("#sec"))
        .when(variant == 3, F.lit("/"))
        # variants 4/5: the same two params in both orders — must
        # collapse to ONE canonical form (param sorting, r6)
        .when(variant == 4, F.lit("?b=2&a=1"))
        .when(variant == 5, F.lit("?a=1&b=2"))
        .otherwise(F.lit("")),
    )
    u = text.url_dedup_stats(
        docs.withColumn("url", raw_url), ["lang"]
    ).select("lang", "n_raw_urls", "n_canonical_urls", "n_hosts")
    return d.join(u, "lang")


def q_dedup_tokenset_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs with identical distinct-token sets (order/multiplicity-
    insensitive duplicates — the fixture has real clusters of these)."""
    docs = _docs(spark, sf_dir)
    key = F.sort_array(F.array_distinct(F.split(F.col("text"), " ", -1)))
    per_doc = docs.select("lang", key.alias("ts"))
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("ts").alias("n_tokensets"),
    )


def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup mining, exact-verified: pairs with token-set
    JI ≥ 0.9. r=8/b=33 ⇒ miss prob at the threshold ≈ 8.5e-9, so the
    result matches the exact all-pairs oracle."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_dedup(docs, "doc_id", threshold=0.9)
    return pairs.select("a_id", "b_id", F.round("ji", 9).alias("ji"))


def q_dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the near-dup pair graph: connected
    components via min-label propagation + pointer jumping (the
    cluster-level dedup a keep-first pair rule cannot express: A~B,
    B~C collapse to one keeper even when A~C was never a pair).
    Output: one row per >=2-member cluster (comp = min member id,
    n_members) — pure integers, hash-gated against a DuckDB recursive
    CTE computing the same closure over the exact JI>=0.9 pair set."""
    docs = _docs(spark, sf_dir)
    labels = dedup.dedup_components(docs, "doc_id", threshold=0.9)
    return (
        labels.groupBy("comp")
        .agg(F.count("*").alias("n_members"))
        .select(F.col("comp").cast("long").alias("comp"), "n_members")
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-3-gram Jaccard ≥ 0.6, blocked by lang."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", n=3, threshold=0.6, block_cols=("lang",)
    )
    return pairs.select("a_id", "b_id", F.round("ji", 9).alias("ji"))


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded candidates vs the O(n²) brute-force oracle: the
    Manku multi-block banding must reproduce the exact Hamming ≤ 3 pair
    set, and every byte-identical (md5-equal, Hamming 0) pair — which
    DuckDB can count independently — must be covered."""
    docs = _docs(spark, sf_dir)
    # one fingerprint pass feeds both the banded path and its oracle —
    # each used to recompute the full-corpus mapInPandas fingerprints
    fps = dedup.simhash_fingerprints(docs, "doc_id").cache()
    banded = dedup.simhash_near_dups(
        docs, "doc_id", max_hamming=3, fps=fps
    ).select("a_id", "b_id")
    brute = dedup.simhash_bruteforce_pairs(
        docs, "doc_id", max_hamming=3, fps=fps
    ).select("a_id", "b_id")
    nb = banded.agg(F.count("*").alias("n_banded"))
    nf = brute.agg(F.count("*").alias("n_brute"))
    nc = banded.join(brute, ["a_id", "b_id"]).agg(F.count("*").alias("n_common"))
    md5s = docs.select(F.col("doc_id").alias("id"), F.md5("text").alias("dg"))
    ex = (
        md5s.alias("x")
        .join(
            md5s.alias("y"),
            (F.col("x.dg") == F.col("y.dg")) & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a_id"), F.col("y.id").alias("b_id"))
    )
    ne = ex.agg(F.count("*").alias("n_exact_dup_pairs"))
    nec = ex.join(banded, ["a_id", "b_id"]).agg(F.count("*").alias("n_exact_covered"))
    row = ne.crossJoin(nec).crossJoin(nb).crossJoin(nf).crossJoin(nc)
    return row.select(
        "n_exact_dup_pairs",
        (
            (F.col("n_banded") == F.col("n_common"))
            & (F.col("n_brute") == F.col("n_common"))
        ).alias("banding_matches_bruteforce"),
        (F.col("n_exact_covered") == F.col("n_exact_dup_pairs")).alias(
            "exact_pairs_covered"
        ),
    )


# ---------------------------------------------------------------------------
# similarity search queries
# ---------------------------------------------------------------------------


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 20)
    out = similarity.cosine_topk_exact(emb, queries_df, k=3)
    return out.select("q_id", "n_id", F.round("cos", 5).alias("cos"), "rank")


def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup + semantic-dedup assignment, per vector (r6
    upgrade of the bare pair list — the pairs, the transitive closure,
    AND the keeper rule are all hash-gated now): exact cosine pairs
    ≥ 0.4 (similarity.exact_cosine_pairs, also the verify baseline for
    the LSH variant in tests) feed semantic_dedup (SemDeDup: connected
    components → keeper = min id). Output one row per vector:
    component label, keeper flag, degree, strongest-edge cosine,
    component size. Oracle replays the graph with a recursive CTE."""
    emb = _embeddings(spark, sf_dir)
    pairs = similarity.exact_cosine_pairs(emb, 0.4).localCheckpoint(eager=True)
    assign = similarity.semantic_dedup(emb, pairs=pairs)
    sym = pairs.select(
        F.col("a_id").alias("vec_id"), F.col("cos")
    ).unionByName(pairs.select(F.col("b_id").alias("vec_id"), F.col("cos")))
    deg = sym.groupBy("vec_id").agg(
        F.count("*").alias("n_nbrs"), F.round(F.max("cos"), 5).alias("max_cos")
    )
    comp_sizes = assign.groupBy("comp").agg(F.count("*").alias("n_members"))
    return (
        assign.join(deg, "vec_id", "left")
        .join(comp_sizes, "comp")
        .select(
            "vec_id",
            "comp",
            "keep",
            F.coalesce("n_nbrs", F.lit(0)).alias("n_nbrs"),
            F.coalesce("max_cos", F.lit(0.0)).alias("max_cos"),
            "n_members",
        )
    )


def _ann_recall_stats(
    spark: SparkSession,
    sf_dir: str,
    approx: DataFrame,
    ok_name: str,
    min_recall: float,
    median_bound: float,
    p10_bound: float,
    extra_tiers: list | None = None,
) -> DataFrame:
    """Stats form for approximate ANN. VERDICT r4 #8: gate the recall
    DISTRIBUTION, not just a global floor — per-query-point recall is
    aggregated to mean / median / 10th-percentile and each is bound-
    checked (a mean-only gate passes an index that abandons a tail of
    query points entirely). Exact columns (vector count, k) stay
    hash-gated; the planes/centroid sample are seeded deterministic so
    the bounds are stable across runs and scale factors (measured
    identical deciles at sf0.001/0.01/0.1).

    ``extra_tiers``: [(approx_df, ok_name, mean, p50, p10)] — further
    indexes gated against the SAME exact top-3 in the same slot (the
    50-query cap makes merging the only way to add gated tiers)."""
    emb = _embeddings(spark, sf_dir)
    exact = similarity.cosine_topk_exact(emb, emb, k=3).select(
        "q_id", "n_id"
    ).localCheckpoint(eager=False)
    tiers = [(approx, ok_name, min_recall, median_bound, p10_bound)]
    tiers += list(extra_tiers or [])

    def _bounds(adf, name, mn, p50, p10):
        per_q = (
            exact.join(
                adf.select("q_id", "n_id").withColumn("__hit", F.lit(1)),
                ["q_id", "n_id"],
                "left",
            )
            .groupBy("q_id")
            .agg(
                (
                    F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                    / F.count("*")
                ).alias("recall")
            )
        )
        return per_q.agg(
            (F.avg("recall") >= mn).alias(name),
            (F.expr("percentile(recall, 0.5)") >= p50).alias(f"{name}_median"),
            (F.expr("percentile(recall, 0.1)") >= p10).alias(f"{name}_p10"),
        )

    row = _embeddings(spark, sf_dir).agg(F.count("*").alias("n_vectors"))
    row = row.withColumn("k", F.lit(3))
    for t in tiers:
        row = row.crossJoin(_bounds(*t))
    return row


def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (scale path): recall vs brute force
    bound-checked in-plan (≥0.4 on these near-orthogonal 64-dim
    vectors); vector count hash-gated against the oracle."""
    emb = _embeddings(spark, sf_dir)
    # one coarse quantizer shared by both tiers (identical args would
    # otherwise retrain it: one extra sample collect + k-means)
    cent = similarity.train_ivf_centroids(emb, n_centroids=16)
    approx = similarity.ivf_topk(
        emb, k=3, n_centroids=16, nprobe=4, centroids=cent
    )
    # second tier (r6): IVF + product quantization with exact re-rank
    # (IVFADC+R) — neighbor side carries 16 one-byte codes instead of
    # 64 floats; measured 0.58-0.63 / 0.667 / 0.333 at
    # sf0.001/0.01/0.1, same bounds as the uncompressed IVF tier
    pq = similarity.ivfpq_topk(
        emb, k=3, n_centroids=16, nprobe=4, m=16, k_codes=64, rerank=8,
        centroids=cent,
    )
    return _ann_recall_stats(
        spark, sf_dir, approx, "ivf_recall_ok", 0.4,
        median_bound=0.5, p10_bound=0.2,
        extra_tiers=[(pq, "ivfpq_recall_ok", 0.4, 0.5, 0.2)],
    )


def q_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed top-k: recall vs brute force ≥0.6 (3
    planes × 10 tables), vector count hash-gated."""
    emb = _embeddings(spark, sf_dir)
    approx = similarity.lsh_cosine_topk(emb, k=3, n_planes=3, n_tables=10)
    return _ann_recall_stats(
        spark, sf_dir, approx, "lsh_recall_ok", 0.6,
        median_bound=0.75, p10_bound=0.5,
    )


# ---------------------------------------------------------------------------
# text-analysis queries
# ---------------------------------------------------------------------------


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex pre-tokenizer counts (letter runs / digit runs /
    single symbols) — the token accounting a training pipeline budgets
    with; regex class set chosen so Java regex and RE2 agree exactly."""
    docs = _docs(spark, sf_dir)
    return text.bpe_token_stats(docs, ["lang"]).select(
        "lang",
        "n_docs",
        "total_bpe_tokens",
        "avg_bpe_per_doc",
        F.round("avg_bpe_ttr", 5).alias("avg_bpe_ttr"),
    )


def q_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token stats + the Unicode-normalization tier (merged slot): the
    ASCII synthetic corpus is already NFC, so every fourth doc gets an
    injected NFD tail (combining acute + doubled space); the oracle
    builds the identical tail with chr(769) and replicates NFC via
    DuckDB's nfc_normalize (verified equal to Python unicodedata) and
    the whitespace collapse via the same explicit regexp class — both
    added columns are exact integers."""
    docs = _docs(spark, sf_dir)
    base = text.token_stats(docs, ["lang"]).select(
        "lang",
        "n_docs",
        "total_tokens",
        "avg_tokens_per_doc",
        F.round("avg_ttr", 5).alias("avg_ttr"),
    )
    aug = docs.withColumn(
        "aug",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit(" cafe\u0301  x")
            ).otherwise(F.lit("")),
        ),
    )
    nfc_only = text.normalize_text(
        aug, "aug", out_col="nfc", collapse_whitespace=False
    )
    # the collapse tier reuses the already-NFC column (NFC is
    # idempotent) — pure JVM, not a second pandas-UDF pass
    full = nfc_only.withColumn(
        "norm",
        F.trim(F.regexp_replace(F.col("nfc"), "[ \\t\\r\\n]+", " ")),
    )
    norm_stats = full.groupBy("lang").agg(
        F.sum(F.when(F.col("nfc") != F.col("aug"), 1).otherwise(0)).alias(
            "n_nfc_changed"
        ),
        F.sum(F.length("norm")).alias("sum_norm_chars"),
    )
    # r6 packing tier: concat-and-chunk sequence packing per lang
    # (corpus.pack_sequences — distributed prefix sum, NOT a global
    # Window) at a 512-token budget; the oracle replays the spans with
    # a plain window cumsum, so n_sequences / boundary-doc counts /
    # tail waste are all hash-gated
    from dashing_spark.operators import corpus

    pack = corpus.packing_stats(docs, "doc_id", 512).select(
        "lang", "n_sequences", "n_boundary_docs", "tail_waste"
    )
    return base.join(norm_stats, "lang").join(pack, "lang")


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + the PII scrub tier (merged gate slot): the
    synthetic docs carry no PII, so every third doc gets a
    deterministic injected email/SSN/phone/IPv4 tail — the oracle
    injects the identical tail — and the query gates the per-kind
    detection counts plus ``pii_gone`` (re-detection on the redacted
    text finds nothing; the oracle asserts literal TRUE, so a
    redaction regression hash-mismatches)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 20)
    pii_tail = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.org from 10.0.0."),
            F.col("doc_id").cast("string"),
            F.lit(" ssn 123-45-6789 call +1 555-123-4567"),
            # r6 kinds: US phones, card shapes, full-form IPv6
            F.lit(" or (555) 123-4567 / 555.123.4567"
                  " card 4111111111111111 / 4111 1111 1111 1111"
                  " v6 2001:0db8:85a3:0000:0000:8a2e:0370:7334"),
        ),
    ).otherwise(F.lit(""))
    aug = docs.withColumn("aug_text", F.concat(F.col("text"), pii_tail))
    aug = aug.withColumns(text.pii_counts_cols("aug_text"))
    aug = aug.withColumn("red_text", text.redact_pii_col("aug_text"))
    gone = [
        (c == 0) | c.isNull()
        for c in text.pii_counts_cols("red_text").values()
    ]
    # reduce, not a fixed-arity conjunction: a PII kind added to
    # text.PII_PATTERNS must automatically join this gate
    aug = aug.withColumn("pii_gone", reduce(lambda a, b: a & b, gone))
    scored = text.quality_score(aug)
    # third tier in this slot: CCNet-shape unigram-LM scoring against
    # the FULL corpus as reference; every fifth doc gets two injected
    # out-of-vocabulary tokens, so n_oov (exact, hash-gated) pins the
    # vocabulary construction, and lp_ok bounds the transcendental
    # score instead of hashing it (ln/exp cross-engine rule)
    from dashing_spark.operators import corpus

    lm_in = docs.withColumn(
        "lm_text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit(" qzv1oov qzv2oov")
            ).otherwise(F.lit("")),
        ),
    )
    lm = corpus.unigram_logprob_scores(
        lm_in, "doc_id", "lm_text",
        ref=_docs(spark, sf_dir), ref_text_col="text",
    ).select(
        "doc_id",
        F.col("n_tokens").alias("lm_n_tokens"),
        "n_oov",
        (
            (F.col("logprob") < 0)
            & (F.col("logprob") > -50)
            & ~F.isnan("logprob")
        ).alias("lp_ok"),
    )
    # fourth tier (r6): bigram LM with stupid backoff — n_bigram_hits
    # is an exact integer (hash-gated vs a DuckDB bigram join); the
    # transcendental score is bound-checked like the unigram one.
    # Deliberate: both LM ops rebuild the reference vocab from
    # _docs() — the gate's job is to exercise each operator's OWN
    # public path end-to-end, so the duplicate reference groupBy
    # (~1 s at gate scale) is the price of gating both tiers in one
    # slot rather than sharing internals the operators don't expose
    bg = corpus.bigram_logprob_scores(
        lm_in, "doc_id", "lm_text",
        ref=_docs(spark, sf_dir), ref_text_col="text",
    ).select(
        "doc_id",
        "n_bigram_hits",
        (
            (F.col("logprob") < 0)
            & (F.col("logprob") > -50)
            & ~F.isnan("logprob")
        ).alias("bg_lp_ok"),
    )
    lm = lm.join(bg, "doc_id")
    # fifth tier (r6): the published Gopher rule set — the synthetic
    # docs trip none of the FORMATTING rules, so deterministic variants
    # are injected (bullet-heavy lines, ellipsis lines, symbol soup;
    # oracle mirrors) and every rule boolean is hash-gated
    g_tail = (
        F.when(F.col("doc_id") % 4 == 1, F.repeat(F.lit("\n• item x"), 12))
        .when(F.col("doc_id") % 4 == 2, F.repeat(F.lit("\nmore soon..."), 4))
        .when(F.col("doc_id") % 4 == 3, F.repeat(F.lit(" ###"), 30))
        .otherwise(F.lit(""))
    )
    gop = text.gopher_quality_rules(
        docs.withColumn("g_text", F.concat(F.col("text"), g_tail)), "g_text"
    ).select(
        "doc_id", "gopher_n_words", "g_word_count_ok", "g_mean_word_len_ok",
        "g_symbol_ok", "g_bullet_ok", "g_ellipsis_ok", "g_alpha_ok",
        "g_stopword_ok", "gopher_keep",
    )
    return scored.select(
        "doc_id", "n_tokens", "digit_ratio", "stopword_ratio", "quality",
        # every kind in text.PII_PATTERNS gets its count hash-gated —
        # a kind added there must also gain an oracle twin column
        *[f"pii_{k}_count" for k in text.PII_PATTERNS],
        "pii_gone",
    ).join(lm, "doc_id").join(gop, "doc_id")


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pred = text.lang_id_predict(docs)
    return pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))


# page template for the extraction tier of q_fingerprint_stats —
# escaped doc text goes between PRE and POST; the noise blocks must
# vanish and the div tail must survive as 'tail ok'
_HTML_WRAP_PRE = (
    '<html>\n<!-- wrapper: must vanish -->\n<head><title></title>\n'
    '<style type="text/css">p { color: #000; }</style>\n'
    '<script type="text/javascript">if (1 < 2) { x("&", "<p>"); }</script>\n'
    '</head>\n<body>\n<p class="doc">'
)
_HTML_WRAP_POST = '</p>\n<div data-x="1">tail&nbsp;<b>ok</b></div>\n</body>\n</html>'


def q_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three document-fingerprint tiers in one query: md5 whole-doc
    fingerprints (distinct count per lang, hash-gated), winnowing
    fingerprints (Schleimer 2003 — at least one fingerprint per
    window-coverable doc, never more than the k-gram position count,
    and partitioning-independent output — checked as bound booleans),
    and HTML extraction (r6): each doc's text is entity-escaped,
    wrapped in a messy page template (comment/style/script noise, a
    trailing div with an inline tag and '&nbsp;'), pushed through
    text.extract_text_col, and compared per-row against the expected
    canonical flat form — roundtrip count and distinct extracted-md5
    count both hash-gated against a DuckDB twin GENERATED from the
    same pattern tables (text.extract_text_duckdb), so the engines
    can't drift."""
    docs = _docs(spark, sf_dir)
    wrapped = F.concat(
        F.lit(_HTML_WRAP_PRE),
        text.html_escape_col(F.coalesce(F.col("text"), F.lit(""))),
        F.lit(_HTML_WRAP_POST),
    )
    extracted = text.extract_text_col(wrapped, layout="flat")
    expected = text.flat_ws_col(
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit("\ntail ok"))
    )
    ext_stats = docs.select(
        "lang", extracted.alias("ex"), expected.alias("want")
    ).groupBy("lang").agg(
        F.sum((F.col("ex") == F.col("want")).cast("long")).alias("n_roundtrip_ok"),
        F.countDistinct(F.md5("ex")).alias("n_extract_fps"),
    )
    fp = text.md5_fingerprints(docs, "doc_id").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    md5_stats = fp.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_fingerprints"),
    )
    k, w = 4, 5
    wfp = text.winnowing_fingerprints(docs, "doc_id", k=k, window=w)
    wfp2 = text.winnowing_fingerprints(docs.repartition(7), "doc_id", k=k, window=w)
    f1 = wfp.select("doc_id", F.explode("fingerprints").alias("f"))
    f2 = wfp2.select("doc_id", F.explode("fingerprints").alias("f"))
    # SYMMETRIC multiset difference: one-directional exceptAll would
    # pass when the repartitioned run emits a strict superset
    stable = (
        f1.exceptAll(f2)
        .unionAll(f2.exceptAll(f1))
        .groupBy()
        .agg(F.count("*").alias("n_diff"))
    )
    ntoks = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ", -1)).alias("n_tokens")
    )
    joined = wfp.join(ntoks, "doc_id").withColumn(
        "positions", F.greatest(F.col("n_tokens") - k + 1, F.lit(0))
    )
    per_lang = joined.groupBy("lang").agg(
        (
            F.sum(F.when(
                (F.size("fingerprints") >= F.least(F.lit(1), F.col("positions")))
                & (F.size("fingerprints") <= F.col("positions")),
                0,
            ).otherwise(1))
            == 0
        ).alias("fp_bounds_ok"),
    )
    return (
        md5_stats.join(per_lang, "lang")
        .join(ext_stats, "lang")
        .crossJoin(stable)
        .select(
            "lang",
            "n_docs",
            "n_fingerprints",
            "fp_bounds_ok",
            (F.col("n_diff") == 0).alias("partition_stable_ok"),
            "n_roundtrip_ok",
            "n_extract_fps",
        )
    )


# ---------------------------------------------------------------------------
# multimodal plumbing query
# ---------------------------------------------------------------------------


def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both multimodal tiers in one query, one row per kind:
    'image' = the pure-JVM payload-metadata pass (no decode; byte
    totals hash-gated), 'text'/'audio' = the REAL decode tier (zlib
    blobs and RIFF/WAVE PCM clips through the mime-keyed codec
    registry; decoded unit counts hash-gated against what the oracle
    derives from the source table). Columns not applicable to a tier
    carry 0 — identically in both engines."""
    docs = _docs(spark, sf_dir)
    media = multimodal.media_from_documents(docs)
    img = multimodal.payload_stats(media).select(
        "kind",
        F.col("n_items").cast("long").alias("n_items"),
        F.col("total_bytes").cast("long").alias("total_bytes"),
        F.col("max_bytes").cast("long").alias("max_bytes"),
        F.lit(0).cast("long").alias("total_units"),
        F.lit(True).alias("decode_ok"),
    )
    dp = multimodal.decode_payloads(multimodal.media_with_codecs(docs))
    # coalesce mirrors media_with_codecs' NULL handling (NULL text ->
    # empty payload, NULL n_chars -> zero samples)
    expected = docs.select(
        F.col("doc_id").alias("media_id"),
        F.octet_length(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"))
        .cast("long")
        .alias("exp_text"),
        F.coalesce(F.col("n_chars"), F.lit(0)).cast("long").alias("exp_audio"),
    )
    joined = dp.join(expected, "media_id").withColumn(
        "exp",
        F.when(F.col("kind") == "text", F.col("exp_text")).otherwise(
            F.col("exp_audio")
        ),
    )
    dec = (
        joined.groupBy("kind")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("n_units").cast("long").alias("total_units"),
            (F.sum(F.when(F.col("n_units") == F.col("exp"), 0).otherwise(1)) == 0)
            .alias("decode_ok"),
        )
        .select(
            "kind",
            "n_items",
            F.lit(0).cast("long").alias("total_bytes"),
            F.lit(0).cast("long").alias("max_bytes"),
            "total_units",
            "decode_ok",
        )
    )
    return img.unionByName(dec)


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline (exact dedup → MinHash-LSH near-dup
    → quality filter): per-stage survivor counts, every keeper rule
    deterministic and reproduced exactly by the SQL oracle. PLUS the
    C4 line-dedup tier (merged slot): docs re-split into two token-half
    lines — exact-dup docs share both halves, so the corpus-wide
    canonical-first keeper rule has real work — with total/kept line
    counts hash-gated against the DuckDB struct-min replica."""
    from dashing_spark.operators import corpus

    docs = _docs(spark, sf_dir)
    _, stats = corpus.curate(docs, near_threshold=0.9, min_quality=0.5)
    two = dedup.two_line_split(docs)
    ld = dedup.line_dedup(two, "doc_id", "t2")
    extra = (
        ld.agg(
            F.sum("n_lines").alias("a"), F.sum("n_kept").alias("b")
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("line_dedup_lines").alias("stage"),
                        F.col("a").alias("n_out"),
                    ),
                    F.struct(
                        F.lit("line_dedup_kept").alias("stage"),
                        F.col("b").alias("n_out"),
                    ),
                )
            ).alias("r")
        )
        .select("r.stage", "r.n_out")
    )
    # C4 rule tier (r6): the Raffel et al. §2.2 line rewrite + doc
    # booleans over injected terminal/javascript/brace/lorem/extra-
    # sentence variants of the two-line split (oracle mirrors); kept
    # lines, rewritten chars and per-rule doc counts gated as stage rows
    c4_src = F.concat(
        F.when(F.col("doc_id") % 7 == 0, F.lit("brace { code\n")).otherwise(
            F.lit("")
        ),
        F.col("t2"),
        F.lit("."),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("\nthey use javascript all the time."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("\nlorem ipsum filler sentence here."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.lit(
                "\nOne more good sentence here now."
                "\nAnd a third full sentence here!"
            ),
        ).otherwise(F.lit("")),
    )
    c4 = text.c4_rules(two.withColumn("c4_src", c4_src), "c4_src")
    c4rows = (
        c4.agg(
            F.sum("c4_n_lines_kept").alias("a"),
            F.sum(F.length("c4_text")).alias("b"),
            F.sum(F.col("c4_brace_ok").cast("long")).alias("c"),
            F.sum(F.col("c4_lorem_ok").cast("long")).alias("d"),
            F.sum(F.col("c4_sentences_ok").cast("long")).alias("e"),
            F.sum(F.col("c4_keep").cast("long")).alias("f"),
        )
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(nm).alias("stage"),
                            F.col(al).alias("n_out"),
                        )
                        for nm, al in [
                            ("c4_lines_kept", "a"),
                            ("c4_text_chars", "b"),
                            ("c4_brace_ok_docs", "c"),
                            ("c4_lorem_ok_docs", "d"),
                            ("c4_sentences_ok_docs", "e"),
                            ("c4_keep_docs", "f"),
                        ]
                    ]
                )
            ).alias("r")
        )
        .select("r.stage", "r.n_out")
    )
    return stats.unionByName(extra).unionByName(c4rows)


def q_streaming_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup at ingestion time: documents
    replayed as a file stream (one file per micro-batch); each batch is
    compared against the accumulated band index, never corpus-vs-corpus.
    The union of per-epoch pair emissions must equal the exact JI >= 0.9
    pair set (LSH miss bound <= 1e-8 at the threshold) — the same
    guarantee the batch operator carries, now under streaming arrival."""

    from dashing_spark.streaming import dedup_stream

    docs = _docs(spark, sf_dir)
    src_dir = _temp_dir("dash_dd_src_")
    state_dir = _temp_dir("dash_dd_state_")
    ckpt_dir = _temp_dir("dash_dd_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = dedup_stream.incremental_dedup_query(
        stream,
        id_col="doc_id",
        state_dir=state_dir,
        checkpoint_dir=ckpt_dir,
        threshold=0.9,
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "streaming query did not finish within 600s"
        )
    full = dedup_stream.read_pairs(spark, state_dir).select(
        "a_id", "b_id", F.round("ji", 9).alias("ji")
    )
    # second tier (r6): TTL-bounded dedup window, driver-gated against
    # the batch-over-window oracle. Deterministic epochs (doc_id % 5),
    # ttl_epochs=2, no compaction → the surviving pair set is EXACTLY
    # {ji >= 0.9, |epoch_a - epoch_b| <= 2, max(epoch) >= 3}: expiry
    # after each commit keeps index epochs within the window, and the
    # final manifest retains only the last ttl epochs' pair files
    ttl_state = _temp_dir("dash_dd_ttl_state_")
    n_epochs, ttl = 5, 2
    for e in range(n_epochs):
        dedup_stream.apply_dedup_batch(
            docs.filter(F.pmod(F.col("doc_id"), F.lit(n_epochs)) == e),
            e,
            id_col="doc_id",
            state_dir=ttl_state,
            threshold=0.9,
            ttl_epochs=ttl,
        )
    ttl_pairs = dedup_stream.read_pairs(spark, ttl_state).select(
        "a_id", "b_id", F.round("ji", 9).alias("ji")
    )
    return full.withColumn("tier", F.lit("full")).unionByName(
        ttl_pairs.withColumn("tier", F.lit("ttl"))
    )


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signal: fraction of 2-token
    grams that repeat an earlier gram in the same doc. Integer gram
    sums + the corpus-level fraction (one IEEE-exact division) are
    hash-gated; the per-doc average follows the avg_ttr round-5
    convention. Pure codegen — Generate + partial-aggregated groupBy.

    Second tier (r6): the FULL published Gopher repetition-rule set
    (A.1.2, text.gopher_repetition_rules) over injected variants
    (duplicate lines for one third of docs, a twice-repeated 10-token
    block for another third; oracle mirrors). Gated as per-lang rule
    PASS COUNTS (exact ints) plus min/max of three representative
    fractions — min/max of IEEE doubles are order-independent, unlike
    sums, so they hash-gate cleanly cross-engine."""
    docs = _docs(spark, sf_dir)
    base = text.repetition_stats(docs, ["lang"], w=2, threshold=0.2)
    sub = docs.filter(F.col("doc_id") < 40)
    r_tail = (
        F.when(
            F.col("doc_id") % 3 == 1,
            F.repeat(F.lit("\ndup line here"), 3),
        )
        .when(
            F.col("doc_id") % 3 == 2,
            F.repeat(F.lit(" r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"), 2),
        )
        .otherwise(F.lit(""))
    )
    rep = text.gopher_repetition_rules(
        sub.withColumn("r_text", F.concat("text", r_tail)), "doc_id", "r_text"
    )
    ok_cols = [f"{n}_ok" for n in text.GOPHER_REPETITION_THRESHOLDS]
    rep_agg = rep.groupBy("lang").agg(
        F.count("*").alias("n_docs_rep"),
        *[F.sum(F.col(c).cast("int")).alias(f"n_{c}") for c in ok_cols],
        F.sum(F.col("gopher_rep_keep").cast("int")).alias("n_rep_keep"),
        F.round(F.min("dup_line_char_frac"), 9).alias("min_dup_line_char_frac"),
        F.round(F.max("dup_line_char_frac"), 9).alias("max_dup_line_char_frac"),
        F.round(F.max("top_2gram_char_frac"), 9).alias("max_top2_frac"),
        F.round(F.max("dup_6gram_char_frac"), 9).alias("max_dup6_frac"),
    )
    # LEFT join: a lang with no docs in the injection window must keep
    # its base stats row (the rep columns go NULL on both engines)
    return base.join(rep_agg, "lang", "left")


def q_duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both substring-dedup tiers in one slot (Lee et al. 2022): fixed-
    width duplicated 8-token spans PLUS maximal duplicated runs — the
    arbitrary-length form (islands of covered positions, token length
    >= 16) a substring deduper would actually cut. One span-keyed
    shuffle each, no pair table; the run tier adds one per-doc window."""
    docs = _docs(spark, sf_dir)
    # one corpus-wide span explosion feeds all three tiers (the
    # dominant linear cost); lazy localCheckpoint so the consumers hit
    # storage, not repeated Generate+scans
    sp = dedup.span_rows(docs, "doc_id", ["lang"], w=8).localCheckpoint(
        eager=False
    )
    spans = dedup.duplicate_span_stats(
        docs, "doc_id", ["lang"], w=8, spans=sp
    )
    runs = dedup.duplicate_run_stats(
        docs, "doc_id", ["lang"], w=8, min_len=16, spans=sp
    ).select(
        "lang", "n_docs_with_run", "total_runs", "total_run_tokens",
        "max_run_len", "corpus_run_token_frac",
    )
    # third tier (round 6): ExactSubstr REWRITING — qualifying islands
    # cut from every document; rebuilt text hash-compared (md5 matches
    # DuckDB) and the no-op rebuild pinned byte-lossless in-plan
    rw = dedup.remove_duplicate_runs(
        docs, "doc_id", w=8, min_len=16, spans=sp
    )
    rw_agg = rw.groupBy("lang").agg(
        F.sum(
            F.when(F.col("n_tokens_removed") > 0, 1).otherwise(0)
        ).alias("n_docs_rewritten"),
        F.sum("n_tokens_removed").alias("total_tokens_removed"),
        F.countDistinct(F.md5("text_dedup")).alias("n_distinct_rebuilt"),
        F.min(
            F.when(
                F.col("n_tokens_removed") == 0,
                F.col("text_dedup") == F.col("text"),
            )
        ).alias("rebuild_lossless_ok"),
    )
    return spans.join(runs, "lang").join(rw_agg, "lang")


def q_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 13-gram rule shape, w=8): docs
    with doc_id % 97 == 0 play the held-out benchmark; the rest are
    training docs scored by exact gram overlap (broadcast join — the
    scale-correct plan, a benchmark is small vs a 100 TB corpus) with
    the constant-memory Bloom probe verified alongside (zero false
    negatives; over-count bounded by the FP rate)."""
    from dashing_spark.operators import contamination

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    per = contamination.benchmark_overlap(
        train, bench, key_cols=("lang",), w=8, lg_bits=20
    )
    frac = F.col("exact_overlap") / F.col("n_grams")
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").alias("n_train_docs"),
            F.sum("exact_overlap").alias("total_overlap_grams"),
            F.sum(F.when(frac >= 0.3, 1).otherwise(0)).alias("n_contaminated"),
            (
                (
                    F.sum(
                        F.when(
                            F.col("bloom_overlap") < F.col("exact_overlap"), 1
                        ).otherwise(0)
                    )
                    == 0
                )
                & (
                    F.sum(F.col("bloom_overlap") - F.col("exact_overlap"))
                    <= F.greatest(F.lit(0.02) * F.sum("n_grams"), F.lit(10.0))
                )
            ).alias("bloom_ok"),
        )
        .select(
            "lang", "n_train_docs", "total_overlap_grams", "n_contaminated", "bloom_ok"
        )
    )


#: per-lang sampling rates for the corpus-mixing query (hex-prefix
#: deterministic Bernoulli — identical keep set in Spark and DuckDB)
SAMPLE_RATES = {"en": 0.75, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 1.0}


def q_corpus_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-mixture weights:
    keep iff substr(md5(doc_id),1,4) < per-lang hex cutoff. The keep
    set is identical in both engines, so kept counts and kept char
    sums hash-gate exactly; rate_ok checks the empirical rate against
    the target within a 5-sigma binomial band."""
    from dashing_spark.operators import corpus

    docs = _docs(spark, sf_dir)
    kept = corpus.stratified_sample(docs, SAMPLE_RATES)
    k = kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("sum_chars_kept"),
    )
    t = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    # fallthrough mirrors stratified_sample's default_rate=1.0 — a NULL
    # here would NULL the rate_ok boolean for any lang outside the dict
    rate = F.lit(1.0)
    for lang_name in sorted(SAMPLE_RATES):
        rate = F.when(
            F.col("lang") == lang_name, F.lit(SAMPLE_RATES[lang_name])
        ).otherwise(rate)
    frac = F.col("n_kept") / F.col("n_total")
    slack = (
        F.lit(5.0) * F.sqrt(rate * (1 - rate) / F.col("n_total"))
        + F.lit(2.0) / F.col("n_total")
    )
    # second tier in this slot: exact-k per-stratum sampling — the
    # fixed-budget companion to the fixed-rate Bernoulli above. The
    # selected SET is pinned by count + doc_id sum (both exact; the
    # oracle re-derives the same k smallest md5(doc_id) per lang)
    ek = (
        corpus.exact_k_sample(docs, 13)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_exact_k"),
            F.sum("doc_id").alias("sum_exact_k_ids"),
        )
    )
    # third tier (r6): per-host doc cap — host skew is the dominant
    # real-crawl sampling concern. Synthetic URLs spread each source
    # over 3 hosts (hosts hold ~dozens of docs, so k=17 binds); the
    # kept SET is pinned per lang by count + doc_id sum against the
    # oracle's per-host md5 rank
    with_urls = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
            F.lit(".ex.com/p/"),
            F.col("doc_id").cast("string"),
        ),
    )
    hc = (
        corpus.cap_docs_per_host(with_urls, 17)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_host_capped"),
            F.sum("doc_id").alias("sum_host_capped_ids"),
        )
    )
    return (
        t.join(k, "lang", "left")
        .fillna({"n_kept": 0, "sum_chars_kept": 0})
        .select(
            "lang",
            "n_total",
            "n_kept",
            F.round(frac, 9).alias("kept_frac"),
            "sum_chars_kept",
            (F.abs(frac - rate) <= slack).alias("rate_ok"),
        )
        .join(ek, "lang")
        .join(hc, "lang")
    )


def q_hll_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via HLL over a JVM-hashed int64
    column — the non-text input shape (events stream table)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    src = ev.withColumn("__h", F.xxhash64("user_id"))
    sk = agg.sketch_hash_col_by_key(src, ["event_type"], lambda: HLL.empty(P_HLL), "__h")
    est = sk.select("event_type", agg.estimate_expr("ertl_mle")("sketch").alias("est"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type", "exact_users", _hll_ok(F.col("est"), F.col("exact_users"))
    )


def q_kll_event_values_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantiles over the events value column per event type."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return _quantile_gate(
        ev, "event_type", "value", lambda: KLL.empty(200), "kll_ok", "n_events"
    )


def q_hll_card_by_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketch_by_seq analogue: one sketch per document (doc_id < 50)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    sk = agg.sketch_tokens_by_key(docs, ["doc_id"], lambda: HLL.empty(12))
    est = sk.select("doc_id", agg.estimate_expr("ertl_mle")("sketch").alias("est"))
    exact = (
        docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("t"))
        .groupBy("doc_id")
        .agg(F.countDistinct("t").alias("exact_distinct"))
    )
    # the gate's slack must match THIS query's precision (p=12), not the
    # suite default p=14 — an under-slack bound would flake on larger docs
    return est.join(exact, "doc_id").select(
        "doc_id",
        "exact_distinct",
        _hll_ok(F.col("est"), F.col("exact_distinct"), p=12),
    )


def q_hll_users_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal rollup: distinct users per day via HLL (the windowed-
    aggregation shape; key = date_trunc, sketch per window)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    src = ev.withColumn(
        "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    ).withColumn("__h", F.xxhash64("user_id"))
    sk = agg.sketch_hash_col_by_key(src, ["day"], lambda: HLL.empty(P_HLL), "__h")
    est = sk.select("day", agg.estimate_expr("ertl_mle")("sketch").alias("est"))
    exact = src.groupBy("day").agg(F.countDistinct("user_id").alias("exact_users"))
    return est.join(exact, "day").select(
        "day", "exact_users", _hll_ok(F.col("est"), F.col("exact_users"))
    )


def q_streaming_users_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming windowed rollup: the events table replayed
    as a file stream (several micro-batches), per-day HLL sketches
    maintained via the epoch-committed incremental state. The final
    state must be bit-identical to the one-shot batch build (monoid ⇒
    micro-batching and late arrivals are invisible), and estimates must
    match exact distinct-user counts. r6 watermark tier: the BUILT-IN
    late-data mechanism (withWatermark + window + append mode) runs the
    deterministic two-phase scenario — window finalized once, late
    replay dropped by the checkpoint-recovered watermark, open window
    held back — as three bound booleans."""

    from dashing_spark.streaming.incremental import (
        incremental_sketch_query,
        read_state,
    )
    from dashing_spark.streaming.windowed import late_data_scenario

    wm = late_data_scenario(spark, _temp_dir("dash_wmk_"))

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))

    def day_sketches(df: DataFrame) -> DataFrame:
        src = df.withColumn(
            "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
        ).withColumn("__h", F.xxhash64("user_id"))
        return agg.sketch_hash_col_by_key(src, ["day"], lambda: HLL.empty(P_HLL), "__h")

    src_dir = _temp_dir("dash_stream_src_")
    state_dir = _temp_dir("dash_stream_state_")
    ckpt_dir = _temp_dir("dash_stream_ckpt_")
    ev.repartition(4).write.mode("overwrite").parquet(src_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
    )
    q = incremental_sketch_query(
        stream, ["day"], lambda: HLL.empty(P_HLL), state_dir, ckpt_dir,
        build_fn=day_sketches,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "streaming query did not finish within 300s"
        )
    streamed = {
        r["day"]: bytes(r["sketch"]) for r in read_state(spark, state_dir).collect()
    }
    batch = {r["day"]: bytes(r["sketch"]) for r in day_sketches(ev).collect()}
    stream_matches_batch = streamed == batch
    est = read_state(spark, state_dir).select(
        "day", agg.estimate_expr("ertl_mle")("sketch").alias("est")
    )
    exact = (
        ev.withColumn("day", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return est.join(exact, "day").select(
        "day",
        "exact_users",
        _hll_ok(F.col("est"), F.col("exact_users")),
        F.lit(stream_matches_batch).alias("stream_matches_batch"),
        F.lit(wm["window_emitted_once"]).alias("wm_window_emitted_once"),
        F.lit(wm["late_rows_dropped"]).alias("wm_late_rows_dropped"),
        F.lit(wm["open_window_held"]).alias("wm_open_window_held"),
    )


def q_stateful_users_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState variant of the streaming rollup: per-day
    HLL state lives in the ENGINE's streaming state store (the other
    Structured Streaming state mechanism — foreachBatch owns external
    epoch-committed state, this one rides the query checkpoint). Final
    per-day estimates bound-checked vs exact; n_updates must sum to the
    event count exactly (engine state = no double-counting across
    micro-batches)."""

    from pyspark.sql import Window

    from dashing_spark.streaming.stateful import stateful_sketch_stream

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    src = _temp_dir("dash_state_src_")
    ck = _temp_dir("dash_state_ck_")
    out_dir = _temp_dir("dash_state_out_")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .withColumn("day", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
        .withColumn("__h", F.xxhash64("user_id"))
    )
    q = stateful_sketch_stream(stream, ["day"], lambda: HLL.empty(P_HLL), "__h")

    def sink(bdf: DataFrame, eid: int) -> None:
        bdf.withColumn("epoch", F.lit(eid)).write.mode("append").parquet(out_dir)

    sq = (
        q.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    if not sq.awaitTermination(300):
        sq.stop()
        raise TimeoutError(
            "streaming query did not finish within 300s"
        )
    res = spark.read.parquet(out_dir)
    w = Window.partitionBy("day").orderBy(
        F.col("n_updates").desc(), F.col("epoch").desc()
    )
    final = res.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    exact = (
        ev.withColumn("day", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.count("*").alias("n_events"),
        )
    )
    return final.join(exact, "day").select(
        "day",
        "exact_users",
        _hll_ok(F.col("estimate"), F.col("exact_users")),
        (F.col("n_updates") == F.col("n_events")).alias("state_exact_n"),
    )


def q_streaming_kll_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of an ADDITIVE sketch (KLL) — complements
    streaming_users_by_day's idempotent-max HLL: the epoch protocol must
    not double-count retried micro-batches for additive state. The
    streamed per-type quantiles carry the same rank-error gate as the
    batch KLL query (KLL compaction is merge-tree-shaped, so stream ≡
    batch bit-identity is NOT expected — the rank bound is the
    contract)."""

    from dashing_spark.streaming.incremental import (
        incremental_sketch_query,
        read_state,
    )

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))

    def type_sketches(df: DataFrame) -> DataFrame:
        return agg.sketch_numeric_by_key(
            df, ["event_type"], lambda: KLL.empty(200), "value"
        )

    src_dir = _temp_dir("dash_skll_src_")
    state_dir = _temp_dir("dash_skll_state_")
    ckpt_dir = _temp_dir("dash_skll_ckpt_")
    ev.repartition(4).write.mode("overwrite").parquet(src_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
    )
    q = incremental_sketch_query(
        stream, ["event_type"], lambda: KLL.empty(200), state_dir, ckpt_dir,
        build_fn=type_sketches,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "streaming query did not finish within 300s"
        )
    state = read_state(spark, state_dir)
    return _rank_interval_check(
        ev, "event_type", "value", state, "skll_ok", "n_events"
    )


def q_bloom_en_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter over 'en' tokens probed by every language's distinct
    tokens: exact membership counts (oracle-checked) + the Bloom
    guarantees as booleans (zero false negatives; FP rate ≤ 2x bound)."""
    import pandas as pd
    from pyspark.sql import types as T

    from dashing_spark.functions import BloomFilter, sketch_from_bytes

    docs = _docs(spark, sf_dir)
    en = docs.filter(F.col("lang") == "en")
    bf_df = agg.sketch_tokens_by_key(en, ["lang"], lambda: BloomFilter.empty(18, 4))
    blob = bytes(bf_df.collect()[0]["sketch"])
    probes = _lang_tokens(docs).distinct()
    # NOTE: bloom was built over hash_tokens_arrow hashes; probe with the
    # same hasher by rebuilding probe hashes pandas-side (a JVM xxhash64
    # column here would be a DIFFERENT hash family — do not add one)
    schema = T.StructType(
        [
            T.StructField("lang", T.StringType(), True),
            T.StructField("token", T.StringType(), True),
            T.StructField("bloom_hit", T.BooleanType(), False),
        ]
    )

    def probe_fn(batches):
        from dashing_spark.functions import hashing

        bf = sketch_from_bytes(blob)
        for pdf in batches:
            import pyarrow as pa

            h, _ = hashing.hash_tokens_arrow(pa.array(pdf["token"], type=pa.string()))
            out = pdf[["lang", "token"]].copy()
            out["bloom_hit"] = bf.contains_hashes(h)
            yield out

    hits = probes.drop("__h").mapInPandas(probe_fn, schema=schema)
    en_tokens = en.select(
        F.explode(F.split("text", " ", -1)).alias("token")
    ).distinct()
    truth = hits.join(
        en_tokens.withColumn("in_en", F.lit(True)), "token", "left"
    ).fillna({"in_en": False})
    per_lang = truth.groupBy("lang").agg(
        F.count("*").alias("n_probe"),
        F.sum(F.when(F.col("in_en"), 1).otherwise(0)).alias("n_in_en"),
        # no false negatives: every true member must hit
        (F.sum(F.when(F.col("in_en") & ~F.col("bloom_hit"), 1).otherwise(0)) == 0
         ).alias("no_false_negatives"),
        F.sum(F.when(~F.col("in_en") & F.col("bloom_hit"), 1).otherwise(0)).alias("__fp"),
        F.sum(F.when(~F.col("in_en"), 1).otherwise(0)).alias("__neg"),
    )
    # FP bound: (1-e^{-kn/m})^k with k=4, m=2^18, n=|en tokens| — tiny here
    fp_ok = F.when(
        F.col("__neg") > 0, (F.col("__fp") / F.col("__neg")) <= 0.01
    ).otherwise(F.lit(True))
    return per_lang.select(
        "lang", "n_probe", "n_in_en", "no_false_negatives", fp_ok.alias("fp_ok")
    )


def q_hll_vs_spark_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-check: our HLL vs Spark's approx_count_distinct (HLL++) vs
    exact, per lang — both estimators must sit within the 3σ band."""
    docs = _docs(spark, sf_dir)
    sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(P_HLL))
    ours = sk.select("lang", agg.estimate_expr("ertl_mle")("sketch").alias("ours"))
    toks = _lang_tokens(docs)
    spark_side = toks.groupBy("lang").agg(
        F.countDistinct("token").alias("exact_distinct"),
        F.approx_count_distinct("token", 0.01).alias("builtin"),
    )
    out = ours.join(spark_side, "lang")
    ours_ok = (
        F.abs(F.col("ours") - F.col("exact_distinct"))
        <= F.greatest(F.lit(_HLL_RSE3) * F.col("exact_distinct"), F.lit(2.0))
    )
    builtin_ok = (
        F.abs(F.col("builtin") - F.col("exact_distinct"))
        <= F.greatest(F.lit(0.05) * F.col("exact_distinct"), F.lit(2.0))
    )
    return out.select(
        "lang",
        "exact_distinct",
        ours_ok.alias("ours_ok"),
        builtin_ok.alias("builtin_ok"),
    )


def q_cardinality_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dashing card` emission path (dist.estimate_cardinalities) plus
    the `view` register dump: one cardinality row per sketch, and the
    dumped register array must have exactly 2^p registers."""
    from dashing_spark.sources.sinks import view_registers

    docs = _docs(spark, sf_dir)
    # cached eagerly: consumed twice (register-dump collect + the
    # estimate action) — same fan-out convention as the other queries
    sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(P_HLL)).cache()
    sk.count()
    card = dist.estimate_cardinalities(sk, ["lang"], estimator="ertl_mle")
    view_ok = all(
        view_registers(bytes(r["sketch"])).shape == (1 << P_HLL,)
        for r in sk.collect()  # 5 sketches — register-dump sink check
    )
    exact = (
        _lang_tokens(docs)
        .groupBy("lang")
        .agg(F.countDistinct("token").alias("exact_distinct"))
    )
    return card.join(exact, "lang").select(
        "lang",
        "exact_distinct",
        (
            F.abs(F.col("cardinality") - F.col("exact_distinct"))
            <= F.greatest(F.lit(_HLL_RSE3) * F.col("exact_distinct"), F.lit(2.0))
        ).alias("card_ok"),
        F.lit(view_ok).alias("view_ok"),
    )


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch cache write + resume (`-W` analogue): a second build from
    the same checkpoint must resume (not recompute) and return
    bit-identical sketch blobs; lineage/metrics must cover the input.
    r6 snapshot-log tier (plans/snapshots.py): a torn next-version
    write must not break resume (crash safety), and a forced rebuild
    must leave the prior snapshot time-travelable with bit-identical
    blobs (Iceberg commit semantics without the jars)."""
    import os as _os

    from dashing_spark.plans import snapshots as snaps
    from dashing_spark.plans.pipeline import build_or_resume_sketch_table

    docs = _docs(spark, sf_dir)
    ckpt = _temp_dir("dashspark_ckpt_")
    sk1, m1 = build_or_resume_sketch_table(
        docs, ["lang"], lambda: HLL.empty(P_HLL), ckpt
    )
    # torn write: data for a next version lands but its metadata never
    # commits — resume must still serve v0
    orphan = _os.path.join(m1.checkpoint, "data", "000001-overwrite-torn")
    _os.makedirs(orphan, exist_ok=True)
    with open(_os.path.join(orphan, "part-junk"), "w") as fh:
        fh.write("torn")
    sk2, m2 = build_or_resume_sketch_table(
        docs, ["lang"], lambda: HLL.empty(P_HLL), ckpt
    )
    b1 = {r["lang"]: bytes(r["sketch"]) for r in sk1.collect()}
    b2 = {r["lang"]: bytes(r["sketch"]) for r in sk2.collect()}
    resume_identical = (not m1.resumed) and m2.resumed and b1 == b2
    crash_safe = m2.resumed and snaps.current_version(m1.checkpoint) == 0
    # forced rebuild = new snapshot version; v0 stays time-travelable
    _, m3 = build_or_resume_sketch_table(
        docs, ["lang"], lambda: HLL.empty(P_HLL), ckpt, force=True
    )
    b0 = {
        r["lang"]: bytes(r["sketch"])
        for r in snaps.read_table(spark, m1.checkpoint, version=0).collect()
    }
    time_travel_ok = (
        (not m3.resumed)
        and snaps.current_version(m1.checkpoint) == 1
        and b0 == b1
        and [h["op"] for h in snaps.history(m1.checkpoint)]
        == ["overwrite", "overwrite"]
    )
    metrics_ok = m1.rows_in == docs.count() and m1.partial_sketches >= m1.keys_out
    est = sk2.select("lang", agg.estimate_expr("ertl_mle")("sketch").alias("est"))
    exact = (
        _lang_tokens(docs)
        .groupBy("lang")
        .agg(F.countDistinct("token").alias("exact_distinct"))
    )
    return est.join(exact, "lang").select(
        "lang",
        "exact_distinct",
        _hll_ok(F.col("est"), F.col("exact_distinct")),
        F.lit(resume_identical).alias("resume_identical"),
        F.lit(metrics_ok).alias("metrics_ok"),
        F.lit(crash_safe).alias("snapshot_crash_safe_ok"),
        F.lit(time_travel_ok).alias("snapshot_time_travel_ok"),
    )


def q_distmat_sinks_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-matrix emission sinks: UT-TSV + PHYLIP + packed binary
    written from the exact JI pairs; the packed file is read back
    through the `printmat` reader and must reproduce every value. PLUS
    the document interchange tier (merged slot): the docs table writes
    to JSONL and quoted CSV and reads back with ZERO symmetric
    multiset difference — `doc_formats_ok` flips FALSE (and
    hash-mismatches the oracle's literal TRUE) on any lossy format
    option."""
    import os as _os

    from dashing_spark.sources import sinks, tables as _tables

    docs = _docs(spark, sf_dir)
    fmt_ok = True
    ddl = "doc_id long, text string, lang string, source string, n_chars long"
    # the fixture corpus is format-benign (no quotes/newlines/NULLs),
    # so hostile rows ride along — without them a lossy format option
    # would leave this gate green (r5 review find)
    hostile = spark.createDataFrame(
        [
            (-1, 'q"uote, comma\nand\r\nnewlines', "en", "synth", 27),
            (-2, None, "de", "synth", 0),
            (-3, "", "fr", "synth", 0),
            (-4, " padded \\N text ", "es", "synth", 16),
        ],
        ddl,
    )
    probe = docs.unionByName(hostile)
    for fmt in ("jsonl", "csv"):
        fd = _temp_dir(f"dashspark_doc_{fmt}_")
        _tables.write_documents(probe, _os.path.join(fd, "d"), fmt)
        back = _tables.read_documents(
            spark, _os.path.join(fd, "d"), fmt, schema=ddl
        ).select(*probe.columns)
        n_diff = (
            back.exceptAll(probe).unionAll(probe.exceptAll(back)).count()
        )
        fmt_ok = fmt_ok and (n_diff == 0)
    pairs = dist.exact_pair_measures(_lang_tokens(docs), "lang", "token", ("ji",))
    d = _temp_dir("dashspark_mat_")
    keys = sinks.write_packed_binary(pairs, "ji", _os.path.join(d, "m.bin"))
    back = sinks.read_packed_binary(_os.path.join(d, "m.bin"), keys)
    sinks.write_ut_tsv(pairs, "ji", _os.path.join(d, "m.tsv"))
    sinks.write_phylip(pairs, "ji", _os.path.join(d, "m.phylip"))
    tsv_ok = open(_os.path.join(d, "m.tsv")).readline().startswith("##Names")
    phylip_ok = open(_os.path.join(d, "m.phylip")).readline().strip() == str(
        len(keys)
    )
    rows = []
    for r in pairs.collect():  # 10 lang pairs — interop check, tiny
        rt = float(back.loc[r["a_key"], r["b_key"]])
        rows.append(
            (
                r["a_key"],
                r["b_key"],
                r["ji"],
                abs(rt - r["ji"]) <= 1e-6 and tsv_ok and phylip_ok,
            )
        )
    out = spark.createDataFrame(
        rows, "a_key string, b_key string, ji double, roundtrip_ok boolean"
    )
    # round in Spark so the rounding rule matches the SQL oracle exactly
    return out.select(
        "a_key",
        "b_key",
        F.round("ji", 6).alias("ji"),
        "roundtrip_ok",
        F.lit(bool(fmt_ok)).alias("doc_formats_ok"),
    )


def q_multi_w_shingle_ji(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True k-mer-sweep semantics (mkdist's actual regime): DIFFERENT
    shingle widths are different item universes, so JI varies with w.
    Exact per-lang-pair JI at w∈{1,2} hash-gated; the w-shingle HLL
    sketch estimate bound-checked per w. Exercises the shingle_w>1
    kernel end-to-end under the oracle gate. Sketches for BOTH widths
    come from agg.sketch_tokens_multi_w — one input scan for the whole
    width sweep (the 100 TB-correct shape; per-width bit-identity to
    the single-w kernel is pytest-pinned)."""
    docs = _docs(spark, sf_dir)
    # cached eagerly: the per-w filter branches would otherwise re-run
    # the scan (runtime exchange reuse does not fire across branches)
    sk_all = agg.sketch_tokens_multi_w(
        docs, ["lang"], lambda: HLL.empty(P_HLL), ws=(1, 2)
    ).cache()
    sk_all.count()
    parts = []
    for w in (1, 2):
        if w == 1:
            items = _lang_tokens(docs)
        else:
            toks = F.split(F.col("text"), " ", -1)
            sh = F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.concat_ws(" ", F.element_at(toks, i + 1),
                                      F.element_at(toks, i + 2)),
            )
            items = docs.filter(F.size(toks) >= 2).select(
                "lang", F.explode(sh).alias("token")
            )
        exact = dist.exact_pair_measures(items, "lang", "token", ("ji",))
        sk = sk_all.filter(F.col("w") == w).drop("w")
        est = dist.all_pairs(sk, ["lang"], measures=("ji",)).select(
            F.col("a_lang").alias("a_key"),
            F.col("b_lang").alias("b_key"),
            F.col("ji").alias("ji_est"),
        )
        out = exact.join(est, ["a_key", "b_key"]).select(
            F.lit(w).alias("w"),
            "a_key",
            "b_key",
            F.round("ji", 9).alias("ji"),
            (F.abs(F.col("ji_est") - F.col("ji")) <= 0.05).alias("hll_w_ok"),
        )
        parts.append(out)
    return parts[0].unionByName(parts[1])


def q_multi_k_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`flatten_all` analogue: per-k mash distances pivoted to one row
    per pair (columns k2/k3). Rational ji is hash-gated; each pivoted
    -ln(g)/k value is verified by the inverse exp(-k*d)==g bound (see
    q_mash_containment_pairs for why transcendental outputs are never
    hash-gated across engines)."""
    docs = _docs(spark, sf_dir)
    toks = _lang_tokens(docs)
    mk = dist.multi_k_measures(toks, "lang", "token", ks=(2, 3))
    flat = dist.flatten_multi_k(mk, "mash_dist", ks=(2, 3))
    exact = dist.exact_pair_measures(toks, "lang", "token", ("ji",))
    out = flat.join(exact, ["a_key", "b_key"])
    ji = F.col("ji")
    g = F.lit(2.0) * ji / (F.lit(1.0) + ji)
    tol = F.lit(1e-9)

    def _inv(col_name: str, k: float):
        return F.when(
            ji > 0, F.abs(F.exp(-F.lit(k) * F.col(col_name)) - g) <= tol
        ).otherwise(F.col(col_name) == F.lit(1.0))

    return out.select(
        "a_key",
        "b_key",
        F.round("ji", 9).alias("ji"),
        _inv("2", 2.0).alias("k2_ok"),
        _inv("3", 3.0).alias("k3_ok"),
    )


def q_multi_k_mash_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mkdist analogue: mash_dist at k ∈ {2,3,4} per lang pair, per-pair
    OLS slope vs 1/k (covar_pop/var_pop, all JVM aggregates).

    Gate structure: mash_dist_k = -ln(g)·(1/k) is exactly linear in 1/k
    with slope -ln(g) and intercept 0 (g = 2·ji/(1+ji) is k-independent
    here), so the OLS machinery is verified by two inverse checks
    against the hash-gated rational ji: exp(-slope) must recover g, and
    mean_mash must equal slope·mean(1/k). Hash-gating round(slope, 6)
    directly would be libm-environment-sensitive (see
    q_mash_containment_pairs)."""
    docs = _docs(spark, sf_dir)
    toks = _lang_tokens(docs)
    mk = dist.multi_k_measures(toks, "lang", "token", ks=(2, 3, 4))
    slopes = dist.mash_slope(mk)
    exact = dist.exact_pair_measures(toks, "lang", "token", ("ji",))
    out = slopes.join(exact, ["a_key", "b_key"])
    ji = F.col("ji")
    g = F.lit(2.0) * ji / (F.lit(1.0) + ji)
    tol = F.lit(1e-9)
    mean_invk = (1.0 / 2.0 + 1.0 / 3.0 + 1.0 / 4.0) / 3.0
    # slope = -ln(g) >= 0, so g must round-trip through exp(-slope)
    slope_ok = F.when(
        ji > 0, F.abs(F.exp(-F.col("slope")) - g) <= tol
    ).otherwise(F.lit(True))
    return out.select(
        "a_key",
        "b_key",
        F.round("ji", 9).alias("ji"),
        slope_ok.alias("slope_ok"),
        (
            F.when(
                ji > 0,
                F.abs(F.col("mean_measure") - F.col("slope") * F.lit(mean_invk))
                <= tol,
            ).otherwise(F.lit(True))
        ).alias("mean_ok"),
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-lang distinct-token HLL vs exact on sf0.001."""
    return q_hll_card_by_lang(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-gated registry — EXACTLY 50 entries, because the driver's
    correctness gate takes the first ~50 in dict order (round-3 lesson:
    61 entries left the last 11 ungated). Every SURVEY §2 / pipeline
    operator maps to one of these 50; tests/test_gate_coverage.py is
    the canary that fails if this invariant regresses. Queries whose
    operators were newest (and therefore least driver-history) come
    first. Paths retired from the gate by consolidation live on in
    legacy_queries()."""
    return {
        # -- round-3 additions that had never been driver-gated --------
        "streaming_dedup_pairs": q_streaming_dedup_pairs,
        "repetition_ratio": q_repetition_ratio,
        "duplicate_span_stats": q_duplicate_span_stats,
        "benchmark_decontamination": q_benchmark_decontamination,
        "corpus_sample_mix": q_corpus_sample_mix,
        "lang_id_confusion": q_lang_id_confusion,
        "fingerprint_stats": q_fingerprint_stats,
        "corpus_curation": q_corpus_curation,
        "multimodal_stats": q_multimodal_stats,
        "hll_fold_cross_merge": q_hll_fold_cross_merge,
        # -- sketch constructors + estimates ---------------------------
        "hll_card_by_lang": q_hll_card_by_lang,
        "hll_card_union": q_hll_card_union,
        "hll_fold_by_lang": q_hll_fold_by_lang,
        "hll_card_by_doc": q_hll_card_by_doc,
        "hll_users_by_day": q_hll_users_by_day,
        "kll_quantiles_by_lang": q_kll_quantiles_by_lang,
        "tdigest_quantiles_by_lang": q_tdigest_quantiles_by_lang,
        "heavy_hitters": q_heavy_hitters,
        "min_count_tokens_by_lang": q_min_count_tokens_by_lang,
        # -- pairwise distances ----------------------------------------
        "jaccard_pairs_lang": q_jaccard_pairs_lang,
        "mash_containment_pairs": q_mash_containment_pairs,
        "minhash_family_pairs": q_minhash_family_pairs,
        "counting_wji_pairs": q_counting_wji_pairs,
        "weighted_jaccard_pairs": q_weighted_jaccard_pairs,
        "weighted_jaccard_cm": q_weighted_jaccard_cm,
        "panel_containment": q_panel_containment,
        "topk_neighbors_lang": q_topk_neighbors_lang,
        "containment_filter": q_containment_filter,
        # -- streaming / membership / sinks ----------------------------
        "streaming_users_by_day": q_streaming_users_by_day,
        "stateful_users_by_day": q_stateful_users_by_day,
        "bloom_en_membership": q_bloom_en_membership,
        "cardinality_sink": q_cardinality_sink,
        "checkpoint_resume": q_checkpoint_resume,
        "distmat_sinks_roundtrip": q_distmat_sinks_roundtrip,
        # -- multi-k / multi-width sweeps ------------------------------
        "multi_k_flatten": q_multi_k_flatten,
        "multi_w_shingle_ji": q_multi_w_shingle_ji,
        "multi_k_mash_slope": q_multi_k_mash_slope,
        # -- dedup / similarity / text pipeline ------------------------
        "dedup_exact_by_lang": q_dedup_exact_by_lang,
        "dedup_tokenset_by_lang": q_dedup_tokenset_by_lang,
        "minhash_lsh_dedup": q_minhash_lsh_dedup,
        "dedup_cluster_components": q_dedup_cluster_components,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "simhash_near_dups": q_simhash_near_dups,
        "ann_cosine_topk": q_ann_cosine_topk,
        "embedding_near_dup_pairs": q_embedding_near_dup_pairs,
        "lsh_cosine_topk": q_lsh_cosine_topk,
        "ivf_cosine_topk": q_ivf_cosine_topk,
        "token_stats_by_lang": q_token_stats_by_lang,
        "bpe_token_stats": q_bpe_token_stats,
        "quality_scores": q_quality_scores,
    }


def legacy_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Queries retired from the 50-slot driver gate by round-4
    consolidation — their code paths stay covered either by a merged
    gate query (heavy_hitters, minhash_family_pairs, counting_wji_pairs,
    fingerprint_stats, multimodal_stats) or, for the five below, by
    tests/test_legacy_queries.py running this dict against
    legacy_oracle_sql() at sf0.001. Not seen by the driver."""
    return {
        "hll_card_by_source": q_hll_card_by_source,
        "hll_distinct_users_by_type": q_hll_distinct_users_by_type,
        "kll_event_values_by_type": q_kll_event_values_by_type,
        "streaming_kll_by_type": q_streaming_kll_by_type,
        "hll_vs_spark_builtin": q_hll_vs_spark_builtin,
    }


_TOKS = "SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents"
_QP_VALUES = "SELECT * FROM (VALUES (0.25), (0.5), (0.75), (0.95)) AS t(p)"


def _wji_pairs_oracle(*ok_names: str) -> str:
    """Exact per-lang-pair weighted (multiset) JI, shared by the
    counting-minhash dist queries. Each ok_name becomes a TRUE column
    twinning a Spark-side bound boolean."""
    ok_name = ", true AS ".join(ok_names)
    return f"""
        WITH c AS (SELECT lang, token, count(*) AS cnt
                   FROM ({_TOKS}) GROUP BY lang, token),
        tot AS (SELECT lang, sum(cnt) AS n FROM c GROUP BY lang),
        m AS (
            SELECT a.lang AS a_key, b.lang AS b_key,
                   sum(least(a.cnt, b.cnt)) AS smin
            FROM c a JOIN c b ON a.token = b.token AND a.lang < b.lang
            GROUP BY 1, 2
        )
        SELECT m.a_key, m.b_key,
               round(CAST(m.smin AS DOUBLE) / (ta.n + tb.n - m.smin), 9)
                   AS wji,
               true AS {ok_name}
        FROM m JOIN tot ta ON ta.lang = m.a_key
               JOIN tot tb ON tb.lang = m.b_key
    """


def _ji_pairs_oracle(*ok_names: str) -> str:
    """Exact per-lang-pair JI, shared by the minhash-family dist query.
    Each ok_name becomes a TRUE column twinning a Spark-side bound
    boolean."""
    ok_name = ", true AS ".join(ok_names)
    return f"""
        WITH toks AS (SELECT DISTINCT lang, token FROM ({_TOKS})),
        sizes AS (SELECT lang, count(*) AS sz FROM toks GROUP BY lang),
        inter AS (
            SELECT a.lang AS a_key, b.lang AS b_key, count(*) AS t2
            FROM toks a JOIN toks b ON a.token = b.token AND a.lang < b.lang
            GROUP BY 1, 2
        )
        SELECT s1.lang AS a_key, s2.lang AS b_key,
               round(CAST(COALESCE(i.t2, 0) AS DOUBLE)
                     / (s1.sz + s2.sz - COALESCE(i.t2, 0)), 9) AS ji,
               true AS {ok_name}
        FROM sizes s1 JOIN sizes s2 ON s1.lang < s2.lang
        LEFT JOIN inter i ON i.a_key = s1.lang AND i.b_key = s2.lang
    """


def oracle_sql() -> dict[str, str]:
    # extraction-tier twins for fingerprint_stats, generated from the
    # SAME pattern tables as the Spark chain (operators.text) so the
    # two engines cannot drift (f-string expressions can't hold the
    # backslashes these contain, hence the locals)
    _ex_expr = text.extract_text_duckdb(
        "(" + text._sql_str(_HTML_WRAP_PRE) + " || "
        + text.HTML_ESCAPE_DUCKDB.format(expr="coalesce(text, '')")
        + " || " + text._sql_str(_HTML_WRAP_POST) + ")",
        layout="flat",
    )
    _want_expr = text.flat_ws_duckdb("(coalesce(text, '') || e'\\n' || 'tail ok')")
    return {
        "hll_card_by_lang": f"""
            SELECT lang, count(DISTINCT token) AS exact_distinct, true AS hll_ok
            FROM ({_TOKS}) GROUP BY lang
        """,
        "hll_card_union": f"""
            SELECT count(DISTINCT token) AS exact_distinct, true AS hll_ok
            FROM ({_TOKS})
        """,
        "hll_fold_by_lang": f"""
            SELECT lang, count(DISTINCT token) AS exact_distinct, true AS fold_ok
            FROM ({_TOKS}) GROUP BY lang
        """,
        "hll_fold_cross_merge": f"""
            SELECT lang, count(DISTINCT token) AS exact_distinct,
                   true AS cross_merge_ok
            FROM ({_TOKS}) GROUP BY lang
        """,
        "kll_quantiles_by_lang": f"""
            SELECT lang, p, count(*) AS n_docs, true AS kll_ok
            FROM documents CROSS JOIN ({_QP_VALUES})
            GROUP BY lang, p
        """,
        "tdigest_quantiles_by_lang": f"""
            SELECT lang, p, count(*) AS n_docs, true AS tdigest_ok
            FROM documents CROSS JOIN ({_QP_VALUES})
            GROUP BY lang, p
        """,
        "heavy_hitters": f"""
            SELECT lang, token, cnt, rank, true AS cm_ok, true AS hk_ok FROM (
                SELECT lang, token, cnt,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY cnt DESC, token ASC) AS rank
                FROM (SELECT lang, token, count(*) AS cnt
                      FROM ({_TOKS}) GROUP BY lang, token)
            ) WHERE rank <= 5
        """,
        "min_count_tokens_by_lang": f"""
            SELECT lang, count(*) AS n_tokens_ge5, true AS hll_ok
            FROM (SELECT lang, token, count(*) AS c
                  FROM ({_TOKS}) GROUP BY lang, token HAVING count(*) >= 5)
            GROUP BY lang
        """,
        "jaccard_pairs_lang": f"""
            WITH toks AS (SELECT DISTINCT lang, token FROM ({_TOKS})),
            sizes AS (SELECT lang, count(*) AS sz FROM toks GROUP BY lang),
            inter AS (
                SELECT a.lang AS a_key, b.lang AS b_key, count(*) AS t2
                FROM toks a JOIN toks b ON a.token = b.token AND a.lang < b.lang
                GROUP BY 1, 2
            )
            SELECT s1.lang AS a_key, s2.lang AS b_key,
                   round(CAST(COALESCE(i.t2, 0) AS DOUBLE)
                         / (s1.sz + s2.sz - COALESCE(i.t2, 0)), 9) AS ji,
                   CAST(COALESCE(i.t2, 0) AS DOUBLE) AS inter_size,
                   true AS hll_ji_ok
            FROM sizes s1 JOIN sizes s2 ON s1.lang < s2.lang
            LEFT JOIN inter i ON i.a_key = s1.lang AND i.b_key = s2.lang
        """,
        "mash_containment_pairs": f"""
            WITH toks AS (SELECT DISTINCT lang, token FROM ({_TOKS})),
            sizes AS (SELECT lang, count(*) AS sz FROM toks GROUP BY lang),
            inter AS (
                SELECT a.lang AS a_key, b.lang AS b_key, count(*) AS t2
                FROM toks a JOIN toks b ON a.token = b.token AND a.lang < b.lang
                GROUP BY 1, 2
            ),
            tri AS (
                SELECT s1.lang AS a_key, s2.lang AS b_key,
                       CAST(s1.sz - COALESCE(i.t2, 0) AS DOUBLE) AS t0,
                       CAST(s2.sz - COALESCE(i.t2, 0) AS DOUBLE) AS t1,
                       CAST(COALESCE(i.t2, 0) AS DOUBLE) AS t2
                FROM sizes s1 JOIN sizes s2 ON s1.lang < s2.lang
                LEFT JOIN inter i ON i.a_key = s1.lang AND i.b_key = s2.lang
            ),
            m AS (
                SELECT a_key, b_key,
                       t2 / (t0 + t1 + t2) AS ji,
                       t2 / (t0 + t2) AS c,
                       t2 / (least(t0, t1) + t2) AS sci
                FROM tri
            )
            SELECT a_key, b_key,
                   round(ji, 9) AS ji,
                   round(c, 9) AS containment,
                   round(sci, 9) AS symmetric_containment,
                   true AS mash_dist_ok,
                   true AS full_mash_dist_ok,
                   true AS containment_dist_ok,
                   true AS full_containment_dist_ok,
                   true AS symmetric_containment_dist_ok
            FROM m
        """,
        "minhash_family_pairs": _ji_pairs_oracle(
            "kmv_ji_ok", "bbmh_ji_ok", "hmh_ji_ok", "smh_ji_ok"
        ),
        "counting_wji_pairs": _wji_pairs_oracle("crmh_ok", "cbbmh_ok"),
        "panel_containment": """
            WITH qd AS (SELECT DISTINCT l_returnflag AS a_key, l_orderkey AS k
                        FROM lineitem),
            rd AS (SELECT DISTINCT l_linestatus AS b_key, l_orderkey AS k
                   FROM lineitem),
            sz AS (SELECT a_key, count(*) AS c FROM qd GROUP BY 1),
            i AS (SELECT qd.a_key, rd.b_key, count(*) AS t2
                  FROM qd JOIN rd USING(k) GROUP BY 1, 2)
            SELECT ak.a_key, bk.b_key,
                   round(CAST(COALESCE(i.t2, 0) AS DOUBLE) / sz.c, 9)
                       AS containment,
                   true AS joint_ok
            FROM (SELECT DISTINCT a_key FROM qd) ak
            CROSS JOIN (SELECT DISTINCT b_key FROM rd) bk
            JOIN sz ON sz.a_key = ak.a_key
            LEFT JOIN i ON i.a_key = ak.a_key AND i.b_key = bk.b_key
        """,
        "topk_neighbors_lang": f"""
            WITH toks AS (SELECT DISTINCT lang, token FROM ({_TOKS})),
            sizes AS (SELECT lang, count(*) AS sz FROM toks GROUP BY lang),
            inter AS (
                SELECT a.lang AS a_key, b.lang AS b_key, count(*) AS t2
                FROM toks a JOIN toks b ON a.token = b.token AND a.lang < b.lang
                GROUP BY 1, 2
            ),
            ut AS (
                SELECT s1.lang AS a_key, s2.lang AS b_key,
                       CAST(COALESCE(i.t2, 0) AS DOUBLE)
                       / (s1.sz + s2.sz - COALESCE(i.t2, 0)) AS ji
                FROM sizes s1 JOIN sizes s2 ON s1.lang < s2.lang
                LEFT JOIN inter i ON i.a_key = s1.lang AND i.b_key = s2.lang
            ),
            mirrored AS (
                SELECT a_key, b_key, ji FROM ut
                UNION ALL
                SELECT b_key AS a_key, a_key AS b_key, ji FROM ut
            )
            SELECT a_key, b_key, round(ji, 9) AS ji, rank FROM (
                SELECT a_key, b_key, ji,
                       row_number() OVER (PARTITION BY a_key
                                          ORDER BY ji DESC, b_key ASC) AS rank
                FROM mirrored
            ) WHERE rank <= 2
        """,
        "weighted_jaccard_cm": _wji_pairs_oracle("wcm_ok"),
        "weighted_jaccard_pairs": f"""
            WITH c AS (SELECT lang, token, count(*) AS cnt
                       FROM ({_TOKS}) GROUP BY lang, token),
            tot AS (SELECT lang, sum(cnt) AS n FROM c GROUP BY lang),
            m AS (
                SELECT a.lang AS a_key, b.lang AS b_key,
                       sum(least(a.cnt, b.cnt)) AS smin
                FROM c a JOIN c b ON a.token = b.token AND a.lang < b.lang
                GROUP BY 1, 2
            )
            SELECT m.a_key, m.b_key,
                   round(CAST(m.smin AS DOUBLE) / (ta.n + tb.n - m.smin), 9)
                       AS wji,
                   true AS whll_ok
            FROM m JOIN tot ta ON ta.lang = m.a_key
                   JOIN tot tb ON tb.lang = m.b_key
        """,
        "hll_users_by_day": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   count(DISTINCT user_id) AS exact_users, true AS hll_ok
            FROM events GROUP BY 1
        """,
        "streaming_users_by_day": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   count(DISTINCT user_id) AS exact_users, true AS hll_ok,
                   true AS stream_matches_batch,
                   true AS wm_window_emitted_once,
                   true AS wm_late_rows_dropped,
                   true AS wm_open_window_held
            FROM events GROUP BY 1
        """,
        "stateful_users_by_day": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   count(DISTINCT user_id) AS exact_users, true AS hll_ok,
                   true AS state_exact_n
            FROM events GROUP BY 1
        """,
        "bloom_en_membership": f"""
            WITH probes AS (SELECT DISTINCT lang, token FROM ({_TOKS})),
            en AS (SELECT DISTINCT token FROM ({_TOKS}) WHERE lang = 'en')
            SELECT p.lang, count(*) AS n_probe,
                   CAST(sum(CASE WHEN e.token IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_in_en,
                   true AS no_false_negatives, true AS fp_ok
            FROM probes p LEFT JOIN en e ON e.token = p.token
            GROUP BY p.lang
        """,
        "hll_card_by_doc": """
            SELECT doc_id, count(DISTINCT token) AS exact_distinct,
                   true AS hll_ok
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents WHERE doc_id < 50)
            GROUP BY doc_id
        """,
        "cardinality_sink": f"""
            SELECT lang, count(DISTINCT token) AS exact_distinct,
                   true AS card_ok, true AS view_ok
            FROM ({_TOKS}) GROUP BY lang
        """,
        "checkpoint_resume": f"""
            SELECT lang, count(DISTINCT token) AS exact_distinct,
                   true AS hll_ok, true AS resume_identical, true AS metrics_ok,
                   true AS snapshot_crash_safe_ok, true AS snapshot_time_travel_ok
            FROM ({_TOKS}) GROUP BY lang
        """,
        "distmat_sinks_roundtrip": f"""
            WITH toks AS (SELECT DISTINCT lang, token FROM ({_TOKS})),
            sizes AS (SELECT lang, count(*) AS sz FROM toks GROUP BY lang),
            inter AS (
                SELECT a.lang AS a_key, b.lang AS b_key, count(*) AS t2
                FROM toks a JOIN toks b ON a.token = b.token AND a.lang < b.lang
                GROUP BY 1, 2
            )
            SELECT s1.lang AS a_key, s2.lang AS b_key,
                   round(CAST(COALESCE(i.t2, 0) AS DOUBLE)
                         / (s1.sz + s2.sz - COALESCE(i.t2, 0)), 6) AS ji,
                   true AS roundtrip_ok,
                   -- Spark computes this as a symmetric-exceptAll
                   -- equality of the JSONL/CSV roundtripped docs table
                   true AS doc_formats_ok
            FROM sizes s1 JOIN sizes s2 ON s1.lang < s2.lang
            LEFT JOIN inter i ON i.a_key = s1.lang AND i.b_key = s2.lang
        """,
        "multi_w_shingle_ji": f"""
            WITH t1 AS (SELECT DISTINCT lang, token FROM ({_TOKS})),
            t2 AS (
                SELECT DISTINCT lang,
                       unnest(list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i+1])) AS token
                FROM (SELECT lang, string_split(text, ' ') AS t
                      FROM documents)
                WHERE len(t) >= 2
            ),
            u AS (
                SELECT 1 AS w, lang, token FROM t1
                UNION ALL
                SELECT 2 AS w, lang, token FROM t2
            ),
            sizes AS (SELECT w, lang, count(*) AS sz FROM u GROUP BY w, lang),
            inter AS (
                SELECT a.w, a.lang AS a_key, b.lang AS b_key, count(*) AS t2c
                FROM u a JOIN u b
                  ON a.w = b.w AND a.token = b.token AND a.lang < b.lang
                GROUP BY 1, 2, 3
            )
            SELECT s1.w, s1.lang AS a_key, s2.lang AS b_key,
                   round(CAST(COALESCE(i.t2c, 0) AS DOUBLE)
                         / (s1.sz + s2.sz - COALESCE(i.t2c, 0)), 9) AS ji,
                   true AS hll_w_ok
            FROM sizes s1
            JOIN sizes s2 ON s1.w = s2.w AND s1.lang < s2.lang
            LEFT JOIN inter i
              ON i.w = s1.w AND i.a_key = s1.lang AND i.b_key = s2.lang
        """,
        "multi_k_flatten": f"""
            WITH toks AS (SELECT DISTINCT lang, token FROM ({_TOKS})),
            sizes AS (SELECT lang, count(*) AS sz FROM toks GROUP BY lang),
            inter AS (
                SELECT a.lang AS a_key, b.lang AS b_key, count(*) AS t2
                FROM toks a JOIN toks b ON a.token = b.token AND a.lang < b.lang
                GROUP BY 1, 2
            ),
            m AS (
                SELECT s1.lang AS a_key, s2.lang AS b_key,
                       CAST(COALESCE(i.t2, 0) AS DOUBLE)
                       / (s1.sz + s2.sz - COALESCE(i.t2, 0)) AS ji
                FROM sizes s1 JOIN sizes s2 ON s1.lang < s2.lang
                LEFT JOIN inter i ON i.a_key = s1.lang AND i.b_key = s2.lang
            )
            SELECT a_key, b_key,
                   round(ji, 9) AS ji,
                   true AS k2_ok,
                   true AS k3_ok
            FROM m
        """,
        "multi_k_mash_slope": f"""
            WITH toks AS (SELECT DISTINCT lang, token FROM ({_TOKS})),
            sizes AS (SELECT lang, count(*) AS sz FROM toks GROUP BY lang),
            inter AS (
                SELECT a.lang AS a_key, b.lang AS b_key, count(*) AS t2
                FROM toks a JOIN toks b ON a.token = b.token AND a.lang < b.lang
                GROUP BY 1, 2
            ),
            m AS (
                SELECT s1.lang AS a_key, s2.lang AS b_key,
                       CAST(COALESCE(i.t2, 0) AS DOUBLE)
                       / (s1.sz + s2.sz - COALESCE(i.t2, 0)) AS ji
                FROM sizes s1 JOIN sizes s2 ON s1.lang < s2.lang
                LEFT JOIN inter i ON i.a_key = s1.lang AND i.b_key = s2.lang
            )
            SELECT a_key, b_key,
                   round(ji, 9) AS ji,
                   true AS slope_ok,
                   true AS mean_ok
            FROM m
        """,
        "containment_filter": """
            WITH ref AS (
                SELECT list(DISTINCT token) AS ref_set
                FROM (SELECT unnest(string_split(text, ' ')) AS token
                      FROM documents WHERE lang = 'en')
            ),
            perdoc AS (
                SELECT d.lang,
                       len(list_intersect(
                           list_distinct(string_split(d.text, ' ')), r.ref_set))
                       * 1.0 / len(list_distinct(string_split(d.text, ' ')))
                           AS c_exact
                FROM documents d CROSS JOIN ref r
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(CASE WHEN c_exact >= 0.9 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_pass_exact,
                   true AS sketch_ci_ok
            FROM perdoc GROUP BY lang
        """,
        "dedup_exact_by_lang": """
            WITH w AS (
                SELECT lang, text,
                       CASE WHEN doc_id % 6 < 2 THEN 'HTTPS://WWW.'
                            ELSE 'https://' END
                       || source || '.example.com'
                       || CASE WHEN doc_id % 6 = 0 THEN ':443' ELSE '' END
                       || '/p/' || (doc_id % 200)
                       || CASE doc_id % 6 WHEN 1 THEN '?utm_source=feed'
                                          WHEN 2 THEN '#sec'
                                          WHEN 3 THEN '/'
                                          WHEN 4 THEN '?b=2&a=1'
                                          WHEN 5 THEN '?a=1&b=2'
                                          ELSE '' END AS url
                FROM documents
            ), s0 AS (
                SELECT lang, text, url,
                       regexp_replace(regexp_replace(regexp_replace(
                           regexp_replace(regexp_replace(
                               regexp_replace(url, '#.*', ''),
                               '[?&]utm_[A-Za-z_]+=[^&]*', '', 'g'),
                           '[?&]fbclid=[^&]*', '', 'g'),
                           '[?&]gclid=[^&]*', '', 'g'),
                           '^([^?&]*)&([^?&#=]+=)', '\\1?\\2'),
                           '[?]\\z', '') AS u
                FROM w
            ), s AS (
                SELECT lang, text, url,
                       CASE WHEN regexp_extract(u, '[?](.*)\\z', 1) = ''
                            THEN u
                            ELSE regexp_replace(u, '[?].*\\z', '') || '?' ||
                                 array_to_string(list_sort(string_split(
                                     regexp_extract(u, '[?](.*)\\z', 1),
                                     '&')), '&')
                       END AS u
                FROM s0
            ), c AS (
                SELECT lang, text, url,
                       regexp_replace(
                           regexp_replace(regexp_replace(regexp_replace(
                               lower(regexp_extract(u, '^[A-Za-z]+://[^/?#]*', 0)),
                               ':80\\z', ''), ':443\\z', ''), '://www[.]', '://')
                           || regexp_replace(u, '^[A-Za-z]+://[^/?#]*', ''),
                           '/\\z', '') AS curl,
                       regexp_replace(lower(regexp_extract(
                           url, '^[A-Za-z]+://([^/?#:]*)', 1)),
                           '^www[.]', '') AS hostc
                FROM s
            )
            SELECT lang, count(*) AS n_docs,
                   count(DISTINCT md5(text)) AS n_distinct_digests,
                   count(DISTINCT url) AS n_raw_urls,
                   count(DISTINCT curl) AS n_canonical_urls,
                   count(DISTINCT hostc) AS n_hosts
            FROM c GROUP BY lang
        """,
        "dedup_tokenset_by_lang": """
            SELECT lang, count(*) AS n_docs,
                   count(DISTINCT CAST(list_sort(list_distinct(
                       string_split(text, ' '))) AS VARCHAR)) AS n_tokensets
            FROM documents GROUP BY lang
        """,
        "minhash_lsh_dedup": """
            WITH toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS it
                FROM documents
            ),
            sz AS (SELECT doc_id, count(*) AS s FROM toks GROUP BY doc_id),
            i AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS t2
                FROM toks a JOIN toks b ON a.it = b.it AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT a_id, b_id,
                   round(CAST(t2 AS DOUBLE) / (sa.s + sb.s - t2), 9) AS ji
            FROM i JOIN sz sa ON sa.doc_id = i.a_id
                   JOIN sz sb ON sb.doc_id = i.b_id
            WHERE CAST(t2 AS DOUBLE) / (sa.s + sb.s - t2) >= 0.9
        """,
        "dedup_cluster_components": """
            WITH RECURSIVE toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS it
                FROM documents
            ),
            sz AS (SELECT doc_id, count(*) AS s FROM toks GROUP BY doc_id),
            i AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS t2
                FROM toks a JOIN toks b ON a.it = b.it AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT a_id, b_id
                FROM i JOIN sz sa ON sa.doc_id = i.a_id
                       JOIN sz sb ON sb.doc_id = i.b_id
                WHERE CAST(t2 AS DOUBLE) / (sa.s + sb.s - t2) >= 0.9
            ),
            edges AS (
                SELECT a_id AS u, b_id AS v FROM pairs
                UNION
                SELECT b_id AS u, a_id AS v FROM pairs
            ),
            reach(u, lbl) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
            )
            SELECT CAST(comp AS BIGINT) AS comp,
                   CAST(count(*) AS BIGINT) AS n_members
            FROM (SELECT u, min(lbl) AS comp FROM reach GROUP BY u)
            GROUP BY comp
        """,
        "ngram_jaccard_pairs": """
            WITH g AS (
                SELECT doc_id, lang,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(length(text) - 2, 0) + 1),
                           i -> substring(text, i::INT, 3)))) AS it
                FROM documents
            ),
            sz AS (SELECT doc_id, count(*) AS s FROM g GROUP BY doc_id),
            i AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS t2
                FROM g a JOIN g b
                  ON a.it = b.it AND a.lang = b.lang AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT a_id, b_id,
                   round(CAST(t2 AS DOUBLE) / (sa.s + sb.s - t2), 9) AS ji
            FROM i JOIN sz sa ON sa.doc_id = i.a_id
                   JOIN sz sb ON sb.doc_id = i.b_id
            WHERE CAST(t2 AS DOUBLE) / (sa.s + sb.s - t2) >= 0.6
        """,
        "ivf_cosine_topk": """
            SELECT count(*)::BIGINT AS n_vectors, 3 AS k,
                   true AS ivf_recall_ok,
                   true AS ivf_recall_ok_median, true AS ivf_recall_ok_p10,
                   true AS ivfpq_recall_ok,
                   true AS ivfpq_recall_ok_median,
                   true AS ivfpq_recall_ok_p10
            FROM embeddings
        """,
        "lsh_cosine_topk": """
            SELECT count(*)::BIGINT AS n_vectors, 3 AS k,
                   true AS lsh_recall_ok,
                   true AS lsh_recall_ok_median, true AS lsh_recall_ok_p10
            FROM embeddings
        """,
        "simhash_near_dups": """
            WITH d AS (SELECT doc_id, md5(text) AS dg FROM documents)
            SELECT count(*)::BIGINT AS n_exact_dup_pairs,
                   true AS banding_matches_bruteforce,
                   true AS exact_pairs_covered
            FROM d a JOIN d b ON a.dg = b.dg AND a.doc_id < b.doc_id
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 20),
            r AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv
                  FROM embeddings),
            p AS (SELECT q_id, n_id, list_cosine_similarity(qv, nv) AS cos
                  FROM q CROSS JOIN r WHERE q_id != n_id),
            t AS (SELECT q_id, n_id, cos,
                         row_number() OVER (PARTITION BY q_id
                                            ORDER BY cos DESC, n_id ASC) AS rank
                  FROM p)
            SELECT q_id, n_id, round(cos, 5) AS cos, rank
            FROM t WHERE rank <= 3
        """,
        "embedding_near_dup_pairs": """
            WITH RECURSIVE e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            p AS (
                SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                       list_cosine_similarity(a.v, b.v) AS cos
                FROM e a CROSS JOIN e b
                WHERE a.vec_id < b.vec_id
                  AND list_cosine_similarity(a.v, b.v) >= 0.4
            ),
            edges AS (
                SELECT a_id AS u, b_id AS w, cos FROM p
                UNION ALL
                SELECT b_id AS u, a_id AS w, cos FROM p
            ),
            reach(u, lbl) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT ed.u, r.lbl FROM edges ed JOIN reach r ON r.u = ed.w
            ),
            lab AS (SELECT u, min(lbl) AS comp FROM reach GROUP BY u),
            deg AS (
                SELECT u, count(*) AS n_nbrs, max(cos) AS mc
                FROM edges GROUP BY u
            ),
            asg AS (
                SELECT emb.vec_id,
                       coalesce(lab.comp, emb.vec_id) AS comp,
                       coalesce(deg.n_nbrs, 0) AS n_nbrs,
                       coalesce(deg.mc, 0) AS mc
                FROM embeddings emb
                LEFT JOIN lab ON lab.u = emb.vec_id
                LEFT JOIN deg ON deg.u = emb.vec_id
            ),
            cs AS (SELECT comp, count(*) AS n_members FROM asg GROUP BY comp)
            SELECT asg.vec_id, asg.comp, (asg.comp = asg.vec_id) AS keep,
                   CAST(asg.n_nbrs AS BIGINT) AS n_nbrs,
                   round(asg.mc, 5) AS max_cos,
                   CAST(cs.n_members AS BIGINT) AS n_members
            FROM asg JOIN cs ON cs.comp = asg.comp
        """,
        "bpe_token_stats": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
                   round(avg(n_bpe), 6) AS avg_bpe_per_doc,
                   round(round(avg(CASE WHEN n_bpe > 0
                       THEN CAST(n_uniq AS DOUBLE) / n_bpe END), 6), 5)
                       AS avg_bpe_ttr
            FROM (SELECT lang,
                         len(regexp_extract_all(text,
                             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe,
                         len(list_distinct(regexp_extract_all(text,
                             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS n_uniq
                  FROM documents)
            GROUP BY lang
        """,
        "token_stats_by_lang": """
            WITH base AS (
                SELECT lang, count(*) AS n_docs,
                       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                       round(avg(n_tok), 6) AS avg_tokens_per_doc,
                       round(round(avg(CAST(n_uniq AS DOUBLE) / n_tok), 6),
                             5) AS avg_ttr
                FROM (SELECT lang,
                             len(string_split(text, ' ')) AS n_tok,
                             len(list_distinct(string_split(text, ' ')))
                                 AS n_uniq
                      FROM documents)
                GROUP BY lang
            ), a AS (
                SELECT lang,
                       text || CASE WHEN doc_id % 4 = 0
                           THEN ' cafe' || chr(769) || '  x'
                           ELSE '' END AS aug
                FROM documents
            ), n AS (
                SELECT lang,
                       CASE WHEN nfc_normalize(aug) <> aug THEN 1
                            ELSE 0 END AS changed,
                       length(trim(regexp_replace(nfc_normalize(aug),
                           '[ \t\r\n]+', ' ', 'g'))) AS nlen
                FROM a
            ), norm AS (
                SELECT lang,
                       CAST(sum(changed) AS BIGINT) AS n_nfc_changed,
                       CAST(sum(nlen) AS BIGINT) AS sum_norm_chars
                FROM n GROUP BY lang
            )
            , pk AS (
                SELECT lang, doc_id,
                       len(string_split(coalesce(text, ''), ' ')) AS nt,
                       sum(len(string_split(coalesce(text, ''), ' ')))
                           OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)
                           - len(string_split(coalesce(text, ''), ' '))
                           AS so
                FROM documents
            ), pks AS (
                SELECT lang,
                       CAST(max((so + nt - 1) // 512) + 1 AS BIGINT)
                           AS n_sequences,
                       CAST(sum(CASE WHEN so // 512 <> (so + nt - 1) // 512
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_boundary_docs,
                       CAST((max((so + nt - 1) // 512) + 1) * 512
                            - sum(nt) AS BIGINT) AS tail_waste
                FROM pk GROUP BY lang
            )
            SELECT base.*, norm.n_nfc_changed, norm.sum_norm_chars,
                   pks.n_sequences, pks.n_boundary_docs, pks.tail_waste
            FROM base JOIN norm USING (lang) JOIN pks USING (lang)
        """,
        "quality_scores": """
            WITH aug AS (
                SELECT doc_id, text,
                       text || CASE WHEN doc_id % 3 = 0
                           THEN ' contact u' || doc_id
                                || '@ex.org from 10.0.0.' || doc_id
                                || ' ssn 123-45-6789 call +1 555-123-4567'
                                || ' or (555) 123-4567 / 555.123.4567'
                                || ' card 4111111111111111 / 4111 1111 1111 1111'
                                || ' v6 2001:0db8:85a3:0000:0000:8a2e:0370:7334'
                           ELSE '' END AS aug_text
                FROM documents WHERE doc_id < 20
            ), f AS (
                SELECT doc_id,
                       length(text) AS nc,
                       len(string_split(text, ' ')) AS n_tokens,
                       round(CASE WHEN length(text) > 0
                           THEN (length(text) - length(regexp_replace(
                               text, '[0-9]', '', 'g'))) * 1.0 / length(text)
                           ELSE 0.0 END, 6)
                           AS digit_ratio,
                       round(len(list_filter(string_split(text, ' '),
                           t -> list_contains(['the','a','of','and'], t)))
                           * 1.0 / len(string_split(text, ' ')), 6)
                           AS stopword_ratio,
                       len(regexp_extract_all(aug_text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+'
                           )) AS pii_email_count,
                       len(regexp_extract_all(aug_text,
                           '[0-9]{3}-[0-9]{2}-[0-9]{4}'
                           )) AS pii_ssn_count,
                       len(regexp_extract_all(aug_text,
                           '[+][0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3}[- ]?[0-9]{2,4}'
                           )) AS pii_phone_count,
                       len(regexp_extract_all(aug_text,
                           '[(][0-9]{3}[)][ ]?[0-9]{3}[-. ][0-9]{4}'
                           )) AS pii_phone_us_count,
                       len(regexp_extract_all(aug_text,
                           '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}'
                           )) AS pii_phone_us_dash_count,
                       len(regexp_extract_all(aug_text,
                           '[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}'
                           )) AS pii_card_grouped_count,
                       len(regexp_extract_all(aug_text,
                           '[0-9]{13,19}'
                           )) AS pii_card_count,
                       len(regexp_extract_all(aug_text,
                           '[0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4}){7}'
                           )) AS pii_ipv6_count,
                       len(regexp_extract_all(aug_text,
                           '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}'
                           )) AS pii_ipv4_count
                FROM aug
            )
            SELECT f.doc_id, n_tokens, digit_ratio, stopword_ratio,
                   round(
                       greatest(least(1.0 - abs(ln(nc + 1.0) - 5.5) / 5.5,
                                      1.0), 0.0) * 0.5
                       + greatest(1.0 - digit_ratio * 10, 0.0) * 0.25
                       + least(stopword_ratio * 5, 1.0) * 0.25, 6) AS quality,
                   pii_email_count, pii_ssn_count, pii_phone_count,
                   pii_phone_us_count, pii_phone_us_dash_count,
                   pii_card_grouped_count, pii_card_count,
                   pii_ipv6_count, pii_ipv4_count,
                   -- Spark computes this by re-detecting on the
                   -- redacted text; a redaction regression flips it to
                   -- FALSE there and hash-mismatches against this TRUE
                   true AS pii_gone,
                   lm.lm_n_tokens, lm.n_oov,
                   -- Spark bounds the transcendental LM score
                   -- (finite, negative, above the smoothing floor)
                   true AS lp_ok,
                   lm.n_bigram_hits,
                   true AS bg_lp_ok,
                   gop.gopher_n_words, gop.g_word_count_ok,
                   gop.g_mean_word_len_ok, gop.g_symbol_ok,
                   gop.g_bullet_ok, gop.g_ellipsis_ok, gop.g_alpha_ok,
                   gop.g_stopword_ok, gop.gopher_keep
            FROM f JOIN (
                WITH a2 AS (
                    SELECT doc_id,
                           text || CASE WHEN doc_id % 5 = 0
                               THEN ' qzv1oov qzv2oov' ELSE '' END AS t2
                    FROM documents WHERE doc_id < 20
                ), lmtok AS (
                    SELECT doc_id,
                           unnest(string_split(t2, ' ')) AS tok
                    FROM a2
                ), v AS (
                    SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
                    FROM documents
                ), rbg AS (
                    SELECT DISTINCT ts[i] AS u, ts[i+1] AS v2
                    FROM (SELECT string_split(text, ' ') AS ts
                          FROM documents) rt,
                         LATERAL unnest(range(1, len(ts))) AS r(i)
                ), dbg AS (
                    SELECT doc_id, ts[i] AS u, ts[i+1] AS v2
                    FROM (SELECT doc_id, string_split(t2, ' ') AS ts
                          FROM a2) dt,
                         LATERAL unnest(range(1, len(ts))) AS r(i)
                ), bh AS (
                    SELECT dbg.doc_id,
                           sum(CASE WHEN rbg.u IS NOT NULL THEN 1 ELSE 0
                               END)::BIGINT AS n_bigram_hits
                    FROM dbg LEFT JOIN rbg
                      ON dbg.u = rbg.u AND dbg.v2 = rbg.v2
                    GROUP BY dbg.doc_id
                )
                SELECT lmtok.doc_id,
                       count(*)::BIGINT AS lm_n_tokens,
                       sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0
                           END)::BIGINT AS n_oov,
                       COALESCE(any_value(bh.n_bigram_hits),
                                0)::BIGINT AS n_bigram_hits
                FROM lmtok LEFT JOIN v USING (tok)
                           LEFT JOIN bh ON bh.doc_id = lmtok.doc_id
                GROUP BY lmtok.doc_id
            ) lm ON f.doc_id = lm.doc_id
            JOIN (
                -- Gopher rule set over injected formatting variants
                WITH gt AS (
                    SELECT doc_id,
                           text || CASE
                               WHEN doc_id % 4 = 1
                                   THEN repeat(e'\n• item x', 12)
                               WHEN doc_id % 4 = 2
                                   THEN repeat(e'\nmore soon...', 4)
                               WHEN doc_id % 4 = 3
                                   THEN repeat(' ###', 30)
                               ELSE '' END AS g
                    FROM documents WHERE doc_id < 20
                ), gw AS (
                    SELECT doc_id, g,
                           list_filter(string_split(g, ' '),
                                       t -> t <> '') AS ws,
                           string_split(g, chr(10)) AS ls
                    FROM gt
                ), gr AS (
                    SELECT doc_id,
                           len(ws) AS nw,
                           CASE WHEN len(ws) > 0 THEN
                               list_sum(list_transform(ws,
                                   t -> length(t)))::DOUBLE / len(ws)
                           ELSE 0.0 END AS mwl,
                           CASE WHEN len(ws) > 0 THEN
                               ((length(g) - length(replace(g, '#', '')))
                                + (length(g)
                                   - length(replace(g, '...', ''))) / 3)
                               / len(ws)
                           ELSE 0.0 END AS symr,
                           len(list_filter(ls, l ->
                               starts_with(l, '•') OR starts_with(l, '- ')
                           )) / len(ls) AS bf,
                           len(list_filter(ls, l -> ends_with(l, '...')))
                               / len(ls) AS ef,
                           CASE WHEN len(ws) > 0 THEN
                               len(list_filter(ws, w ->
                                   regexp_matches(w, '[A-Za-z]')))
                               / len(ws)
                           ELSE 0.0 END AS af,
                           (list_contains(ws, 'the')::INT
                            + list_contains(ws, 'be')::INT
                            + list_contains(ws, 'to')::INT
                            + list_contains(ws, 'of')::INT
                            + list_contains(ws, 'and')::INT
                            + list_contains(ws, 'that')::INT
                            + list_contains(ws, 'have')::INT
                            + list_contains(ws, 'with')::INT) AS sh
                    FROM gw
                )
                SELECT doc_id,
                       nw::BIGINT AS gopher_n_words,
                       (nw >= 50 AND nw <= 100000) AS g_word_count_ok,
                       (mwl >= 3.0 AND mwl <= 10.0) AS g_mean_word_len_ok,
                       (symr <= 0.1) AS g_symbol_ok,
                       (bf <= 0.9) AS g_bullet_ok,
                       (ef <= 0.3) AS g_ellipsis_ok,
                       (af >= 0.8) AS g_alpha_ok,
                       (sh >= 2) AS g_stopword_ok,
                       ((nw >= 50 AND nw <= 100000)
                        AND (mwl >= 3.0 AND mwl <= 10.0)
                        AND (symr <= 0.1) AND (bf <= 0.9)
                        AND (ef <= 0.3) AND (af >= 0.8)
                        AND (sh >= 2)) AS gopher_keep
                FROM gr
            ) gop ON f.doc_id = gop.doc_id
        """,
        "lang_id_confusion": """
            WITH t AS (SELECT doc_id, lang,
                              list_distinct(string_split(text, ' ')) AS toks
                       FROM documents),
            s AS (
                SELECT doc_id, lang, 'de' AS cand,
                       len(list_intersect(toks, ['data','table','window','batch'])) AS sc FROM t
                UNION ALL
                SELECT doc_id, lang, 'en',
                       len(list_intersect(toks, ['the','a','value','row'])) FROM t
                UNION ALL
                SELECT doc_id, lang, 'es',
                       len(list_intersect(toks, ['hash','filter','scan','stream'])) FROM t
                UNION ALL
                SELECT doc_id, lang, 'fr',
                       len(list_intersect(toks, ['query','merge','sort','line'])) FROM t
                UNION ALL
                SELECT doc_id, lang, 'zh',
                       len(list_intersect(toks, ['spark','join','key','agg'])) FROM t
            ),
            p AS (SELECT doc_id, lang, cand,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY sc DESC, cand ASC) AS rn
                  FROM s),
            -- NULL text predicts NULL, mirroring lang_id_predict's guard
            -- (the tie-break would otherwise invent 'de')
            w AS (SELECT p.doc_id, p.lang,
                         CASE WHEN d.text IS NULL THEN NULL
                              ELSE p.cand END AS pred_lang
                  FROM p JOIN documents d ON d.doc_id = p.doc_id
                  WHERE p.rn = 1)
            SELECT lang, pred_lang, count(*) AS n
            FROM w GROUP BY lang, pred_lang
        """,
        "fingerprint_stats": f"""
            WITH ex AS (
                SELECT lang, {_ex_expr} AS e, {_want_expr} AS want
                FROM documents
            )
            SELECT d.lang, count(*) AS n_docs,
                   count(DISTINCT md5(d.text)) AS n_fingerprints,
                   true AS fp_bounds_ok, true AS partition_stable_ok,
                   (SELECT CAST(sum(CASE WHEN e = want THEN 1 ELSE 0 END)
                                AS BIGINT)
                    FROM ex WHERE ex.lang = d.lang) AS n_roundtrip_ok,
                   (SELECT count(DISTINCT md5(e))
                    FROM ex WHERE ex.lang = d.lang) AS n_extract_fps
            FROM documents d GROUP BY d.lang
        """,
        "multimodal_stats": """
            -- coalesce mirrors media_with_codecs / media_from_documents:
            -- NULL text is an empty payload, NULL n_chars zero samples
            SELECT 'image' AS kind, count(*)::BIGINT AS n_items,
                   CAST(sum(octet_length(encode(coalesce(text, '')))) AS BIGINT)
                       AS total_bytes,
                   CAST(max(octet_length(encode(coalesce(text, '')))) AS BIGINT)
                       AS max_bytes,
                   0::BIGINT AS total_units, true AS decode_ok
            FROM documents
            UNION ALL
            SELECT 'audio', count(*)::BIGINT, 0::BIGINT, 0::BIGINT,
                   CAST(sum(coalesce(n_chars, 0)) AS BIGINT), true
            FROM documents
            UNION ALL
            SELECT 'text', count(*)::BIGINT, 0::BIGINT, 0::BIGINT,
                   CAST(sum(octet_length(encode(coalesce(text, '')))) AS BIGINT),
                   true
            FROM documents
        """,
        "streaming_dedup_pairs": """
            WITH toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS it
                FROM documents
            ),
            sz AS (SELECT doc_id, count(*) AS s FROM toks GROUP BY doc_id),
            i AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS t2
                FROM toks a JOIN toks b ON a.it = b.it AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            , p AS (
                SELECT a_id, b_id,
                       round(CAST(t2 AS DOUBLE) / (sa.s + sb.s - t2), 9)
                           AS ji
                FROM i JOIN sz sa ON sa.doc_id = i.a_id
                       JOIN sz sb ON sb.doc_id = i.b_id
                WHERE CAST(t2 AS DOUBLE) / (sa.s + sb.s - t2) >= 0.9
            )
            SELECT a_id, b_id, ji, 'full' AS tier FROM p
            UNION ALL
            -- TTL tier: epochs doc_id % 5, window ttl=2, pairs survive
            -- only if emitted in the last ttl epochs (max epoch >= 3)
            SELECT a_id, b_id, ji, 'ttl' AS tier FROM p
            WHERE abs((a_id % 5) - (b_id % 5)) <= 2
              AND greatest(a_id % 5, b_id % 5) >= 3
        """,
        "repetition_ratio": """
            WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ts
                       FROM documents),
            g AS (SELECT doc_id, lang, unnest(range(1, len(ts))) AS i, ts
                  FROM d),
            per0 AS (
                SELECT doc_id, lang, count(*) AS n_grams,
                       count(DISTINCT array_to_string(ts[i : i + 1], ' '))
                           AS n_uniq
                FROM g GROUP BY doc_id, lang
            ),
            per AS (
                SELECT d.doc_id, d.lang,
                       COALESCE(p.n_grams, 0) AS n_grams,
                       COALESCE(p.n_uniq, 0) AS n_uniq
                FROM d LEFT JOIN per0 p USING (doc_id, lang)
            )
            , baseq AS (
            SELECT lang,
                   count(*)::BIGINT AS n_docs,
                   sum(n_grams)::BIGINT AS total_grams,
                   sum(n_uniq)::BIGINT AS total_uniq_grams,
                   round(CASE WHEN sum(n_grams) > 0
                         THEN 1.0 - sum(n_uniq)::DOUBLE / sum(n_grams) END, 9)
                       AS corpus_dup_frac,
                   round(avg(CASE WHEN n_grams > 0
                             THEN 1.0 - n_uniq::DOUBLE / n_grams END), 5)
                       AS avg_doc_dup_frac,
                   sum(CASE WHEN n_grams > 0
                            AND 1.0 - n_uniq::DOUBLE / n_grams > 0.2
                       THEN 1 ELSE 0 END)::BIGINT AS n_docs_over_threshold
            FROM per GROUP BY lang
        ) SELECT baseq.*, repq.n_docs_rep,
                 repq.n_dup_line_frac_ok, repq.n_dup_para_frac_ok,
                 repq.n_dup_line_char_frac_ok, repq.n_dup_para_char_frac_ok,
                 repq.n_top_2gram_char_frac_ok, repq.n_top_3gram_char_frac_ok,
                 repq.n_top_4gram_char_frac_ok,
                 repq.n_dup_5gram_char_frac_ok, repq.n_dup_6gram_char_frac_ok,
                 repq.n_dup_7gram_char_frac_ok, repq.n_dup_8gram_char_frac_ok,
                 repq.n_dup_9gram_char_frac_ok, repq.n_dup_10gram_char_frac_ok,
                 repq.n_rep_keep,
                 repq.min_dup_line_char_frac, repq.max_dup_line_char_frac,
                 repq.max_top2_frac, repq.max_dup6_frac
          FROM baseq LEFT JOIN (
            WITH rt AS (
                SELECT doc_id, lang,
                       text || CASE
                           WHEN doc_id % 3 = 1
                               THEN repeat(e'\ndup line here', 3)
                           WHEN doc_id % 3 = 2
                               THEN repeat(' r1 r2 r3 r4 r5 r6 r7 r8 r9 r10', 2)
                           ELSE '' END AS g
                FROM documents WHERE doc_id < 40
            ),
            nch AS (SELECT doc_id, lang, g, length(g) AS nc,
                           string_split(g, ' ') AS ts
                    FROM rt),
            lu AS (SELECT doc_id, unnest(string_split(g, chr(10))) AS u
                   FROM rt),
            lc AS (SELECT doc_id, u, count(*) AS c FROM lu
                   GROUP BY doc_id, u),
            lf AS (SELECT doc_id,
                          sum(c - 1) / sum(c) AS dlf,
                          CASE WHEN sum(c * length(u)) > 0 THEN
                              sum((c - 1) * length(u)) / sum(c * length(u))
                          ELSE 0.0 END AS dlcf
                   FROM lc GROUP BY doc_id),
            pu AS (SELECT doc_id,
                          unnest(string_split(g, chr(10) || chr(10))) AS u
                   FROM rt),
            pc AS (SELECT doc_id, u, count(*) AS c FROM pu
                   GROUP BY doc_id, u),
            pf AS (SELECT doc_id,
                          sum(c - 1) / sum(c) AS dpf,
                          CASE WHEN sum(c * length(u)) > 0 THEN
                              sum((c - 1) * length(u)) / sum(c * length(u))
                          ELSE 0.0 END AS dpcf
                   FROM pc GROUP BY doc_id),
            tg0 AS (SELECT doc_id, n,
                           unnest(range(1, len(ts) - n + 2)) AS i, ts
                    FROM nch CROSS JOIN (VALUES (2), (3), (4)) nn(n)
                    WHERE len(ts) >= n),
            tg AS (SELECT doc_id, n,
                          array_to_string(ts[i : i + n - 1], ' ') AS gr
                   FROM tg0),
            tgc AS (SELECT doc_id, n, gr, count(*) AS c FROM tg
                    GROUP BY doc_id, n, gr),
            tgt AS (SELECT doc_id, n,
                           (max(struct_pack(c := c,
                                cl := c * length(gr)))).cl AS topchars
                    FROM tgc WHERE c >= 2 GROUP BY doc_id, n),
            pg0 AS (SELECT doc_id, n,
                           unnest(range(1, len(ts) - n + 2)) AS i, ts
                    FROM nch CROSS JOIN (VALUES (5), (6), (7), (8),
                                          (9), (10)) nn(n)
                    WHERE len(ts) >= n),
            pg AS (SELECT doc_id, n, i,
                          array_to_string(ts[i : i + n - 1], ' ') AS gr
                   FROM pg0),
            dgc AS (SELECT doc_id, n, gr FROM (
                        SELECT doc_id, n, gr, count(*) AS c FROM pg
                        GROUP BY doc_id, n, gr) WHERE c >= 2),
            dp AS (SELECT pg.doc_id, pg.n, pg.i
                   FROM pg JOIN dgc USING (doc_id, n, gr)),
            ib AS (SELECT doc_id, n, i,
                          CASE WHEN i - lag(i) OVER (
                              PARTITION BY doc_id, n ORDER BY i) > n
                          THEN 1 ELSE 0 END AS b
                   FROM dp),
            ii2 AS (SELECT doc_id, n, i,
                           sum(b) OVER (PARTITION BY doc_id, n ORDER BY i
                               ROWS UNBOUNDED PRECEDING) AS isl
                    FROM ib),
            rn2 AS (SELECT doc_id, n, isl, min(i) AS s,
                           max(i) + n AS e1
                    FROM ii2 GROUP BY doc_id, n, isl),
            cp AS (SELECT doc_id, n, isl, unnest(range(s, e1)) AS p
                   FROM rn2),
            tkl AS (SELECT doc_id, unnest(range(1, len(ts) + 1)) AS p, ts
                    FROM nch),
            tk2 AS (SELECT doc_id, p, length(ts[p]) AS tl FROM tkl),
            cc AS (SELECT cp.doc_id, cp.n,
                          sum(tk2.tl) + count(*) - count(DISTINCT cp.isl)
                              AS covchars
                   FROM cp JOIN tk2 ON tk2.doc_id = cp.doc_id
                                   AND tk2.p = cp.p
                   GROUP BY cp.doc_id, cp.n),
            perdoc AS (
                SELECT nch.doc_id, nch.lang,
                       coalesce(lf.dlf, 0.0) AS dup_line_frac,
                       coalesce(lf.dlcf, 0.0) AS dup_line_char_frac,
                       coalesce(pf.dpf, 0.0) AS dup_para_frac,
                       coalesce(pf.dpcf, 0.0) AS dup_para_char_frac,
                       CASE WHEN nch.nc > 0 THEN
                           coalesce(t2.topchars, 0) / nch.nc
                       ELSE 0.0 END AS top_2gram_char_frac,
                       CASE WHEN nch.nc > 0 THEN
                           coalesce(t3.topchars, 0) / nch.nc
                       ELSE 0.0 END AS top_3gram_char_frac,
                       CASE WHEN nch.nc > 0 THEN
                           coalesce(t4.topchars, 0) / nch.nc
                       ELSE 0.0 END AS top_4gram_char_frac,
                       CASE WHEN nch.nc > 0 THEN
                           coalesce(c5.covchars, 0) / nch.nc
                       ELSE 0.0 END AS dup_5gram_char_frac,
                       CASE WHEN nch.nc > 0 THEN
                           coalesce(c6.covchars, 0) / nch.nc
                       ELSE 0.0 END AS dup_6gram_char_frac,
                       CASE WHEN nch.nc > 0 THEN
                           coalesce(c7.covchars, 0) / nch.nc
                       ELSE 0.0 END AS dup_7gram_char_frac,
                       CASE WHEN nch.nc > 0 THEN
                           coalesce(c8.covchars, 0) / nch.nc
                       ELSE 0.0 END AS dup_8gram_char_frac,
                       CASE WHEN nch.nc > 0 THEN
                           coalesce(c9.covchars, 0) / nch.nc
                       ELSE 0.0 END AS dup_9gram_char_frac,
                       CASE WHEN nch.nc > 0 THEN
                           coalesce(c10.covchars, 0) / nch.nc
                       ELSE 0.0 END AS dup_10gram_char_frac
                FROM nch
                LEFT JOIN lf ON lf.doc_id = nch.doc_id
                LEFT JOIN pf ON pf.doc_id = nch.doc_id
                LEFT JOIN (SELECT * FROM tgt WHERE n = 2) t2
                       ON t2.doc_id = nch.doc_id
                LEFT JOIN (SELECT * FROM tgt WHERE n = 3) t3
                       ON t3.doc_id = nch.doc_id
                LEFT JOIN (SELECT * FROM tgt WHERE n = 4) t4
                       ON t4.doc_id = nch.doc_id
                LEFT JOIN (SELECT * FROM cc WHERE n = 5) c5
                       ON c5.doc_id = nch.doc_id
                LEFT JOIN (SELECT * FROM cc WHERE n = 6) c6
                       ON c6.doc_id = nch.doc_id
                LEFT JOIN (SELECT * FROM cc WHERE n = 7) c7
                       ON c7.doc_id = nch.doc_id
                LEFT JOIN (SELECT * FROM cc WHERE n = 8) c8
                       ON c8.doc_id = nch.doc_id
                LEFT JOIN (SELECT * FROM cc WHERE n = 9) c9
                       ON c9.doc_id = nch.doc_id
                LEFT JOIN (SELECT * FROM cc WHERE n = 10) c10
                       ON c10.doc_id = nch.doc_id
            )
            SELECT lang,
                   count(*)::BIGINT AS n_docs_rep,
                   sum((dup_line_frac <= 0.30)::INT)::BIGINT
                       AS n_dup_line_frac_ok,
                   sum((dup_para_frac <= 0.30)::INT)::BIGINT
                       AS n_dup_para_frac_ok,
                   sum((dup_line_char_frac <= 0.20)::INT)::BIGINT
                       AS n_dup_line_char_frac_ok,
                   sum((dup_para_char_frac <= 0.20)::INT)::BIGINT
                       AS n_dup_para_char_frac_ok,
                   sum((top_2gram_char_frac <= 0.20)::INT)::BIGINT
                       AS n_top_2gram_char_frac_ok,
                   sum((top_3gram_char_frac <= 0.18)::INT)::BIGINT
                       AS n_top_3gram_char_frac_ok,
                   sum((top_4gram_char_frac <= 0.16)::INT)::BIGINT
                       AS n_top_4gram_char_frac_ok,
                   sum((dup_5gram_char_frac <= 0.15)::INT)::BIGINT
                       AS n_dup_5gram_char_frac_ok,
                   sum((dup_6gram_char_frac <= 0.14)::INT)::BIGINT
                       AS n_dup_6gram_char_frac_ok,
                   sum((dup_7gram_char_frac <= 0.13)::INT)::BIGINT
                       AS n_dup_7gram_char_frac_ok,
                   sum((dup_8gram_char_frac <= 0.12)::INT)::BIGINT
                       AS n_dup_8gram_char_frac_ok,
                   sum((dup_9gram_char_frac <= 0.11)::INT)::BIGINT
                       AS n_dup_9gram_char_frac_ok,
                   sum((dup_10gram_char_frac <= 0.10)::INT)::BIGINT
                       AS n_dup_10gram_char_frac_ok,
                   sum((dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
                        AND dup_line_char_frac <= 0.20
                        AND dup_para_char_frac <= 0.20
                        AND top_2gram_char_frac <= 0.20
                        AND top_3gram_char_frac <= 0.18
                        AND top_4gram_char_frac <= 0.16
                        AND dup_5gram_char_frac <= 0.15
                        AND dup_6gram_char_frac <= 0.14
                        AND dup_7gram_char_frac <= 0.13
                        AND dup_8gram_char_frac <= 0.12
                        AND dup_9gram_char_frac <= 0.11
                        AND dup_10gram_char_frac <= 0.10)::INT)::BIGINT
                       AS n_rep_keep,
                   round(min(dup_line_char_frac), 9)
                       AS min_dup_line_char_frac,
                   round(max(dup_line_char_frac), 9)
                       AS max_dup_line_char_frac,
                   round(max(top_2gram_char_frac), 9) AS max_top2_frac,
                   round(max(dup_6gram_char_frac), 9) AS max_dup6_frac
            FROM perdoc GROUP BY lang
          ) repq ON baseq.lang = repq.lang
        """,
        "duplicate_span_stats": """
            WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ts
                       FROM documents),
            g AS (SELECT doc_id, lang, unnest(range(1, len(ts) - 6)) AS i, ts
                  FROM d),
            ds AS (SELECT DISTINCT doc_id, lang,
                          array_to_string(ts[i : i + 7], ' ') AS span
                   FROM g),
            sd AS (SELECT span, count(*) AS ndocs FROM ds GROUP BY span),
            per AS (
                SELECT ds.doc_id, ds.lang, count(*) AS n_spans,
                       sum(CASE WHEN sd.ndocs >= 2 THEN 1 ELSE 0 END)
                           AS n_dup
                FROM ds JOIN sd USING (span) GROUP BY ds.doc_id, ds.lang
            )
            , sp AS (SELECT doc_id, lang, i,
                            array_to_string(ts[i : i + 7], ' ') AS span
                     FROM g),
            dsp AS (SELECT span FROM (
                        SELECT span, count(DISTINCT doc_id) AS nd
                        FROM sp GROUP BY span) WHERE nd >= 2),
            dp AS (SELECT doc_id, lang, i FROM sp JOIN dsp USING (span)),
            ib AS (SELECT doc_id, lang, i,
                          CASE WHEN i - lag(i) OVER (
                              PARTITION BY doc_id ORDER BY i) > 8
                          THEN 1 ELSE 0 END AS b
                   FROM dp),
            ii AS (SELECT doc_id, lang, i,
                          sum(b) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS UNBOUNDED PRECEDING) AS grp
                   FROM ib),
            rn AS (SELECT doc_id, lang, grp,
                          max(i) - min(i) + 8 AS rlen
                   FROM ii GROUP BY doc_id, lang, grp),
            qr AS (SELECT doc_id, count(*) AS nr, sum(rlen) AS rt,
                          max(rlen) AS mr
                   FROM rn WHERE rlen >= 16 GROUP BY doc_id),
            tk AS (SELECT doc_id, lang, len(ts) AS nt FROM d
                   WHERE len(ts) >= 8),
            runagg AS (
                SELECT tk.lang,
                       sum(CASE WHEN qr.nr IS NOT NULL THEN 1 ELSE 0
                           END)::BIGINT AS n_docs_with_run,
                       coalesce(sum(qr.nr), 0)::BIGINT AS total_runs,
                       coalesce(sum(qr.rt), 0)::BIGINT
                           AS total_run_tokens,
                       coalesce(max(qr.mr), 0)::BIGINT AS max_run_len,
                       round(coalesce(sum(qr.rt), 0)::DOUBLE
                             / sum(tk.nt), 9) AS corpus_run_token_frac
                FROM tk LEFT JOIN qr USING (doc_id) GROUP BY tk.lang
            ),
            civ AS (SELECT doc_id, grp, min(i) AS mn, max(i) + 7 AS mx
                    FROM ii GROUP BY doc_id, grp
                    HAVING max(i) - min(i) + 8 >= 16),
            cov AS (SELECT DISTINCT doc_id, unnest(range(mn, mx + 1)) AS p
                    FROM civ),
            tok AS (SELECT doc_id, lang, unnest(range(1, len(ts) + 1)) AS p,
                           ts
                    FROM d WHERE ts IS NOT NULL),
            kept AS (SELECT t.doc_id, t.lang, t.p, t.ts[t.p] AS tk
                     FROM tok t LEFT JOIN cov c
                       ON t.doc_id = c.doc_id AND t.p = c.p
                     WHERE c.p IS NULL),
            reb AS (SELECT doc_id, any_value(lang) AS lang,
                           string_agg(tk, ' ' ORDER BY p) AS ntext,
                           count(*) AS nkept
                    FROM kept GROUP BY doc_id),
            rwd AS (SELECT d.doc_id, d.lang,
                           CASE WHEN d.ts IS NULL THEN NULL
                                ELSE coalesce(reb.ntext, '') END AS ntext,
                           CASE WHEN d.ts IS NULL THEN 0
                                ELSE len(d.ts) - coalesce(reb.nkept, 0)
                           END AS nrem,
                           array_to_string(d.ts, ' ') AS otext
                    FROM d LEFT JOIN reb USING (doc_id)),
            rwagg AS (SELECT lang,
                             sum(CASE WHEN nrem > 0 THEN 1 ELSE 0
                                 END)::BIGINT AS n_docs_rewritten,
                             sum(nrem)::BIGINT AS total_tokens_removed,
                             count(DISTINCT md5(ntext))::BIGINT
                                 AS n_distinct_rebuilt,
                             min(CASE WHEN nrem = 0 THEN ntext = otext
                                 END) AS rebuild_lossless_ok
                      FROM rwd GROUP BY lang)
            SELECT per.lang,
                   count(*)::BIGINT AS n_docs_with_spans,
                   sum(n_spans)::BIGINT AS total_spans,
                   sum(n_dup)::BIGINT AS total_dup_spans,
                   round(sum(n_dup)::DOUBLE / sum(n_spans), 9)
                       AS corpus_dup_span_frac,
                   round(avg(n_dup::DOUBLE / n_spans), 5)
                       AS avg_doc_dup_span_frac,
                   sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_docs_with_dup_span,
                   any_value(runagg.n_docs_with_run) AS n_docs_with_run,
                   any_value(runagg.total_runs) AS total_runs,
                   any_value(runagg.total_run_tokens) AS total_run_tokens,
                   any_value(runagg.max_run_len) AS max_run_len,
                   any_value(runagg.corpus_run_token_frac)
                       AS corpus_run_token_frac,
                   any_value(rwagg.n_docs_rewritten) AS n_docs_rewritten,
                   any_value(rwagg.total_tokens_removed)
                       AS total_tokens_removed,
                   any_value(rwagg.n_distinct_rebuilt)
                       AS n_distinct_rebuilt,
                   any_value(rwagg.rebuild_lossless_ok)
                       AS rebuild_lossless_ok
            FROM per JOIN runagg ON per.lang = runagg.lang
                     JOIN rwagg ON per.lang = rwagg.lang
            GROUP BY per.lang
        """,
        "benchmark_decontamination": """
            WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ts
                       FROM documents),
            g0 AS (SELECT doc_id, lang, unnest(range(1, len(ts) - 6)) AS i, ts
                   FROM d),
            g AS (SELECT DISTINCT doc_id, lang,
                         array_to_string(ts[i : i + 7], ' ') AS gram
                  FROM g0),
            bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
            tg AS (SELECT * FROM g WHERE doc_id % 97 <> 0),
            per AS (
                SELECT tg.doc_id, tg.lang, count(*) AS n_grams,
                       sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END)
                           AS ov
                FROM tg LEFT JOIN bg USING (gram)
                GROUP BY tg.doc_id, tg.lang
            )
            SELECT lang,
                   count(*)::BIGINT AS n_train_docs,
                   sum(ov)::BIGINT AS total_overlap_grams,
                   sum(CASE WHEN ov::DOUBLE / n_grams >= 0.3
                       THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
                   true AS bloom_ok
            FROM per GROUP BY lang
        """,
        "corpus_sample_mix": """
            WITH t AS (SELECT lang, count(*) AS n_total FROM documents
                       GROUP BY lang),
            k AS (
                SELECT lang, count(*) AS n_kept,
                       sum(n_chars) AS sum_chars_kept
                FROM documents
                WHERE substr(md5(doc_id::VARCHAR), 1, 4) <
                      CASE lang
                          WHEN 'en' THEN 'c000'
                          WHEN 'de' THEN '8000'
                          WHEN 'fr' THEN '8000'
                          WHEN 'es' THEN '4000'
                          WHEN 'zh' THEN 'g'
                          ELSE 'g' END
                GROUP BY lang
            )
            , ek AS (
                SELECT lang,
                       count(*)::BIGINT AS n_exact_k,
                       CAST(sum(doc_id) AS BIGINT) AS sum_exact_k_ids
                FROM (
                    SELECT lang, doc_id,
                           row_number() OVER (
                               PARTITION BY lang
                               ORDER BY md5(doc_id::VARCHAR)
                           ) AS rk
                    FROM documents
                ) WHERE rk <= 13 GROUP BY lang
            )
            , hc AS (
                SELECT lang,
                       count(*)::BIGINT AS n_host_capped,
                       CAST(sum(doc_id) AS BIGINT) AS sum_host_capped_ids
                FROM (
                    SELECT lang, doc_id,
                           row_number() OVER (
                               PARTITION BY regexp_replace(
                                   lower(source || (doc_id % 3)
                                         || '.ex.com'),
                                   '^www[.]', '')
                               ORDER BY md5(doc_id::VARCHAR)
                           ) AS rk
                    FROM documents
                ) WHERE rk <= 17 GROUP BY lang
            )
            SELECT t.lang,
                   t.n_total::BIGINT AS n_total,
                   COALESCE(k.n_kept, 0)::BIGINT AS n_kept,
                   round(COALESCE(k.n_kept, 0)::DOUBLE / t.n_total, 9)
                       AS kept_frac,
                   COALESCE(k.sum_chars_kept, 0)::BIGINT AS sum_chars_kept,
                   true AS rate_ok,
                   ek.n_exact_k, ek.sum_exact_k_ids,
                   hc.n_host_capped, hc.sum_host_capped_ids
            FROM t LEFT JOIN k USING (lang) JOIN ek USING (lang)
                   JOIN hc USING (lang)
        """,
        "corpus_curation": """
            WITH k AS (SELECT min(doc_id) AS doc_id FROM documents
                       GROUP BY md5(text)),
            s1 AS (SELECT d.* FROM documents d JOIN k USING (doc_id)),
            toks AS (SELECT doc_id,
                            unnest(list_distinct(string_split(text, ' '))) AS it
                     FROM s1),
            sz AS (SELECT doc_id, count(*) AS c FROM toks GROUP BY 1),
            p AS (
                SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS t2
                FROM toks a JOIN toks b
                  ON a.it = b.it AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            drops AS (
                SELECT DISTINCT p.b_id FROM p
                JOIN sz sa ON sa.doc_id = p.a_id
                JOIN sz sb ON sb.doc_id = p.b_id
                WHERE CAST(p.t2 AS DOUBLE) / (sa.c + sb.c - p.t2) >= 0.9
            ),
            s2 AS (SELECT * FROM s1
                   WHERE doc_id NOT IN (SELECT b_id FROM drops)),
            q AS (
                SELECT doc_id,
                       round(
                           greatest(least(1.0 - abs(ln(length(text) + 1.0)
                               - 5.5) / 5.5, 1.0), 0.0) * 0.5
                           + greatest(1.0 - round(CASE WHEN length(text) > 0
                               THEN (length(text)
                               - length(regexp_replace(text, '[0-9]', '', 'g')))
                               * 1.0 / length(text) ELSE 0.0 END, 6)
                               * 10, 0.0) * 0.25
                           + least(round(len(list_filter(string_split(text, ' '),
                               t -> list_contains(['the','a','of','and'], t)))
                               * 1.0 / len(string_split(text, ' ')), 6) * 5,
                               1.0) * 0.25,
                       6) AS quality
                FROM s2
            ),
            s3 AS (SELECT s2.doc_id FROM s2 JOIN q USING (doc_id)
                   WHERE q.quality >= 0.5)
            , dts AS (SELECT doc_id, string_split(text, ' ') AS ts
                      FROM documents),
            two AS (SELECT doc_id,
                           array_to_string(ts[1 : len(ts) // 2], ' ')
                           || chr(10) ||
                           array_to_string(ts[len(ts) // 2 + 1 : len(ts)],
                                           ' ') AS t2
                    FROM dts),
            lx AS (SELECT doc_id, string_split(t2, chr(10)) AS ls FROM two),
            ll AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS i, ls
                   FROM lx),
            lr AS (SELECT doc_id, i, ls[i] AS line FROM ll),
            lk AS (SELECT line, min(row(doc_id, i)) AS kk
                   FROM lr WHERE length(line) >= 1 GROUP BY line),
            kept AS (
                SELECT lr.doc_id FROM lr LEFT JOIN lk USING (line)
                WHERE lk.kk IS NULL OR row(lr.doc_id, lr.i) = lk.kk
            )
            , c4i AS (SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN 'brace { code' || chr(10) ELSE '' END
                   || t2 || '.'
                   || CASE WHEN doc_id % 5 = 0 THEN chr(10) ||
                       'they use javascript all the time.' ELSE '' END
                   || CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
                       'lorem ipsum filler sentence here.' ELSE '' END
                   || CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
                       'One more good sentence here now.' || chr(10) ||
                       'And a third full sentence here!' ELSE '' END AS g
                FROM two),
            c4l AS (SELECT doc_id, g,
                           unnest(range(1,
                               len(string_split(g, chr(10))) + 1)) AS i,
                           string_split(g, chr(10)) AS ls
                    FROM c4i),
            c4r AS (SELECT doc_id, i, ls[i] AS l FROM c4l),
            c4k AS (SELECT doc_id, i, l FROM c4r
                    WHERE (ends_with(l, '.') OR ends_with(l, '!')
                           OR ends_with(l, '?') OR ends_with(l, '"'))
                      AND len(list_filter(string_split(l, ' '),
                              t -> t <> '')) >= 5
                      AND NOT contains(lower(l), 'javascript')),
            c4t AS (SELECT c4i.doc_id,
                           coalesce(t.kn, 0) AS nk,
                           coalesce(t.txt, '') AS nt
                    FROM c4i LEFT JOIN (
                        SELECT doc_id, count(*) AS kn,
                               string_agg(l, chr(10) ORDER BY i) AS txt
                        FROM c4k GROUP BY doc_id) t USING (doc_id)),
            c4b AS (SELECT c4i.doc_id,
                           -- coalesce mirrors c4_rules' NULL->'' so a
                           -- NULL-text fixture row counts identically
                           NOT contains(coalesce(c4i.g, ''), '{')
                               AS brace_ok,
                           NOT contains(lower(coalesce(c4i.g, '')),
                               'lorem ipsum') AS lorem_ok,
                           (length(c4t.nt)
                            - length(replace(replace(replace(c4t.nt,
                                  '.', ''), '!', ''), '?', ''))) >= 3
                               AS sent_ok,
                           c4t.nk AS nk, length(c4t.nt) AS ntl
                    FROM c4i JOIN c4t ON c4t.doc_id = c4i.doc_id)
            SELECT 'input' AS stage, count(*)::BIGINT AS n_out FROM documents
            UNION ALL SELECT 'exact_dedup', count(*)::BIGINT FROM s1
            UNION ALL SELECT 'near_dedup', count(*)::BIGINT FROM s2
            UNION ALL SELECT 'quality', count(*)::BIGINT FROM s3
            UNION ALL SELECT 'line_dedup_lines', count(*)::BIGINT FROM lr
            UNION ALL SELECT 'line_dedup_kept', count(*)::BIGINT FROM kept
            UNION ALL SELECT 'c4_lines_kept', sum(nk)::BIGINT FROM c4b
            UNION ALL SELECT 'c4_text_chars', sum(ntl)::BIGINT FROM c4b
            UNION ALL SELECT 'c4_brace_ok_docs',
                             sum(brace_ok::INT)::BIGINT FROM c4b
            UNION ALL SELECT 'c4_lorem_ok_docs',
                             sum(lorem_ok::INT)::BIGINT FROM c4b
            UNION ALL SELECT 'c4_sentences_ok_docs',
                             sum(sent_ok::INT)::BIGINT FROM c4b
            UNION ALL SELECT 'c4_keep_docs',
                             sum((brace_ok AND lorem_ok
                                  AND sent_ok)::INT)::BIGINT FROM c4b
        """,
    }


def legacy_oracle_sql() -> dict[str, str]:
    """DuckDB twins for legacy_queries() — exercised by
    tests/test_legacy_queries.py at sf0.001, not by the driver."""
    return {
        "hll_card_by_source": """
            SELECT source, count(DISTINCT token) AS exact_distinct, true AS hll_ok
            FROM (SELECT source, unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY source
        """,
        "hll_distinct_users_by_type": """
            SELECT event_type, count(DISTINCT user_id) AS exact_users,
                   true AS hll_ok
            FROM events GROUP BY event_type
        """,
        "kll_event_values_by_type": f"""
            SELECT event_type, p, count(*) AS n_events, true AS kll_ok
            FROM events CROSS JOIN ({_QP_VALUES})
            GROUP BY event_type, p
        """,
        "streaming_kll_by_type": f"""
            SELECT event_type, p, count(*) AS n_events, true AS skll_ok
            FROM events CROSS JOIN ({_QP_VALUES})
            GROUP BY event_type, p
        """,
        "hll_vs_spark_builtin": f"""
            SELECT lang, count(DISTINCT token) AS exact_distinct,
                   true AS ours_ok, true AS builtin_ok
            FROM ({_TOKS}) GROUP BY lang
        """,
    }
