"""Deduplication operators for training-data pipelines.

No direct dashing counterpart (its unit of comparison is whole files);
these generalize its MinHash machinery (RANGE_MINHASH / BB_MINHASH,
/root/reference/src/dashing.h:42,:466-470) to per-document near-duplicate
mining at web scale:

- exact dedup: md5/xxhash group — one shuffle on the digest;
- token-set dedup: group by the sorted distinct token array;
- MinHash + LSH: per-doc signatures (vectorized numpy), banded bucket
  join for candidates, exact verify on candidates only;
- SimHash: 64-bit fingerprints, 4×16-bit band join (guarantees recall
  for Hamming ≤ 3), JVM-side `bit_count(a ^ b)` verify;
- n-gram Jaccard: exact shingle-set join with length/lang blocking.

Scale notes: candidate generation never materializes the O(n²) pair
space — LSH buckets and band joins bound it; the verify joins are
equi-joins on candidate ids (semi-join pruned).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from dashing_spark.functions import hashing
from dashing_spark.functions.simhash import simhash_batch
from dashing_spark.operators.ship import ensure_shipped, widen_if_narrow


def set_key(items):
    """The set digest of every near-dup path: 16-byte binary
    ``unhex(md5)`` over the SORTED int64 item-hash array, so member
    order and array position never matter. Injective up to 64-bit item
    hash collisions (each element is a fixed decimal field between
    commas — no separator ambiguity, unlike a concat of the raw
    strings, where {"a,b"} and {"a","b"} would collide). Binary, not
    the 32-char hex string, to halve the key bytes on every join and
    shuffle keyed by it."""
    return F.unhex(
        F.md5(F.concat_ws(",", F.transform(F.sort_array(items), lambda x: x.cast("string"))))
    )


# ---------------------------------------------------------------- exact
def exact_dup_clusters(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Group byte-identical documents: (digest, n_docs, min_id keeper)."""
    return (
        df.select(id_col, F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


def tokenset_dup_clusters(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Group documents with identical *distinct token sets* (order/
    multiplicity-insensitive duplicates). The shuffle key is an md5 of
    the sorted set — 16 bytes per row instead of the whole token array
    (which at web scale is the document itself again)."""
    return (
        hashed_item_sets(df, id_col, text_col)
        .select(F.col("id").alias(id_col), set_key("items").alias("tokenset"))
        .groupBy("tokenset")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


# ---------------------------------------------------------------- MinHash/LSH
def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 128,
    shingle_w: int = 1,
    seed: int | None = None,
    char_n: int | None = None,
) -> DataFrame:
    """Per-document MinHash signature (array<long>, length n_hashes).

    Whole-batch numpy: one token-hash pass, then per-permutation rehash
    + segmented min (np.minimum.reduceat over document boundaries).
    ``char_n`` switches the item universe from word w-shingles to
    character n-grams (byte-level rolling hash). ``seed`` selects the
    hash family; None means the default family (an explicit 0 is a
    DISTINCT family — `seed or default` would conflate them, making two
    deliberately-decorrelated LSH passes perfectly correlated)."""
    from dashing_spark.operators.agg import token_hashes_col

    ensure_shipped(df.sparkSession)
    if char_n is None:
        src = df.select(id_col, token_hashes_col(text_col).alias("__th"))
    else:
        src = df.select(id_col, F.col(text_col).alias("__txt"))
    # small inputs arrive as 1-2 scan splits; the signature kernel is
    # the dominant per-doc cost, so widen it to cluster width
    src = widen_if_narrow(src)
    id_field = [f for f in df.schema.fields if f.name == id_col][0]
    schema = T.StructType(
        [id_field, T.StructField("signature", T.ArrayType(T.LongType()), False)]
    )
    seeds = hashing.hash_int_array(
        np.arange(1, n_hashes + 1, dtype=np.uint64),
        seed=0x5EED if seed is None else seed,
    )

    def fn(batches):
        import pyarrow as pa

        for pdf in batches:
            if char_n is None:
                th, lens = hashing.flatten_hash_arrays(pdf["__th"])
                sh, doc_idx = hashing.shingle_hashes(th, lens, w=shingle_w)
            else:
                arr = pa.array(pdf["__txt"].fillna(""), type=pa.string())
                gh, lens = hashing.char_gram_hashes_arrow(arr, n=char_n)
                sh = gh
                doc_idx = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
            ndocs = len(pdf)
            sig = np.full((ndocs, len(seeds)), np.iinfo(np.uint64).max, dtype=np.uint64)
            if len(sh):
                # docs with ≥1 shingle, in doc_idx order
                starts = np.searchsorted(doc_idx, np.arange(ndocs))
                present = np.flatnonzero(np.diff(np.append(starts, len(sh))) > 0)
                for j, s in enumerate(seeds):
                    with np.errstate(over="ignore"):
                        rh = hashing.splitmix64(sh ^ s)
                    mins = np.minimum.reduceat(rh, starts[present])
                    sig[present, j] = mins
            out = pdf[[id_col]].copy()
            out["signature"] = list(sig.view(np.int64))
            yield out

    return src.mapInPandas(fn, schema=schema)


def pick_lsh_bands(n_hashes: int, threshold: float, max_miss: float = 1e-8) -> int:
    """Largest rows-per-band r (fewest false candidates) whose miss
    probability (1−t^r)^(n_hashes/r) at JI = threshold stays ≤ max_miss;
    returns the band count n_hashes // r. A fixed r=4 silently loses
    ~12% recall at t=0.5 — banding must follow the threshold.

    The bound is compared with 5% slack on the log scale: exact
    round-number thresholds land within an ulp-scale margin of the
    bound (at t=0.5, (1−0.25)^64 = 1.0045e-8 vs 1e-8), and dropping a
    whole r level there — r=1 makes every shared hash a candidate, a
    near-quadratic join on low-entropy corpora — costs vastly more
    than a 1.05× miss allowance."""
    import math

    target = math.log(max_miss) + 0.05  # allow miss ≤ e^0.05 ≈ 1.05 × max_miss
    for r in (8, 4, 2, 1):
        if n_hashes % r:
            continue
        b = n_hashes // r
        if b * math.log1p(-(threshold**r)) <= target:
            return b
    # even r=1 misses the bound: (1-t)^n_hashes > max_miss. Silently
    # returning r=1 anyway would violate the documented miss guarantee
    # by orders of magnitude at low thresholds (t=0.1, n=128:
    # 1.4e-6 vs the promised 1e-8) — make the caller choose.
    need = math.ceil(math.log(max_miss) / math.log1p(-threshold))
    raise ValueError(
        f"no banding of {n_hashes} hashes meets miss <= {max_miss:g} at "
        f"threshold {threshold}; use n_hashes >= {need} or relax max_miss"
    )


def pick_lsh_banding(
    n_hashes: int, threshold: float, max_miss: float = 1e-8
) -> tuple[int, int]:
    """(bands, n_hashes_used): same rows-per-band r and miss contract
    as :func:`pick_lsh_bands`, but the FEWEST bands meeting the bound
    instead of every band the full signature affords, banding only the
    first ``bands * r`` signature components.

    :func:`pick_lsh_bands` must return ``n_hashes // r`` (its callers
    band the whole signature), so at t=0.9/n=128 it emits 32 bands
    where 18 already hold the documented miss <= 1.05 x 1e-8 (miss at
    b=18 is 0.3439^18 ~ 4.5e-9). Every band beyond the bound adds a
    full copy of the true-duplicate pair mass to the candidate join's
    output — on a near-dup-heavy corpus that is the dominant row count
    of the whole dedup (guide section 2.3: shuffle fewer bytes) — and
    adds nothing but recall the bound already guarantees. Candidate
    recall at JI >= threshold is unchanged within the documented miss
    budget; an exact downstream verify therefore returns the identical
    pair set. Fewer components also shrink the signature kernel's
    per-permutation pass proportionally."""
    import math

    target = math.log(max_miss) + 0.05  # same 5% log-scale slack
    for r in (8, 4, 2, 1):
        b_min = max(1, math.ceil(target / math.log1p(-(threshold**r))))
        if b_min * r <= n_hashes:
            return b_min, b_min * r
    need = math.ceil(math.log(max_miss) / math.log1p(-threshold))
    raise ValueError(
        f"no banding of {n_hashes} hashes meets miss <= {max_miss:g} at "
        f"threshold {threshold}; use n_hashes >= {need} or relax max_miss"
    )


def band_hash_array(n_hashes: int, bands: int, sig_col: str = "signature"):
    """The array<long> of banded-LSH keys of a signature column,
    exploded by :func:`lsh_band_rows`."""
    if bands > n_hashes or n_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide n_hashes ({n_hashes})"
        )
    rows_per_band = n_hashes // bands
    return F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.col(sig_col)[b * rows_per_band + r] for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )


def lsh_band_rows(
    signatures: DataFrame, id_col: str, *, n_hashes: int = 128, bands: int = 32
) -> DataFrame:
    """(id, band, bhash) rows — one per (doc, band), the banded-LSH key
    table. Deterministic in the signature alone, so band keys computed
    in different batches/epochs collide iff they would in one batch
    (the property the streaming dedup index relies on)."""
    return signatures.select(
        F.col(id_col),
        F.posexplode(band_hash_array(n_hashes, bands)).alias("band", "bhash"),
    )


def grid_blocks_expr(n_col, cap: int):
    """G = ceil(n/cap): the per-side split factor :func:`capped_band_join`
    applies to a hot bucket (unclamped — see its docstring for the
    replication-cost argument). Exported so scale benches measure the
    SAME block layout the join executes (bench/dedup_scaling.py §B2)
    instead of a hand-coded replica that could drift."""
    n = F.col(n_col) if isinstance(n_col, str) else n_col
    return F.ceil(n / cap).cast("int")


def grid_block_key(id_col, g_col):
    """Home-axis block id of a row inside a hot bucket's grid:
    ``xxhash64(id) mod G``. Exported for the same reason as
    :func:`grid_blocks_expr`."""
    g = F.col(g_col) if isinstance(g_col, str) else g_col
    return F.pmod(F.xxhash64(id_col), g).cast("int")


#: default per-bucket row cap: a cold bucket emits at most cap^2 = 2^20
#: candidate pairs (~16 MB of 16-byte rows) on whichever reducer owns
#: its (band, bhash) key
DEFAULT_BUCKET_CAP = 1024

#: default MinHash hash BUDGET for the near-dup operators. 264 (not
#: 128) so that pick_lsh_banding can afford r=8 rows/band at high
#: thresholds: at t=0.9 the same 1e-8 miss bound is met by r=8/b=33
#: (264 hashes, miss 8.5e-9) and by r=4/b=18 (72 hashes), but a
#: sub-threshold pair at JI=0.7 collides in 18*0.7^4 = 4.3 expected
#: bands at r=4 vs 33*0.7^8 = 1.9 at r=8 — on a near-dup-heavy corpus
#: the candidate join's output mass drops ~5-8x (measured 2.5e9 -> ~4e8
#: raw pair rows at 50k docs, OPTIMIZATION_r07.md), which dwarfs
#: the 3.7x larger signature kernel over the (collapsed) rep docs. At
#: thresholds <= 0.6 the binding r stays <= 4 and the chosen banding is
#: unchanged from the 128 budget. Verified output is banding-invariant
#: within the miss contract, so results are identical.
DEFAULT_LSH_HASH_BUDGET = 264

#: per-relation size cap (estimated bytes) under which the exact
#: verify joins broadcast the item-set table and run BEFORE the
#: candidate distinct (see verify_pairs) — beyond it, the
#: distinct-first plan is kept because attaching items to the raw
#: candidate stream would shuffle it by id.
FUSED_VERIFY_BROADCAST_BYTES = 128 << 20

#: fuse the verify before the distinct only when the AVERAGE item-set
#: size is at most this: each raw candidate emission then pays an
#: O(avg_size) intersect instead of a ~16-byte exchange row, which is
#: a win for small sets (word sets, ~30 items: measured 229 s -> 58 s
#: at 50k docs) and a large loss for big ones (char-3-gram sets, ~300
#: items: measured 64 s -> 375 s on the same corpus slice, where the
#: distinct removes ~10x duplicate emissions BEFORE the expensive
#: intersects). 64 items ~ the break-even where one intersect costs
#: about one exchanged+aggregated row.
FUSED_VERIFY_MAX_AVG_ITEMS = 64


def explicit_partition_count(spark) -> int:
    """Partition count for a hash repartition that AQE must not
    coalesce: max(2 x defaultParallelism, spark.sql.shuffle.partitions).
    ``repartition(n, *cols)`` with an explicit ``n`` plans a
    REPARTITION_BY_NUM exchange, which AQE never coalesces. Use it
    where rows are few in bytes but each costs real work downstream (a
    quadratic pair join, a per-doc gram pipeline), which AQE's
    input-size heuristics cannot see. Reads only the session conf, so
    it runs no Spark job."""
    try:
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        shuffle_n = 0  # "auto" (non-numeric) — fall back to parallelism
    return max(spark.sparkContext.defaultParallelism * 2, shuffle_n)


def capped_band_join(
    a: DataFrame,
    b: DataFrame,
    *,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    symmetric: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """Skew-safe equi-join of two band-row tables on (band, bhash) —
    the shared candidate-generation kernel for batch LSH dedup, n-gram
    Jaccard, and the streaming dedup index (batch-vs-index join).

    ``a`` must have columns (a_id, band, bhash), ``b`` (b_id, band,
    bhash); output is (a_id, b_id), one row per colliding band
    occurrence — the caller orders/filters/distincts.

    A plain ``a.join(b, [band, bhash])`` materializes |A_k|×|B_k| pairs
    of bucket k on ONE reducer. Exact-dup clustering removes identical
    boilerplate upstream, but a template family of B near-identical-but
    -distinct docs (same page, different serial number — ubiquitous in
    web corpora) collides in most bands: at B=1e5 that is 1e10 rows on
    a few reducers, and AQE can split the shuffle partition but not the
    pair count. The reference bounds heavy items with its CM min-count
    prefilter (/root/reference/src/sketch_and_cmp.h:347); here the fix
    is a per-bucket GRID SPLIT that preserves the exact candidate set:

    * per-side bucket sizes via one map-side-combinable count agg;
    * buckets where BOTH sides hold ≤ bucket_cap rows take the plain
      join (output ≤ cap² per bucket; the or-of-sides criterion also
      cannot overflow, unlike a |A_k|·|B_k| product over long counts);
    * hot buckets split each side into G = ceil(n/cap) blocks by id
      hash — UNCLAMPED (r5's 128-block clamp is gone), so per-reducer
      output is ≈ cap² for ANY bucket size (blocks are id-hash-
      balanced, not exact: measured ≤ 1.6·cap² at a 10⁵-row bucket,
      bench/dedup_scaling.py §B2, vs (n/128)² → unbounded growth
      under the old clamp). The replication cost is
      G× on hot-bucket rows only: n·G = n²/cap rows, always exactly
      1/cap of the n² pair rows the join must emit for that bucket
      anyway — replication can never dominate the output it bounds.
      The per-row explode materializes a G-int sequence array (8·G
      bytes transient per row): ~8 KB at a 10⁶-row bucket, 8 MB only
      at a 10⁹-row bucket whose 10¹⁸-pair output is the real limit.

    Every (a, b) colliding combination appears exactly once (a's
    exploded kb meets b's home block and vice versa is a different
    output row only when ids differ — identical multiset to the plain
    join), so downstream `.distinct()` + exact-verify results are
    unchanged; tests pin hot ≡ cold ≡ uncapped pair sets. Cost when no
    bucket is hot: one narrow count agg + a size-tag join, both on the
    (band, bhash) key the join shuffles on anyway.

    The sizing/routing branches fan out over both inputs (4-6 plan
    occurrences each); callers whose band rows carry expensive lineage
    (an in-flight signature build) should materialize first — batch
    `lsh_candidate_pairs` lazily localCheckpoints its band rows, the
    streaming index reads them back from parquet — so the fan-out hits
    storage, not the signature kernel.

    ``symmetric=True`` declares that ``a`` and ``b`` hold the SAME
    (band, bhash) row multiset (a self-join under different id
    aliases): one count agg then sizes both sides, skipping the second
    agg and the size-table join.

    ``materialize`` (default True) lazily localCheckpoints the size
    table so the four routing branches share one computation.
    localCheckpoint storage is executor-local and NON-fault-tolerant:
    an executor loss after materialization fails the job instead of
    recomputing (the job is idempotent — rerun it). On clusters with
    preemptible executors pass False to keep full lineage at the cost
    of re-running the count agg per branch.

    Columns beyond the required (id, band, bhash) triple ride through
    the join untouched and appear on the output (e.g. a per-row set
    size for an exact size-ratio prefilter) — they are ignored by the
    sizing/routing machinery, so the candidate pair multiset is
    unchanged; they just widen the rows. Extra column names must not
    collide between ``a`` and ``b``.

    ``bucket_cap=None`` restores the uncapped single-join plan."""
    extra_a = [c for c in a.columns if c not in ("a_id", "band", "bhash")]
    extra_b = [c for c in b.columns if c not in ("b_id", "band", "bhash")]
    out_cols = ["a_id", "b_id", *extra_a, *extra_b]
    if bucket_cap is None:
        return a.join(b, ["band", "bhash"]).select(*out_cols)
    cap = int(bucket_cap)
    if cap < 1:
        raise ValueError(f"bucket_cap must be >= 1 or None, got {bucket_cap}")
    gexpr = lambda n: grid_blocks_expr(n, cap)  # noqa: E731
    if symmetric:
        sz = (
            a.groupBy("band", "bhash")
            .agg(F.count("*").alias("__na"))
            .select(
                "band",
                "bhash",
                (F.col("__na") > cap).alias("__hot"),
                gexpr("__na").alias("__ga"),
                gexpr("__na").alias("__gb"),
            )
        )
    else:
        sa = a.groupBy("band", "bhash").agg(F.count("*").alias("__na"))
        sb = b.groupBy("band", "bhash").agg(F.count("*").alias("__nb"))
        sz = (
            sa.join(sb, ["band", "bhash"])  # inner: one-sided keys emit no pairs
            .select(
                "band",
                "bhash",
                ((F.col("__na") > cap) | (F.col("__nb") > cap)).alias("__hot"),
                gexpr("__na").alias("__ga"),
                gexpr("__nb").alias("__gb"),
            )
        )
    if materialize and not a.isStreaming and not b.isStreaming:
        # the size table feeds four branches (cold/hot x a/b tag
        # joins); a lazy checkpoint computes it once instead of
        # re-running the count agg per branch
        sz = sz.localCheckpoint(eager=False)
    at = a.join(sz, ["band", "bhash"])
    bt = b.join(sz, ["band", "bhash"])
    n_part = explicit_partition_count(a.sparkSession)
    # both PAIR joins repartition their sides with an EXPLICIT count:
    # band rows are tiny in bytes, so AQE's coalescing would otherwise
    # fuse the join onto one or two reducers (input-size heuristics
    # cannot see the quadratic join output, nor a verify fused into its
    # stage; hot grid cells measured 10.5 s vs 5.2 s on a 2000-doc
    # family, unboundedly worse as buckets grow). An explicit count is
    # exempt from AQE coalescing. The pair joins also carry a merge
    # hint: their inputs look tiny at test scale, so AQE otherwise
    # demotes them to broadcast-hash joins that stream the quadratic
    # probe (measured 78 s vs 2.4 s) — and at 100 TB neither side could
    # broadcast anyway. The sizing tag joins above stay unhinted:
    # Catalyst correctly broadcasts a small size table and shuffles a
    # big one.
    cold = (
        at.filter(~F.col("__hot"))
        .select("a_id", "band", "bhash", *extra_a)
        .repartition(n_part, "band", "bhash")
        .join(
            bt.filter(~F.col("__hot"))
            .select("b_id", "band", "bhash", *extra_b)
            .repartition(n_part, "band", "bhash")
            .hint("merge"),
            ["band", "bhash"],
        )
        .select(*out_cols)
    )
    # hot: block a-rows by ka = h(a_id) mod Ga, b-rows by kb = h(b_id)
    # mod Gb; replicate each row across the other axis so block pair
    # (ka, kb) meets on exactly one reducer
    keys = ["band", "bhash", "__ka", "__kb"]
    ah = at.filter(F.col("__hot")).select(
        "a_id",
        "band",
        "bhash",
        *extra_a,
        grid_block_key("a_id", "__ga").alias("__ka"),
        F.explode(F.sequence(F.lit(0), F.col("__gb") - 1)).alias("__kb"),
    ).repartition(n_part, *keys)
    bh = bt.filter(F.col("__hot")).select(
        "b_id",
        "band",
        "bhash",
        *extra_b,
        F.explode(F.sequence(F.lit(0), F.col("__ga") - 1)).alias("__ka"),
        grid_block_key("b_id", "__gb").alias("__kb"),
    ).repartition(n_part, *keys)
    hot = ah.join(bh.hint("merge"), keys).select(*out_cols)
    return cold.unionByName(hot)


def distinct_pairs(df: DataFrame, cols: Sequence[str] = ("a_id", "b_id")) -> DataFrame:
    """Distinct over a band-join's candidate pair rows, shaped for the
    one property plain ``.distinct()`` cannot see: duplicates are
    CROSS-partition only. The join's output partitions are keyed by
    (band, bhash[, grid cell]) and a pair is emitted at most once per
    band, so the map-side partial aggregation a plain distinct inserts
    hashes billions of rows and removes ~nothing (measured: 2.18e9
    in -> 2.18e9 out at sf1.0). An explicit hash repartition on the
    pair key followed by dropDuplicates satisfies the aggregation's
    required distribution, so Spark plans ONE complete hash aggregate
    after the exchange and skips the partial pass entirely; the
    explicit partition count (8x defaultParallelism, scale-adaptive to
    the cluster, exempt from AQE coalescing) keeps the per-task hash
    map small enough to stay in memory where the frozen
    spark.sql.shuffle.partitions would concentrate hundreds of
    millions of keys on a handful of reducers (guide section 2.2 /
    5)."""
    cols = list(cols)
    spark = df.sparkSession
    n_part = max(spark.sparkContext.defaultParallelism * 8, 16)
    return df.select(*cols).repartition(n_part, *cols).dropDuplicates()


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    *,
    n_hashes: int = 128,
    bands: int = 32,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    materialize: bool = True,
    raw: bool = False,
) -> DataFrame:
    """Banded LSH: docs sharing any band of their signature become a
    candidate pair. Pure DataFrame plan: explode band hashes, self-join
    on (band, band_hash).

    ``n_hashes`` is a parameter (the caller built the signatures and
    knows it) — deriving it from the data would run a Spark job at
    plan-construction time.

    Duplicate emissions (a true near-dup collides in many bands) are
    removed by :func:`distinct_pairs` on the 16-byte pair rows: ~14×
    faster than carrying per-row band arrays through the join to keep
    only the first colliding band (433 s vs 30 s at sf0.1 — the wide
    rows dominate the join I/O).

    Keyword-only params: a positional ``16`` meant ``bands`` before
    round 3 but would now set ``n_hashes`` — with bands > n_hashes that
    silently made rows_per_band 0 (every doc collides in every band).

    ``bucket_cap`` bounds any single reducer's pair output per (band,
    bhash) bucket via :func:`capped_band_join` (exact — identical
    candidate set); None restores the uncapped plan.

    ``materialize`` (default True) lazily localCheckpoints the band
    rows: the capped join's sizing/routing branches reference them 4-6
    times, and the checkpoint computes the (possibly expensive
    mapInPandas) signature lineage ONCE, serving every branch from
    executor storage, GC-unpersisted with the plan (no session-pinned
    cache). The storage is executor-local and NON-fault-tolerant — an
    executor loss after materialization fails the (idempotent) job
    rather than recomputing. On clusters with preemptible executors
    pass False: full lineage is kept and each branch recomputes.

    ``raw=True`` skips the distinct and returns the (a_id, b_id)
    candidate stream with its per-band duplicate emissions — for
    callers that fuse an exact verify into the join stage (see
    :func:`verify_pairs`). The multiset's distinct support is identical
    either way."""
    banded = lsh_band_rows(signatures, id_col, n_hashes=n_hashes, bands=bands)
    if materialize and bucket_cap is not None and not banded.isStreaming:
        banded = banded.localCheckpoint(eager=False)
    a = banded.select(F.col(id_col).alias("a_id"), "band", "bhash")
    b = banded.select(F.col(id_col).alias("b_id"), "band", "bhash")
    cand = capped_band_join(
        a, b, bucket_cap=bucket_cap, symmetric=True,
        materialize=materialize,
    ).filter(F.col("a_id") < F.col("b_id")).select("a_id", "b_id")
    return cand if raw else distinct_pairs(cand)


def _char_gram_set_expr(text_col: str, n: int):
    """Distinct character n-gram array (ANSI substring semantics, so an
    exact verify lines up with a SQL oracle)."""
    return F.array_distinct(
        F.when(
            F.length(text_col) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(text_col) - n + 1),
                lambda i: F.col(text_col).substr(i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def hashed_item_sets(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_w: int = 1,
    char_n: int | None = None,
) -> DataFrame:
    """(id, items array<long>) — each doc's distinct item set as
    xxhash64 values. Items ship as int64 arrays, not strings: ~2.5× less
    data through pair joins and integer intersects. Set sizes are
    unchanged (distinct strings → distinct hashes up to a ~1e-14
    per-pair collision probability — far below the LSH miss rate the
    candidate stage already carries). ``char_n`` switches items from
    word w-shingles to character n-grams."""
    from dashing_spark.operators.text import token_ngrams_col

    item_expr = (
        _char_gram_set_expr(text_col, char_n)
        if char_n is not None
        else F.array_distinct(token_ngrams_col(text_col, shingle_w))
    )
    item_expr = F.transform(item_expr, lambda x: F.xxhash64(x))
    return df.select(F.col(id_col).alias("id"), item_expr.alias("items"))


def _jaccard(pairs: DataFrame, items: DataFrame) -> DataFrame:
    """(a_id, b_id, ji): exact Jaccard of each pair's (id, items) item
    arrays, intersected JVM-side — the one Jaccard expression of every
    verify. Cost is O(pairs × set size) with two equi-joins; a
    token-level join would emit O(pairs × intersection) rows and melt
    down on near-dup-dense candidates. ``items`` is ONE relation
    joined once per pair side, so a broadcast ``items`` is exchanged
    once and its second probe reuses the exchange."""

    def side(s):
        return items.select(
            F.col("id").alias(f"{s}_id"), F.col("items").alias(f"{s}_items")
        )

    return (
        pairs.select("a_id", "b_id")
        .join(side("a"), "a_id")
        .join(side("b"), "b_id")
        .withColumn("t2", F.size(F.array_intersect("a_items", "b_items")))
        .select(
            "a_id",
            "b_id",
            (
                F.col("t2").cast("double")
                / (F.size("a_items") + F.size("b_items") - F.col("t2"))
            ).alias("ji"),
        )
    )


def _candidate_docs(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """``df`` pruned to the docs ``pairs`` names, so only candidates
    build item arrays."""
    ids = (
        pairs.select(F.col("a_id").alias("__cid"))
        .unionByName(pairs.select(F.col("b_id").alias("__cid")))
        .distinct()
    )
    return df.join(ids, F.col(id_col) == F.col("__cid"), "left_semi")


def exact_ji_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_w: int = 1,
    char_n: int | None = None,
) -> DataFrame:
    """Exact Jaccard (a_id, b_id, ji) of every given candidate pair —
    the unthresholded verify over per-doc item arrays built for
    candidate docs only. ``char_n`` switches items from word
    w-shingles to character n-grams."""
    items = hashed_item_sets(
        _candidate_docs(df, pairs, id_col), id_col,
        text_col=text_col, shingle_w=shingle_w, char_n=char_n,
    )
    return _jaccard(pairs, items)


def fused_verify(size_src: DataFrame, size) -> bool:
    """Verify placement: True runs the broadcast-fused verify, False the
    distinct-first one (see :func:`verify_pairs`). ``size`` bounds each
    ``size_src`` row's item count — the set size on the set paths, the
    text length for char n-grams. One size-probe job estimates the
    broadcast item table (24 B/row + 8 B/item); fused needs it under
    FUSED_VERIFY_BROADCAST_BYTES and the average set at most
    FUSED_VERIFY_MAX_AVG_ITEMS. A streaming ``size_src`` takes the
    scale-safe distinct-first plan without running a job (plan
    builders never run jobs on a streaming frame)."""
    if size_src.isStreaming:
        return False
    n, total = size_src.agg(
        F.count("*"), F.coalesce(F.sum(size), F.lit(0))
    ).first()
    return (24 * n + 8 * total) <= FUSED_VERIFY_BROADCAST_BYTES and (
        total <= FUSED_VERIFY_MAX_AVG_ITEMS * max(n, 1)
    )


def verify_pairs(
    pairs: DataFrame, items: DataFrame, threshold: float, *, fused: bool
) -> DataFrame:
    """Distinct (a_id, b_id, ji) pairs with exact ji >= threshold.

    ``fused=True``: ``pairs`` is the RAW candidate stream, per-band
    duplicate emissions included. ``items`` is broadcast and the verify
    runs as hash probes inside the candidate join's reduce stage,
    before any distinct: the candidate mass (mostly sub-threshold pairs
    that collide in some band) never crosses an exchange, and only the
    few survivors are deduplicated (every copy of a pair computes the
    identical ji). ``fused=False``: ``pairs`` is already distinct and
    ``items`` is attached by shuffle joins — the scale-safe plan when
    the item table cannot broadcast or large sets make a per-emission
    intersect cost more than an exchanged row. :func:`fused_verify`
    picks."""
    if fused:
        return (
            _jaccard(pairs, F.broadcast(items))
            .filter(F.col("ji") >= threshold)
            .dropDuplicates(["a_id", "b_id"])
        )
    return _jaccard(pairs, items).filter(F.col("ji") >= threshold)


def set_pairs(
    new_bands: DataFrame,
    old_bands: DataFrame | None = None,
    *,
    items: DataFrame,
    threshold: float,
) -> DataFrame:
    """Verified near-dup SET pairs (a_id < b_id, ji >= threshold) — the
    set-level core of batch and streaming MinHash-LSH dedup.

    ``new_bands`` / ``old_bands`` are (id, band, bhash, nsz) band rows
    of distinct item sets, ``nsz`` the set's item count; ``items`` is
    (id, items) for every set either side names. Candidates are the
    capped band self-join of ``new_bands`` plus, when given (the
    streaming index), the ``old_bands``-vs-``new_bands`` cross join. A
    set present on both sides, or repeated across old segments, only
    re-emits candidates, which the verify's dedup removes.

    Exact size-ratio prefilter: JI(A,B) <= min/max set size, so pairs
    whose size ratio is below ``threshold`` can never pass and are
    dropped before the verify and the distinct. Sizes come from the
    very arrays the verify intersects and the ratio is computed in the
    same double division (rounding is monotone), so no passing pair is
    ever dropped."""
    fused = fused_verify(items, F.size("items"))

    def side(bands, s):
        return bands.select(
            F.col("id").alias(f"{s}_id"), "band", "bhash",
            F.col("nsz").alias(f"__n{s}"),
        )

    b = side(new_bands, "b")
    cand = capped_band_join(side(new_bands, "a"), b, symmetric=True).filter(
        F.col("a_id") < F.col("b_id")
    )
    if old_bands is not None:
        cross = capped_band_join(side(old_bands, "a"), b).filter(
            F.col("a_id") != F.col("b_id")
        )
        cand = cand.unionByName(
            cross.select(
                F.least("a_id", "b_id").alias("a_id"),
                F.greatest("a_id", "b_id").alias("b_id"),
                "__na",
                "__nb",
            )
        )
    cand = cand.filter(
        F.least("__na", "__nb") / F.greatest("__na", "__nb") >= threshold
    ).select("a_id", "b_id")
    return verify_pairs(
        cand if fused else distinct_pairs(cand), items, threshold, fused=fused
    )


def expand_members(
    set_pairs: DataFrame,
    new_members: DataFrame,
    old_members: DataFrame | None = None,
) -> DataFrame:
    """Document pairs (a_id < b_id, ji) from verified set pairs: each
    member of a set pairs with every member of each verified partner
    set at the set pair's ji, and with every other member of its own
    set at ji 1.0 (identical item sets).

    ``set_pairs`` is (a_id, b_id, ji) over set ids; members are
    (id, set) rows. Only pairs with at least one NEW member are
    emitted — a pair of two ``old_members`` was emitted when the later
    of them arrived. A pair of two new members is reachable from both
    of its ends, so only the canonical end (lower set id, or lower doc
    id within one set) emits it: every pair comes out exactly once.
    Output-bound equi-joins: the rows joined are the rows emitted."""
    if not set_pairs.isStreaming:
        # both orientations below read the set pairs — run the
        # candidate join and verify once, not twice
        set_pairs = set_pairs.localCheckpoint(eager=False)
    partners = set_pairs.select(
        F.col("a_id").alias("__sa"), F.col("b_id").alias("__sb"), "ji"
    )
    partners = partners.unionByName(
        partners.select(
            F.col("__sb").alias("__sa"), F.col("__sa").alias("__sb"), "ji"
        )
    )
    everyone = new_members.withColumn("__new", F.lit(True))
    if old_members is not None:
        everyone = everyone.unionByName(
            old_members.withColumn("__new", F.lit(False))
        )
    new = new_members.select(F.col("id").alias("__x"), F.col("set").alias("__sa"))
    other = everyone.select(
        F.col("id").alias("__y"), F.col("set").alias("__sb"), "__new"
    )
    cross = (
        new.join(partners, "__sa")
        .join(other, "__sb")
        .filter(~F.col("__new") | (F.col("__sa") < F.col("__sb")))
    )
    same = (
        new.join(other, F.col("__sa") == F.col("__sb"))
        .filter(~F.col("__new") | (F.col("__x") < F.col("__y")))
        .withColumn("ji", F.lit(1.0))
    )
    return cross.unionByName(same).select(
        F.least("__x", "__y").alias("a_id"),
        F.greatest("__x", "__y").alias("b_id"),
        "ji",
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.9,
    n_hashes: int = DEFAULT_LSH_HASH_BUDGET,
    bands: int | None = None,
    shingle_w: int = 1,
    char_n: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs with exact JI ≥ threshold, found via
    MinHash-LSH candidates + exact verify. Banding adapts to the
    threshold (:func:`pick_lsh_banding`: the fewest bands whose miss
    probability at JI=threshold stays ≤ 1e-8) — at the 0.9 default
    with the 264-hash budget that is r=8/b=33 (miss ≈ 8.5e-9).

    Exact-duplicate sets are clustered FIRST (one :func:`set_key`
    window — the production exact-then-near dedup layout): Jaccard
    depends only on the item set, so every member of a set is
    equivalent. The quadratic LSH machinery runs on one representative
    per distinct set (its min doc id) through :func:`set_pairs`, and
    :func:`expand_members` rebuilds the member pairs. On web corpora,
    where boilerplate clusters are huge, this shrinks the candidate
    join quadratically.

    ``char_n`` switches the item universe from word w-shingles to
    character n-grams (the `ngram_jaccard_pairs` clustered path rides
    this pipeline). Verify placement is :func:`fused_verify`'s: on
    small word sets the fused verify measured 229 s -> 58 s on the
    candidate+verify core at 50k docs (OPTIMIZATION_r07.md)."""
    docs = hashed_item_sets(
        df, id_col, text_col=text_col, shingle_w=shingle_w, char_n=char_n
    ).filter(F.size("items") > 0)  # empty-set docs have undefined JI
    # a doc's set id is its set's min doc id: the representative
    members = docs.select(
        "id",
        F.min("id").over(Window.partitionBy(set_key("items"))).alias("set"),
        F.size("items").alias("nsz"),
    )
    if not members.isStreaming:
        # read by the reps and both sides of the member expansion
        members = members.localCheckpoint(eager=False)
    reps = members.filter(F.col("id") == F.col("set")).select("id", "nsz")
    rep_docs = df.join(
        reps.select(F.col("id").alias("__rep")),
        F.col(id_col) == F.col("__rep"),
        "left_semi",
    )
    if bands is None:
        # minimal banding: same r and miss bound as pick_lsh_bands but
        # no bands beyond the bound — each surplus band re-emits the
        # whole true-duplicate pair mass into the candidate join
        bands, n_hashes = pick_lsh_banding(n_hashes, threshold)
    sigs = minhash_signatures(
        rep_docs, id_col, text_col, n_hashes, shingle_w, char_n=char_n
    )
    rep_bands = lsh_band_rows(
        sigs, id_col, n_hashes=n_hashes, bands=bands
    ).withColumnRenamed(id_col, "id")
    if not rep_bands.isStreaming:
        # the capped join's sizing/routing branches read the band rows
        # 4-6 times — one signature kernel pass, not one per branch
        rep_bands = rep_bands.localCheckpoint(eager=False)
    rep_items = hashed_item_sets(
        rep_docs, id_col, text_col=text_col, shingle_w=shingle_w, char_n=char_n
    )
    pairs = set_pairs(rep_bands.join(reps, "id"), items=rep_items, threshold=threshold)
    # the filter keeps threshold > 1 pair-free, identical sets included
    return expand_members(pairs, members.select("id", "set")).filter(
        F.col("ji") >= threshold
    )


# ---------------------------------------------------------------- SimHash
def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str = "text", seed: int = 0
) -> DataFrame:
    """64-bit SimHash per document (pandas-side, whole-batch numpy)."""
    from dashing_spark.operators.agg import token_hashes_col

    ensure_shipped(df.sparkSession)
    src = widen_if_narrow(
        df.select(id_col, token_hashes_col(text_col, seed=seed).alias("__th"))
    )
    id_field = [f for f in df.schema.fields if f.name == id_col][0]
    schema = T.StructType([id_field, T.StructField("simhash", T.LongType(), False)])

    def fn(batches):
        for pdf in batches:
            th, lens = hashing.flatten_hash_arrays(pdf["__th"])
            doc_idx = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
            sh = simhash_batch(th, doc_idx, len(pdf))
            out = pdf[[id_col]].copy()
            out["simhash"] = sh.view(np.int64)
            yield out

    return src.mapInPandas(fn, schema=schema)


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    fps: DataFrame | None = None,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    materialize: bool = True,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ max_hamming, exact recall.

    Candidate generation is Manku-style multi-block banding (Manku,
    Jain & Das Sarma, WWW 2007): the 64-bit fingerprint is split into
    B = max_hamming + 3 blocks and every C(B, 3) choice of 3 blocks
    forms a table key. Pigeonhole: ≤ h differing bits corrupt ≤ h
    blocks, so ≥ 3 blocks are clean and at least one 3-block key
    matches exactly — recall is exact, like the previous 16-bit bands,
    but keys carry ~3·64/B ≥ 32 bits, so the expected bucket size is
    n/2³² instead of n/2¹⁶ and the within-bucket self-join stays linear
    well past 10⁹ documents (the old bands go quadratic at ~10⁸).
    Verify is JVM bit_count(a^b) — no Python in the pair stage.
    ``fps`` optionally supplies a precomputed (id, simhash) frame so a
    caller comparing against an oracle doesn't pay the fingerprint
    mapInPandas pass twice.

    The ≥32-bit keys keep RANDOM fingerprints linear, but a template
    family (near-identical docs → identical fingerprints) still
    collides wholesale in every table — the same hot-bucket pocket as
    the MinHash band join, so the self-join rides the same
    :func:`capped_band_join` (``bucket_cap``/``materialize`` as in
    :func:`lsh_candidate_pairs`; fingerprints are re-attached to the
    surviving candidate ids afterwards — output-bound equi-joins —
    rather than carried through the pair join)."""
    n_blocks = max_hamming + 3
    bounds = [round(i * 64 / n_blocks) for i in range(n_blocks + 1)]
    block_exprs = [
        F.shiftrightunsigned(F.col("simhash"), bounds[i]).bitwiseAND(
            F.lit((1 << (bounds[i + 1] - bounds[i])) - 1)
        )
        for i in range(n_blocks)
    ]
    from itertools import combinations

    tables = [
        F.xxhash64(F.lit(ti), block_exprs[i], block_exprs[j], block_exprs[k])
        for ti, (i, j, k) in enumerate(combinations(range(n_blocks), 3))
    ]
    if fps is None:
        fps = simhash_fingerprints(df, id_col, text_col)
    if materialize and not fps.isStreaming:
        # consumed by both band-row sides AND the two post-join
        # fingerprint attaches — capped or not, one mapInPandas pass
        # instead of four (same tradeoff as lsh_candidate_pairs)
        fps = fps.localCheckpoint(eager=False)
    banded = fps.select(
        F.col(id_col), F.posexplode(F.array(*tables)).alias("band", "bhash")
    )
    a = banded.select(F.col(id_col).alias("a_id"), "band", "bhash")
    b = banded.select(F.col(id_col).alias("b_id"), "band", "bhash")
    cands = distinct_pairs(
        capped_band_join(
            a, b, bucket_cap=bucket_cap, symmetric=True,
            materialize=materialize,
        ).filter(F.col("a_id") < F.col("b_id"))
    )
    sh = fps.select(F.col(id_col).alias("__jid"), "simhash")
    pairs = (
        cands.join(
            sh.select(F.col("__jid").alias("a_id"), F.col("simhash").alias("a_sh")),
            "a_id",
        )
        .join(
            sh.select(F.col("__jid").alias("b_id"), F.col("simhash").alias("b_sh")),
            "b_id",
        )
    )
    ham = F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def simhash_bruteforce_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    fps: DataFrame | None = None,
) -> DataFrame:
    """All-pairs SimHash Hamming ≤ max_hamming by brute force — the
    O(n²) recall oracle for `simhash_near_dups` on small fixtures."""
    if fps is None:
        fps = simhash_fingerprints(df, id_col, text_col)
    a = fps.select(F.col(id_col).alias("a_id"), F.col("simhash").alias("a_sh"))
    b = fps.select(F.col(id_col).alias("b_id"), F.col("simhash").alias("b_sh"))
    return (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("hamming", F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


# ---------------------------------------------------------------- n-gram
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_cols: Sequence[str] = (),
    n_hashes: int = 128,
    cluster_exact: bool = False,
) -> DataFrame:
    """Exact character-n-gram Jaccard ≥ threshold between documents.

    Candidates come from char-gram MinHash-LSH (r=2 rows/band, b=64
    bands: miss probability at JI=t is (1−t²)⁶⁴ — 1.005e−8 at t=0.5
    (within pick_lsh_bands' 1.05× slack), ≤4e−13 at t=0.6); the JI
    emitted is EXACT (item-array verify with codepoint substring
    semantics, matching the codepoint-gram signatures). A direct gram-level equi-join is not used: its
    output is O(Σ per-gram df²), which a single stopword-like gram melts
    down (measured 2.2e9 joined rows on the 5k-doc fixture, where a df
    cap cannot help because every gram is high-df). LSH cost is bounded
    by true-near-dup mass regardless of gram frequency skew. Optional
    ``block_cols`` (e.g. lang) must match exactly — applied as a cheap
    pair filter before the verify joins."""
    # docs shorter than n have zero grams: their exact JI vs anything is
    # 0, so dropping them preserves every thresholded pair — and avoids
    # the all-sentinel signature they'd share (which would collide
    # pairwise in every band: a quadratic candidate blowup among short
    # docs that verify would then discard)
    df = df.filter(F.length(F.col(text_col)) >= n)
    if cluster_exact and block_cols:
        # the clustered path delegates to minhash_lsh_dedup, which has
        # no blocking support — silently ignoring the caller's opt-in
        # would re-expose exactly the quadratic risk they asked to avoid
        raise ValueError(
            "cluster_exact=True is not supported together with "
            "block_cols; pre-partition the input by the block columns "
            "and run the clustered path per block instead"
        )
    if cluster_exact:
        # exact-duplicate gram sets collapse to one representative
        # before the quadratic LSH stage. Use when boilerplate clusters
        # are big (real web corpora); on the low-dup bench slice the
        # digest+expansion overhead measured 27.9 s vs 22 s plain, so
        # it is opt-in rather than the default
        return minhash_lsh_dedup(
            df, id_col, text_col, threshold, n_hashes, char_n=n
        )
    bands_n, n_used = pick_lsh_banding(n_hashes, threshold)
    sigs = minhash_signatures(df, id_col, text_col, n_hashes=n_used, char_n=n)
    if not sigs.isStreaming:
        sigs = sigs.localCheckpoint(eager=False)
    # the char-gram set size is bounded by the text length, so the
    # placement probe sizes the item table without building gram sets
    fused = fused_verify(df, F.length(text_col))
    cands = lsh_candidate_pairs(
        sigs, id_col, n_hashes=n_used, bands=bands_n, raw=fused
    )
    if block_cols:
        keys = df.select(F.col(id_col).alias("__bid"), *block_cols)
        if fused:
            keys = F.broadcast(keys)
        for s in ("a", "b"):
            cands = cands.join(
                keys.select(
                    F.col("__bid").alias(f"{s}_id"),
                    *[F.col(c).alias(f"__{s}_{c}") for c in block_cols],
                ),
                f"{s}_id",
            )
        for c in block_cols:
            cands = cands.filter(F.col(f"__a_{c}") == F.col(f"__b_{c}"))
        cands = cands.select("a_id", "b_id")
    # distinct-first: only candidate docs build their gram sets
    items = hashed_item_sets(
        df if fused else _candidate_docs(df, cands, id_col), id_col,
        text_col=text_col, char_n=n,
    )
    return verify_pairs(cands, items, threshold, fused=fused)


# ---------------------------------------------------------------- components
def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of a near-dup pair graph: (id, comp) with
    comp = the minimum doc id reachable through pairs. The transitive-
    closure step a cluster-level dedup needs (A~B, B~C must collapse to
    ONE keeper even when A~C was never emitted as a pair).

    Algorithm: min-label propagation with pointer jumping — each round
    every node takes the min of its own label, its neighbors' labels,
    and its label's label (path halving), so convergence is
    O(log diameter) rounds, not O(diameter). Near-dup components are
    near-cliques (diameter ~2), so 2-3 rounds is typical; chains of
    length 2^25 are beyond any real corpus. Each round is two
    broadcast-or-shuffle joins + one count action, and labels are
    localCheckpoint()ed to truncate the iterative lineage (a growing
    plan DAG is the classic Spark iterative-algorithm failure).

    At 10^12-doc scale this is the standard formulation: the label
    table is (id, comp) pairs only, edges shuffle once per round, and
    the early-exit action reads a single count.

    Ids keep their incoming type — min-label needs any total order, so
    string/UUID ids component-label lexicographically (a cast to long
    would NULL them out and silently emit zero components).
    """
    edges = pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("u").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr = (
            sym.join(
                labels.select(
                    F.col("id").alias("v"), F.col("comp").alias("vcomp")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vcomp").alias("nmin"))
            .select(F.col("u").alias("id"), "nmin")
        )
        stepped = labels.join(nbr, "id", "left").select(
            "id",
            F.col("comp").alias("old"),
            F.least("comp", F.coalesce("nmin", F.col("comp"))).alias("comp1"),
        )
        # pointer jumping: comp <- comp's comp (path halving). The old
        # label rides along so convergence is a scan of the checkpointed
        # frame, not another join against the previous labels.
        jumped = stepped.join(
            stepped.select(
                F.col("id").alias("comp1"), F.col("comp1").alias("comp2")
            ),
            "comp1",
            "left",
        ).select(
            "id",
            "old",
            F.least("comp1", F.coalesce("comp2", F.col("comp1"))).alias("comp"),
        )
        jumped = jumped.localCheckpoint(eager=True)
        changed = jumped.filter(F.col("comp") != F.col("old")).count()
        labels = jumped.select("id", "comp")
        if changed == 0:
            break
    return labels


def dedup_components(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.9,
) -> DataFrame:
    """Cluster-level near-dup dedup: LSH pairs -> connected components
    -> (id, comp) membership for every doc in a >=2-member cluster.
    The keeper per cluster is its min id (== comp)."""
    pairs = minhash_lsh_dedup(df, id_col, text_col, threshold=threshold)
    return connected_components(pairs)


def two_line_split(
    df: DataFrame, text_col: str = "text", out_col: str = "t2"
) -> DataFrame:
    """Deterministically re-split single-line text into two token-half
    lines joined by ``\\n`` — the fixture transform the gate query and
    bench share to give :func:`line_dedup` real work on a corpus whose
    synthetic docs carry no newlines (exact-dup docs share both
    halves). One definition so bench and gate measure the same
    construction."""
    ts = F.split(F.col(text_col), " ", -1)
    n = F.size(ts)
    half = (n / 2).cast("int")
    return df.withColumn(
        out_col,
        F.concat(
            F.array_join(F.slice(ts, 1, half), " "),
            F.lit("\n"),
            F.array_join(F.slice(ts, half + 1, n - half), " "),
        ),
    )


def _regex_quote(s: str) -> str:
    """``java.util.regex.Pattern.quote`` semantics in Python: wrap in
    ``\\Q..\\E`` with any embedded literal ``\\E`` broken out as
    ``\\E\\\\E\\Q`` (close quote, escaped backslash + E, reopen) — a
    bare wrap would let a separator containing ``\\E`` terminate the
    quote early and mis-split."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
    min_line_chars: int = 1,
    materialize: bool = True,
) -> DataFrame:
    """C4-style corpus-wide line deduplication (Raffel et al. 2020
    §2.2 applied at line granularity — the preprocessing step that
    strips repeated boilerplate lines, nav menus, cookie banners):
    every line occurring at more than one (doc, position) in the
    corpus keeps only its CANONICAL first occurrence (minimum
    (doc id, position)) and is dropped everywhere else; documents are
    reassembled in original line order. Lines shorter than
    ``min_line_chars`` bypass dedup (deduping "" or "-" would shred
    formatting, and C4's rule targets sentence-scale boilerplate).

    Emits (id, text_out, n_lines, n_kept) per document — a document
    whose every line was a non-canonical duplicate comes back with
    ``text_out = ''`` and ``n_kept = 0``, not dropped; NULL text comes
    back as NULL with zero lines (a pipeline stage must never lose
    rows — pinned by test and relied on by ``corpus.curate``).
    ``materialize`` (default True) lazily localCheckpoints the line
    rows, which feed four plan branches (keeper agg, semi probe,
    short-line filter, totals) — pass False on preemptible clusters to
    keep full lineage at the cost of re-running the explode per
    branch.

    Scale: hot lines ("Home", "") are the dominant input class, and
    NO stage here keys on the bare line for anything bigger than one
    row per distinct line: the keeper is a
    ``groupBy(line).agg(min(struct(id, pos)))`` — map-side-combinable,
    so a 10⁹-occurrence line reduces to one row per map task before
    the exchange — and the keeper attach is a left-semi join on the
    COMPOSITE (line, id, pos) key, which spreads the hot line's
    occurrences uniformly (see inline comment for the measured
    comparison against the row_number-window and line-keyed-join
    alternatives). One linear composite-key shuffle + one groupBy(id)
    rebuild."""
    # \Q..\E-quote the separator: Spark's split takes a regex, DuckDB's
    # string_split (the oracle) is literal — quoting keeps any sep safe
    lines = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.split(F.col(text_col), _regex_quote(line_sep), -1)
        ).alias("__pos", "__line"),
    )
    if materialize and not lines.isStreaming:
        # four consumers below (keeper agg, semi probe, short-line
        # filter, totals) — one explode pass, not four
        lines = lines.localCheckpoint(eager=False)
    longl = lines.filter(F.length("__line") >= min_line_chars)
    keepers = (
        longl.groupBy("__line")
        .agg(F.min(F.struct("__id", "__pos")).alias("__k"))
        .select(
            "__line",
            F.col("__k.__id").alias("__id"),
            F.col("__k.__pos").alias("__pos"),
        )
    )
    # the attach is a LEFT SEMI on the COMPOSITE key (line, id, pos):
    # each line has exactly one keeper triple, so the hot line's
    # occurrences spread across reducers by (id, pos) instead of all
    # landing on the line's reducer — the naive join on line alone (or
    # a row_number window) re-creates the skew the min-struct agg
    # avoided. Measured at 16M docs with an 8M-occurrence hot line:
    # 6-9 s here vs 12 s for the window (single-reducer sort of the
    # hot partition) vs 54 s for the line-keyed keeper join. When the
    # distinct-line table fits, AQE broadcasts it and the probe side
    # never shuffles at all.
    kept_long = longl.join(
        keepers, ["__line", "__id", "__pos"], "left_semi"
    )
    kept = kept_long.unionByName(
        lines.filter(F.length("__line") < min_line_chars)  # always kept
    ).select("__id", "__pos", "__line")
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            line_sep,
        ).alias("text_out"),
        F.count("*").alias("n_kept"),
    )
    totals = lines.groupBy("__id").agg(F.count("*").alias("n_lines"))
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).isNull().alias("__nulltext"),
    )
    return (
        base.join(totals, "__id", "left")
        .join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.when(F.col("__nulltext"), F.lit(None).cast("string"))
            .otherwise(F.coalesce("text_out", F.lit("")))
            .alias("text_out"),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def span_rows(
    df: DataFrame,
    id_col: str,
    key_cols: Sequence[str],
    text_col: str = "text",
    w: int = 8,
    span_key: str = "text",
) -> DataFrame:
    """(__id, *key_cols, __pos, __span) w-token span rows — the shared
    first stage of :func:`duplicate_span_stats` and
    :func:`duplicate_run_stats`. A caller running both tiers should
    build this once (``.localCheckpoint(eager=False)`` or persist) and
    pass it via their ``spans=`` parameter, so the corpus-wide span
    explosion — the dominant linear cost — happens once, not per
    tier."""
    from dashing_spark.operators.text import token_ngrams_col

    spans = df.select(
        F.col(id_col).alias("__id"),
        *key_cols,
        F.posexplode(token_ngrams_col(text_col, w)).alias(
            "__pos", "__span"
        ),
    )
    if span_key == "hash":
        spans = spans.withColumn("__span", F.xxhash64("__span"))
    return spans


def merge_position_islands(
    pos_df: DataFrame, part_cols: Sequence[str], width
) -> DataFrame:
    """Merge covered intervals [__pos, __pos + width - 1] into maximal
    islands per partition key: (*part_cols, __isl, __start, __len).
    ``width`` is an int or a per-row Column (e.g. an n-gram width
    column). The single windowing core shared by every island consumer
    (cross-doc dup runs, within-doc repetition coverage) — fixed width
    makes interval ends monotone, so a gap > width between consecutive
    covered starts begins a new island (pos' <= pos + width
    overlaps-or-abuts the previous [pos, pos+width-1] cover)."""
    part_cols = list(part_cols)
    w = F.lit(width) if isinstance(width, int) else width
    win = Window.partitionBy(*part_cols).orderBy("__pos")
    brk = (
        F.when(F.col("__pos") - F.lag("__pos").over(win) > w, 1)
        .otherwise(0)
    )
    isl = pos_df.withColumn(
        "__isl",
        F.sum(brk).over(
            win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy(*part_cols, "__isl").agg(
        F.min("__pos").alias("__start"),
        (F.max("__pos") - F.min("__pos") + w).alias("__len"),
    )


def dup_islands(
    spans: DataFrame, w: int, key_cols: Sequence[str] = ()
) -> DataFrame:
    """Maximal covered intervals ("islands") of cross-document
    duplicated w-token spans: (__id, *key_cols, __isl, __start, __len)
    where [__start, __start + __len - 1] are the covered token
    positions. Shared core of :func:`duplicate_run_stats` (statistics)
    and :func:`remove_duplicate_runs` (rewriting).

    Plan: one distinct + one count shuffle keyed by the span (linear in
    corpus tokens, no pair table), one join back to position rows, ONE
    window partitioned by document — per-doc data, no global sort."""
    key_cols = list(key_cols)
    if not spans.isStreaming:
        # spans feed BOTH the distinct->count chain and the join back
        # to position rows — one explode pass, not two
        spans = spans.localCheckpoint(eager=False)
    # span -> distinct-doc count (distinct (doc, span) first, as in
    # duplicate_span_stats); dup spans join back to POSITION rows
    span_docs = (
        spans.select("__id", "__span")
        .distinct()
        .groupBy("__span")
        .agg(F.count("*").alias("__ndocs"))
        .filter(F.col("__ndocs") >= 2)
        .select("__span")
    )
    dup_pos = spans.join(span_docs, "__span").select("__id", *key_cols, "__pos")
    return merge_position_islands(dup_pos, ["__id", *key_cols], w)


def remove_duplicate_runs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    w: int = 8,
    min_len: int = 16,
    span_key: str = "text",
    spans: DataFrame | None = None,
    out_col: str = "text_dedup",
) -> DataFrame:
    """ExactSubstr DEDUPLICATION — the rewriting form of the Lee et al.
    2022 substring signal :func:`duplicate_run_stats` only measures:
    every token position inside a qualifying duplicated island (maximal
    covered run of length >= ``min_len``) is cut from EVERY document,
    and the surviving tokens are rejoined in order. Removing all
    occurrences (no canonical keeper) matches the released
    deduplicate-text-datasets tool; Lee et al. §3.1 note the choice is
    deliberate — a substring frequent enough to repeat across documents
    is boilerplate, not content.

    Never loses rows: docs with nothing removed come back with
    ``out_col`` == ``text_col`` byte-identical (split-on-space then
    rejoin-with-space is lossless, including empty tokens from repeated
    / leading / trailing spaces), fully-covered docs come back with
    ``out_col`` == '' and NULL-text docs with NULL. Adds
    ``n_tokens_removed``.

    Scale: the :func:`dup_islands` span shuffle + per-doc window, one
    interval->position explode (bounded by covered-token count), one
    composite-key (id, pos) anti join (skew-free — positions spread any
    hot document), one per-doc rebuild aggregation. All linear in
    corpus tokens; no pair table, no driver collect.

    ``span_key="hash"`` ships compact span keys at the 100 TB tier —
    but UNLIKE the stats functions (where a 64-bit collision merely
    perturbs a statistic, duplicate_span_stats docstring), a collision
    here marks a unique span duplicated and IRREVERSIBLY CUTS real
    content, so the rewrite uses a 128-bit composite key (two
    independently-salted xxhash64) — expected collisions at 10^12
    spans ~3e-14, content-safe. Full-text keys remain the bit-exact
    mode."""
    if min_len < w:
        raise ValueError(f"min_len ({min_len}) must be >= w ({w})")
    for c in (out_col, "n_tokens_removed"):
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists on the input")
    if spans is None:
        spans = span_rows(df, id_col, [], text_col, w, span_key="text")
        if span_key == "hash":
            spans = spans.withColumn(
                "__span",
                F.struct(
                    F.xxhash64("__span"),
                    F.xxhash64("__span", F.lit(1)),
                ),
            )
        elif span_key != "text":
            raise ValueError(f"span_key must be 'text' or 'hash', got {span_key!r}")
    islands = dup_islands(spans, w).filter(F.col("__len") >= min_len)
    if not islands.isStreaming:
        # three consumers (cov, the affected semi-join, the affected
        # attach) — one span-pipeline pass, not three
        islands = islands.localCheckpoint(eager=False)
    cov = islands.select(
        "__id",
        F.explode(
            F.sequence(
                F.col("__start"), F.col("__start") + F.col("__len") - 1
            )
        ).alias("__pos"),
    )
    # only AFFECTED docs (>= 1 qualifying island) are exploded into
    # token rows and re-aggregated; an untouched doc's rewrite is
    # byte-identical to its input (split-on-space + rejoin-with-space
    # is lossless — pinned by test), so it rides through as a plain
    # column expression. On real corpora most docs have no qualifying
    # duplicated run, which drops the dominant token explode +
    # collect_list rebuild from O(corpus tokens) to O(affected tokens)
    # (guide §2.3: don't shuffle what you can decide without moving).
    affected = islands.select("__id").distinct().withColumn(
        "__aff", F.lit(True)
    )
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), " ", -1)).alias(
            "__pos", "__tok"
        ),
    ).join(affected.select("__id"), "__id", "left_semi")
    kept = toks.join(cov, ["__id", "__pos"], "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda x: x["__tok"],
            ),
            " ",
        ).alias("__newtext"),
        F.count("*").alias("__kept"),
    )
    n_toks = F.size(F.split(F.col(text_col), " ", -1))
    out = df.join(
        affected, df[id_col] == affected["__id"], "left"
    ).drop("__id")
    out = out.join(
        rebuilt, out[id_col] == rebuilt["__id"], "left"
    ).drop("__id")
    return out.select(
        *df.columns,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .when(F.col("__aff").isNull(), F.col(text_col))
        .otherwise(F.coalesce("__newtext", F.lit("")))
        .alias(out_col),
        F.when(
            F.col(text_col).isNull() | F.col("__aff").isNull(), F.lit(0)
        )
        .otherwise(n_toks - F.coalesce("__kept", F.lit(0)))
        .cast("long")
        .alias("n_tokens_removed"),
    )


def duplicate_run_stats(
    df: DataFrame,
    id_col: str,
    key_cols: Sequence[str],
    text_col: str = "text",
    w: int = 8,
    min_len: int = 16,
    span_key: str = "text",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Maximal duplicated-token RUNS — the arbitrary-length form of the
    Lee et al. 2022 substring-dedup signal that
    :func:`duplicate_span_stats` measures at fixed width. A token
    position is *covered* when some w-token span containing it occurs
    in >= 2 distinct documents; maximal contiguous covered regions
    ("islands") of token length >= ``min_len`` are the duplicated runs
    a substring-level deduper would actually cut. (Lee et al. use a
    suffix array at a 50-token threshold; seeding with w-token spans
    and merging adjacent covered intervals finds exactly the regions
    every duplicated substring of length >= w lies inside, and a
    duplicated substring of length >= min_len >= w always produces such
    an island — same detection power, but expressible as one shuffle +
    one per-doc window instead of a global suffix sort.)

    Emits per key group: docs with spans, docs with a qualifying run,
    run count, run-token total, max run length, and the corpus
    duplicated-run token fraction (duplicated-run tokens / all tokens
    of span-bearing docs — one IEEE-exact rounded division).

    Scale: the span->distinct-doc-count shuffle of
    :func:`duplicate_span_stats` (linear in corpus tokens, no pair
    table), plus ONE window partitioned by document — per-doc data, no
    global sort. ``span_key="hash"`` as in :func:`duplicate_span_stats`
    (8-byte exchange keys for the 100 TB configuration). ``spans``
    optionally supplies a pre-built :func:`span_rows` frame so a
    caller running both tiers pays the span explosion once.
    """
    if min_len < w:
        raise ValueError(f"min_len ({min_len}) must be >= w ({w})")
    if spans is None:
        spans = span_rows(df, id_col, key_cols, text_col, w, span_key)
    runs = dup_islands(spans, w, key_cols)
    q = runs.filter(F.col("__len") >= min_len)
    per_run_doc = q.groupBy("__id", *key_cols).agg(
        F.count("*").alias("__n_runs"),
        F.sum("__len").alias("__run_toks"),
        F.max("__len").alias("__max_run"),
    )
    toks = df.select(
        F.col(id_col).alias("__id"),
        *key_cols,
        F.size(F.split(F.col(text_col), " ", -1)).alias("__n_toks"),
        (F.size(F.split(F.col(text_col), " ", -1)) >= w).alias("__has_spans"),
    ).filter(F.col("__has_spans"))
    joined = toks.join(per_run_doc.drop(*key_cols), "__id", "left")
    return joined.groupBy(*key_cols).agg(
        F.count("*").alias("n_docs_with_spans"),
        F.sum(F.when(F.col("__n_runs").isNotNull(), 1).otherwise(0)).alias(
            "n_docs_with_run"
        ),
        F.coalesce(F.sum("__n_runs"), F.lit(0)).alias("total_runs"),
        F.coalesce(F.sum("__run_toks"), F.lit(0)).alias("total_run_tokens"),
        F.coalesce(F.max("__max_run"), F.lit(0)).alias("max_run_len"),
        F.round(
            F.coalesce(F.sum("__run_toks"), F.lit(0)) / F.sum("__n_toks"), 9
        ).alias("corpus_run_token_frac"),
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    key_cols: Sequence[str],
    text_col: str = "text",
    w: int = 8,
    span_key: str = "text",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Cross-document duplicated token-span detection (the substring-
    level dedup signal of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", at fixed span width): a w-token span
    is *duplicated* when it occurs in >= 2 distinct documents anywhere
    in the corpus. Emits, per key group: exact integer span counts, the
    corpus-level duplicated-span fraction (one IEEE-exact division),
    the per-doc average duplicated fraction, and how many docs contain
    at least one duplicated span.

    ``span_key="text"`` groups on the span string itself (bit-exact,
    oracle-replicable — what the gated query uses); ``span_key="hash"``
    groups on xxhash64(span) so only 8-byte keys cross the exchange —
    the 100 TB configuration (a 64-bit collision merges two span
    groups; at 10^12 spans the expected merge count is ~0.03, harmless
    for a *statistic*, unacceptable only for an exact oracle gate).

    Scale: one Generate (no Python), one distinct over (doc, span) with
    map-side partial aggregation, one shuffle keyed by the span, then a
    doc-level rollup — span rows never join against themselves and no
    pair table is formed, so cost is linear in corpus token count.
    ``spans`` optionally supplies a pre-built :func:`span_rows` frame
    (shared with :func:`duplicate_run_stats`); the position column is
    dropped before the distinct.
    """
    if spans is None:
        spans = span_rows(df, id_col, key_cols, text_col, w, span_key)
    doc_spans = spans.drop("__pos").distinct()
    # span -> in how many distinct docs it appears (distinct above makes
    # count(*) a distinct-doc count — no second distinct aggregation)
    span_docs = doc_spans.groupBy("__span").agg(
        F.count("*").alias("__ndocs")
    )
    flagged = doc_spans.join(
        span_docs.withColumn("__dup", F.col("__ndocs") >= 2).drop("__ndocs"),
        "__span",
    )
    per_doc = flagged.groupBy("__id", *key_cols).agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(F.col("__dup"), 1).otherwise(0)).alias("n_dup_spans"),
    )
    return (
        per_doc.groupBy(*key_cols)
        .agg(
            F.count("*").alias("n_docs_with_spans"),
            F.sum("n_spans").alias("total_spans"),
            F.sum("n_dup_spans").alias("total_dup_spans"),
            F.round(F.sum("n_dup_spans") / F.sum("n_spans"), 9).alias(
                "corpus_dup_span_frac"
            ),
            F.round(
                F.avg(F.col("n_dup_spans") / F.col("n_spans")), 5
            ).alias("avg_doc_dup_span_frac"),
            F.sum(
                F.when(F.col("n_dup_spans") > 0, 1).otherwise(0)
            ).alias("n_docs_with_dup_span"),
        )
    )
