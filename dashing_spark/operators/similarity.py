"""Similarity search over embedding columns (array<float>).

Training-data-pipeline addition (no dashing counterpart — its nearest
neighbors run over sketch distances, /root/reference/src/sketch_and_cmp.h:712-783;
here the vectors are dense embeddings).

Paths:
- ``cosine_topk_exact``: brute-force via JVM expressions (zip_with +
  aggregate) — the exact baseline, oracle-comparable;
- ``cosine_topk_blocked``: the scale path — queries broadcast as a numpy
  matrix, one matmul per Arrow batch of references, per-partition
  partial top-k, final top-k by Window. O(#refs × #queries) FLOPs but
  only O(#queries × k) rows per partition cross the shuffle;
- ``lsh_cosine_topk`` / ``ivf_topk`` / ``ivfpq_topk`` /
  ``query_ann_index``: approximate — candidates share a hyperplane-LSH
  bucket or an inverted list; recall measured against brute force in
  tests rather than guaranteed.

Every search is candidates → score → top-k, with one copy of each step:
the exact cosine (:func:`_cos`, attached by :func:`_with_cos` or the
broadcast cross join :func:`_cross_cos`), the per-query window
(:func:`_ranked` / :func:`_topk`), the IVF list join
(:func:`_ivf_candidates`) and the ADC rank-or-rerank (:func:`_adc_topk`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from dashing_spark.operators.dedup import DEFAULT_BUCKET_CAP, band_pairs
from dashing_spark.operators.ship import ensure_shipped


def _dot_expr(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm_expr(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _vec_with_norm(embeddings, id_col: str, vec_col: str):
    """(id, v, nv): vector + its norm, computed ONCE per document. Pair
    stages then evaluate only the dot product — same arithmetic, same
    doubles, a third of the per-pair higher-order-function work."""
    v = F.col(vec_col).cast("array<double>")
    return embeddings.select(
        F.col(id_col), v.alias("v"), _norm_expr(v).alias("nv")
    )


def _side(e: DataFrame, id_col: str, s: str) -> DataFrame:
    """One pair side of a :func:`_vec_with_norm` frame, its columns
    prefixed ``s``: (s_id, s_vec, s_nv)."""
    return e.select(
        F.col(id_col).alias(f"{s}_id"), F.col("v").alias(f"{s}_vec"),
        F.col("nv").alias(f"{s}_nv"),
    )


def _cos(a: str, b: str):
    """The exact cosine of the ``a``- and ``b``-prefixed sides of a pair
    frame: the dot product over the product of the stored norms."""
    return _dot_expr(F.col(f"{a}_vec"), F.col(f"{b}_vec")) / (
        F.col(f"{a}_nv") * F.col(f"{b}_nv")
    )


def _with_cos(
    pairs: DataFrame, e: DataFrame, id_col: str, a: str, b: str
) -> DataFrame:
    """Candidate pairs (a_id, b_id) with each side's vector and norm
    joined from the :func:`_vec_with_norm` frame ``e``, plus ``cos``."""
    for s in (a, b):
        pairs = pairs.join(_side(e, id_col, s), f"{s}_id")
    return pairs.withColumn("cos", _cos(a, b))


def _cross_cos(
    left: DataFrame, right: DataFrame, id_col: str, vec_col: str, a: str,
    b: str, keep,
) -> DataFrame:
    """Brute-force pairs: ``left`` x broadcast ``right`` (sides prefixed
    ``a``/``b``), filtered by the ``keep`` condition, plus ``cos``."""
    la = _side(_vec_with_norm(left, id_col, vec_col), id_col, a)
    rb = _side(_vec_with_norm(right, id_col, vec_col), id_col, b)
    return la.crossJoin(F.broadcast(rb)).filter(keep).withColumn("cos", _cos(a, b))


def _ranked(pairs: DataFrame, score: str) -> DataFrame:
    """``pairs`` plus each query's ``rank``: row_number over ``q_id`` by
    ``score`` desc, ties broken by ``n_id`` asc — the one ordering of
    every top-k here (dashing's nndist_loop, src/sketch_and_cmp.h:712-783)."""
    w = Window.partitionBy("q_id").orderBy(F.col(score).desc(), F.col("n_id").asc())
    return pairs.withColumn("rank", F.row_number().over(w))


def _topk(
    pairs: DataFrame, score: str, k: int, name: str | None = None
) -> DataFrame:
    """(q_id, n_id, score as ``name``, rank) for each query's top ``k``."""
    return (
        _ranked(pairs, score)
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.col(score).alias(name or score), "rank")
    )


def cosine_topk_exact(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (JVM-side arithmetic).
    Excludes self-pairs; deterministic tie-break on neighbor id."""
    pairs = _cross_cos(
        queries, embeddings, id_col, vec_col, "q", "n",
        F.col("q_id") != F.col("n_id"),
    )
    return _topk(pairs, "cos", k)


def cosine_topk_blocked(
    embeddings: DataFrame,
    query_rows: list[tuple],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path: queries as a driver-side (q, d) matrix broadcast into
    a mapInPandas matmul; partial top-k per partition, exact final top-k.

    query_rows: list of (query_id, vector) — the small side (e.g. a
    probe batch); references stream through Arrow batches.
    """
    ensure_shipped(embeddings.sparkSession)
    q_ids = np.array([r[0] for r in query_rows], dtype=np.int64)
    q_mat = np.asarray([r[1] for r in query_rows], dtype=np.float64)
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType(), False),
            T.StructField("n_id", T.LongType(), False),
            T.StructField("cos", T.DoubleType(), False),
        ]
    )

    def fn(batches):
        for pdf in batches:
            r_ids = pdf[id_col].to_numpy(dtype=np.int64)
            r_mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            r_mat = r_mat / np.linalg.norm(r_mat, axis=1, keepdims=True)
            sims = q_mat @ r_mat.T  # (q, batch)
            kk = min(k + 1, sims.shape[1])
            if kk == sims.shape[1]:
                qi, ni = np.nonzero(np.ones_like(sims, dtype=bool))
            else:
                # keep every candidate >= the kk-th best cos, INCLUDING
                # boundary ties: argpartition alone keeps an arbitrary kk
                # of the tied rows and can drop the one the final
                # (cos desc, n_id asc) tie-break would select — exactness
                # vs cosine_topk_exact would then depend on batch bounds
                part = np.argpartition(-sims, kk - 1, axis=1)
                thresh = sims[np.arange(sims.shape[0]), part[:, kk - 1]]
                qi, ni = np.nonzero(sims >= thresh[:, None])
            yield pd.DataFrame(
                {
                    "q_id": q_ids[qi],
                    "n_id": r_ids[ni],
                    "cos": sims[qi, ni],
                }
            )

    partial = embeddings.select(id_col, vec_col).mapInPandas(fn, schema=schema)
    return _topk(partial.filter(F.col("q_id") != F.col("n_id")), "cos", k)


def hyperplane_signatures(
    embeddings: DataFrame,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table random-hyperplane LSH: one (table, bucket) row per
    vector per table. Recall for a pair with bit-agreement prob p is
    1-(1-p^n_planes)^n_tables — tables trade shuffle volume for recall
    (Indyk & Motwani / Charikar)."""
    ensure_shipped(embeddings.sparkSession)
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("table", T.IntegerType(), False),
            T.StructField("bucket", T.LongType(), False),
        ]
    )

    def fn(batches):
        rng = np.random.default_rng(seed)
        planes = None
        for pdf in batches:
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            if planes is None:
                planes = rng.standard_normal((mat.shape[1], n_tables * n_planes))
            bits = (mat @ planes) > 0  # (n, tables*planes)
            n = len(pdf)
            ids = pdf[id_col].to_numpy(np.int64)
            weights = (1 << np.arange(n_planes, dtype=np.int64))
            out_ids = np.repeat(ids, n_tables)
            out_tab = np.tile(np.arange(n_tables, dtype=np.int32), n)
            buckets = (
                bits.reshape(n, n_tables, n_planes).astype(np.int64) * weights
            ).sum(axis=2)
            yield pd.DataFrame(
                {
                    id_col: out_ids,
                    "table": out_tab,
                    "bucket": buckets.reshape(-1),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(fn, schema=schema)


def _bucket_candidate_pairs(
    embeddings: DataFrame,
    n_planes: int,
    n_tables: int,
    seed: int,
    id_col: str,
    vec_col: str,
    bucket_cap: int | None,
) -> DataFrame:
    """Shared LSH candidate generator for :func:`lsh_cosine_topk` and
    :func:`embedding_near_dups`: hyperplane signatures → raw
    (a_id < b_id) bucket collisions through the skew-safe
    :func:`dedup.band_pairs` (a cluster of near-identical embeddings
    shares buckets in every table — the same template-family pocket as
    the MinHash/SimHash band joins). ``bucket_cap=None`` restores the
    plain bucket self-join (also the streaming-compatible shape: the
    capped join's count agg + join-back is unsupported on a stream)."""
    sig = hyperplane_signatures(
        embeddings, n_planes, n_tables, seed, id_col, vec_col
    ).select(
        id_col, F.col("table").alias("band"), F.col("bucket").alias("bhash")
    )
    if not sig.isStreaming:
        # the band rows feed both join sides (and the capped join's
        # routing branches) — one mapInPandas signature pass, not one
        # per branch
        sig = sig.localCheckpoint(eager=False)
    return band_pairs(sig, id_col, bucket_cap)


def lsh_cosine_topk(
    embeddings: DataFrame,
    k: int,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Approximate top-k: compare only vectors sharing a bucket in any
    table. Shuffle is a hash partition on (table, bucket); candidate
    pairs deduped before the cosine, each distinct pair then serving
    both of its ends as a query. Recall vs brute force is the test
    gate, n_tables the recall/cost dial. ``bucket_cap`` as in
    :func:`dedup.capped_band_join` (None restores the uncapped
    streaming-compatible plan)."""
    cand = _bucket_candidate_pairs(
        embeddings, n_planes, n_tables, seed, id_col, vec_col, bucket_cap
    ).distinct().selectExpr(
        "inline(array(named_struct('q_id', a_id, 'n_id', b_id),"
        " named_struct('q_id', b_id, 'n_id', a_id)))"
    )
    e = _vec_with_norm(embeddings, id_col, vec_col)
    return _topk(_with_cos(cand, e, id_col, "q", "n"), "cos", k)


def _sample_matrix(
    embeddings: DataFrame, vec_col: str, sample_cap: int, min_rows: int
) -> np.ndarray:
    """Deterministic driver-side training sample as a NORMALIZED float64
    matrix, WITHOUT a total sort: a hash-filter on the id keeps
    ~sample_cap rows with a narrow scan-side predicate (a plain limit()
    depends on partition order; orderBy().limit() is a full sort of the
    table at scale). Falls back to widening the filter if the modulus
    over-prunes on small inputs. Shared by the IVF coarse quantizer and
    the PQ codebook trainer. The id is the first non-vector column, so
    the operators hand the trainers (id, vector) frames: a sample keyed
    on whatever column comes first would depend on column order."""
    id_cols = [c for c in embeddings.columns if c != vec_col][:1]
    base = embeddings.select(*id_cols, vec_col)
    total = base.count()
    mod = max(1, total // sample_cap)
    keep = F.pmod(F.xxhash64(*id_cols), F.lit(mod)) == 0
    sample = base.filter(keep).collect()  # ≈ sample_cap rows, deterministic
    if len(sample) < min(total, max(min_rows, sample_cap // 4)):
        sample = base.orderBy(*id_cols).limit(sample_cap).collect()
    sample.sort(key=lambda r: r[0])  # collect order is partition-dependent
    x = np.asarray([r[vec_col] for r in sample], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    sample_cap: int = 10_000,
    iters: int = 12,
    seed: int = 7,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train an IVF coarse quantizer: spherical k-means on a driver-side
    sample (numpy, deterministic seed). The centroid matrix is tiny
    (n_centroids × dim) and broadcasts into the assignment kernel."""
    x = _sample_matrix(embeddings, vec_col, sample_cap, n_centroids * 4)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cent.T
        assign = np.argmax(sims, axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[c] = v / n
    return cent


def ivf_assignments(
    embeddings: DataFrame,
    centroids: np.ndarray,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its `nprobe` nearest centroids (one row per
    (vector, list) membership). Blocked matmul per Arrow batch."""
    ensure_shipped(embeddings.sparkSession)
    cent = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("list_id", T.IntegerType(), False),
        ]
    )

    def fn(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(np.int64)
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ cent.T
            k = min(nprobe, sims.shape[1])
            top = np.argpartition(-sims, k - 1, axis=1)[:, :k]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, k),
                    "list_id": top.astype(np.int32).ravel(),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(fn, schema=schema)


def _ivf_candidates(
    embeddings: DataFrame,
    centroids: np.ndarray | None,
    n_centroids: int,
    nprobe: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Distinct (q_id, n_id) self-pairs that share an inverted list, the
    candidates of :func:`ivf_topk` and :func:`ivfpq_topk`. Trains the
    coarse quantizer when ``centroids`` is None."""
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings.select(id_col, vec_col), n_centroids, seed=seed,
            vec_col=vec_col,
        )
    # reference vectors live in exactly their nearest list; queries probe nprobe
    ref = ivf_assignments(embeddings, centroids, 1, id_col, vec_col)
    qry = ivf_assignments(embeddings, centroids, nprobe, id_col, vec_col)
    return (
        qry.select(F.col(id_col).alias("q_id"), "list_id")
        .join(ref.select(F.col(id_col).alias("n_id"), "list_id"), "list_id")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()
    )


def ivf_topk(
    embeddings: DataFrame,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 2,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate self-top-k: queries probe their `nprobe` nearest
    inverted lists; candidates share a list; exact cosine + Window
    top-k on candidates only. Shuffle is a hash partition on list_id —
    the standard coarse-quantizer ANN shape (vs. the data-independent
    LSH variant). Recall measured against brute force in tests."""
    cand = _ivf_candidates(
        embeddings, centroids, n_centroids, nprobe, seed, id_col, vec_col
    )
    e = _vec_with_norm(embeddings, id_col, vec_col)
    return _topk(_with_cos(cand, e, id_col, "q", "n"), "cos", k)


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k_codes: int = 32,
    sample_cap: int = 10_000,
    iters: int = 15,
    seed: int = 7,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the NORMALIZED vector is
    split into ``m`` contiguous subspaces, each quantized by its own
    ``k_codes``-centroid L2 k-means. Returns an (m, k_codes, d/m)
    array — tiny, broadcasts into the encode/score kernels.

    Training is driver-side numpy over the same deterministic hash
    sample the IVF quantizer uses (:func:`_sample_matrix`): a bounded,
    seed-stable collect, never the full table."""
    x = _sample_matrix(embeddings, vec_col, sample_cap, k_codes * 2)
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    kc = min(k_codes, len(x))
    books = np.empty((m, kc, dsub), dtype=np.float64)
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        rng = np.random.default_rng(seed + s)
        cent = xs[rng.choice(len(xs), size=kc, replace=False)].copy()
        for _ in range(iters):
            # argmin ||x - c||^2 = argmax (x.c - ||c||^2 / 2)
            score = xs @ cent.T - 0.5 * (cent * cent).sum(axis=1)
            assign = np.argmax(score, axis=1)
            for c in range(kc):
                members = xs[assign == c]
                if len(members):  # empty cluster keeps its centroid
                    cent[c] = members.mean(axis=0)
        books[s] = cent
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<tinyint>) — each normalized vector reduced to m
    ONE-BYTE subspace code indices (k_codes <= 128 enforced so the code
    fits Spark's signed ByteType). At 64-dim float32 embeddings this is
    a true 32x (m=8) / 16x (m=16) residency compression: the scan side
    of a PQ search holds m bytes per vector plus one broadcast
    codebook, which is what lets 10^9-vector references fit executor
    memory."""
    ensure_shipped(embeddings.sparkSession)
    books = np.asarray(codebooks, dtype=np.float64)
    m, kc, dsub = books.shape
    if kc > 128:
        raise ValueError(
            f"k_codes={kc} exceeds the one-byte code space (max 128)"
        )
    half_sq = 0.5 * (books * books).sum(axis=2)  # (m, kc)
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("codes", T.ArrayType(T.ByteType()), False),
        ]
    )

    def fn(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(np.int64)
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            codes = np.empty((len(mat), m), dtype=np.int8)
            for s in range(m):
                xs = mat[:, s * dsub : (s + 1) * dsub]
                codes[:, s] = np.argmax(xs @ books[s].T - half_sq[s], axis=1)
            yield pd.DataFrame({id_col: ids, "codes": list(codes)})

    return embeddings.select(id_col, vec_col).mapInPandas(fn, schema=schema)


def _adc_score_expr(codebooks: np.ndarray):
    """pandas UDF (q_vec, codes) -> approximate cosine via asymmetric
    distance computation: score = sum_s LUT_q[s, code_s] with
    LUT_q[s] = q_s . C_s^T. Queries repeat across candidate rows, so
    the kernel dedups distinct queries per batch and builds each LUT
    once (the same distinct-blob trick the sketch pair kernels use)."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, kc, dsub = books.shape
    flat = books.reshape(m * kc, dsub)

    @F.pandas_udf(T.DoubleType())
    def _adc(q_vecs: pd.Series, codes: pd.Series) -> pd.Series:
        qm = np.asarray(list(q_vecs), dtype=np.float64)
        qm /= np.linalg.norm(qm, axis=1, keepdims=True)
        uniq, inv = np.unique(qm, axis=0, return_inverse=True)
        # (n_uniq, m, kc): one LUT per distinct query in the batch
        luts = np.einsum(
            "qsd,skd->qsk",
            uniq.reshape(len(uniq), m, dsub),
            books,
        )
        cm = np.asarray(list(codes), dtype=np.int64)  # (n, m)
        # direct fancy-index gather: (n, m) result, never the (n, m, kc)
        # per-batch LUT copy (80 MB at 10k rows x m=16 x kc=64)
        s_idx = np.arange(m)[None, :]
        return pd.Series(luts[inv[:, None], s_idx, cm].sum(axis=1))

    return _adc


def _adc_topk(
    pairs: DataFrame,
    books: np.ndarray,
    k: int,
    rerank: int,
    embeddings: DataFrame | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ADC ranking of candidate pairs (q_id, q_vec, n_id, codes), shared
    by :func:`ivfpq_topk` and :func:`query_ann_index`: the top ``k`` by
    ADC score, or with ``rerank`` > 0 the IVFADC+R refinement — the top
    k*rerank ADC candidates re-scored by the exact cosine against the
    full vectors of ``embeddings`` (``id_col``, ``vec_col``). Returns
    (q_id, n_id, score, rank)."""
    pairs = pairs.withColumn(
        "adc", _adc_score_expr(books)(F.col("q_vec"), F.col("codes"))
    )
    if not rerank:
        return _topk(pairs, "adc", k, "score")
    short = (
        _ranked(pairs, "adc")
        .filter(F.col("rank") <= k * rerank)
        .select("q_id", "q_vec", "n_id")
    )
    e = _vec_with_norm(embeddings, id_col, vec_col)
    refined = (
        short.join(_side(e, id_col, "n"), "n_id")
        .withColumn("q_vec", F.col("q_vec").cast("array<double>"))
        .withColumn("q_nv", _norm_expr(F.col("q_vec")))
        .withColumn("cos", _cos("q", "n"))
    )
    return _topk(refined, "cos", k, "score")


def ivfpq_topk(
    embeddings: DataFrame,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 8,
    k_codes: int = 32,
    seed: int = 7,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF + PQ approximate self-top-k — the memory-bounded form of
    :func:`ivf_topk`: candidates come from the coarse-quantizer lists
    exactly as there, but the NEIGHBOR side carries only its m-byte PQ
    codes (never the full vector) and candidates are ranked by the ADC
    approximate cosine. At reference scale this is the difference
    between shipping 10^9 x d floats through the candidate join and
    shipping 10^9 x m small ints + one broadcast codebook.

    ``rerank`` > 0 adds the IVFADC+R refinement (Jégou et al. 2011 §V):
    the top k*rerank ADC candidates per query are re-scored with the
    exact cosine — full vectors touched for only k*rerank rows per
    query, so the quantization error affects candidate SELECTION, not
    the final ranking. ``rerank=0`` ranks by raw ADC. Returns
    (q_id, n_id, score, rank); recall is measured against brute force
    in tests/gate, not guaranteed."""
    books = train_pq_codebooks(
        embeddings.select(id_col, vec_col), m=m, k_codes=k_codes, seed=seed,
        vec_col=vec_col,
    )
    codes = pq_encode(embeddings, books, id_col=id_col, vec_col=vec_col)
    cand = _ivf_candidates(
        embeddings, centroids, n_centroids, nprobe, seed, id_col, vec_col
    )
    pairs = cand.join(
        embeddings.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        "q_id",
    ).join(codes.select(F.col(id_col).alias("n_id"), "codes"), "n_id")
    return _adc_topk(pairs, books, k, rerank, embeddings, id_col, vec_col)


def build_ann_index(
    embeddings: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    m: int = 8,
    k_codes: int = 32,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Persist an IVF+PQ index: coarse centroids + PQ codebooks (tiny
    numpy arrays, base64 in the snapshot properties) and the per-vector
    (id, list_id, codes) table as a snapshot-log table
    (plans/snapshots.py — atomic commits, time travel, crash-safe).
    Build once, :func:`query_ann_index` many — the production ANN shape
    (the self-top-k operators retrain per call by design).

    Returns {"version", "n_vectors"}."""
    import base64
    import io

    from dashing_spark.plans import snapshots

    by_id = embeddings.select(id_col, vec_col)
    cent = train_ivf_centroids(by_id, n_centroids, seed=seed, vec_col=vec_col)
    books = train_pq_codebooks(
        by_id, m=m, k_codes=k_codes, seed=seed, vec_col=vec_col
    )
    assign = ivf_assignments(
        embeddings, cent, nprobe=1, id_col=id_col, vec_col=vec_col
    )
    codes = pq_encode(embeddings, books, id_col=id_col, vec_col=vec_col)
    rows = assign.join(codes, id_col)

    def _b64(arr: np.ndarray) -> str:
        buf = io.BytesIO()
        np.save(buf, arr)
        return base64.b64encode(buf.getvalue()).decode()

    version = snapshots.commit(
        index_dir,
        rows,
        op="overwrite",
        properties={
            "kind": "ivfpq_index",
            "id_col": id_col,
            "vec_col": vec_col,
            "centroids_npy_b64": _b64(cent),
            "codebooks_npy_b64": _b64(books),
        },
    )
    # count the COMMITTED table (parquet metadata scan) — re-counting
    # `rows` would re-execute both mapInPandas passes over the corpus
    n = snapshots.read_table(
        embeddings.sparkSession, index_dir, version=version
    ).count()
    return {"version": version, "n_vectors": n}


def _load_ann_index(spark, index_dir: str, version: int | None = None):
    import base64
    import io

    from dashing_spark.plans import snapshots

    # O(1) single-version metadata read; missing dir/version raises a
    # clear FileNotFoundError (history() would be O(versions x blob)
    # and a next() over it died with a bare StopIteration)
    props = snapshots.snapshot_properties(index_dir, version)
    if props.get("kind") != "ivfpq_index":
        raise ValueError(f"{index_dir} is not an ivfpq_index snapshot table")

    def _arr(key):
        return np.load(io.BytesIO(base64.b64decode(props[key])))

    rows = snapshots.read_table(spark, index_dir, version=version)
    return _arr("centroids_npy_b64"), _arr("codebooks_npy_b64"), rows, props


def query_ann_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int,
    nprobe: int = 2,
    rerank: int = 0,
    version: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_embeddings: DataFrame | None = None,
) -> DataFrame:
    """Top-k neighbors of NEW query vectors against a persisted
    :func:`build_ann_index` table (optionally at a time-travel
    ``version``): queries are assigned to their ``nprobe`` nearest
    lists, candidates meet in ONE equi-join on list_id (the index side
    carries only its m-byte codes), ranking by ADC. ``rerank`` > 0
    re-scores the top k*rerank exactly and requires
    ``index_embeddings`` (the full-vector table the index was built
    from — the index itself deliberately stores no vectors)."""
    cent, books, rows, props = _load_ann_index(spark, index_dir, version)
    idx_id = props["id_col"]
    qry = ivf_assignments(
        queries, cent, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    )
    # no distinct needed: index vectors were assigned with nprobe=1 at
    # build time, so each n_id lives in exactly one list and a
    # (q_id, n_id) pair can appear at most once after the list join —
    # a distinct here would shuffle every candidate's codes for nothing
    cand = (
        qry.select(F.col(id_col).alias("q_id"), "list_id")
        .join(
            rows.select(F.col(idx_id).alias("n_id"), "list_id", "codes"),
            "list_id",
        )
        .select("q_id", "n_id", "codes")
    )
    pairs = cand.join(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        "q_id",
    )
    if rerank and index_embeddings is None:
        raise ValueError("rerank > 0 requires index_embeddings")
    # the index side's column names come from the persisted properties
    # (the query frame's id_col/vec_col params apply to queries only)
    return _adc_topk(
        pairs, books, k, rerank, index_embeddings, idx_id,
        props.get("vec_col", vec_col),
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.98,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold) via
    multi-table LSH bucketing + exact verify on the candidate pairs.
    For true near-dups (cos→1) per-table collision prob → 1, so recall
    is high even with one table; extra tables cover the 0.9s.
    ``bucket_cap`` as in :func:`dedup.capped_band_join` — near-dup
    clusters ARE the hot-bucket input class here."""
    cand = _bucket_candidate_pairs(
        embeddings, n_planes, n_tables, seed, id_col, vec_col, bucket_cap
    ).distinct()
    e = _vec_with_norm(embeddings, id_col, vec_col)
    return (
        _with_cos(cand, e, id_col, "a", "b")
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


def exact_cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine pairs ≥ threshold: broadcast cross join +
    JVM dot product. The exact baseline — O(n²) FLOPs, so the verify
    tier at gate scale and the oracle for the LSH scale path, not the
    production path."""
    return (
        _cross_cos(
            embeddings, embeddings, id_col, vec_col, "a", "b",
            F.col("a_id") < F.col("b_id"),
        )
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup assignment (Abbas et al. 2023,
    arXiv:2303.09540 — keep one representative per cluster of
    semantically near-identical documents): near-dup pairs
    (cos ≥ threshold) → connected components → keeper = min id per
    component. Returns one row PER INPUT vector (never-lose-rows):
    ``(id_col, comp, keep)`` — vectors in no cluster are their own
    keeper.

    ``pairs`` injects a precomputed pair frame (a_id, b_id, ...);
    otherwise ``exact=True`` brute-forces them (gate/verify scale) and
    the default runs the LSH-bucketed scale path
    (:func:`embedding_near_dups` — multi-table hyperplane LSH with the
    capped band join, so hot semantic clusters can't melt a reducer).
    The CC step is min-label propagation with pointer jumping
    (dedup.connected_components), O(log diameter) rounds; semantic
    clusters are near-cliques, so 2-3 rounds in practice."""
    from dashing_spark.operators.dedup import connected_components

    if pairs is None:
        pairs = (
            exact_cosine_pairs(embeddings, threshold, id_col, vec_col)
            if exact
            else embedding_near_dups(
                embeddings, threshold, n_planes, n_tables, seed, id_col, vec_col
            )
        )
    comp = connected_components(pairs.select("a_id", "b_id")).withColumnRenamed(
        "id", id_col
    )
    return (
        embeddings.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("comp", F.col(id_col)).alias("comp"),
            (F.coalesce("comp", F.col(id_col)) == F.col(id_col)).alias("keep"),
        )
    )
