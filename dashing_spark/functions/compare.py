"""Pairwise comparison kernel — the reference's `result_cmp`.

Reproduces the scalar kernel at /root/reference/src/dashing.h:568-592:
every measure derives from either the Jaccard index or the set triple
(|A\\B|, |B\\A|, |A∩B|) (`set_triple` src/dashing.h:189-192). Formula
table and sources in SURVEY.md §2.4. For CONTAINMENT_INDEX we implement
the *documented* semantics |A∩B|/|A| (README.md:86, and the per-type
implementations src/khset64.h:150-153, src/readfilt.cpp:118-121), not the
result_cmp quirk that divides by the union.

``ksinv`` is 1/k where k is the shingle width (the reference's k-mer
length) — it scales the Mash-style distance transforms.

This module defines no cardinality estimator: HLL triples and HLL
estimator names come from ``functions.hll`` (its ``ESTIMATORS`` table and
``triple_batch``), HyperMinHash cardinalities from ``hmh.hmh_estimator``.
``compare``/``set_triple_any`` take "default" as the MLE; the pair stage,
``triple_batch_from_blobs``, takes it as improved raw
(``hll.PAIR_DEFAULT_ESTIMATOR``) for HLL.
"""

from __future__ import annotations

import math

import numpy as np

from dashing_spark.functions.bbmh import BBitMinHash, bbmh_jaccard
from dashing_spark.functions.bloom import BloomFilter
from dashing_spark.functions.cbbmh import CountingBBitMinHash, cbbmh_weighted_jaccard
from dashing_spark.functions.crmh import CountingKMV, crmh_histogram_intersection
from dashing_spark.functions import hll
from dashing_spark.functions.hll import HLL
from dashing_spark.functions.hmh import HyperMinHash, hmh_estimator, hmh_jaccard
from dashing_spark.functions.kmv import KMV, kmv_set_triple
from dashing_spark.functions.serde import sketch_from_bytes
from dashing_spark.functions.smh import SuperMinHash, smh_jaccard

MEASURES = (
    "ji",
    "mash_dist",
    "full_mash_dist",
    "sizes",
    "containment",
    "containment_dist",
    "full_containment_dist",
    "symmetric_containment",
    "symmetric_containment_dist",
)

#: measures where smaller = more similar (top-k sorts ascending,
#: emt2nntype analogue /root/reference/src/dashing.h:268-280)
DISTANCE_MEASURES = frozenset(
    {"mash_dist", "full_mash_dist", "containment_dist",
     "full_containment_dist", "symmetric_containment_dist"}
)


def set_triple_any(a, b, estimator: str = "default") -> tuple[float, float, float]:
    """(|A\\B|, |B\\A|, |A∩B|) for any comparable sketch pair."""
    if type(a) is not type(b):
        raise TypeError(
            f"cannot compare {type(a).__name__} with {type(b).__name__}"
        )
    if isinstance(a, HLL):
        return hll.set_triple(a, b, estimator)
    if isinstance(a, KMV):
        return kmv_set_triple(a, b)
    if isinstance(a, BloomFilter):
        u = BloomFilter(a.lg_bits, a.k, np.bitwise_or(a.words, b.words))
        ca, cb, cu = a.estimate(), b.estimate(), u.estimate()
        inter = max(0.0, ca + cb - cu)
        return max(0.0, cu - cb), max(0.0, cu - ca), inter
    if isinstance(a, BBitMinHash):
        ji = bbmh_jaccard(a, b)
        ca, cb = a.estimate(), b.estimate()
        # solve inter from ji = inter/(ca+cb-inter)
        inter = ji * (ca + cb) / (1.0 + ji) if ji > 0 else 0.0
        return max(0.0, ca - inter), max(0.0, cb - inter), inter
    if isinstance(a, HyperMinHash):
        ji = hmh_jaccard(a, b)
        ca, cb = a.estimate(estimator), b.estimate(estimator)
        inter = ji * (ca + cb) / (1.0 + ji) if ji > 0 else 0.0
        return max(0.0, ca - inter), max(0.0, cb - inter), inter
    if isinstance(a, SuperMinHash):
        ji = smh_jaccard(a, b)
        ca, cb = a.estimate(), b.estimate()
        inter = ji * (ca + cb) / (1.0 + ji) if ji > 0 else 0.0
        return max(0.0, ca - inter), max(0.0, cb - inter), inter
    if isinstance(a, CountingKMV):
        # weighted (multiset) triple: JI is the histogram intersection
        # (the reference's wjaccard dist semantics,
        # /root/reference/src/dashing.h:142-144); multiset sizes are
        # estimated as mean sampled count × distinct-cardinality — the
        # bottom-k counts are a minwise-uniform sample of per-element
        # counts, so the product estimates Σ counts (exact when n < k)
        ji = crmh_histogram_intersection(a, b)

        def _wsize(sk) -> float:
            n = len(sk.mins)
            if n == 0:
                return 0.0
            return float(sk.counts.mean()) * sk.estimate()

        ca, cb = _wsize(a), _wsize(b)
        inter = ji * (ca + cb) / (1.0 + ji) if ji > 0 else 0.0
        return max(0.0, ca - inter), max(0.0, cb - inter), inter
    if isinstance(a, CountingBBitMinHash):
        ji = cbbmh_weighted_jaccard(a, b)

        def _wsize_bb(sk) -> float:
            filled = sk.mins != np.uint64(0xFFFFFFFFFFFFFFFF)
            if not filled.any():
                return 0.0
            # each filled bucket keeps the count of one minwise-sampled
            # element: mean count × distinct estimate ≈ Σ counts
            return float(sk.counts[filled].mean()) * sk.estimate()

        ca, cb = _wsize_bb(a), _wsize_bb(b)
        inter = ji * (ca + cb) / (1.0 + ji) if ji > 0 else 0.0
        return max(0.0, ca - inter), max(0.0, cb - inter), inter
    raise TypeError(f"no set_triple for sketch type {type(a).__name__}")


def measure_from_triple(
    t0: float, t1: float, t2: float, measure: str, ksinv: float = 1.0
) -> float:
    """All §2.4 measures from the set triple (src/dashing.h:572-592)."""
    union = t0 + t1 + t2
    ji = t2 / union if union > 0 else 0.0
    if measure == "ji":
        return ji
    if measure == "sizes":
        return t2
    if measure == "mash_dist":  # dist_index, src/dashing.h:149-156
        return -math.log(2.0 * ji / (1.0 + ji)) * ksinv if ji > 0 else 1.0
    if measure == "full_mash_dist":  # full_dist_index, src/dashing.h:167-174
        return 1.0 - (2.0 * ji / (1.0 + ji)) ** ksinv if ji > 0 else 1.0
    ca = t0 + t2  # |A|
    c = t2 / ca if ca > 0 else 0.0
    if measure == "containment":
        return c
    if measure == "containment_dist":  # src/dashing.h:158-165
        return -math.log(c) * ksinv if c > 0 else 1.0
    if measure == "full_containment_dist":  # src/dashing.h:176-183
        return 1.0 - c**ksinv if c > 0 else 1.0
    sci_den = min(t0, t1) + t2
    sci = t2 / sci_den if sci_den > 0 else 0.0
    if measure == "symmetric_containment":  # src/dashing.h:562-566
        return sci
    if measure == "symmetric_containment_dist":
        return -math.log(sci) * ksinv if sci > 0 else 1.0
    raise ValueError(f"unknown measure: {measure}")


def compare(a, b, measure: str, ksinv: float = 1.0, estimator: str = "default") -> float:
    t0, t1, t2 = set_triple_any(a, b, estimator)
    return measure_from_triple(t0, t1, t2, measure, ksinv)


# ---------------------------------------------------------------------------
# Vectorized measures (the pair stage's per-row tail)
# ---------------------------------------------------------------------------


def measure_from_triple_batch(
    t0: np.ndarray, t1: np.ndarray, t2: np.ndarray, measure: str, ksinv: float = 1.0
) -> np.ndarray:
    """Vectorized measure_from_triple."""
    with np.errstate(divide="ignore", invalid="ignore"):
        union = t0 + t1 + t2
        ji = np.where(union > 0, t2 / union, 0.0)
        if measure == "ji":
            return ji
        if measure == "sizes":
            return t2
        if measure == "mash_dist":
            return np.where(ji > 0, -np.log(2 * ji / (1 + ji)) * ksinv, 1.0)
        if measure == "full_mash_dist":
            return np.where(ji > 0, 1.0 - (2 * ji / (1 + ji)) ** ksinv, 1.0)
        ca = t0 + t2
        c = np.where(ca > 0, t2 / ca, 0.0)
        if measure == "containment":
            return c
        if measure == "containment_dist":
            return np.where(c > 0, -np.log(c) * ksinv, 1.0)
        if measure == "full_containment_dist":
            return np.where(c > 0, 1.0 - c**ksinv, 1.0)
        sci_den = np.minimum(t0, t1) + t2
        sci = np.where(sci_den > 0, t2 / sci_den, 0.0)
        if measure == "symmetric_containment":
            return sci
        if measure == "symmetric_containment_dist":
            return np.where(sci > 0, -np.log(sci) * ksinv, 1.0)
    raise ValueError(f"unknown measure: {measure}")


# ---------------------------------------------------------------------------
# Vectorized batch kernels for the minhash-family pair stage
# ---------------------------------------------------------------------------
#
# The pair UDF receives row-aligned sketch blob batches. Deserializing two
# Python objects per pair is O(pairs) interpreter work, so
# triple_batch_from_blobs deserializes each DISTINCT blob once and every
# kernel below takes the distinct sketches of one (type, params) group
# plus per-pair gather indices (ia, ib) into that group. A kernel stacks
# the sketches' arrays into one matrix and computes whole-batch; the
# minhash-family kernels have no estimator choice and ignore
# ``estimator``, as the sketches' own ``estimate`` methods do.
#
# Key batch-shape fact: a pair batch over K keys carries at most K DISTINCT
# sketches but up to K² rows (all_pairs self-join), so everything that
# depends on a single sketch — cardinality estimates (the HMH MLE / SMH
# log1p / KMV kth-min), occupancy masks, rank histograms — is computed once
# per distinct blob and gathered per pair. Only the genuinely pairwise part
# (register match counts, union merges) runs at pair width. Covers the
# reference's `dist -8` / range-minhash / bbminhash / superminhash CI modes
# (/root/reference/.travis.yml:14-24).

_U64_SENT = np.uint64(0xFFFFFFFFFFFFFFFF)


def _triple_from_ji_batch(
    ji: np.ndarray, ca: np.ndarray, cb: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Solve (t0, t1, t2) from ji = inter/(ca+cb-inter), per row."""
    with np.errstate(invalid="ignore"):
        inter = np.where(ji > 0, ji * (ca + cb) / (1.0 + ji), 0.0)
        return np.fmax(0.0, ca - inter), np.fmax(0.0, cb - inter), inter


def _padded(arrays, width: int, fill, dtype) -> np.ndarray:
    """(n, width) matrix of the variable-length ``arrays``, each
    right-padded with ``fill`` (bottom-k states hold fewer than k
    values until k distinct hashes were seen)."""
    out = np.full((len(arrays), width), fill, dtype=dtype)
    for j, x in enumerate(arrays):
        out[j, : len(x)] = x
    return out


def _dedupe_blobs(a_blobs, b_blobs):
    """Map both blob lists onto one distinct-blob list + gather indices."""
    idx: dict = {}
    uniq = []
    n = len(a_blobs)
    inv = np.empty(2 * n, dtype=np.int64)
    for i, blob in enumerate(a_blobs + b_blobs):
        j = idx.get(blob)
        if j is None:
            j = idx[blob] = len(uniq)
            uniq.append(blob)
        inv[i] = j
    return uniq, inv[:n], inv[n:]


def _pair_chunks(n_pairs: int, row_bytes: int, target: int = 8 << 20):
    """Split a pair batch into row chunks whose pairwise temporaries fit
    ~target bytes. This host (like most) is memory-bandwidth-bound on
    the pair stage: gathering/comparing full (n_pairs, width) matrices
    streams everything through DRAM, while cache-resident chunks
    measured 4-5× faster (KMV 2.6 s → 0.54 s at 20k×2k, bit-identical).
    Per-distinct-sketch work stays hoisted outside the chunk loop."""
    chunk = max(1, target // max(row_bytes, 1))
    for s in range(0, n_pairs, chunk):
        yield s, min(s + chunk, n_pairs)


def _concat_triples(parts):
    if not parts:  # zero-pair batch: keep the (t0, t1, t2) empty-array shape
        z = np.zeros(0, dtype=np.float64)
        return z, z.copy(), z.copy()
    return tuple(np.concatenate(c) for c in zip(*parts))


def kmv_triple_batch(
    sks, ia: np.ndarray, ib: np.ndarray, estimator: str = "default"
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch kmv_set_triple: distinct-blob cardinalities + one lockstep
    sort of the (npairs, 2k) concatenated bottom-k value matrix.

    Bottom-k states are sorted-unique within each side, so after the
    row sort an equal-adjacent value means "present in both sides"
    (runs have length exactly 2); sentinel pads sort last. The union
    sample's unique-rank is a cumsum over the duplicate mask — no
    argsort / provenance planes needed."""
    k = sks[0].k
    lens = np.array([len(s.mins) for s in sks], np.int64)
    U = _padded([s.mins for s in sks], k, _U64_SENT, np.uint64)

    u64 = float(2**64)
    kth = U[:, k - 1].astype(np.float64) + 1.0
    cards = np.where(lens < k, lens.astype(np.float64), (k - 1) * u64 / kth)

    # dense-rank the distinct hash values so the per-pair sort moves
    # int32 codes (order-preserving, exact equality) instead of uint64 —
    # the sort is the pair stage's dominant memory traffic
    uvals, codes_flat = np.unique(U, return_inverse=True)
    C = codes_flat.reshape(U.shape).astype(np.int32)
    sent_code = np.int32(len(uvals) - 1) if uvals[-1] == _U64_SENT else np.int32(-2)

    def _pairwise(ja: np.ndarray, jb: np.ndarray):
        Vs = np.sort(np.concatenate([C[ja], C[jb]], axis=1), axis=1)  # (n, 2k)
        npairs = Vs.shape[0]
        dup = np.zeros((npairs, 2 * k), dtype=bool)
        dup[:, 1:] = Vs[:, 1:] == Vs[:, :-1]
        genuine = Vs != sent_code  # real hash == sentinel: P = 2^-64, ignored
        dup &= genuine
        # unique-rank (0-based) of each position among distinct genuine values
        rank_dt = np.int16 if 2 * k < 32767 else np.int32
        rank = np.arange(2 * k, dtype=rank_dt)[None, :] - np.cumsum(
            dup, axis=1, dtype=rank_dt
        )
        la, lb = lens[ja], lens[jb]
        n_dups = dup.sum(axis=1).astype(np.int64)
        n_uniq = la + lb - n_dups
        u_sz = np.minimum(n_uniq, k).astype(np.float64)
        # dup position = SECOND of an equal pair; its unique-rank equals the
        # first's rank; in-both members of the union bottom-k have rank < k
        t2s = (dup & (rank < k)).sum(axis=1).astype(np.float64)
        nonempty = (la > 0) & (lb > 0)
        with np.errstate(divide="ignore", invalid="ignore"):
            ji = np.where(nonempty & (u_sz > 0), t2s / u_sz, 0.0)

        # union KMV estimate: the k-th smallest distinct genuine value
        kth_mask = (~dup) & genuine & (rank == k - 1)
        has_kth = (n_uniq >= k) & kth_mask.any(axis=1)
        kth_col = np.where(has_kth, kth_mask.argmax(axis=1), 0)
        kth_val = uvals[Vs[np.arange(npairs), kth_col]].astype(np.float64)
        cu = np.where(u_sz < k, u_sz, (k - 1) * u64 / (kth_val + 1.0))
        ca, cb = cards[ja], cards[jb]
        inter = ji * cu
        return np.fmax(0.0, ca - inter), np.fmax(0.0, cb - inter), inter

    return _concat_triples(
        [_pairwise(ia[s:e], ib[s:e]) for s, e in _pair_chunks(len(ia), 8 * k)]
    )


def _sig_dtype(b_bits: int):
    """Narrowest unsigned dtype holding a b-bit signature — truncating
    to uint16 for b > 16 would spuriously match registers differing
    only in bits 16+ (the serialized b byte allows up to 64)."""
    if b_bits <= 16:
        return np.uint16
    if b_bits <= 32:
        return np.uint32
    return np.uint64


def _bbmh_cards_batch(U: np.ndarray, lg_r: int) -> np.ndarray:
    """Distinct-cardinality estimates for (n, r) one-permutation
    register matrices — the BBitMinHash.estimate formula whole-batch
    (shared by the plain and counting b-bit kernels)."""
    r = 1 << lg_r
    occ = U != _U64_SENT
    nf = occ.sum(axis=1).astype(np.float64)
    under = nf < r
    with np.errstate(divide="ignore", invalid="ignore"):
        lin = r * np.log(np.where(under & (nf > 0), r / (r - nf), 1.0))
        base = (np.arange(r, dtype=np.uint64) << np.uint64(64 - lg_r))[None, :]
        local = (U - base).astype(np.float64) * (r / float(2**64))
        mean_min = local.mean(axis=1)
        sat = np.where(
            mean_min > 0.0, r * np.maximum(0.0, 1.0 / mean_min - 1.0), np.inf
        )
    return np.where(nf == 0, 0.0, np.where(under, lin, sat))


def bbmh_triple_batch(
    sks, ia: np.ndarray, ib: np.ndarray, estimator: str = "default"
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch b-bit MinHash triples over (n_uniq, r) uint64 registers."""
    lg_r, b_bits = sks[0].lg_r, sks[0].b
    U = np.stack([s.mins for s in sks])
    r = 1 << lg_r
    occ = U != _U64_SENT                       # (n_uniq, r) bool
    # compared signature: low b bits, narrowed (by b) so per-pair
    # traffic is 2-8 bytes/register instead of always 8
    sig = (U & np.uint64((1 << b_bits) - 1)).astype(_sig_dtype(b_bits))
    cards = _bbmh_cards_batch(U, lg_r)

    def _pairwise(ja: np.ndarray, jb: np.ndarray):
        occ_a, occ_b = occ[ja], occ[jb]
        both = occ_a & occ_b
        ne = (occ_a | occ_b).sum(axis=1).astype(np.float64)
        match = (sig[ja] == sig[jb]) & both
        with np.errstate(divide="ignore", invalid="ignore"):
            frac = np.where(ne > 0, match.sum(axis=1) / ne, 0.0)
        c = 2.0 ** (-b_bits)
        ji = np.where(ne > 0, np.maximum(0.0, (frac - c) / (1.0 - c)), 0.0)
        return _triple_from_ji_batch(ji, cards[ja], cards[jb])

    return _concat_triples(
        [_pairwise(ia[s:e], ib[s:e]) for s, e in _pair_chunks(len(ia), 8 * r)]
    )


def smh_triple_batch(
    sks, ia: np.ndarray, ib: np.ndarray, estimator: str = "default"
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch SuperMinHash triples over (n_uniq, m) float64 registers."""
    U = np.stack([s.vals for s in sks])
    m = U.shape[1]
    fin = np.isfinite(U)
    nf = fin.sum(axis=1).astype(np.float64)
    s = np.log1p(-np.where(fin, U, 0.0) / m).sum(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        cards = np.where((nf > 0) & (s < 0.0), -nf / s, 0.0)

    # dense-rank the distinct register values: per-pair compares move
    # int32 codes instead of float64 (exact — codes come from np.unique);
    # empty registers (+inf) get code -1, excluded by the >= 0 masks
    _, codes_flat = np.unique(U, return_inverse=True)
    C = codes_flat.reshape(U.shape).astype(np.int32)
    C[~fin] = -1
    def _pairwise(ja: np.ndarray, jb: np.ndarray):
        Ca, Cb = C[ja], C[jb]
        both = (Ca >= 0) & (Cb >= 0)
        nboth = both.sum(axis=1).astype(np.float64)
        ne = nf[ja] + nf[jb] - nboth
        match = (Ca == Cb) & both
        with np.errstate(divide="ignore", invalid="ignore"):
            ji = np.where(ne > 0, match.sum(axis=1) / ne, 0.0)
        return _triple_from_ji_batch(ji, cards[ja], cards[jb])

    return _concat_triples(
        [_pairwise(ia[s:e], ib[s:e]) for s, e in _pair_chunks(len(ia), 8 * m)]
    )


def hmh_triple_batch(
    sks, ia: np.ndarray, ib: np.ndarray, estimator: str = "default"
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch HyperMinHash triples over (n_uniq, m) uint16 registers.

    The Ertl MLE (lockstep bisection — the expensive part) runs once per
    DISTINCT sketch; only register matching runs at pair width."""
    p, b_bits = sks[0].p, sks[0].b
    U = np.stack([s.regs for s in sks])
    m = float(1 << p)
    q = 64 - p
    occ = U != 0
    ranks = (U >> np.uint16(b_bits)).astype(np.int64)
    hist = hll.row_histograms(ranks, q + 2)  # bin 0 = unoccupied (rank >= 1)
    nocc = occ.sum(axis=1).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        pr = np.where(nocc[:, None] > 0, hist[:, 1:] / nocc[:, None], 0.0)
    cards = hmh_estimator(estimator)(hist, m, q)

    def _pairwise(ja: np.ndarray, jb: np.ndarray):
        occ_a, occ_b = occ[ja], occ[jb]
        ne = (occ_a | occ_b).sum(axis=1).astype(np.float64)
        match = (U[ja] == U[jb]) & occ_a & occ_b
        with np.errstate(divide="ignore", invalid="ignore"):
            frac = np.where(ne > 0, match.sum(axis=1) / ne, 0.0)
        p_rank_eq = np.where(
            (nocc[ja] > 0) & (nocc[jb] > 0), (pr[ja] * pr[jb]).sum(axis=1), 1.0
        )
        coll = (2.0 ** (-b_bits)) * p_rank_eq
        ji = np.where(ne > 0, np.maximum(0.0, (frac - coll) / (1.0 - coll)), 0.0)
        return _triple_from_ji_batch(ji, cards[ja], cards[jb])

    return _concat_triples(
        [_pairwise(ia[s:e], ib[s:e]) for s, e in _pair_chunks(len(ia), int(2 * m))]
    )


_POPCNT8_TABLE = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)


def bloom_triple_batch(
    sks, ia: np.ndarray, ib: np.ndarray, estimator: str = "default"
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch Bloom set triples over (n_uniq, w) uint64 word matrices."""
    lg_bits, k = sks[0].lg_bits, sks[0].k
    U = np.stack([s.words for s in sks])
    m = float(1 << lg_bits)

    def _card_from_pop(x: np.ndarray) -> np.ndarray:
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(x >= m, np.inf, -(m / k) * np.log(1.0 - x / m))

    pop = _POPCNT8_TABLE[U.view(np.uint8)].sum(axis=1).astype(np.float64)
    cards = _card_from_pop(pop)

    def _pairwise(ja: np.ndarray, jb: np.ndarray):
        upop = (
            _POPCNT8_TABLE[np.bitwise_or(U[ja], U[jb]).view(np.uint8)]
            .sum(axis=1)
            .astype(np.float64)
        )
        cu = _card_from_pop(upop)
        ca, cb = cards[ja], cards[jb]
        # fmax, not maximum: saturated filters estimate inf, and inf-inf=nan
        # must clamp to 0.0 exactly like the scalar path's Python max()
        with np.errstate(invalid="ignore"):
            inter = np.fmax(0.0, ca + cb - cu)
            return np.fmax(0.0, cu - cb), np.fmax(0.0, cu - ca), inter

    return _concat_triples(
        [
            _pairwise(ia[s:e], ib[s:e])
            for s, e in _pair_chunks(len(ia), 16 * U.shape[1])
        ]
    )


def crmh_triple_batch(
    sks, ia: np.ndarray, ib: np.ndarray, estimator: str = "default"
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch CountingKMV weighted triples — the histogram-intersection
    JI (Σ min(ca,cb) / Σ max over the union bottom-k, dashing's
    wjaccard semantics) via one provenance-carrying row sort per pair
    chunk. Multiset sizes are mean-sampled-count × distinct estimate,
    exactly the scalar path's formula; integer count sums keep the
    division bit-identical to the scalar kernel."""
    k = sks[0].k
    lens = np.array([len(s.mins) for s in sks], np.int64)
    M = _padded([s.mins for s in sks], k, _U64_SENT, np.uint64)
    CNT = _padded([s.counts for s in sks], k, 0, np.int64)

    u64 = float(2**64)
    kth = M[:, k - 1].astype(np.float64) + 1.0
    cards = np.where(lens < k, lens.astype(np.float64), (k - 1) * u64 / kth)
    with np.errstate(divide="ignore", invalid="ignore"):
        wsize = np.where(
            lens > 0, (CNT.sum(axis=1) / lens) * cards, 0.0
        )

    # dense-rank values to int32 codes (order-preserving); sentinel pads
    # sort last. A genuine hash equal to the sentinel (P = 2^-64) is
    # ignored, as in the plain-KMV kernel.
    uvals, codes_flat = np.unique(M, return_inverse=True)
    C = codes_flat.reshape(M.shape).astype(np.int32)
    sent_code = np.int32(len(uvals) - 1) if uvals[-1] == _U64_SENT else np.int32(-2)

    # fast path: pack (code, count) into one int64 sort key when every
    # count fits 31 bits (codes are dense ranks, far below 2^32, so the
    # packed key fits int64) — one plain row sort instead of argsort +
    # two gathers, ~3x less memory traffic. Count order within an
    # equal-code run doesn't matter: min/max of the run's two counts is
    # taken either way, so packed and argsort paths are value-identical.
    packable = bool(CNT.max(initial=0) < (1 << 31))

    def _pairwise(ja: np.ndarray, jb: np.ndarray):
        V = np.concatenate([C[ja], C[jb]], axis=1)          # (n, 2k)
        W = np.concatenate([CNT[ja], CNT[jb]], axis=1)
        if packable:
            Ks = np.sort(
                (V.astype(np.int64) << np.int64(31)) | W, axis=1
            )
            Vs = (Ks >> np.int64(31)).astype(np.int32)
            Ws = Ks & np.int64((1 << 31) - 1)
        else:
            order = np.argsort(V, axis=1, kind="stable")
            Vs = np.take_along_axis(V, order, axis=1)
            Ws = np.take_along_axis(W, order, axis=1)
        dupn = (Vs[:, 1:] == Vs[:, :-1]) & (Vs[:, 1:] != sent_code)
        dup = np.zeros_like(Vs, dtype=bool)
        dup[:, 1:] = dupn
        genuine = Vs != sent_code
        rank_dt = np.int16 if 2 * k < 32767 else np.int32
        rank = np.arange(2 * k, dtype=rank_dt)[None, :] - np.cumsum(
            dup, axis=1, dtype=rank_dt
        )
        in_k = rank < k
        # shared union elements sit as equal-adjacent runs of length 2:
        # min/max of the run's two counts, attributed at the dup position
        pmin = np.minimum(Ws[:, 1:], Ws[:, :-1])
        pmax = np.maximum(Ws[:, 1:], Ws[:, :-1])
        shared = dupn & in_k[:, 1:]
        smin = np.where(shared, pmin, 0).sum(axis=1)
        smax = np.where(shared, pmax, 0).sum(axis=1)
        # singletons (present one side only): max contribution = own count
        first_of_pair = np.zeros_like(dup)
        first_of_pair[:, :-1] = dupn
        single = genuine & ~dup & ~first_of_pair & in_k
        smax = smax + np.where(single, Ws, 0).sum(axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            ji = np.where(smax > 0, smin / smax, 0.0)
        return _triple_from_ji_batch(ji, wsize[ja], wsize[jb])

    return _concat_triples(
        [_pairwise(ia[s:e], ib[s:e]) for s, e in _pair_chunks(len(ia), 24 * k)]
    )


def cbbmh_triple_batch(
    sks, ia: np.ndarray, ib: np.ndarray, estimator: str = "default"
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch counting-b-bit-MinHash weighted triples (Ruzicka JI from
    matched b-bit registers with the collision correction, multiset
    sizes as filled-bucket mean count × BBMH distinct estimate —
    mirror of the scalar cbbmh branch of set_triple_any)."""
    lg_r, b_bits = sks[0].lg_r, sks[0].b
    M = np.stack([s.mins for s in sks])
    CNT = np.stack([s.counts for s in sks])
    r = 1 << lg_r
    filled = M != _U64_SENT
    sig = (M & np.uint64((1 << b_bits) - 1)).astype(_sig_dtype(b_bits))
    cards = _bbmh_cards_batch(M, lg_r)
    nfill = filled.sum(axis=1)
    csum = np.where(filled, CNT, 0).sum(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        wsize = np.where(nfill > 0, (csum / nfill) * cards, 0.0)

    c = 2.0 ** (-b_bits)

    def _pairwise(ja: np.ndarray, jb: np.ndarray):
        fa, fb = filled[ja], filled[jb]
        either = fa | fb
        match = (sig[ja] == sig[jb]) & fa & fb
        ca_i, cb_i = CNT[ja], CNT[jb]
        num = np.where(match, np.minimum(ca_i, cb_i), 0).sum(axis=1)
        den = np.where(
            either,
            np.maximum(np.where(fa, ca_i, 0), np.where(fb, cb_i, 0)),
            0,
        ).sum(axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = np.where(den > 0, num / den, 0.0)
        ji = np.where(den > 0, np.maximum(0.0, (raw - c) / (1.0 - c)), 0.0)
        return _triple_from_ji_batch(ji, wsize[ja], wsize[jb])

    return _concat_triples(
        [_pairwise(ia[s:e], ib[s:e]) for s, e in _pair_chunks(len(ia), 16 * r)]
    )


def hll_triple_batch(
    sks, ia: np.ndarray, ib: np.ndarray, estimator: str = "default"
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """HLL triples through :func:`hll.triple_batch`, where "default" is
    the pair stage's own (:data:`hll.PAIR_DEFAULT_ESTIMATOR`)."""
    name = hll.resolve_estimator(estimator, hll.PAIR_DEFAULT_ESTIMATOR)
    return hll.triple_batch(np.stack([s.regs for s in sks]), sks[0].p, ia, ib, name)


#: sketch class -> (the params two sketches must share to go through one
#: batch kernel, that kernel)
_PAIR_KERNELS = {
    HLL: (lambda s: s.p, hll_triple_batch),
    KMV: (lambda s: s.k, kmv_triple_batch),
    BloomFilter: (lambda s: (s.lg_bits, s.k), bloom_triple_batch),
    BBitMinHash: (lambda s: (s.lg_r, s.b), bbmh_triple_batch),
    HyperMinHash: (lambda s: (s.p, s.b), hmh_triple_batch),
    SuperMinHash: (lambda s: s.m, smh_triple_batch),
    CountingKMV: (lambda s: s.k, crmh_triple_batch),
    CountingBBitMinHash: (lambda s: (s.lg_r, s.b), cbbmh_triple_batch),
}


def triple_batch_from_blobs(a_blobs, b_blobs, estimator: str = "default"):
    """Set triples (t0, t1, t2) as float64 arrays for row-aligned sketch
    blob sequences — the pair stage's one entry.

    Each distinct blob is deserialized once; the distinct sketches are
    grouped by (type, params), and each group's pairs go through that
    type's batch kernel. Only a pair whose two sides differ in params
    (mixed-k KMV is the case the scalar code can compare) goes through
    :func:`set_triple_any`; an incomparable pair raises there."""
    hll.resolve_estimator(estimator)  # ValueError for an unknown name
    uniq, ia, ib = _dedupe_blobs(list(a_blobs), list(b_blobs))
    sks = [sketch_from_bytes(x) for x in uniq]
    groups: dict = {}
    gid = np.empty(len(sks), dtype=np.int64)
    for j, sk in enumerate(sks):
        if type(sk) not in _PAIR_KERNELS:
            raise TypeError(f"no set triple for sketch type {type(sk).__name__}")
        params = _PAIR_KERNELS[type(sk)][0](sk)
        gid[j] = groups.setdefault((type(sk), params), len(groups))
    out = np.empty((3, len(ia)), dtype=np.float64)
    same = gid[ia] == gid[ib]
    for (cls, _), g in groups.items():
        rows = np.flatnonzero(same & (gid[ia] == g))
        if not len(rows):
            continue
        members = np.flatnonzero(gid == g)
        local = np.empty(len(sks), dtype=np.int64)
        local[members] = np.arange(len(members))
        kernel = _PAIR_KERNELS[cls][1]
        out[:, rows] = kernel(
            [sks[j] for j in members], local[ia[rows]], local[ib[rows]], estimator
        )
    for i in np.flatnonzero(~same):
        out[:, i] = set_triple_any(sks[ia[i]], sks[ib[i]], estimator)
    return out[0], out[1], out[2]
