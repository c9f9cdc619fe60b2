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
"""

from __future__ import annotations

import math

import numpy as np

from dashing_spark.functions.bbmh import BBitMinHash, bbmh_jaccard
from dashing_spark.functions.bloom import BloomFilter
from dashing_spark.functions.cbbmh import CountingBBitMinHash, cbbmh_weighted_jaccard
from dashing_spark.functions.crmh import CountingKMV, crmh_histogram_intersection
from dashing_spark.functions.hll import HLL
from dashing_spark.functions.hll import set_triple as hll_set_triple
from dashing_spark.functions.hmh import HyperMinHash, hmh_jaccard
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
        if estimator in ("ertl_joint_mle", "ertl_joint"):
            t0, t1, t2 = hll_joint_triple_batch(
                a.regs[None, :], b.regs[None, :], a.p
            )
            return float(t0[0]), float(t1[0]), float(t2[0])
        est = "ertl_mle" if estimator == "default" else estimator
        return hll_set_triple(a, b, est)
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
# Vectorized HLL batch kernel (the hot path of the pair stage)
# ---------------------------------------------------------------------------


def _sigma_vec(x: np.ndarray) -> np.ndarray:
    y = np.ones_like(x)
    z = x.copy()
    x = x.copy()
    for _ in range(64):
        x *= x
        z_prev = z.copy()
        z += x * y
        y += y
        if np.all((z == z_prev) | ~np.isfinite(z)):
            break
    z[x >= 1.0] = np.inf  # x==1 input ⇒ divergent series
    return z


def _tau_vec(x: np.ndarray) -> np.ndarray:
    out_zero = (x == 0.0) | (x == 1.0)
    x = x.copy()
    y = np.ones_like(x)
    z = 1.0 - x
    for _ in range(64):
        x = np.sqrt(x)
        z_prev = z.copy()
        y *= 0.5
        z -= ((1.0 - x) ** 2) * y
        if np.all(z == z_prev):
            break
    z /= 3.0
    z[out_zero] = 0.0
    return z


def _row_histograms(vals: np.ndarray, n_buckets: int) -> np.ndarray:
    """Per-row histograms of an (nrows, m) int matrix via flat bincounts.

    Index arithmetic runs in int32 over row CHUNKS sized so the flat
    index array stays cache-resident: on a memory-bandwidth-bound host
    the full-matrix int64 variant is 17-43x slower (measured 9.8 s vs
    0.23 s for 5000x16384) because it streams an 8-byte temp per
    register. Chunking caps the temp at ~16 MB regardless of nrows and
    keeps every flat index < 2^31 by construction."""
    nrows, m = vals.shape
    out = np.empty((nrows, n_buckets), dtype=np.float64)
    # chunk so chunk*m int32 temp ≈ 16 MB and chunk*n_buckets < 2^31
    chunk = max(1, min(nrows, (4 << 20) // max(m, 1)))
    off = (np.arange(chunk, dtype=np.int32) * n_buckets)[:, None]
    for s in range(0, nrows, chunk):
        e = min(s + chunk, nrows)
        flat = (vals[s:e].astype(np.int32) + off[: e - s]).ravel()
        out[s:e] = np.bincount(flat, minlength=(e - s) * n_buckets).reshape(
            e - s, n_buckets
        )
    return out


def _ertl_improved_from_hist(c: np.ndarray, m: float, q: int) -> np.ndarray:
    """Ertl improved-raw estimator over (nrows, q+2) histograms."""
    denom = m * _tau_vec(1.0 - c[:, q + 1] / m)
    for k in range(q, 0, -1):
        denom += c[:, k]
        denom *= 0.5
    denom += m * _sigma_vec(c[:, 0] / m)
    alpha_inf = 1.0 / (2.0 * math.log(2.0))
    return alpha_inf * m * m / denom


def hll_estimate_batch(regs: np.ndarray, p: int) -> np.ndarray:
    """Ertl improved-raw estimates for a (nrows, m) uint8 register matrix
    — whole-batch, no per-row Python. Used by the pair-comparison UDF."""
    q = 64 - p
    c = _row_histograms(regs, q + 2)
    return _ertl_improved_from_hist(c, float(regs.shape[1]), q)


def _mle_dll_batch(lam: np.ndarray, c: np.ndarray, m: float, q: int) -> np.ndarray:
    """Vectorized d/dλ of the Poisson log-likelihood (Ertl 2017 §3) for
    (nrows,) λ against (nrows, q+2) register histograms.

    Each bin's exp(-λ/(m·2^k)) is evaluated DIRECTLY with exp/expm1 of
    the exact exponent — never by repeated squaring from k=q, where
    exp(-λ/(m·2^q)) rounds to exactly 1.0 for any realistic λ and stays
    1.0 through every squaring (total precision loss). Only bins with a
    nonzero count anywhere in the batch are evaluated; histograms are
    concentrated around log2(n/m), so this is ~15 bins, not q."""
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        dll = -c[:, 0] / m
        if np.any(c[:, q + 1] > 0):
            g = 1.0 / (m * float(1 << q))
            w = lam * g
            # g·e^{-w}/(1-e^{-w}) = g·e^{-w}/(-expm1(-w)); w→0 ⇒ ≈ 1/λ
            sat = g * np.exp(-w) / (-np.expm1(-w))
            dll = dll + np.where(c[:, q + 1] > 0, c[:, q + 1] * sat, 0.0)
        for k in range(1, q + 1):
            ck = c[:, k]
            if not np.any(ck > 0):
                continue
            a = 1.0 / (m * float(1 << k))
            w = lam * a
            e = np.exp(-w)
            # (-a·e_a + 2a·e_a²)/(e_a − e_a²) = a·(2e−1)/(-expm1(-w))
            term = a * (2.0 * e - 1.0) / (-np.expm1(-w))
            dll = dll + np.where(ck > 0, ck * term, 0.0)
    return dll


def ertl_mle_batch(c: np.ndarray, m: float, q: int) -> np.ndarray:
    """Vectorized Poisson-MLE cardinality over (nrows, q+2) histograms —
    lock-step bracketed bisection on dL/dλ, seeded by improved-raw."""
    imp = _ertl_improved_from_hist(c, m, q)
    x0 = np.maximum(np.nan_to_num(imp, nan=1e-12, posinf=1e30), 1e-12)
    lo, hi = x0.copy(), x0.copy()
    for _ in range(140):
        need = _mle_dll_batch(lo, c, m, q) <= 0.0
        if not need.any():
            break
        lo[need] *= 0.5
    for _ in range(140):
        need = _mle_dll_batch(hi, c, m, q) >= 0.0
        if not need.any():
            break
        hi[need] *= 2.0
    for _ in range(100):
        mid = 0.5 * (lo + hi)
        gt = _mle_dll_batch(mid, c, m, q) > 0.0
        lo = np.where(gt, mid, lo)
        hi = np.where(gt, hi, mid)
        if np.all(hi - lo <= 1e-9 * hi):
            break
    out = 0.5 * (lo + hi)
    out = np.where(c[:, 0] == m, 0.0, out)        # empty sketch
    out = np.where(c[:, q + 1] == m, imp, out)    # fully saturated
    return out


def hll_joint_triple_batch(
    a_regs: np.ndarray, b_regs: np.ndarray, p: int, n_cycles: int = 3
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Ertl joint-MLE set triples (Ertl 2017 §4; the reference's
    ERTL_JOINT_MLE, used by readfilt — /root/reference/src/readfilt.cpp:118,
    flag src/distmain.cpp:59-62), vectorized in lockstep over row-aligned
    register-matrix pairs.

    Model (re-derived from the Poisson model, not transcribed): with
    independent exclusive cardinalities (λa, λb, λx) of A\\B, B\\A, A∩B,
    K_A = max(K_a, K_x) and K_B = max(K_b, K_x), so
      P(K_A ≤ s, K_B ≤ t) = z(min(s,t), λx)·z(s, λa)·z(t, λb),
      z(k, λ) = exp(−λ·2^{−k}/m)  (z(q+1)=1, z(−1)=0).
    The register-pair cell probabilities factor per comparison branch
    (with w_a = λa·2^{−s}/m, w_bx = (λb+λx)·2^{−t}/m, etc.):
      s > t:  P = e^{−w_a}(1−e^{−w_a}) · e^{−w_bx}(1−e^{−w_bx})
              (t = 0 second factor: e^{−w_bx}; s = q+1 first: 1−e^{−w_a})
      s < t:  symmetric
      s = t = k: P = e^{−g}[expm1(−u)·expm1(−v) + e^{ξ−u−v} − e^{−u−v}],
              u = (λa+λx)r_k, v = (λb+λx)r_k, ξ = λx·r_k, g = u+v−ξ
              (k = 0: P = e^{−g}; k = q+1: drop the e^{−g} factor).
    Everything is evaluated through exp/expm1 of EXACT exponents — never
    differences of numbers near 1 (a z-value table loses all precision at
    λ·2^{−k}/m < 1e−16, which is the common case for k near q). The joint
    log-likelihood is maximized coordinate-wise by bracketed bisection on
    the analytic ∂logL/∂λ, all pairs advancing in lockstep (pure numpy).
    Exploits the per-register PAIRING that inclusion–exclusion throws
    away — substantially lower variance at low/moderate overlap."""
    n, m_i = a_regs.shape
    # rows are independent (lockstep bisection never couples pairs), so
    # large batches are processed in chunks that cap the (chunk, m)
    # int64 temporaries (va/vb/cell-id/group-id ≈ 32 B/register) at
    # ~256 MB — a 20k-pair p=14 batch would otherwise materialize ~8 GB.
    # Chunking is bit-identical: each row's COO cells, seeds, and
    # bisection path are untouched.
    chunk = max(1, (8 << 20) // max(m_i, 1))
    if n > chunk:
        parts = [
            hll_joint_triple_batch(
                a_regs[s : s + chunk], b_regs[s : s + chunk], p, n_cycles
            )
            for s in range(0, n, chunk)
        ]
        return tuple(np.concatenate(col) for col in zip(*parts))
    m = float(m_i)
    q = 64 - p
    va = a_regs.astype(np.int64)
    vb = b_regs.astype(np.int64)

    # sparse per-row 2-D histogram: COO (row, ka, kb, weight)
    width = q + 2
    combined = va * width + vb  # (n, m) cell ids
    gid = (np.arange(n, dtype=np.int64) * (width * width))[:, None] + combined
    uniq, w = np.unique(gid.ravel(), return_counts=True)
    rows = uniq // (width * width)
    cell = uniq % (width * width)
    s = cell // width  # ka per cell
    t = cell % width   # kb per cell
    w = w.astype(np.float64)

    # seeds from the inclusion–exclusion triple (improved raw)
    ca = _ertl_improved_from_hist(_row_histograms(va, width), m, q)
    cb = _ertl_improved_from_hist(_row_histograms(vb, width), m, q)
    cu = _ertl_improved_from_hist(_row_histograms(np.maximum(va, vb), width), m, q)
    la0 = np.maximum(cu - cb, 1.0)
    lb0 = np.maximum(cu - ca, 1.0)
    lx0 = np.maximum(ca + cb - cu, 1.0)

    # per-cell branch classification and rates (fixed across iterations).
    # Every cell belongs to exactly one branch, so the iteration loop
    # gathers each branch's cells ONCE and evaluates its formula only
    # there — the per-cell values (hence the bincount below) are
    # bit-identical to evaluating every formula full-width and masking,
    # at ~1/3 the exp/expm1 work (dll dominates the bisection cost).
    br_gt = s > t
    br_lt = s < t
    br_eq0 = (s == t) & (s == 0)
    br_eqk = (s == t) & (s >= 1)          # includes the saturated cell
    pow2 = 2.0 ** -np.arange(q + 2, dtype=np.float64)
    r_s = pow2[np.minimum(s, q)] / m      # s = q+1 uses the z(q) rate
    r_t = pow2[np.minimum(t, q)] / m
    i_gt = np.flatnonzero(br_gt)
    i_lt = np.flatnonzero(br_lt)
    i_eq0 = np.flatnonzero(br_eq0)
    i_eqk = np.flatnonzero(br_eqk)
    rows_gt, rows_lt, rows_eqk = rows[i_gt], rows[i_lt], rows[i_eqk]
    rs_gt, rt_gt = r_s[i_gt], r_t[i_gt]
    rs_lt, rt_lt = r_s[i_lt], r_t[i_lt]
    rs_eqk = r_s[i_eqk]
    sat_s_gt = s[i_gt] == q + 1
    sat_t_lt = t[i_lt] == q + 1
    tzero_gt = t[i_gt] == 0
    szero_lt = s[i_lt] == 0
    eq_sat = s[i_eqk] == q + 1

    def _dlog_pair_factor(wv, r, sat):
        """d/dλ of log[e^{−w}(1−e^{−w})] = r(2e^{−w}−1)/(1−e^{−w}),
        or of log[1−e^{−w}] = r·e^{−w}/(1−e^{−w}) at the saturated index."""
        e = np.exp(-wv)
        den = np.maximum(-np.expm1(-wv), 1e-300)
        return np.where(sat, r * e / den, r * (2.0 * e - 1.0) / den)

    def dll(la, lb, lx, ci, act=None):
        """Per-row ∂logL/∂λ_ci, assembled from the analytic per-branch
        derivatives of the stable cell-probability forms.

        ``act`` (bool per row, or None = all) restricts evaluation to
        the rows whose bracket is still moving: per-row sums are each
        accumulated over that row's own cells in unchanged cell order
        (boolean gather preserves relative order), so an active row's
        derivative is BIT-IDENTICAL to the full-width evaluation and
        the bisection trajectory is unchanged — inactive rows return 0
        and are never read by the gated updates. Rows converge at very
        different speeds, so skipping the settled ones cuts the
        exp/expm1 volume several-fold late in each bracket."""
        if act is None:
            mc = np.ones(len(s), dtype=bool)
        else:
            mc = act[rows]
        pos = np.cumsum(mc) - 1  # cell id -> index in compressed array
        contrib = np.zeros(int(mc.sum()))
        rows_c = rows[mc]
        w_c = w[mc]
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            sg = mc[i_gt]
            rg = rows_gt[sg]
            if ci == 0:
                d_gt = _dlog_pair_factor(
                    la[rg] * rs_gt[sg], rs_gt[sg], sat_s_gt[sg]
                )
            else:  # λb and λx enter the s>t branch only via (λb+λx)·r_t
                d_gt = np.where(
                    tzero_gt[sg],
                    -rt_gt[sg],
                    _dlog_pair_factor(
                        (lb[rg] + lx[rg]) * rt_gt[sg], rt_gt[sg], False
                    ),
                )
            contrib[pos[i_gt[sg]]] = d_gt
            sl = mc[i_lt]
            rl = rows_lt[sl]
            if ci == 1:
                d_lt = _dlog_pair_factor(
                    lb[rl] * rt_lt[sl], rt_lt[sl], sat_t_lt[sl]
                )
            else:  # λa and λx enter the s<t branch only via (λa+λx)·r_s
                d_lt = np.where(
                    szero_lt[sl],
                    -rs_lt[sl],
                    _dlog_pair_factor(
                        (la[rl] + lx[rl]) * rs_lt[sl], rs_lt[sl], False
                    ),
                )
            contrib[pos[i_lt[sl]]] = d_lt
            # s == t == 0: P = exp(−(λa+λb+λx)/m), same dlog for all coords
            contrib[pos[i_eq0[mc[i_eq0]]]] = -1.0 / m
            # s == t == k ≥ 1 (r_k = r_s = r_t here)
            sk_ = mc[i_eqk]
            rk_ = rows_eqk[sk_]
            lar, lbr, lxr = la[rk_], lb[rk_], lx[rk_]
            r_s_k = rs_eqk[sk_]
            u = (lar + lxr) * r_s_k
            v = (lbr + lxr) * r_s_k
            xi = lxr * r_s_k
            e1 = np.expm1(-u)
            e2 = np.expm1(-v)
            e3 = np.exp(-(u + v))
            e34 = np.exp(xi - u - v) - e3    # e^{−(u+v)}·(e^{ξ}−1), stable
            inner = np.maximum(e1 * e2 + e34, 1e-300)
            di_du = -np.exp(-u) * e2 - e34
            di_dv = -np.exp(-v) * e1 - e34
            if ci == 0:
                dnum = di_du
            elif ci == 1:
                dnum = di_dv
            else:
                dnum = di_du + di_dv + np.exp(xi - u - v)
            lead = np.where(eq_sat[sk_], 0.0, -r_s_k)  # d(−g)/dλ; absent at q+1
            contrib[pos[i_eqk[sk_]]] = lead + r_s_k * dnum / inner
        return np.bincount(rows_c, weights=w_c * contrib, minlength=n)

    params = [la0, lb0, lx0]
    for _ in range(n_cycles):  # coordinate cycles
        for ci in range(3):
            def d_at(lam, act=None, _ci=ci):
                vals = list(params)
                vals[_ci] = lam
                return dll(*vals, _ci, act=act)

            lo = params[ci].copy()
            hi = params[ci].copy()
            # expand from the seed: derivative > 0 means the peak is
            # right. A row that stops needing expansion never needs it
            # again (its bracket endpoint no longer moves), so each
            # pass evaluates the derivative only at still-needing rows
            # — values at those rows are bit-identical to full-width.
            need = d_at(lo) <= 0.0
            for _ in range(80):
                if not need.any():
                    break
                lo[need] *= 0.5
                need = need & (d_at(lo, act=need) <= 0.0)
            need = d_at(hi) >= 0.0
            for _ in range(80):
                if not need.any():
                    break
                hi[need] *= 2.0
                need = need & (d_at(hi, act=need) >= 0.0)
            # per-row gated: a converged row's bracket never moves again,
            # so every row's trajectory depends only on its own cells —
            # results are independent of batch composition (which makes
            # the chunked recursion above exactly reproducible)
            for _ in range(60):
                act = hi - lo > 1e-9 * hi
                if not act.any():
                    break
                mid = 0.5 * (lo + hi)
                gt = d_at(mid, act=act) > 0.0
                lo = np.where(act & gt, mid, lo)
                hi = np.where(act & ~gt, mid, hi)
            params[ci] = 0.5 * (lo + hi)
    la, lb, lx = params
    # degenerate rows: empty sketches have no information at all
    a_zero = (va == 0).all(axis=1)
    b_zero = (vb == 0).all(axis=1)
    la = np.where(a_zero, 0.0, la)
    lx = np.where(a_zero | b_zero, 0.0, lx)
    lb = np.where(b_zero, 0.0, lb)
    return la, lb, lx


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
    hist = _row_histograms(ranks, q + 2)  # bin 0 = unoccupied (rank >= 1)
    nocc = occ.sum(axis=1).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        pr = np.where(nocc[:, None] > 0, hist[:, 1:] / nocc[:, None], 0.0)
    if estimator in ("default", "ertl_mle"):
        cards = ertl_mle_batch(hist, m, q)
    else:
        cards = _ertl_improved_from_hist(hist, m, q)

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


def _flajolet_from_hist(c: np.ndarray, m: float, q: int) -> np.ndarray:
    """Flajolet et al. 2007 estimates with the linear-counting small-range
    correction (hll._flajolet_original) over (nrows, q+2) histograms:
    Σ 2^-register is Σ_k C[k]·2^-k."""
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(int(m), 0.7213 / (1.0 + 1.079 / m))
    est = alpha * m * m / (c @ np.exp2(-np.arange(q + 2, dtype=np.float64)))
    c0 = c[:, 0]
    with np.errstate(divide="ignore"):
        linear = m * np.log(m / np.where(c0 > 0, c0, m))
    return np.where((est <= 2.5 * m) & (c0 > 0), linear, est)


#: HLL estimator name -> per-row cardinality over (nrows, q+2) register
#: histograms (Ertl 2017, arXiv:1702.01284). The pair stage's "default"
#: is improved raw; ``compare`` and ``HLL.estimate`` default to the MLE.
_HLL_ESTIMATORS = {
    "default": _ertl_improved_from_hist,
    "ertl_improved": _ertl_improved_from_hist,
    "ertl_mle": ertl_mle_batch,
    "original": _flajolet_from_hist,
}
#: estimators of the whole triple at once (Ertl 2017 §4), not per sketch
_HLL_JOINT = frozenset(("ertl_joint_mle", "ertl_joint"))
_ESTIMATORS = frozenset(_HLL_ESTIMATORS) | _HLL_JOINT


def check_estimator(estimator: str) -> None:
    """Raise ValueError unless ``estimator`` names a pair-stage estimator."""
    if estimator not in _ESTIMATORS:
        raise ValueError(
            f"unknown estimator {estimator!r}; expected one of {sorted(_ESTIMATORS)}"
        )


def hll_pair_triple_batch(
    sks, ia: np.ndarray, ib: np.ndarray, estimator: str = "default"
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """HLL triples under ``estimator``: the joint estimators run Ertl's
    joint MLE on the gathered register pairs; the others take
    inclusion–exclusion with per-DISTINCT-sketch side cardinalities,
    so only the union register max + estimate is pairwise.

    The pairwise part runs gather → max → histogram FUSED over pair
    chunks: materializing the full (n_pairs, m) gathered matrices first
    streams ~3·n_pairs·m bytes through main memory and measured 4.6x
    slower than chunks whose temporaries stay cache-resident."""
    p = sks[0].p
    U = np.stack([s.regs for s in sks])
    if estimator in _HLL_JOINT:
        return hll_joint_triple_batch(U[ia], U[ib], p)
    q = 64 - p
    card = _HLL_ESTIMATORS[estimator]

    def est(regs: np.ndarray) -> np.ndarray:
        return card(_row_histograms(regs, q + 2), float(U.shape[1]), q)

    ca = est(U)
    n = len(ia)
    cu = np.empty(n, dtype=np.float64)
    chunk = max(1, (4 << 20) // max(U.shape[1], 1))
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        cu[s:e] = est(np.maximum(U[ia[s:e]], U[ib[s:e]]))
    inter = np.maximum(0.0, ca[ia] + ca[ib] - cu)
    return np.maximum(0.0, cu - ca[ib]), np.maximum(0.0, cu - ca[ia]), inter


#: sketch class -> (the params two sketches must share to go through one
#: batch kernel, that kernel)
_PAIR_KERNELS = {
    HLL: (lambda s: s.p, hll_pair_triple_batch),
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
    check_estimator(estimator)
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
