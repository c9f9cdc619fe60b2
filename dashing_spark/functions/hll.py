"""HyperLogLog with Ertl estimators — the reference's default sketch.

Semantics pinned by the reference's call sites (sketch construction
/root/reference/src/dashing.h:453-465, estimator flags
src/distmain.cpp:59-62, default Ertl-MLE src/distmain.cpp:37-38, register
fold `dashing fold` src/dashing.cpp:570-590) and by the published papers:
Flajolet et al. 2007 (original estimator) and Ertl 2017, arXiv:1702.01284
(improved raw estimator §2, Poisson MLE §3, joint MLE §4). The
implementation is whole-array numpy — a brand-new kernel, not a
translation.

Every HLL estimator is implemented here once, whole-batch over register
histograms, and resolved by name through one table, ``ESTIMATORS``:
``HLL.estimate`` is a one-row call, ``set_triple`` a one-pair call of
the triple kernel ``triple_batch`` that the pair stage
(``compare.triple_batch_from_blobs``) runs, and HyperMinHash and readfilt
call the same functions. ``"default"`` means the Poisson MLE for one
sketch or pair (``DEFAULT_ESTIMATOR``) and improved raw in the pair
stage (``PAIR_DEFAULT_ESTIMATOR``).

State: ``uint8[m]`` register array, m = 2**p. An item hash h is split as
  index = h >> (64 - p)            (top p bits)
  rank  = #leading zeros of the remaining 64-p bits, + 1, capped at 64-p+1
Registers keep the max rank seen — a commutative idempotent monoid, so
merge = elementwise max and any merge tree yields bit-identical state.
"""

from __future__ import annotations

import math
import struct

import numpy as np

_MAGIC = b"DSH1"
TYPE_ID = 1


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 (0 -> 0)."""
    x = x.copy()
    out = np.zeros(x.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        t = x >> np.uint64(shift)
        gt = t > 0
        out[gt] += shift
        x[gt] = t[gt]
    out += (x > 0).astype(np.int64)
    return out


def hash_idx_rank(h: np.ndarray, p: int) -> tuple[np.ndarray, np.ndarray]:
    """uint64 hashes -> (register index, rank) under THE hash-to-register
    convention: idx = top p bits; rank = leading zeros of the remaining
    64-p bits + 1, capped at 64-p+1. The single source of truth — both
    HLL.update_hashes and the readfilt per-row register build
    (operators/filter.py) call this, so the two can never leave the
    same hash family."""
    idx = (h >> np.uint64(64 - p)).astype(np.int64)
    rest = h << np.uint64(p)  # remaining 64-p bits, left-aligned
    # bit_length(rest)=64-lz; rest==0 -> rank = 64-p+1 (the cap).
    rank = np.minimum(
        np.uint8(64 - p + 1),
        (65 - _bit_length_u64(rest)).astype(np.uint8),
    )
    return idx, rank


class HLL:
    """Mergeable HyperLogLog register array."""

    __slots__ = ("p", "regs")

    def __init__(self, p: int, regs: np.ndarray | None = None):
        if not 4 <= p <= 24:
            raise ValueError(f"p out of range: {p}")
        self.p = p
        m = 1 << p
        if regs is None:
            regs = np.zeros(m, dtype=np.uint8)
        else:
            regs = np.asarray(regs, dtype=np.uint8)
            if regs.shape != (m,):
                raise ValueError("register array shape mismatch")
        self.regs = regs

    # -- construction ---------------------------------------------------
    @classmethod
    def empty(cls, p: int) -> "HLL":
        return cls(p)

    def update_hashes(self, hashes: np.ndarray) -> "HLL":
        """Add a batch of uint64 item hashes (vectorized)."""
        if len(hashes) == 0:
            return self
        idx, rank = hash_idx_rank(np.asarray(hashes, dtype=np.uint64), self.p)
        np.maximum.at(self.regs, idx, rank)
        return self

    # -- monoid ----------------------------------------------------------
    def merge(self, other: "HLL") -> "HLL":
        if other.p != self.p:
            raise ValueError(
                f"cannot merge HLL(p={self.p}) with HLL(p={other.p}); "
                "fold first (reference requires same-size merges, README.md:71-73)"
            )
        np.maximum(self.regs, other.regs, out=self.regs)
        return self

    def fold(self, p_new: int) -> "HLL":
        """Compress to a smaller precision (mirrors `dashing fold`,
        /root/reference/src/dashing.cpp:570-590: new register = max over
        the 2**(p-p') old registers that share the new index bits)."""
        if p_new > self.p:
            raise ValueError("fold can only reduce precision")
        if p_new == self.p:
            return HLL(self.p, self.regs.copy())
        m_new = 1 << p_new
        folded = self.regs.reshape(m_new, -1).max(axis=1)
        return HLL(p_new, folded)

    # -- estimators -------------------------------------------------------
    def estimate(self, estimator: str = "default") -> float:
        """Cardinality under ``estimator``: a one-row :func:`estimate_rows`."""
        return float(estimate_rows(self.regs[None, :], self.p, estimator)[0])

    # -- serde -------------------------------------------------------------
    def to_bytes(self) -> bytes:
        return _MAGIC + struct.pack("<BB", TYPE_ID, self.p) + self.regs.tobytes()

    @classmethod
    def from_bytes(cls, b: bytes) -> "HLL":
        if b[:4] != _MAGIC or b[4] != TYPE_ID:
            raise ValueError("not an HLL sketch blob")
        p = b[5]
        regs = np.frombuffer(b[6 : 6 + (1 << p)], dtype=np.uint8).copy()
        return cls(p, regs)

    def __eq__(self, other) -> bool:  # bit-identity, used by tests
        return (
            isinstance(other, HLL)
            and self.p == other.p
            and bool(np.array_equal(self.regs, other.regs))
        )


# ---------------------------------------------------------------------------
# Estimators (Ertl 2017, arXiv:1702.01284; Flajolet et al. 2007)
# ---------------------------------------------------------------------------
#
# Each estimator maps (nrows, q+2) register histograms (C[k] = #registers
# holding k, m registers, q = 64-p) to (nrows,) cardinalities.


def _sigma(x: np.ndarray) -> np.ndarray:
    """Ertl 2017 series for the C0 (zero-register) correction."""
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


def _tau(x: np.ndarray) -> np.ndarray:
    """Ertl 2017 series for the saturated-register correction."""
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


def row_histograms(vals: np.ndarray, n_buckets: int) -> np.ndarray:
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


def ertl_improved(c: np.ndarray, m: float, q: int) -> np.ndarray:
    """Ertl's improved raw estimator (2017 §2): unbiased over the whole
    cardinality range, no hard-coded small/large-range switches."""
    denom = m * _tau(1.0 - c[:, q + 1] / m)
    # registers k = q..1 (Horner over powers of two)
    for k in range(q, 0, -1):
        denom += c[:, k]
        denom *= 0.5
    denom += m * _sigma(c[:, 0] / m)
    alpha_inf = 1.0 / (2.0 * math.log(2.0))
    return alpha_inf * m * m / denom


def _mle_derivative(c: np.ndarray, m: float, q: int):
    """dL/dλ of the Poisson log-likelihood (Ertl 2017 §3) against
    (nrows, q+2) register histograms, as a function of (nrows,) λ:

      L(λ) = -C0·λ/m + Σ_{k=1..q} Ck·ln(e^{-λ/(m·2^k)} - e^{-λ/(m·2^{k-1})})
             + C_{q+1}·ln(1 - e^{-λ/(m·2^q)}).

    Each bin's exp(-λ/(m·2^k)) is evaluated DIRECTLY with exp/expm1 of
    the exact exponent — never by repeated squaring from k=q, where
    exp(-λ/(m·2^q)) rounds to exactly 1.0 for any realistic λ and stays
    1.0 through every squaring (total precision loss). Only the bins k
    in 1..q with a nonzero count in some row are evaluated; histograms
    are concentrated around log2(n/m), so this is ~15 bins, not q. They
    do not change while λ does, so they are gathered once here, not on
    each of a solve's ~40 evaluations; each evaluation computes them as
    one matrix and adds them up one bin at a time, in increasing k.
    Call it under ``np.errstate(divide="ignore", invalid="ignore",
    over="ignore")``: an empty or saturated row divides by zero."""
    bins = np.flatnonzero((c[:, 1 : q + 1] > 0).any(axis=0)) + 1
    ck, a = c[:, bins], 1.0 / (m * np.ldexp(1.0, bins))
    c_sat = c[:, q + 1]
    has_sat = bool(np.any(c_sat > 0))
    g = 1.0 / (m * float(1 << q))

    def dll(lam: np.ndarray) -> np.ndarray:
        out = -c[:, 0] / m
        if has_sat:
            w = lam * g
            # g·e^{-w}/(1-e^{-w}) = g·e^{-w}/(-expm1(-w)); w→0 ⇒ ≈ 1/λ
            sat = g * np.exp(-w) / (-np.expm1(-w))
            out = out + np.where(c_sat > 0, c_sat * sat, 0.0)
        w = lam[:, None] * a
        e = np.exp(-w)
        # (-a·e_a + 2a·e_a²)/(e_a − e_a²) = a·(2e−1)/(-expm1(-w))
        term = a * (2.0 * e - 1.0) / (-np.expm1(-w))
        terms = np.where(ck > 0, ck * term, 0.0)
        for j in range(terms.shape[1]):
            out = out + terms[:, j]
        return out

    return dll


def ertl_mle(c: np.ndarray, m: float, q: int) -> np.ndarray:
    """Poisson maximum-likelihood cardinality (Ertl 2017 §3, the
    reference default, its src/distmain.cpp:37-38) over
    (nrows, q+2) histograms — lock-step bracketed bisection on
    dL/dλ = 0, seeded by improved raw."""
    imp = ertl_improved(c, m, q)
    dll = _mle_derivative(c, m, q)
    x0 = np.maximum(np.nan_to_num(imp, nan=1e-12, posinf=1e30), 1e-12)
    lo, hi = x0.copy(), x0.copy()
    # one errstate for the whole solve: entering it costs more than a
    # one-row derivative evaluation
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        for _ in range(140):
            need = dll(lo) <= 0.0
            if not need.any():
                break
            lo[need] *= 0.5
        for _ in range(140):
            need = dll(hi) >= 0.0
            if not need.any():
                break
            hi[need] *= 2.0
        # per-row gated, as in joint_triple_batch: a converged row's
        # bracket never moves again, so each row follows its one-row
        # trajectory whatever rows share the call
        for _ in range(100):
            act = hi - lo > 1e-9 * hi
            if not act.any():
                break
            mid = 0.5 * (lo + hi)
            gt = dll(mid) > 0.0
            lo = np.where(act & gt, mid, lo)
            hi = np.where(act & ~gt, mid, hi)
    out = 0.5 * (lo + hi)
    out = np.where(c[:, 0] == m, 0.0, out)        # empty sketch
    out = np.where(c[:, q + 1] == m, imp, out)    # fully saturated
    return out


def flajolet_original(c: np.ndarray, m: float, q: int) -> np.ndarray:
    """Flajolet et al. 2007 estimator with the linear-counting small-range
    correction (`-E ORIGINAL` in the reference, src/distmain.cpp:59-62)
    over (nrows, q+2) histograms: Σ 2^-register is Σ_k C[k]·2^-k."""
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(int(m), 0.7213 / (1.0 + 1.079 / m))
    est = alpha * m * m / (c @ np.exp2(-np.arange(q + 2, dtype=np.float64)))
    c0 = c[:, 0]
    with np.errstate(divide="ignore"):
        linear = m * np.log(m / np.where(c0 > 0, c0, m))
    return np.where((est <= 2.5 * m) & (c0 > 0), linear, est)


#: estimator name -> per-row cardinality over (nrows, q+2) register
#: histograms — the one table every entry point resolves names through.
#: For a single sketch the joint model (§4) is the §3 Poisson model, so
#: the joint names give the MLE here; for a pair, :func:`triple_batch`
#: runs the joint MLE over the paired registers instead.
ESTIMATORS = {
    "ertl_improved": ertl_improved,
    "ertl_mle": ertl_mle,
    "original": flajolet_original,
    "ertl_joint_mle": ertl_mle,
    "ertl_joint": ertl_mle,
}
JOINT_ESTIMATORS = frozenset(("ertl_joint_mle", "ertl_joint"))
#: what "default" names for one sketch or one pair (HLL.estimate,
#: set_triple, compare.compare, HyperMinHash.estimate): the reference's
#: default, the Poisson MLE (its src/distmain.cpp:37-38)
DEFAULT_ESTIMATOR = "ertl_mle"
#: what "default" names in the pair stage (compare.triple_batch_from_blobs):
#: improved raw, closed form, since its union estimate runs once per pair
PAIR_DEFAULT_ESTIMATOR = "ertl_improved"


def resolve_estimator(estimator: str, default: str = DEFAULT_ESTIMATOR) -> str:
    """The :data:`ESTIMATORS` name ``estimator`` stands for ("default"
    means ``default``); ValueError for an unknown name."""
    name = default if estimator == "default" else estimator
    if name not in ESTIMATORS:
        raise ValueError(
            f"unknown estimator {estimator!r}; "
            f"expected one of {sorted({'default', *ESTIMATORS})}"
        )
    return name


def estimate_rows(regs: np.ndarray, p: int, estimator: str) -> np.ndarray:
    """Cardinality of each row of an (nrows, 2**p) register matrix."""
    q = 64 - p
    card = ESTIMATORS[resolve_estimator(estimator)]
    return card(row_histograms(regs, q + 2), float(1 << p), q)


# ---------------------------------------------------------------------------
# Joint / pairwise estimation
# ---------------------------------------------------------------------------


def joint_triple_batch(
    a_regs: np.ndarray, b_regs: np.ndarray, p: int, n_cycles: int = 3
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Ertl joint-MLE set triples (Ertl 2017 §4; the reference's
    ERTL_JOINT_MLE, used by readfilt — its src/readfilt.cpp:118,
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
            joint_triple_batch(
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
    ca = ertl_improved(row_histograms(va, width), m, q)
    cb = ertl_improved(row_histograms(vb, width), m, q)
    cu = ertl_improved(row_histograms(np.maximum(va, vb), width), m, q)
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


def triple_batch(
    regs: np.ndarray, p: int, ia: np.ndarray, ib: np.ndarray, estimator: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(|A\\B|, |B\\A|, |A∩B|) arrays for the register-row pairs
    (regs[ia], regs[ib]). The joint estimators run Ertl's joint MLE on
    the gathered pairs; the others take inclusion–exclusion (the
    reference's default JI path, its src/dashing.h:550-552)
    with one side estimate per row of ``regs``, so only the union
    register max + estimate is pairwise.

    The pairwise part runs gather → max → histogram FUSED over pair
    chunks: materializing the full (n_pairs, m) gathered matrices first
    streams ~3·n_pairs·m bytes through main memory and measured 4.6x
    slower than chunks whose temporaries stay cache-resident."""
    name = resolve_estimator(estimator)
    if name in JOINT_ESTIMATORS:
        return joint_triple_batch(regs[ia], regs[ib], p)
    ca = estimate_rows(regs, p, name)
    n = len(ia)
    cu = np.empty(n, dtype=np.float64)
    chunk = max(1, (4 << 20) // max(regs.shape[1], 1))
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        cu[s:e] = estimate_rows(np.maximum(regs[ia[s:e]], regs[ib[s:e]]), p, name)
    inter = np.maximum(0.0, ca[ia] + ca[ib] - cu)
    return np.maximum(0.0, cu - ca[ib]), np.maximum(0.0, cu - ca[ia]), inter


def set_triple(a: HLL, b: HLL, estimator: str = "default") -> tuple[float, float, float]:
    """(|A\\B|, |B\\A|, |A∩B|) of two sketches: one pair of
    :func:`triple_batch`."""
    if a.p != b.p:
        raise ValueError(f"cannot compare HLL(p={a.p}) with HLL(p={b.p}); fold first")
    t0, t1, t2 = triple_batch(
        np.stack([a.regs, b.regs]), a.p, np.array([0]), np.array([1]), estimator
    )
    return float(t0[0]), float(t1[0]), float(t2[0])


def jaccard_index(a: HLL, b: HLL, estimator: str = "default") -> float:
    t0, t1, t2 = set_triple(a, b, estimator)
    denom = t0 + t1 + t2
    return t2 / denom if denom > 0 else 0.0
