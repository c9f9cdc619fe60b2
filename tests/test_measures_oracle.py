"""FIXTURES.md §2 `sets` oracle: constructed-overlap set pairs with
closed-form truth for every SURVEY §2.4 measure, evaluated against all
JI-capable sketch types (HLL / KMV / BBMH / HMH) — the exact-set
ground-truth strategy dashing itself uses (--use-full-khash-sets,
/root/reference/README.md:116)."""

import math

import numpy as np
import pytest

from dashing_spark.functions import (
    HLL,
    KMV,
    BBitMinHash,
    HyperMinHash,
    SuperMinHash,
    hashing,
)
from dashing_spark.functions.compare import (
    MEASURES,
    compare,
    measure_from_triple,
    set_triple_any,
)

# (|A|, |B|, |A∩B|) spanning HLL regimes (linear counting → raw)
CASES = [
    (100, 100, 50),
    (1_000, 800, 200),
    (20_000, 20_000, 10_000),
    (100_000, 50_000, 25_000),
    (500_000, 500_000, 400_000),
    (50_000, 50_000, 0),
]

KSINV = 1.0 / 3.0


def _build(card_a, card_b, overlap, stride=10_000_000):
    a = np.arange(card_a)
    b = np.concatenate(
        [np.arange(card_a - overlap, card_a), stride + np.arange(card_b - overlap)]
    )
    return hashing.hash_int_array(a), hashing.hash_int_array(b)


def _truth(card_a, card_b, overlap):
    t0 = float(card_a - overlap)
    t1 = float(card_b - overlap)
    t2 = float(overlap)
    return {m: measure_from_triple(t0, t1, t2, m, KSINV) for m in MEASURES}


SKETCHES = {
    "hll_p14": (lambda: HLL.empty(14), 0.04),
    "kmv_2048": (lambda: KMV.empty(2048), 0.07),
    "bbmh": (lambda: BBitMinHash.empty(12, 16), 0.07),
    "hmh": (lambda: HyperMinHash.empty(12, 8), 0.07),
    "smh_1024": (lambda: SuperMinHash.empty(1024), 0.07),
}


class TestMeasuresOracle:
    @pytest.mark.parametrize("sketch_name", list(SKETCHES))
    @pytest.mark.parametrize("case", CASES, ids=lambda c: f"{c[0]}x{c[1]}o{c[2]}")
    def test_all_measures_within_tolerance(self, sketch_name, case):
        make, tol = SKETCHES[sketch_name]
        card_a, card_b, overlap = case
        ha, hb = _build(*case)
        sa = make().update_hashes(ha)
        sb = make().update_hashes(hb)
        truth = _truth(*case)
        for m in ("ji", "containment", "symmetric_containment"):
            est = compare(sa, sb, m, KSINV)
            assert abs(est - truth[m]) <= tol, (m, est, truth[m])
        # sizes: relative tolerance vs the union size
        union = card_a + card_b - overlap
        est_sizes = compare(sa, sb, "sizes", KSINV)
        assert abs(est_sizes - overlap) <= 3 * tol * union
        # distance transforms: compare through the transform of the
        # estimated vs true JI (bounded input ⇒ bounded output here)
        for m in ("mash_dist", "full_mash_dist"):
            est = compare(sa, sb, m, KSINV)
            assert abs(est - truth[m]) <= 0.25 or (
                truth[m] == 1.0 and est >= 0.5
            ), (m, est, truth[m])

    def test_zero_overlap_detected(self):
        ha, hb = _build(50_000, 50_000, 0)
        sa = HLL.empty(14).update_hashes(ha)
        sb = HLL.empty(14).update_hashes(hb)
        assert compare(sa, sb, "ji") <= 0.02
        assert compare(sa, sb, "mash_dist") >= 0.5  # "far" convention

    def test_self_comparison_is_identity(self):
        h, _ = _build(10_000, 10, 10)
        for make, _tol in SKETCHES.values():
            s = make().update_hashes(h)
            assert compare(s, s, "ji") >= 0.98
            assert compare(s, s, "containment") >= 0.98
            assert compare(s, s, "mash_dist", KSINV) <= 0.02


class TestErtlJointMLE:
    """The ERTL_JOINT_MLE triple estimator (readfilt default,
    /root/reference/src/readfilt.cpp:118): accuracy vs exact truth across
    overlap regimes, and variance vs inclusion–exclusion at low overlap."""

    @pytest.mark.parametrize("case", CASES, ids=lambda c: f"{c[0]}x{c[1]}o{c[2]}")
    def test_joint_within_tight_tolerance(self, case):
        ha, hb = _build(*case)
        sa = HLL.empty(14).update_hashes(ha)
        sb = HLL.empty(14).update_hashes(hb)
        truth = _truth(*case)
        for m in ("ji", "containment", "symmetric_containment"):
            est = compare(sa, sb, m, KSINV, estimator="ertl_joint_mle")
            assert abs(est - truth[m]) <= 0.03, (m, est, truth[m])

    def test_joint_beats_inclusion_exclusion_at_low_overlap(self):
        """The whole point of the joint estimator (Ertl 2017 §4): at low
        overlap the per-register pairing information it exploits gives a
        several-fold RMSE reduction over inclusion–exclusion."""
        rng = np.random.default_rng(42)
        p = 14
        na = nb = 100_000
        nx = 5_000  # true JI ≈ 0.026, the readfilt low-containment regime
        true_ci = nx / na
        se_j, se_i = [], []
        for _ in range(6):
            common = rng.integers(0, 2**64, nx, dtype=np.uint64)
            ax = rng.integers(0, 2**64, na - nx, dtype=np.uint64)
            bx = rng.integers(0, 2**64, nb - nx, dtype=np.uint64)
            sa = HLL.empty(p).update_hashes(np.concatenate([common, ax]))
            sb = HLL.empty(p).update_hashes(np.concatenate([common, bx]))
            for est_name, acc in (("ertl_joint_mle", se_j), ("ertl_mle", se_i)):
                ci = compare(sa, sb, "containment", estimator=est_name)
                acc.append((ci - true_ci) ** 2)
        rmse_j = math.sqrt(np.mean(se_j))
        rmse_i = math.sqrt(np.mean(se_i))
        assert rmse_j < rmse_i, (rmse_j, rmse_i)
        assert rmse_j <= 0.01

    def test_batch_matches_scalar_wrapper(self):
        from dashing_spark.functions.hll import joint_triple_batch, set_triple

        pairs = [CASES[1], CASES[3], CASES[5]]
        sks = []
        for c in pairs:
            ha, hb = _build(*c)
            sks.append(
                (HLL.empty(14).update_hashes(ha), HLL.empty(14).update_hashes(hb))
            )
        a = np.stack([x.regs for x, _ in sks])
        b = np.stack([y.regs for _, y in sks])
        t0, t1, t2 = joint_triple_batch(a, b, 14)
        for i, (x, y) in enumerate(sks):
            u0, u1, u2 = set_triple(x, y, "ertl_joint_mle")
            # same optimizer, but lockstep early-exit differs per batch
            # composition; agreement is to solver tolerance, not bitwise
            for got, want in ((t0[i], u0), (t1[i], u1), (t2[i], u2)):
                assert got == pytest.approx(want, rel=1e-3, abs=1.0)

    def test_empty_sketch_degenerate(self):
        ha, _ = _build(10_000, 10, 10)
        sa = HLL.empty(14).update_hashes(ha)
        empty = HLL.empty(14)
        t0, t1, t2 = set_triple_any(sa, empty, "ertl_joint_mle")
        assert t2 == 0.0 and t1 == 0.0 and t0 > 9_000
