"""Unit tests for the pure-numpy sketch kernels (no Spark).

Mirrors the reference's exact-oracle strategy (`--use-full-khash-sets`
ground truth, /root/reference/README.md:116): every estimate is checked
against the exact value within the algorithm's published bound
(BASELINE.md §b), and every monoid sketch is checked for bit-identical
merges under arbitrary partitioning/permutation (FIXTURES.md §5).
"""

import math

import mpmath
import numpy as np
import pytest

from dashing_spark.functions import (
    HLL,
    KLL,
    KMV,
    BBitMinHash,
    BloomFilter,
    CountMinSketch,
    HyperMinHash,
    SuperMinHash,
    TDigest,
    hashing,
    simhash_batch,
    sketch_from_bytes,
)
from dashing_spark.functions.bloom import bloom_jaccard
from dashing_spark.functions.bbmh import bbmh_jaccard
from dashing_spark.functions.hll import jaccard_index, set_triple
from dashing_spark.functions.kmv import kmv_jaccard
from dashing_spark.functions.simhash import hamming64


def _hashes(n, start=0):
    return hashing.hash_int_array(np.arange(start, start + n))


# ---------------------------------------------------------------- hashing
class TestHashing:
    def test_deterministic_across_calls(self):
        a = hashing.hash_str_array(["foo", "bar", "baz"])
        b = hashing.hash_str_array(np.array(["foo", "bar", "baz"], dtype=object))
        assert np.array_equal(a, b)
        assert a.dtype == np.uint64
        assert len(set(a.tolist())) == 3

    def test_seed_gives_independent_family(self):
        a = hashing.hash_str_array(["foo", "bar"], seed=1)
        b = hashing.hash_str_array(["foo", "bar"], seed=2)
        assert not np.array_equal(a, b)

    def test_shingles_respect_doc_boundaries(self):
        toks = np.array(list("abcdef"), dtype=object)
        h = hashing.hash_str_array(toks)
        sh, di = hashing.shingle_hashes(h, np.array([3, 3]), w=2)
        # docs abc|def -> shingles ab bc | de ef (no "cd")
        assert len(sh) == 4
        assert di.tolist() == [0, 0, 1, 1]
        # shingle hash of 'de' equals a fresh 2-shingle of the same tokens
        h2 = hashing.hash_str_array(np.array(["d", "e"], dtype=object))
        expect = hashing.combine64(h2[:1], h2[1:])[0]
        assert sh[2] == expect

    def test_shingles_order_sensitive(self):
        h = hashing.hash_str_array(np.array(["a", "b"], dtype=object))
        ab = hashing.combine64(h[:1], h[1:])[0]
        ba = hashing.combine64(h[1:], h[:1])[0]
        assert ab != ba


# 40-digit references for the HLL estimators (Ertl 2017, arXiv:1702.01284):
# improved raw (§2) from its series, the MLE (§3) as the root of dL/dλ
def _mp_improved(c, p):
    with mpmath.workdps(40):
        q, m = 64 - p, mpmath.mpf(1 << p)
        C = [mpmath.mpf(int(x)) for x in c]
        eps = mpmath.mpf(10) ** -45
        x = C[0] / m
        if x == 1:
            return 0.0
        sigma, y, xx = x, mpmath.mpf(1), x
        while True:
            xx *= xx
            d = xx * y
            sigma += d
            y *= 2
            if d <= eps * sigma:
                break
        x = 1 - C[q + 1] / m
        tau = mpmath.mpf(0)
        if x not in (0, 1):
            tau, y = 1 - x, mpmath.mpf(1)
            while True:
                x = mpmath.sqrt(x)
                y /= 2
                d = (1 - x) ** 2 * y
                tau -= d
                if d <= eps:
                    break
            tau /= 3
        denom = m * tau * mpmath.mpf(2) ** -q + m * sigma
        denom += mpmath.fsum(C[k] * mpmath.mpf(2) ** -k for k in range(1, q + 1))
        return float(m * m / (2 * mpmath.log(2)) / denom) if denom else math.inf


def _mp_dll(lam, c, p):
    """dL/dλ of the Poisson log-likelihood, straight from its terms."""
    with mpmath.workdps(40):
        q, m = 64 - p, mpmath.mpf(1 << p)
        lam = mpmath.mpf(lam)
        d = -mpmath.mpf(int(c[0])) / m
        for k in range(1, q + 1):
            if c[k]:
                a = 1 / (m * mpmath.mpf(2) ** k)
                ea, eb = mpmath.exp(-lam * a), mpmath.exp(-2 * lam * a)
                d += int(c[k]) * (2 * a * eb - a * ea) / (ea - eb)
        if c[q + 1]:
            g = 1 / (m * mpmath.mpf(2) ** q)
            eg = mpmath.exp(-lam * g)
            d += int(c[q + 1]) * g * eg / (1 - eg)
        return d


def _mp_mle(c, p):
    q, m = 64 - p, 1 << p
    if c[0] == m:  # dL/dλ < 0 everywhere: the maximum is at 0
        return 0.0
    if c[q + 1] == m:  # dL/dλ > 0 everywhere: no finite maximum
        return math.inf
    with mpmath.workdps(40):
        lo = hi = mpmath.mpf(max(_mp_improved(c, p), 1.0))
        while _mp_dll(lo, c, p) <= 0:
            lo /= 2
        while _mp_dll(hi, c, p) >= 0:
            hi *= 2
        while hi - lo > hi * mpmath.mpf(10) ** -30:
            mid = (lo + hi) / 2
            if _mp_dll(mid, c, p) > 0:
                lo = mid
            else:
                hi = mid
        return float((lo + hi) / 2)


# ---------------------------------------------------------------- HLL
class TestHLL:
    @pytest.mark.parametrize("estimator", ["original", "ertl_improved", "ertl_mle"])
    @pytest.mark.parametrize("n", [0, 10, 1000, 200_000])
    def test_estimate_within_bound(self, estimator, n):
        p = 12
        s = HLL.empty(p).update_hashes(_hashes(n))
        est = s.estimate(estimator)
        if n == 0:
            assert est == 0.0
        else:
            bound = 3 * 1.04 / math.sqrt(1 << p) + 2.0 / n  # 3σ + tiny-n slack
            assert abs(est - n) / n <= bound

    @pytest.mark.parametrize("p", [4, 8, 10, 14])
    def test_estimators_match_mpmath_reference(self, p):
        """Improved raw and the MLE against 40-digit references, for
        n = 1..10^6 and empty, saturated and half-saturated sketches."""
        q = 64 - p
        sks = [HLL(p).update_hashes(_hashes(10**e)) for e in range(7)]
        sks += [
            HLL(p),
            HLL(p, np.full(1 << p, q + 1, np.uint8)),
            HLL(p, np.where(np.arange(1 << p) % 2 == 0, q + 1, 3).astype(np.uint8)),
        ]
        for s in sks:
            c = np.bincount(s.regs, minlength=q + 2)
            for est, ref, tol in (
                ("ertl_improved", _mp_improved(c, p), 1e-12),
                ("ertl_mle", _mp_mle(c, p), 1e-8),
            ):
                with np.errstate(divide="ignore"):  # saturated: inf
                    got = s.estimate(est)
                if math.isinf(ref) or ref == 0.0:
                    assert got == ref, (est, got, ref)
                else:
                    assert abs(got - ref) <= tol * ref, (est, got, ref)

    def test_mle_derivative_matches_mpmath_reference(self):
        """dL/dλ at every λ scale — pins the repeated-squaring precision
        bug (exp(-λ/(m·2^q)) == 1.0 exactly for realistic λ)."""
        from dashing_spark.functions.hll import _mle_derivative

        rng = np.random.default_rng(3)
        h = HyperMinHash(8, 10)
        h.update_hashes(rng.integers(0, 2**63, size=300, dtype=np.uint64))
        q = 64 - 8
        c = np.bincount(h._ranks(), minlength=q + 2).astype(np.float64)
        dll = _mle_derivative(c[None, :], 256.0, q)
        for lam in (5.0, 50.0, 160.0, 1000.0, 1e7):
            ref = float(_mp_dll(lam, c, 8))
            got = float(dll(np.array([lam]))[0])
            assert abs(got - ref) <= 1e-9 * max(1.0, abs(ref)), (lam, got, ref)

    @pytest.mark.parametrize("p", [4, 8, 10, 14])
    def test_batched_mle_independent_of_batch_mates(self, p):
        """Each row of a batched MLE solve is bit-identical to its
        one-row solve and to HLL.estimate, whatever rows share the
        call: a row that has converged must stop bisecting."""
        from dashing_spark.functions.hll import estimate_rows

        sks = [
            HLL(p).update_hashes(_hashes(int(n), start=i * 10**7))
            for i, n in enumerate(np.geomspace(3, 3 * 10**5, 29))
        ]
        regs = np.stack([s.regs for s in sks])
        batch = estimate_rows(regs, p, "ertl_mle")
        one = [estimate_rows(regs[i : i + 1], p, "ertl_mle")[0] for i in range(len(sks))]
        assert batch.tolist() == one
        assert one == [s.estimate("ertl_mle") for s in sks]

    def test_merge_bit_identical_any_partitioning(self, rng):
        h = _hashes(50_000)
        ref = HLL.empty(11).update_hashes(h)
        for k in (2, 5, 16):
            parts = np.array_split(h, k)
            acc = HLL.empty(11)
            for i in rng.permutation(k):
                acc.merge(HLL.empty(11).update_hashes(parts[i]))
            assert acc == ref

    def test_merge_idempotent(self):
        a = HLL.empty(10).update_hashes(_hashes(1000))
        b = HLL.empty(10).update_hashes(_hashes(1000))
        assert a.merge(b) == HLL.empty(10).update_hashes(_hashes(1000))

    def test_merge_size_mismatch_raises(self):
        with pytest.raises(ValueError):
            HLL.empty(10).merge(HLL.empty(11))

    def test_fold_matches_direct_build(self):
        h = _hashes(100_000)
        folded = HLL.empty(14).update_hashes(h).fold(10)
        direct = HLL.empty(10).update_hashes(h)
        b = 3 * 1.04 / math.sqrt(1 << 10)
        assert abs(folded.estimate() - direct.estimate()) / direct.estimate() <= 2 * b

    def test_serde_roundtrip(self):
        s = HLL.empty(12).update_hashes(_hashes(5000))
        assert sketch_from_bytes(s.to_bytes()) == s

    def test_jaccard_vs_exact(self):
        n = 90_000
        a = HLL.empty(12).update_hashes(_hashes(n))
        b = HLL.empty(12).update_hashes(_hashes(n, start=n // 3))
        true_ji = (n - n // 3) / (n + n // 3)
        assert abs(jaccard_index(a, b) - true_ji) <= 0.05
        t0, t1, t2 = set_triple(a, b)
        assert abs(t2 - (n - n // 3)) / (n - n // 3) <= 0.15


# ---------------------------------------------------------------- Bloom
class TestBloom:
    def test_no_false_negatives_and_fp_bound(self):
        n = 30_000
        bf = BloomFilter.empty(19, 4).update_hashes(_hashes(n))
        assert bf.contains_hashes(_hashes(n)).all()
        fresh = hashing.hash_int_array(np.arange(10**7, 10**7 + 20_000))
        fp = bf.contains_hashes(fresh).mean()
        k, m = 4, 1 << 19
        bound = (1 - math.exp(-k * n / m)) ** k
        assert fp <= 2 * bound + 0.001

    def test_cardinality_estimate(self):
        n = 40_000
        bf = BloomFilter.empty(20, 4).update_hashes(_hashes(n))
        assert abs(bf.estimate() - n) / n <= 0.02

    def test_merge_bit_identical(self, rng):
        h = _hashes(20_000)
        ref = BloomFilter.empty(18).update_hashes(h)
        parts = np.array_split(h, 7)
        acc = BloomFilter.empty(18)
        for i in rng.permutation(7):
            acc.merge(BloomFilter.empty(18).update_hashes(parts[i]))
        assert acc == ref
        assert sketch_from_bytes(ref.to_bytes()) == ref

    def test_bloom_jaccard(self):
        a = BloomFilter.empty(20).update_hashes(_hashes(30_000))
        b = BloomFilter.empty(20).update_hashes(_hashes(30_000, start=15_000))
        assert abs(bloom_jaccard(a, b) - 1 / 3) <= 0.03


# ---------------------------------------------------------------- CMS
class TestCMS:
    def test_point_query_bounds(self, rng):
        items = rng.zipf(1.3, size=100_000)
        items = items[items < 10**6]
        h = hashing.hash_int_array(items)
        cm = CountMinSketch.empty(14, 4).update_hashes(h)
        true = np.bincount(items)
        probe = np.flatnonzero(true)[:2000]
        est = cm.query_hashes(hashing.hash_int_array(probe))
        assert (est >= true[probe]).all()  # never underestimates
        eps_n = math.e / (1 << 14) * cm.total()
        # εN bound holds for ≥ 1-δ of queries; with depth 4, δ=e^-4
        frac_bad = float((est - true[probe] > eps_n).mean())
        assert frac_bad <= 0.02

    def test_weighted_updates(self):
        h = hashing.hash_int_array(np.array([1, 2, 1]))
        cm = CountMinSketch.empty(10, 3).update_hashes(
            h, weights=np.array([5, 7, 5])
        )
        q = cm.query_hashes(hashing.hash_int_array(np.array([1, 2])))
        assert q[0] >= 10 and q[1] >= 7
        assert cm.total() == 17

    def test_merge_bit_identical(self, rng):
        h = _hashes(50_000)
        ref = CountMinSketch.empty(12, 4).update_hashes(h)
        parts = np.array_split(h, 9)
        acc = CountMinSketch.empty(12, 4)
        for i in rng.permutation(9):
            acc.merge(CountMinSketch.empty(12, 4).update_hashes(parts[i]))
        assert acc == ref
        assert sketch_from_bytes(ref.to_bytes()) == ref


# ---------------------------------------------------------------- KMV
class TestKMV:
    def test_estimate(self):
        n = 250_000
        s = KMV.empty(2048).update_hashes(_hashes(n))
        assert abs(s.estimate() - n) / n <= 3 / math.sqrt(2048)

    def test_small_exact(self):
        s = KMV.empty(1024).update_hashes(_hashes(500))
        assert s.estimate() == 500.0

    def test_merge_bit_identical(self, rng):
        h = _hashes(100_000)
        ref = KMV.empty(512).update_hashes(h)
        parts = np.array_split(h, 5)
        acc = KMV.empty(512)
        for i in rng.permutation(5):
            acc.merge(KMV.empty(512).update_hashes(parts[i]))
        assert acc == ref
        assert sketch_from_bytes(ref.to_bytes()) == ref

    def test_jaccard(self):
        a = KMV.empty(2048).update_hashes(_hashes(60_000))
        b = KMV.empty(2048).update_hashes(_hashes(60_000, start=30_000))
        assert abs(kmv_jaccard(a, b) - 1 / 3) <= 0.05


# ---------------------------------------------------------------- BBMH
class TestBBMH:
    def test_jaccard_and_cardinality(self):
        a = BBitMinHash.empty(10, 16).update_hashes(_hashes(60_000))
        b = BBitMinHash.empty(10, 16).update_hashes(_hashes(60_000, start=30_000))
        assert abs(bbmh_jaccard(a, b) - 1 / 3) <= 0.06
        assert abs(a.estimate() - 60_000) / 60_000 <= 0.15

    def test_merge_bit_identical(self, rng):
        h = _hashes(30_000)
        ref = BBitMinHash.empty(8, 8).update_hashes(h)
        parts = np.array_split(h, 4)
        acc = BBitMinHash.empty(8, 8)
        for i in rng.permutation(4):
            acc.merge(BBitMinHash.empty(8, 8).update_hashes(parts[i]))
        assert acc == ref
        assert sketch_from_bytes(ref.to_bytes()) == ref


# ---------------------------------------------------------------- KLL
class TestKLL:
    def test_rank_error_bound(self, rng):
        vals = np.concatenate(
            [rng.lognormal(6, 1, 80_000), rng.uniform(10, 1e6, 20_000)]
        )
        s = KLL.empty(200)
        for chunk in np.array_split(vals, 17):
            s.update_batch(chunk)
        for p in (0.01, 0.25, 0.5, 0.75, 0.99):
            q = s.quantile(p)
            assert abs((vals <= q).mean() - p) <= 0.02

    def test_merge_preserves_bound(self, rng):
        vals = rng.lognormal(6, 1, 60_000)
        parts = np.array_split(vals, 6)
        acc = KLL.empty(200)
        for i in rng.permutation(6):
            acc.merge(KLL.empty(200).update_batch(parts[i]))
        assert acc.n == 60_000
        for p in (0.1, 0.5, 0.9):
            assert abs((vals <= acc.quantile(p)).mean() - p) <= 0.025

    def test_serde(self, rng):
        s = KLL.empty(128).update_batch(rng.normal(size=10_000))
        t = sketch_from_bytes(s.to_bytes())
        assert t.n == s.n
        assert np.allclose(t.quantile([0.1, 0.5, 0.9]), s.quantile([0.1, 0.5, 0.9]))

    def test_deterministic(self, rng):
        vals = rng.normal(size=20_000)
        a = KLL.empty(200).update_batch(vals)
        b = KLL.empty(200).update_batch(vals)
        assert a.to_bytes() == b.to_bytes()


# ---------------------------------------------------------------- t-digest
class TestTDigest:
    def test_rank_error(self, rng):
        vals = np.concatenate(
            [rng.lognormal(6, 1, 80_000), rng.uniform(10, 1e6, 20_000)]
        )
        s = TDigest.empty(100)
        for chunk in np.array_split(vals, 17):
            s.update_batch(chunk)
        for p in (0.01, 0.25, 0.5, 0.75, 0.99):
            assert abs((vals <= s.quantile(p)).mean() - p) <= 0.01

    def test_merge(self, rng):
        vals = rng.lognormal(6, 1, 60_000)
        parts = np.array_split(vals, 6)
        acc = TDigest.empty(100)
        for i in rng.permutation(6):
            acc.merge(TDigest.empty(100).update_batch(parts[i]))
        assert acc.n == 60_000
        for p in (0.1, 0.5, 0.9):
            assert abs((vals <= acc.quantile(p)).mean() - p) <= 0.02

    def test_serde(self, rng):
        s = TDigest.empty(100).update_batch(rng.normal(size=10_000))
        t = sketch_from_bytes(s.to_bytes())
        assert abs(t.quantile(0.5) - s.quantile(0.5)) < 1e-9


# ---------------------------------------------------------------- SimHash
class TestSimHash:
    def test_similar_docs_low_hamming(self):
        toks_a = np.array([f"w{i}" for i in range(100)], dtype=object)
        toks_b = toks_a.copy()
        toks_b[:5] = [f"x{i}" for i in range(5)]
        toks_c = np.array([f"z{i}" for i in range(100)], dtype=object)
        flat = hashing.hash_str_array(np.concatenate([toks_a, toks_b, toks_c]))
        sh = simhash_batch(flat, np.repeat([0, 1, 2], 100), 3)
        d_ab = hamming64(sh[:1], sh[1:2])[0]
        d_ac = hamming64(sh[:1], sh[2:3])[0]
        assert d_ab < 16 < d_ac

    def test_order_independent(self, rng):
        toks = np.array([f"w{i}" for i in range(200)], dtype=object)
        h = hashing.hash_str_array(toks)
        a = simhash_batch(h, np.zeros(200, dtype=np.int64), 1)
        perm = rng.permutation(200)
        b = simhash_batch(h[perm], np.zeros(200, dtype=np.int64), 1)
        assert a[0] == b[0]


# ---------------------------------------------------------------- SuperMinHash
class TestSuperMinHash:
    def test_jaccard_vs_exact(self, rng):
        from dashing_spark.functions import SuperMinHash
        from dashing_spark.functions.smh import smh_jaccard

        na = nb = 20_000
        nx = 8_000
        common = rng.integers(0, 2**64, nx, dtype=np.uint64)
        ax = rng.integers(0, 2**64, na - nx, dtype=np.uint64)
        bx = rng.integers(0, 2**64, nb - nx, dtype=np.uint64)
        a = SuperMinHash.empty(1024).update_hashes(np.concatenate([common, ax]))
        b = SuperMinHash.empty(1024).update_hashes(np.concatenate([common, bx]))
        true = nx / (na + nb - nx)
        assert abs(smh_jaccard(a, b) - true) <= 0.05

    def test_merge_bit_identical_any_partitioning(self, rng):
        from dashing_spark.functions import SuperMinHash

        h = rng.integers(0, 2**64, 30_000, dtype=np.uint64)
        one = SuperMinHash.empty(256).update_hashes(h)
        parts = np.array_split(h, 5)
        acc = SuperMinHash.empty(256)
        for i in rng.permutation(5):
            acc.merge(SuperMinHash.empty(256).update_hashes(parts[i]))
        assert acc == one  # monoid: counter-based per-element randomness

    def test_cardinality_estimate(self, rng):
        from dashing_spark.functions import SuperMinHash

        h = rng.integers(0, 2**64, 50_000, dtype=np.uint64)
        s = SuperMinHash.empty(2048).update_hashes(h)
        assert abs(s.estimate() - 50_000) / 50_000 <= 0.1

    def test_serde_and_empty(self):
        from dashing_spark.functions import SuperMinHash

        s = SuperMinHash.empty(64)
        assert s.estimate() == 0.0
        s.update_hashes(np.arange(1, 1000, dtype=np.uint64) * np.uint64(2**54))
        t = sketch_from_bytes(s.to_bytes())
        assert t == s

    def test_lower_variance_than_bbmh_small_n(self, rng):
        """The SuperMinHash selling point (Ertl 2017 §4): for n ≲ m the
        stratified values cut matched-register JI variance vs a plain
        one-permutation b-bit minhash with the same register budget."""
        from dashing_spark.functions import BBitMinHash, SuperMinHash
        from dashing_spark.functions.bbmh import bbmh_jaccard
        from dashing_spark.functions.smh import smh_jaccard

        m = 512
        na = nb = 400
        nx = 200
        true = nx / (na + nb - nx)
        se_s, se_b = [], []
        for _ in range(12):
            common = rng.integers(0, 2**64, nx, dtype=np.uint64)
            ax = rng.integers(0, 2**64, na - nx, dtype=np.uint64)
            bx = rng.integers(0, 2**64, nb - nx, dtype=np.uint64)
            ha, hb = np.concatenate([common, ax]), np.concatenate([common, bx])
            sa = SuperMinHash.empty(m).update_hashes(ha)
            sb = SuperMinHash.empty(m).update_hashes(hb)
            se_s.append((smh_jaccard(sa, sb) - true) ** 2)
            ba = BBitMinHash.empty(9, 16).update_hashes(ha)
            bb = BBitMinHash.empty(9, 16).update_hashes(hb)
            se_b.append((bbmh_jaccard(ba, bb) - true) ** 2)
        assert np.mean(se_s) < np.mean(se_b)


# ---------------------------------------------------------------- HyperMinHash
class TestHyperMinHash:
    def test_estimator_names(self):
        """"default" and "ertl_mle" give the MLE, the other HLL names
        improved raw, and an unknown name raises."""
        s = HyperMinHash(8, 10).update_hashes(_hashes(3000))
        mle, imp = s.estimate("ertl_mle"), s.estimate("ertl_improved")
        assert mle != imp
        assert s.estimate("default") == mle
        for name in ("original", "ertl_joint_mle", "ertl_joint"):
            assert s.estimate(name) == imp
        with pytest.raises(ValueError, match="unknown estimator"):
            s.estimate("ertl-mle")


# ---------------------------------------------------------------- CountingBBMH
class TestCountingBBitMinHash:
    def test_weighted_jaccard(self, rng):
        from dashing_spark.functions import CountingBBitMinHash
        from dashing_spark.functions.cbbmh import cbbmh_weighted_jaccard

        base = rng.integers(0, 2**64, 2000, dtype=np.uint64)
        ca = rng.integers(1, 6, 2000)
        cb = rng.integers(1, 6, 2000)
        wa = np.repeat(base, ca)
        wb = np.repeat(base, cb)
        true = np.minimum(ca, cb).sum() / np.maximum(ca, cb).sum()
        a = CountingBBitMinHash.empty(13).update_hashes(wa)
        b = CountingBBitMinHash.empty(13).update_hashes(wb)
        assert abs(cbbmh_weighted_jaccard(a, b) - true) <= 0.05

    def test_merge_bit_identical(self, rng):
        from dashing_spark.functions import CountingBBitMinHash

        base = rng.integers(0, 2**64, 3000, dtype=np.uint64)
        w = np.repeat(base, rng.integers(1, 4, 3000))
        w = rng.permutation(w)
        one = CountingBBitMinHash.empty(10).update_hashes(w)
        parts = np.array_split(w, 7)
        acc = CountingBBitMinHash.empty(10)
        for i in rng.permutation(7):
            acc.merge(CountingBBitMinHash.empty(10).update_hashes(parts[i]))
        assert acc == one

    def test_serde(self, rng):
        from dashing_spark.functions import CountingBBitMinHash

        s = CountingBBitMinHash.empty(8).update_hashes(
            rng.integers(0, 2**64, 5000, dtype=np.uint64)
        )
        assert sketch_from_bytes(s.to_bytes()) == s


# ---------------------------------------------------------------- Wide HLL
class TestWideHLLWaiver:
    """The reference's --use-wide-hll widens registers beyond uint8 for
    hash widths whose rank can exceed 255. With 64-bit hashes the rank
    is capped at 64-p+1 <= 61 (p >= 4), so uint8 registers are
    information-lossless: a uint16 register array is bit-for-bit the
    same data. This test RATIFIES the documented waiver (COVERAGE.md
    §2.2) rather than shipping a dead config flag."""

    def test_rank_cannot_exceed_uint8(self, rng):
        from dashing_spark.functions import HLL

        for p in (4, 10, 14):
            h = HLL.empty(p)
            # adversarial hashes: all-zero suffixes give the max rank
            worst = np.array([0, 1, 2, 1 << 63], dtype=np.uint64)
            h.update_hashes(worst)
            h.update_hashes(rng.integers(0, 2**64, 100_000, dtype=np.uint64))
            assert int(h.regs.max()) <= 64 - p + 1 <= 61 < 255

    def test_uint16_registers_identical(self, rng):
        from dashing_spark.functions import HLL

        h = HLL.empty(10).update_hashes(
            rng.integers(0, 2**64, 50_000, dtype=np.uint64)
        )
        wide = h.regs.astype(np.uint16)  # the wide-HLL representation
        assert np.array_equal(wide.astype(np.uint8), h.regs)  # lossless


class TestCharGramHashing:
    def test_counts_and_boundaries(self):
        import pyarrow as pa

        from dashing_spark.functions.hashing import char_gram_hashes_arrow

        arr = pa.array(["abcdef", "ab", "", "xyzw", "abc"])
        h, c = char_gram_hashes_arrow(arr, 3)
        assert c.tolist() == [4, 0, 0, 2, 1]
        # "abc" gram of doc 0 equals doc 4's single gram; 6 distinct total
        assert h[0] == h[-1]
        assert len(set(h.tolist())) == 6

    def test_deterministic_and_seeded(self):
        import pyarrow as pa

        from dashing_spark.functions.hashing import char_gram_hashes_arrow

        arr = pa.array(["hello world", "hello"])
        h1, _ = char_gram_hashes_arrow(arr, 4)
        h2, _ = char_gram_hashes_arrow(arr, 4)
        assert (h1 == h2).all()
        h3, _ = char_gram_hashes_arrow(arr, 4, seed=9)
        assert (h1 != h3).any()


class TestTokenizerPathAgreement:
    def test_arrow_matches_split_semantics(self):
        """hash_tokens_arrow must emit exactly split(' ')'s token
        multiset — including the empty token after a trailing space and
        for the empty string (ADVICE consistency fix)."""
        import pandas as pd
        import pyarrow as pa

        texts = ["a b c", "a b ", "", " ", "hello", "x  y", "trail "]
        h, c = hashing.hash_tokens_arrow(pa.array(texts, type=pa.string()))
        flat, lens = hashing.tokenize_flat(pd.Series(texts))
        assert c.tolist() == lens.tolist()
        # per-token equality: identical tokens hash identically across docs
        by_tok = {}
        i = 0
        for t in flat:
            by_tok.setdefault(t, set()).add(int(h[i]))
            i += 1
        assert all(len(v) == 1 for v in by_tok.values())


class TestTripleBatchKernels:
    """The whole-batch pair kernels (compare.triple_batch_from_blobs) must
    agree with the per-pair scalar path (set_triple_any) for every sketch
    type the dist pair stage can carry — this pins VERDICT r2 item #2
    (vectorize the non-HLL pair kernel) against regression."""

    @staticmethod
    def _pairs(factory, n=25, seed=11):
        rng = np.random.default_rng(seed)
        out = []
        for _ in range(n):
            na, nb, ns = (int(x) for x in rng.integers(0, 2500, 3))
            shared = rng.integers(0, 2**63, size=ns, dtype=np.uint64)
            ha = np.concatenate(
                [shared, rng.integers(0, 2**63, size=na, dtype=np.uint64)]
            )
            hb = np.concatenate(
                [shared, rng.integers(0, 2**63, size=nb, dtype=np.uint64)]
            )
            a, b = factory(), factory()
            a.update_hashes(ha)
            b.update_hashes(hb)
            out.append((a, b))
        # empty-vs-empty and empty-vs-full edges
        out.append((factory(), factory()))
        e = factory()
        f = factory()
        f.update_hashes(rng.integers(0, 2**63, size=64, dtype=np.uint64))
        out.append((e, f))
        return out

    @pytest.mark.parametrize(
        "factory, estimator",
        [
            (lambda: KMV(128), "default"),
            (lambda: BBitMinHash(6, 16), "default"),
            (lambda: BBitMinHash(6, 24), "default"),
            (lambda: SuperMinHash(64), "default"),
            (lambda: HyperMinHash(8, 10), "default"),
            (lambda: BloomFilter(10, 4), "default"),
            (lambda: HLL(10), "ertl_improved"),
            (lambda: HLL(10), "ertl_mle"),
            (lambda: HLL(10), "original"),
            (lambda: HLL(10), "ertl_joint_mle"),
        ],
        ids=[
            "kmv", "bbmh", "bbmh24", "smh", "hmh", "bloom",
            "hll_improved", "hll_mle", "hll_original", "hll_joint_mle",
        ],
    )
    def test_batch_matches_scalar(self, factory, estimator):
        from dashing_spark.functions.compare import (
            set_triple_any,
            triple_batch_from_blobs,
        )

        pairs = self._pairs(factory)
        al = [a.to_bytes() for a, _ in pairs]
        bl = [b.to_bytes() for _, b in pairs]
        t0b, t1b, t2b = triple_batch_from_blobs(al, bl, estimator)
        for i, (a, b) in enumerate(pairs):
            t0, t1, t2 = set_triple_any(a, b, estimator)
            for s, v in ((t0, t0b[i]), (t1, t1b[i]), (t2, t2b[i])):
                if math.isinf(s) or math.isinf(v):
                    assert s == v, (i, s, v)
                else:
                    assert abs(s - v) <= 1e-6 * max(1.0, abs(s)), (i, s, v)

    def test_counting_batch_matches_scalar(self):
        """CountingKMV / CountingBBitMinHash (weighted) batch kernels vs
        the scalar set_triple_any path, with real multiplicities (hashes
        repeated with skewed counts) and full-range uint64 hashes (the
        bottom-k estimators assume them)."""
        from dashing_spark.functions.cbbmh import CountingBBitMinHash
        from dashing_spark.functions.compare import (
            set_triple_any,
            triple_batch_from_blobs,
        )
        from dashing_spark.functions.crmh import CountingKMV
        from dashing_spark.functions.hashing import splitmix64

        rng = np.random.default_rng(23)
        for factory in (
            lambda: CountingKMV(128),
            lambda: CountingBBitMinHash(6, 16),
            lambda: CountingBBitMinHash(6, 24),  # b > 16: sig must widen
        ):
            pairs = []
            for _ in range(25):
                na, nb, ns = (int(x) for x in rng.integers(0, 1200, 3))
                mk = lambda n: splitmix64(
                    rng.integers(0, 2**63, size=n, dtype=np.int64).astype(np.uint64)
                )
                shared, oa, ob = mk(ns), mk(na), mk(nb)
                reps = lambda h: np.repeat(
                    h, rng.integers(1, 6, size=len(h))
                )
                a, b = factory(), factory()
                a.update_hashes(reps(np.concatenate([shared, oa])))
                b.update_hashes(reps(np.concatenate([shared, ob])))
                pairs.append((a, b))
            pairs.append((factory(), factory()))
            e, f = factory(), factory()
            f.update_hashes(mk(64))
            pairs.append((e, f))
            al = [a.to_bytes() for a, _ in pairs]
            bl = [b.to_bytes() for _, b in pairs]
            batch = triple_batch_from_blobs(al, bl, "default")
            assert batch is not None
            t0b, t1b, t2b = batch
            for i, (a, b) in enumerate(pairs):
                t0, t1, t2 = set_triple_any(a, b, "default")
                for s, v in ((t0, t0b[i]), (t1, t1b[i]), (t2, t2b[i])):
                    assert abs(s - v) <= 1e-6 * max(1.0, abs(s)), (i, s, v)

    def test_mixed_k_kmv_batch_matches_scalar(self):
        """One batch of KMV sketches with k=128 and k=256: same-k pairs
        run their k's batch kernel, cross-k pairs the scalar path, and
        every pair equals set_triple_any."""
        from dashing_spark.functions.compare import (
            set_triple_any,
            triple_batch_from_blobs,
        )

        rng = np.random.default_rng(29)
        shared = rng.integers(0, 2**63, size=400, dtype=np.uint64)
        sks = []
        for k in (128, 256, 128, 256, 128):
            s = KMV(k)
            n_own = int(rng.integers(0, 900))
            s.update_hashes(
                np.concatenate(
                    [shared, rng.integers(0, 2**63, size=n_own, dtype=np.uint64)]
                )
            )
            sks.append(s)
        sks.append(KMV(256))  # empty
        pairs = [(a, b) for a in sks for b in sks]
        assert any(a.k == b.k for a, b in pairs)
        assert any(a.k != b.k for a, b in pairs)
        t0b, t1b, t2b = triple_batch_from_blobs(
            [a.to_bytes() for a, _ in pairs], [b.to_bytes() for _, b in pairs]
        )
        for i, (a, b) in enumerate(pairs):
            t0, t1, t2 = set_triple_any(a, b)
            for s, v in ((t0, t0b[i]), (t1, t1b[i]), (t2, t2b[i])):
                assert abs(s - v) <= 1e-9 * max(1.0, abs(s)), (i, a.k, b.k, s, v)

    def test_incomparable_pair_raises(self):
        from dashing_spark.functions.compare import triple_batch_from_blobs

        a, b = HLL(10), KMV(128)
        with pytest.raises(TypeError, match="cannot compare"):
            triple_batch_from_blobs([a.to_bytes()], [b.to_bytes()])

    def test_unknown_estimator_raises(self):
        from dashing_spark.functions.compare import triple_batch_from_blobs

        blob = HLL(10).to_bytes()
        with pytest.raises(ValueError, match="unknown estimator"):
            triple_batch_from_blobs([blob], [blob], "ertl-mle")


class TestHeavyKeeper:
    """HeavyKeeper top-k sketch — the reference's CM alternative
    (/root/reference/src/dashing.h:131-136), batch-adapted (see module
    docstring for the documented deviations)."""

    @staticmethod
    def _zipf_stream(n=300_000, seed=3):
        from dashing_spark.functions.hashing import splitmix64

        rng = np.random.default_rng(seed)
        items = rng.zipf(1.3, size=n)
        items = items[items < 100_000].astype(np.uint64)
        return items, splitmix64(items)

    def test_elephants_recovered_one_sided(self):
        from dashing_spark.functions import HeavyKeeper
        from dashing_spark.functions.hashing import splitmix64

        items, h = self._zipf_stream()
        hk = HeavyKeeper(12, 2)
        for chunk in np.array_split(h, 10):  # batch-granularity stream
            hk.update_hashes(chunk)
        u, c = np.unique(items, return_counts=True)
        top = np.argsort(-c)[:20]
        est = hk.query_hashes(splitmix64(u[top]))
        for t, e in zip(c[top], est):
            assert e <= t          # one-sided: never above true count
            assert e >= 0.9 * t    # elephants kept near-exactly

    def test_merge_commutative_and_serde(self):
        from dashing_spark.functions import HeavyKeeper, sketch_from_bytes
        from dashing_spark.functions.hashing import splitmix64

        _, h = self._zipf_stream(seed=11)
        a, b = HeavyKeeper(10, 2), HeavyKeeper(10, 2)
        a.update_hashes(h[: len(h) // 2])
        b.update_hashes(h[len(h) // 2 :])
        ab = HeavyKeeper.from_bytes(a.to_bytes()).merge(b)
        ba = HeavyKeeper.from_bytes(b.to_bytes()).merge(a)
        assert ab == ba
        rt = sketch_from_bytes(ab.to_bytes())
        assert rt == ab

    def test_deterministic(self):
        from dashing_spark.functions import HeavyKeeper

        _, h = self._zipf_stream(seed=5)
        a = HeavyKeeper(10, 2).update_hashes(h)
        b = HeavyKeeper(10, 2).update_hashes(h)
        assert a == b

    def test_small_flows_decay(self):
        """Mice sharing a bucket with an elephant must not survive with
        inflated counts (the CM failure mode HK exists to fix)."""
        from dashing_spark.functions import HeavyKeeper
        from dashing_spark.functions.hashing import splitmix64

        rng = np.random.default_rng(9)
        elephant = np.full(50_000, 7, dtype=np.uint64)
        mice = rng.integers(10, 100_000, size=50_000, dtype=np.uint64)
        h = splitmix64(np.concatenate([elephant, mice]))
        rng.shuffle(h)
        hk = HeavyKeeper(8, 2)  # tiny: force collisions
        for chunk in np.array_split(h, 20):
            hk.update_hashes(chunk)
        est = hk.query_hashes(splitmix64(np.array([7], dtype=np.uint64)))[0]
        assert est >= 0.9 * 50_000
        mice_u = np.unique(mice)
        mice_est = hk.query_hashes(splitmix64(mice_u))
        # a mouse's true count is ~1; none may report an elephant-class count
        assert mice_est.max() <= 2000


class TestCountingSketchTriples:
    """set_triple_any over the counting (weighted) sketches: JI = the
    type's weighted estimator, sizes = mean sampled count x distinct
    estimate (a minwise-uniform sample of per-element counts, so the
    product estimates total multiset weight)."""

    def test_crmh_triple(self):
        from dashing_spark.functions.compare import (
            measure_from_triple,
            set_triple_any,
        )
        from dashing_spark.functions.crmh import CountingKMV

        rng = np.random.default_rng(2)
        mk = lambda n: hashing.splitmix64(
            rng.integers(0, 2**63, n, dtype=np.uint64)
        )
        shared = np.repeat(mk(2000), rng.integers(1, 10, 2000))
        ha = np.concatenate([shared, np.repeat(mk(3000), rng.integers(1, 5, 3000))])
        hb = np.concatenate([shared, np.repeat(mk(3000), rng.integers(1, 5, 3000))])
        a, b = CountingKMV(2048), CountingKMV(2048)
        a.update_hashes(ha)
        b.update_hashes(hb)
        t0, t1, t2 = set_triple_any(a, b)
        from collections import Counter

        ca, cb = Counter(ha.tolist()), Counter(hb.tolist())
        num = sum(min(ca[k], cb[k]) for k in ca if k in cb)
        den = sum(max(ca.get(k, 0), cb.get(k, 0)) for k in set(ca) | set(cb))
        assert abs(measure_from_triple(t0, t1, t2, "ji") - num / den) <= 0.05
        assert abs((t0 + t2) - len(ha)) / len(ha) <= 0.1
        assert abs((t1 + t2) - len(hb)) / len(hb) <= 0.1

    def test_cbbmh_triple_sizes(self):
        from dashing_spark.functions.cbbmh import CountingBBitMinHash
        from dashing_spark.functions.compare import set_triple_any

        rng = np.random.default_rng(4)
        h = np.repeat(
            hashing.splitmix64(rng.integers(0, 2**63, 5000, dtype=np.uint64)),
            rng.integers(1, 6, 5000),
        )
        a, b = CountingBBitMinHash(11, 16), CountingBBitMinHash(11, 16)
        a.update_hashes(h)
        b.update_hashes(h)
        t0, t1, t2 = set_triple_any(a, b)
        # identical multisets: ji = 1, sizes near total weight
        assert t0 <= 1e-6 and t1 <= 1e-6
        assert abs(t2 - len(h)) / len(h) <= 0.15


class TestEmptyPairBatch:
    def test_zero_pair_batches_keep_triple_shape(self):
        from dashing_spark.functions.compare import kmv_triple_batch

        rng = np.random.default_rng(1)
        sks = []
        for _ in range(3):
            s = KMV(64)
            s.update_hashes(rng.integers(0, 2**63, 100, dtype=np.int64).astype(np.uint64))
            sks.append(s)
        empty = np.zeros(0, dtype=np.int64)
        out = kmv_triple_batch(sks, empty, empty)
        assert isinstance(out, tuple) and len(out) == 3
        assert all(len(x) == 0 for x in out)


class TestHeavyKeeperDecayProgress:
    def test_recurring_challenger_eventually_evicts(self):
        """The decay Bernoulli must re-roll across batches: a recurring
        challenger against a constant-count occupant decays it with
        probability ~1.08^-C per batch, so after many batches eviction
        is (1 - eps)-certain for EVERY fingerprint pair — a draw that is
        a pure function of the two fingerprints gets stuck at dec=0
        forever for ~a third of pairs."""
        from dashing_spark.functions.heavykeeper import HeavyKeeper

        rng = np.random.default_rng(5)
        stuck = 0
        for trial in range(20):
            hk = HeavyKeeper(lg_width=4, depth=1)
            occupant = np.uint64(rng.integers(1, 2**63))
            challenger = np.uint64(rng.integers(1, 2**63))
            # plant the occupant with count 3 in every bucket row
            hk.update_hashes(np.repeat(np.array([occupant]), 3))
            for _ in range(200):
                hk.update_hashes(np.array([challenger]))
            # if challenger and occupant share a bucket, challenger must
            # have evicted by now; if not, it owns its own bucket — in
            # both cases its estimate is positive
            est = int(hk.query_hashes(np.array([challenger]))[0])
            if est == 0:
                stuck += 1
            # one-sided: never above the true count
            assert est <= 200
        assert stuck == 0


class TestSerdeTruncation:
    def test_kll_truncated_blob_raises(self):
        s = KLL(128)
        s.update_batch(np.arange(10000, dtype=np.float64))
        blob = s.to_bytes()
        with pytest.raises(ValueError, match="truncated"):
            sketch_from_bytes(blob[: len(blob) - 8])

    def test_tdigest_truncated_blob_raises(self):
        t = TDigest(100.0)
        t.update_batch(np.arange(5000, dtype=np.float64))
        blob = t.to_bytes()
        with pytest.raises(ValueError, match="truncated"):
            sketch_from_bytes(blob[: len(blob) - 8])
