"""Tests for counting range MinHash (CRMH) and the multi-k sweep."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dashing_spark.functions import CountingKMV, hashing, sketch_from_bytes
from dashing_spark.functions.crmh import crmh_histogram_intersection
from dashing_spark.operators import agg, dist
from dashing_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


class TestCountingKMV:
    def test_weighted_ji_exact_in_small_universe(self, rng):
        items_a = np.repeat(np.arange(40), rng.integers(1, 20, 40))
        items_b = np.repeat(np.arange(20, 60), rng.integers(1, 20, 40))
        ca = np.bincount(items_a, minlength=60)
        cb = np.bincount(items_b, minlength=60)
        true_wji = np.minimum(ca, cb).sum() / np.maximum(ca, cb).sum()
        A = CountingKMV.empty(1024).update_hashes(hashing.hash_int_array(items_a))
        B = CountingKMV.empty(1024).update_hashes(hashing.hash_int_array(items_b))
        assert crmh_histogram_intersection(A, B) == pytest.approx(true_wji)

    def test_weighted_ji_sampled_regime(self, rng):
        n = 50_000
        items_a = rng.integers(0, n, 200_000)
        items_b = rng.integers(n // 2, n + n // 2, 200_000)
        A = CountingKMV.empty(2048).update_hashes(hashing.hash_int_array(items_a))
        B = CountingKMV.empty(2048).update_hashes(hashing.hash_int_array(items_b))
        ca = np.bincount(items_a, minlength=2 * n)
        cb = np.bincount(items_b, minlength=2 * n)
        true_wji = np.minimum(ca, cb).sum() / np.maximum(ca, cb).sum()
        assert abs(crmh_histogram_intersection(A, B) - true_wji) <= 0.05

    def test_merge_bit_identical(self, rng):
        h = hashing.hash_int_array(rng.integers(0, 10_000, 100_000))
        ref = CountingKMV.empty(512).update_hashes(h)
        parts = np.array_split(h, 7)
        acc = CountingKMV.empty(512)
        for i in rng.permutation(7):
            acc.merge(CountingKMV.empty(512).update_hashes(parts[i]))
        assert acc == ref
        assert sketch_from_bytes(ref.to_bytes()) == ref

    def test_counts_survive_truncation_merge(self):
        """Counts of retained hashes are exact totals even when merges
        truncate other entries."""
        h = hashing.hash_int_array(np.array([7, 7, 7, 9, 9]))
        a = CountingKMV.empty(4).update_hashes(h[:2])
        b = CountingKMV.empty(4).update_hashes(h[2:])
        a.merge(b)
        full = CountingKMV.empty(4).update_hashes(h)
        assert a == full
        assert a.total_weight() == 5

    def test_cardinality_estimate(self):
        h = hashing.hash_int_array(np.arange(80_000))
        s = CountingKMV.empty(1024).update_hashes(h)
        assert abs(s.estimate() - 80_000) / 80_000 <= 0.1


class TestMultiK:
    def test_sweep_flatten_slope(self, spark):
        docs = load_table(spark, SF, "documents")
        lt = docs.select("lang", F.explode(F.split("text", " ", -1)).alias("token"))
        mk = dist.multi_k_measures(lt, "lang", "token", ks=(2, 3, 4)).cache()
        assert mk.count() == 10 * 3
        flat = dist.flatten_multi_k(mk, "mash_dist", (2, 3, 4))
        assert flat.count() == 10
        assert set(flat.columns) == {"a_key", "b_key", "2", "3", "4"}
        # mash_dist = base/k exactly (same ji per k) ⇒ slope = base, r² = 1
        slopes = dist.mash_slope(mk).collect()
        by_pair = {
            (r["a_key"], r["b_key"]): r for r in mk.filter(F.col("k") == 2).collect()
        }
        for r in slopes:
            base = by_pair[(r["a_key"], r["b_key"])]["mash_dist"] * 2
            assert r["slope"] == pytest.approx(base, rel=1e-6)


class TestHyperMinHash:
    def test_cardinality_within_bound(self):
        import math

        from dashing_spark.functions import HyperMinHash, hashing

        for n in (1000, 200_000):
            s = HyperMinHash.empty(12, 6).update_hashes(
                hashing.hash_int_array(np.arange(n))
            )
            assert abs(s.estimate() - n) / n <= 3 * 1.04 / math.sqrt(1 << 12)

    def test_jaccard_accuracy(self):
        from dashing_spark.functions import HyperMinHash, hashing
        from dashing_spark.functions.hmh import hmh_jaccard

        n = 100_000
        for shift in (n // 10, n // 3, n // 2):
            A = hashing.hash_int_array(np.arange(n))
            B = hashing.hash_int_array(np.arange(shift, n + shift))
            sa = HyperMinHash.empty(12, 6).update_hashes(A)
            sb = HyperMinHash.empty(12, 6).update_hashes(B)
            true = (n - shift) / (n + shift)
            assert abs(hmh_jaccard(sa, sb) - true) <= 0.05

    def test_merge_bit_identical(self, rng):
        from dashing_spark.functions import HyperMinHash, hashing, sketch_from_bytes

        h = hashing.hash_int_array(np.arange(60_000))
        ref = HyperMinHash.empty(11, 5).update_hashes(h)
        parts = np.array_split(h, 8)
        acc = HyperMinHash.empty(11, 5)
        for i in rng.permutation(8):
            acc.merge(HyperMinHash.empty(11, 5).update_hashes(parts[i]))
        assert acc == ref
        assert sketch_from_bytes(ref.to_bytes()) == ref

    def test_spark_two_stage(self, spark):
        from pyspark.sql import functions as F

        from dashing_spark.functions import HyperMinHash
        from dashing_spark.operators import agg, dist
        from dashing_spark.sources.tables import load_table

        docs = load_table(spark, SF, "documents")
        sk = agg.sketch_tokens_by_key(
            docs, ["lang"], lambda: HyperMinHash.empty(12, 6), salt=2
        )
        est = {
            r["lang"]: r["e"]
            for r in sk.select("lang", agg.estimate_expr()("sketch").alias("e")).collect()
        }
        exact = {
            r["lang"]: r["d"]
            for r in docs.select("lang", F.explode(F.split("text", " ", -1)).alias("t"))
            .groupBy("lang")
            .agg(F.countDistinct("t").alias("d"))
            .collect()
        }
        for lang, d in exact.items():
            assert abs(est[lang] - d) <= max(0.05 * d, 2.0)
        # the pair stage runs the HyperMinHash batch kernel on HMH blobs
        pairs = dist.all_pairs(sk, ["lang"], measures=("ji",)).collect()
        assert len(pairs) == 10
        for r in pairs:
            assert 0.0 <= r["ji"] <= 1.0
