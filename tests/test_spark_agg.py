"""Spark-layer tests for the two-stage sketch aggregation driver.

Covers FIXTURES.md §5 properties: bit-identical sketches under any
repartitioning/salt, estimates within bound vs exact JVM-side
countDistinct, union/fold semantics, and the byte-identical-text
determinism invariant from BASELINE.json's input_hint.
"""

import math

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from dashing_spark.functions import HLL, KLL, BloomFilter, CountMinSketch, TDigest, hashing
from dashing_spark.functions.serde import sketch_from_bytes
from dashing_spark.operators import agg
from dashing_spark.sources.tables import extract_text, load_table, synth_pages

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


def _exact_distinct(docs):
    return {
        r["lang"]: r["d"]
        for r in docs.select(
            "lang", F.explode(F.split("text", " ", -1)).alias("t")
        )
        .groupBy("lang")
        .agg(F.countDistinct("t").alias("d"))
        .collect()
    }


class TestTwoStageAgg:
    def test_hll_within_bound(self, spark, docs):
        sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(12), salt=2)
        est = {
            r["lang"]: r["e"]
            for r in sk.select(
                "lang", agg.estimate_expr("ertl_mle")("sketch").alias("e")
            ).collect()
        }
        exact = _exact_distinct(docs)
        bound = 3 * 1.04 / math.sqrt(1 << 12)
        for lang, d in exact.items():
            assert abs(est[lang] - d) <= max(bound * d, 2.0)

    def test_bit_identical_across_partitioning_and_salt(self, spark, docs):
        # every 7th document has a null key: Spark groups nulls as one
        # key, on the salted (11 partitions > salt 2, level kept) and the
        # salt-skipped (1 partition <= salt 8) paths alike
        src = docs.withColumn(
            "lang", F.when(F.col("doc_id") % 7 != 0, F.col("lang"))
        )
        variants = [
            (src.repartition(3), None),
            (src.repartition(11), 2),
            (src.coalesce(1), 8),
        ]
        results = []
        for df, salt in variants:
            sk = agg.sketch_tokens_by_key(df, ["lang"], lambda: HLL.empty(11), salt=salt)
            rows = sk.collect()
            assert [r["lang"] for r in rows].count(None) == 1
            results.append({r["lang"]: bytes(r["sketch"]) for r in rows})
        assert results[0] == results[1] == results[2]

    def test_multiple_sketch_types(self, spark, docs):
        for make in (
            lambda: BloomFilter.empty(16, 4),
            lambda: CountMinSketch.empty(12, 4),
        ):
            a = agg.sketch_tokens_by_key(docs.repartition(4), ["lang"], make)
            b = agg.sketch_tokens_by_key(docs.repartition(9), ["lang"], make, salt=3)
            assert {r["lang"]: bytes(r["sketch"]) for r in a.collect()} == {
                r["lang"]: bytes(r["sketch"]) for r in b.collect()
            }

    def test_union_matches_global_sketch(self, spark, docs):
        per_lang = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(12))
        u = agg.union_all_sketches(per_lang).collect()[0]["sketch"]
        glob = agg.sketch_tokens_by_key(
            docs.withColumn("g", F.lit(1)), ["g"], lambda: HLL.empty(12)
        ).collect()[0]["sketch"]
        assert bytes(u) == bytes(glob)  # monoid: same registers either way

    def test_fold_expr(self, spark, docs):
        sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(14))
        folded = sk.select("lang", agg.fold_expr(10)("sketch").alias("sketch"))
        for r in folded.collect():
            s = sketch_from_bytes(bytes(r["sketch"]))
            assert s.p == 10

    def test_numeric_sketches(self, spark, docs):
        for make in (lambda: KLL.empty(200), lambda: TDigest.empty(100)):
            sk = agg.sketch_numeric_by_key(docs, ["lang"], make, "n_chars")
            qs = sk.select(
                "lang", agg.quantile_expr([0.5])("sketch").alias("q")
            ).collect()
            exact_med = {
                r["lang"]: r["m"]
                for r in docs.groupBy("lang")
                .agg(F.expr("percentile(n_chars, 0.5)").alias("m"))
                .collect()
            }
            for r in qs:
                assert abs(r["q"][0] - exact_med[r["lang"]]) / exact_med[r["lang"]] <= 0.15

    def test_weighted_sketch_multiset_semantics(self, spark, docs):
        """Weighted sketch cardinality ≈ total token count (multiset size)."""
        sk = agg.sketch_tokens_by_key(
            docs, ["lang"], lambda: HLL.empty(14), weighted=True
        )
        est = {
            r["lang"]: r["e"]
            for r in sk.select(
                "lang", agg.estimate_expr()("sketch").alias("e")
            ).collect()
        }
        totals = {
            r["lang"]: r["n"]
            for r in docs.select(
                "lang", F.explode(F.split("text", " ", -1)).alias("t")
            )
            .groupBy("lang")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        for lang, n in totals.items():
            assert abs(est[lang] - n) / n <= 3 * 1.04 / math.sqrt(1 << 14) + 0.01

    @pytest.mark.parametrize("shingle_w", [1, 2])
    def test_weighted_blobs_follow_seed(self, spark, docs, shingle_w):
        """The exact weighted mode hashes its items under ``seed`` at
        every shingle width: two seeds give different blobs per key."""

        def blobs(seed):
            return {
                r["lang"]: bytes(r["sketch"])
                for r in agg.sketch_tokens_by_key(
                    docs, ["lang"], lambda: HLL.empty(10), shingle_w=shingle_w,
                    seed=seed, weighted=True,
                ).collect()
            }

        a, b = blobs(0), blobs(5)
        assert a.keys() == b.keys() and a
        assert all(a[k] != b[k] for k in a)

    def test_weighted_cm_vs_exact_gap(self, spark, docs):
        """VERDICT r2 #5: weighted="cm" (Count-Min occurrence indexing,
        the reference's WeightedSketcher mechanism) must land within the
        exact weighted mode's own JI bound on every lang pair — CM
        occurrence inflation is one-sided <= eps*N and negligible at
        lg_width=16 on this fixture."""
        from dashing_spark.operators import dist, freq

        wsk = agg.sketch_tokens_by_key(
            docs, ["lang"], lambda: HLL.empty(14), weighted="cm"
        )
        est = {
            (r["a_lang"], r["b_lang"]): r["ji"]
            for r in dist.all_pairs(wsk, ["lang"], measures=("ji",)).collect()
        }
        c = freq.token_counts(docs, ["lang"])
        tot = {r["lang"]: r["n"] for r in c.groupBy("lang").agg(F.sum("cnt").alias("n")).collect()}
        a = c.select(F.col("lang").alias("a"), "token", F.col("cnt").alias("ca"))
        b = c.select(F.col("lang").alias("b"), "token", F.col("cnt").alias("cb"))
        smin = {
            (r["a"], r["b"]): r["s"]
            for r in a.join(b, "token")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum(F.least("ca", "cb")).alias("s"))
            .collect()
        }
        assert len(est) == 10
        for (ak, bk), ji_cm in est.items():
            exact = smin[(ak, bk)] / (tot[ak] + tot[bk] - smin[(ak, bk)])
            assert abs(ji_cm - exact) <= 0.05, (ak, bk, ji_cm, exact)

    def test_weighted_cm_deterministic(self, spark, docs):
        """Same input -> byte-identical CM-mode sketches regardless of
        upstream partitioning. (Each key fits one Arrow batch here, so
        the item set is exactly {(shingle, 0..c-1)} — order-free; at
        multi-batch scale the CM base makes items order-dependent like
        the reference's streaming counter, which is why the mode is
        documented as approximate.)"""
        mk = lambda: HLL.empty(12)
        s1 = {
            r["lang"]: bytes(r["sketch"])
            for r in agg.sketch_tokens_by_key(docs, ["lang"], mk, weighted="cm").collect()
        }
        s2 = {
            r["lang"]: bytes(r["sketch"])
            for r in agg.sketch_tokens_by_key(
                docs.repartition(7), ["lang"], mk, weighted="cm"
            ).collect()
        }
        assert s1 == s2


class TestExactKeys:
    """Keys and values pass the partial stage exactly: a null-bearing
    int64 key column must not round keys above 2^53 (distinct keys
    would merge), and null hashes must not become items."""

    SCHEMA = "k long, k2 string, text string, h long, v double"
    COLS = ["k", "k2", "text", "h", "v"]
    ROWS = [
        (2**62 + 1, "a", "x y z", 11, 1.0),
        (2**62 + 1, "b", "y w", 12, 2.0),
        (2**62 + 2, "a", "p q x", 13, 3.0),
        (None, "a", "r s", 14, 4.0),
        (2**62 + 2, "a", "q t", -15, 5.0),
    ]

    @staticmethod
    def _tokens_blob(rows):
        th, lens = hashing.hash_tokens_arrow(pa.array([r[2] for r in rows]))
        sh, _ = hashing.shingle_hashes(th, lens, w=1, seed=0)
        return HLL.empty(10).update_hashes(sh).to_bytes()

    @staticmethod
    def _hash_blob(rows):
        h = np.array([r[3] for r in rows], dtype=np.int64).view(np.uint64)
        return HLL.empty(10).update_hashes(h).to_bytes()

    @staticmethod
    def _numeric_blob(rows):
        return KLL.empty(200).update_batch(np.array([r[4] for r in rows])).to_bytes()

    @pytest.mark.parametrize("key_cols", [["k"], ["k", "k2"]])
    def test_64bit_keys_with_null_stay_exact(self, spark, key_cols):
        # one partition, one batch: each key's sketch sees its rows in
        # row order, so it equals the sketch of that key's rows alone
        df = spark.createDataFrame(self.ROWS, self.SCHEMA).coalesce(1)
        idx = [self.COLS.index(k) for k in key_cols]
        groups = {}
        for r in self.ROWS:
            groups.setdefault(tuple(r[i] for i in idx), []).append(r)
        builds = {
            "tokens": (
                agg.sketch_tokens_by_key(df, key_cols, lambda: HLL.empty(10)),
                self._tokens_blob,
            ),
            "hash_col": (
                agg.sketch_hash_col_by_key(df, key_cols, lambda: HLL.empty(10), "h"),
                self._hash_blob,
            ),
            "numeric": (
                agg.sketch_numeric_by_key(df, key_cols, lambda: KLL.empty(200), "v"),
                self._numeric_blob,
            ),
        }
        # weighted shingles (w > 1 hashes tokens pandas-side): the
        # reference build keys on k as a string, which stays exact
        weighted = lambda d: agg.sketch_tokens_by_key(  # noqa: E731
            d, key_cols, lambda: HLL.empty(10), weighted=True, shingle_w=2
        )
        ref = {
            tuple(
                r[k] if k != "k" or r[k] is None else int(r[k]) for k in key_cols
            ): bytes(r["sketch"])
            for r in weighted(df.withColumn("k", F.col("k").cast("string"))).collect()
        }
        builds["weighted_w2"] = (
            weighted(df),
            lambda rows: ref[tuple(rows[0][i] for i in idx)],
        )
        for name, (sk, expect) in builds.items():
            got = {
                tuple(r[k] for k in key_cols): bytes(r["sketch"]) for r in sk.collect()
            }
            assert set(got) == set(groups), name
            for key, rows in groups.items():
                assert got[key] == expect(rows), (name, key)

    def test_null_hashes_are_dropped(self, spark):
        df = spark.createDataFrame(
            [("a", None), ("a", None), ("b", 5), ("b", None), ("b", -7), ("c", 9)],
            "key string, h long",
        )
        kept = df.filter(F.col("h").isNotNull())
        for build in (
            lambda d: agg.sketch_hash_col_by_key(d, ["key"], lambda: HLL.empty(10), "h"),
            lambda d: agg.sketch_hash_col_multi_type(
                d, ["key"], {"hll": lambda: HLL.empty(10)}, "h"
            ),
        ):
            got = {r["key"]: bytes(r["sketch"]) for r in build(df).collect()}
            want = {r["key"]: bytes(r["sketch"]) for r in build(kept).collect()}
            assert set(got) == {"b", "c"}  # all-null key "a": no row
            assert got == want


class TestSynthPages:
    def test_deterministic_text_per_url(self, spark):
        a = synth_pages(spark, 500).select("url", "text")
        b = synth_pages(spark, 500).repartition(7).select("url", "text")
        diff = a.join(b.withColumnRenamed("text", "t2"), "url").filter(
            F.col("text") != F.col("t2")
        )
        assert diff.count() == 0

    def test_extract_text_roundtrip(self, spark):
        pages = synth_pages(spark, 200)
        ext = extract_text(pages)
        bad = ext.filter(F.col("text_extracted") != F.col("text"))
        assert bad.count() == 0

    def test_schema(self, spark):
        pages = synth_pages(spark, 10)
        assert [f.name for f in pages.schema.fields] == [
            "url", "warc_ts", "html", "text", "lang",
        ]
        assert pages.count() == 10


class TestMultiWidthOneScan:
    def test_multi_w_bit_identical_to_single_w(self, spark, docs):
        """sketch_tokens_multi_w must produce, per width, byte-identical
        blobs to the single-width kernel — the one-scan sweep is a pure
        execution-strategy change."""
        from dashing_spark.operators import agg as _agg

        multi = {
            (r["w"], r["lang"]): bytes(r["sketch"])
            for r in _agg.sketch_tokens_multi_w(
                docs, ["lang"], lambda: HLL.empty(12), ws=(1, 2, 3)
            ).collect()
        }
        for w in (1, 2, 3):
            single = {
                r["lang"]: bytes(r["sketch"])
                for r in _agg.sketch_tokens_by_key(
                    docs, ["lang"], lambda: HLL.empty(12), shingle_w=w
                ).collect()
            }
            assert {k[1] for k in multi if k[0] == w} == set(single)
            for lang, blob in single.items():
                assert multi[(w, lang)] == blob, (w, lang)

    def test_multi_w_single_scan_plan(self, spark, docs):
        """The whole width sweep must cost ONE input scan + ONE partial
        stage — per-width re-scans are what the kernel exists to avoid."""
        from dashing_spark.operators import agg as _agg

        sk = _agg.sketch_tokens_multi_w(
            docs, ["lang"], lambda: HLL.empty(12), ws=(1, 2, 3)
        )
        plan = sk._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1
        assert plan.count("MapInArrow") == 1

    def test_multi_w_rejects_duplicate_widths(self, spark, docs):
        import pytest as _pytest

        from dashing_spark.operators import agg as _agg

        with _pytest.raises(ValueError):
            _agg.sketch_tokens_multi_w(
                docs, ["lang"], lambda: HLL.empty(12), ws=(2, 2)
            )


class TestMultiTypeOneScan:
    FACTORIES = None  # built lazily (imports)

    def _factories(self):
        from dashing_spark.functions.bbmh import BBitMinHash
        from dashing_spark.functions.kmv import KMV
        from dashing_spark.functions.smh import SuperMinHash

        return {
            "kmv": lambda: KMV.empty(256),
            "bbmh": lambda: BBitMinHash.empty(10, 16),
            "smh": lambda: SuperMinHash.empty(256),
        }

    def test_multi_type_bit_identical_to_single_type(self, spark, docs):
        """sketch_tokens_multi_type must produce, per type, byte-identical
        blobs to the single-type kernel."""
        facs = self._factories()
        multi = {
            (r["sketch_type"], r["lang"]): bytes(r["sketch"])
            for r in agg.sketch_tokens_multi_type(docs, ["lang"], facs).collect()
        }
        for name, mk in facs.items():
            single = {
                r["lang"]: bytes(r["sketch"])
                for r in agg.sketch_tokens_by_key(docs, ["lang"], mk).collect()
            }
            for lang, blob in single.items():
                assert multi[(name, lang)] == blob, (name, lang)

    def test_hash_col_multi_type_bit_identical(self, spark, docs):
        from dashing_spark.functions import CountMinSketch

        toks = docs.select(
            "lang", F.explode(F.split("text", " ", -1)).alias("t")
        ).withColumn("__h", F.xxhash64("t"))
        facs = {
            "hll": lambda: HLL.empty(10),
            "cms": lambda: CountMinSketch.empty(12, 2),
        }
        multi = {
            (r["sketch_type"], r["lang"]): bytes(r["sketch"])
            for r in agg.sketch_hash_col_multi_type(
                toks, ["lang"], facs, "__h"
            ).collect()
        }
        for name, mk in facs.items():
            single = {
                r["lang"]: bytes(r["sketch"])
                for r in agg.sketch_hash_col_by_key(
                    toks, ["lang"], mk, "__h"
                ).collect()
            }
            for lang, blob in single.items():
                assert multi[(name, lang)] == blob, (name, lang)

    def test_multi_type_single_scan_plan(self, spark, docs):
        sk = agg.sketch_tokens_multi_type(docs, ["lang"], self._factories())
        plan = sk._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1
        assert plan.count("MapInArrow") == 1

    def test_multi_type_rejects_empty(self, spark, docs):
        with pytest.raises(ValueError):
            agg.sketch_tokens_multi_type(docs, ["lang"], {})
        with pytest.raises(ValueError):
            agg.sketch_hash_col_multi_type(docs, ["lang"], {}, "doc_id")

    def test_multi_type_branches_share_one_scan_at_runtime(self, spark, docs):
        """The gate queries fan several filter() branches off one
        multi-type sketch table; the partial stage must run ONCE.
        Pinned at runtime via the rows accumulator: if the eager cache
        is dropped, every branch side re-executes the scan and the
        count multiplies (6x measured for 3 self-joined branches)."""
        from dashing_spark.operators import dist

        n_docs = docs.count()
        acc = spark.sparkContext.accumulator(0)
        # .cache() + eager count IS the one-scan mechanism: runtime
        # exchange reuse does NOT fire across filter branches (without
        # the cache this accumulator reads 6x n_docs — measured)
        sk_all = agg.sketch_tokens_multi_type(
            docs, ["lang"], self._factories(), counters={"rows": acc}
        ).cache()
        sk_all.count()
        branches = [
            dist.all_pairs(
                sk_all.filter(F.col("sketch_type") == name).drop("sketch_type"),
                ["lang"],
                measures=("ji",),
            )
            for name in self._factories()
        ]
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        out.collect()
        sk_all.unpersist(blocking=True)
        assert acc.value == n_docs, (
            f"partial stage saw {acc.value} rows for {n_docs} docs — "
            "the multi-type branches are re-scanning instead of reusing "
            "one exchange"
        )
