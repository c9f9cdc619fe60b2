"""Tests for pairwise distance operators vs the exact-set oracle
(the reference's --use-full-khash-sets pattern, README.md:116)."""

import pytest
from pyspark.sql import functions as F

from dashing_spark.functions import HLL
from dashing_spark.operators import agg, dist
from dashing_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def lang_tokens(spark):
    docs = load_table(spark, SF, "documents")
    return docs.select(
        "lang", F.explode(F.split("text", " ", -1)).alias("token")
    ).cache()


@pytest.fixture(scope="module")
def sketches(spark):
    docs = load_table(spark, SF, "documents")
    return agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(14)).cache()


class TestAllPairs:
    def test_upper_triangular_shape(self, spark, sketches):
        pairs = dist.all_pairs(sketches, ["lang"], measures=("ji",)).collect()
        n = sketches.count()
        assert len(pairs) == n * (n - 1) // 2
        for r in pairs:
            assert r["a_lang"] < r["b_lang"]

    def test_sketch_ji_matches_exact(self, spark, sketches, lang_tokens):
        exact = {
            (r["a_key"], r["b_key"]): r["ji"]
            for r in dist.exact_pair_measures(
                lang_tokens, "lang", "token", ("ji",)
            ).collect()
        }
        est = dist.all_pairs(sketches, ["lang"], measures=("ji",)).collect()
        for r in est:
            assert abs(r["ji"] - exact[(r["a_lang"], r["b_lang"])]) <= 0.05

    def test_all_measures_computable(self, spark, sketches):
        from dashing_spark.functions.compare import MEASURES

        out = dist.all_pairs(
            sketches, ["lang"], measures=MEASURES, ksinv=1 / 3
        ).collect()
        for r in out:
            for ms in MEASURES:
                assert r[ms] is not None and r[ms] == r[ms]  # not NaN

    def test_query_reference_rectangular(self, spark, sketches):
        q = sketches.filter(F.col("lang") == "en")
        out = dist.query_reference(q, sketches, ["lang"], ("containment",)).collect()
        assert len(out) == sketches.count()
        # self-pair containment ~ 1
        self_pair = [r for r in out if r["b_lang"] == "en"][0]
        assert self_pair["containment"] >= 0.95

    def test_nearest_neighbors(self, spark, sketches):
        nn = dist.nearest_neighbors(sketches, ["lang"], 2, "ji").collect()
        n = sketches.count()
        assert len(nn) == n * 2
        per_key = {}
        for r in nn:
            per_key.setdefault(r["a_lang"], []).append(r["rank"])
        for ranks in per_key.values():
            assert sorted(ranks) == [1, 2]

    def test_cardinalities_op(self, spark, sketches, lang_tokens):
        exact = {
            r["lang"]: r["d"]
            for r in lang_tokens.groupBy("lang")
            .agg(F.countDistinct("token").alias("d"))
            .collect()
        }
        out = dist.estimate_cardinalities(sketches, ["lang"]).collect()
        for r in out:
            e = exact[r["lang"]]
            assert abs(r["cardinality"] - e) <= max(0.03 * e, 2.0)


class TestGridAllPairs:
    def test_grid_matches_broadcast_and_is_equi_joined(self, spark):
        """n_blocks switches all_pairs to the grid theta-join: identical
        pairs/values, and the plan carries NO nested-loop cartesian —
        the sketch sides meet in an equi-join on the block id, so the
        strategy survives sketch tables too large to broadcast."""
        from pyspark.sql import functions as F

        from dashing_spark.functions import HLL
        from dashing_spark.operators import agg, dist
        from dashing_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        sk = agg.sketch_tokens_by_key(
            docs.withColumn("bucket", F.pmod(F.col("doc_id"), F.lit(30))),
            ["bucket"],
            lambda: HLL.empty(10),
        ).cache()
        sk.count()
        bcast = dist.all_pairs(sk, ["bucket"], measures=("ji",))
        grid = dist.all_pairs(sk, ["bucket"], measures=("ji",), n_blocks=4)
        b = {(r["a_bucket"], r["b_bucket"]): r["ji"] for r in bcast.collect()}
        g = {(r["a_bucket"], r["b_bucket"]): r["ji"] for r in grid.collect()}
        assert len(b) == 30 * 29 // 2
        assert b == g
        plan = grid._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "__bb" in plan  # block-id equi key reaches the join
        sk.unpersist()


class TestNBlocksValidation:
    def test_bad_string_raises_value_error(self, spark):
        """Any string other than 'auto' must raise a clear ValueError,
        not an opaque str-vs-int TypeError from `n_blocks > 1`."""
        import pytest as _pytest

        from dashing_spark.operators import dist

        df = spark.createDataFrame([(1, b"")], "k int, blob binary")
        for fn, args in (
            (dist.all_pairs, (df, ["k"])),
            (dist.query_reference, (df, df, ["k"])),
        ):
            with _pytest.raises(ValueError, match="n_blocks"):
                fn(*args, n_blocks="Auto")
            with _pytest.raises(ValueError, match="n_blocks"):
                fn(*args, n_blocks="4")


class TestEstimatorValidation:
    def test_unknown_estimator_raises_when_the_udf_is_built(self, spark):
        import pytest as _pytest

        from dashing_spark.operators import dist

        df = spark.createDataFrame([(1, b"")], "k int, sketch binary")
        for fn, args in (
            (dist.all_pairs, (df, ["k"])),
            (dist.query_reference, (df, df, ["k"])),
        ):
            with _pytest.raises(ValueError, match="unknown estimator"):
                fn(*args, estimator="ertl-mle")

    def test_unknown_estimator_raises_when_the_estimate_expr_is_built(self, spark):
        import pytest as _pytest

        from dashing_spark.operators.agg import estimate_expr

        with _pytest.raises(ValueError, match="unknown estimator"):
            estimate_expr("bogus")


class TestGridQueryReference:
    def test_rect_grid_matches_broadcast_and_is_equi_joined(self, spark):
        """VERDICT r4 #3: a 10^6-sketch reference panel cannot
        broadcast — n_blocks switches query_reference to the reference-
        blocked grid: identical panel values, no broadcast of the
        reference side, sides meet in an equi-join on the block id."""
        from pyspark.sql import functions as F

        from dashing_spark.functions import HLL
        from dashing_spark.operators import agg, dist
        from dashing_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        sk = agg.sketch_tokens_by_key(
            docs.withColumn("bucket", F.pmod(F.col("doc_id"), F.lit(30))),
            ["bucket"],
            lambda: HLL.empty(10),
        ).cache()
        sk.count()
        q = sk.filter(F.col("bucket") < 5)
        bcast = dist.query_reference(
            q, sk, ["bucket"], ("containment",), n_blocks=None
        )
        grid = dist.query_reference(
            q, sk, ["bucket"], ("containment",), n_blocks=4
        )
        b = {
            (r["a_bucket"], r["b_bucket"]): r["containment"]
            for r in bcast.collect()
        }
        g = {
            (r["a_bucket"], r["b_bucket"]): r["containment"]
            for r in grid.collect()
        }
        assert len(b) == 5 * 30
        assert b == g
        plan = grid._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "__bb" in plan  # block-id equi key reaches the join
        sk.unpersist()

    def test_rect_auto_keeps_broadcast_for_inflight_panels(self, spark):
        """The auto selector must not tax small in-flight (Python-eval
        lineage) panels with query replication — same guard as
        all_pairs (Catalyst stats lie through Python nodes)."""
        from pyspark.sql import functions as F

        from dashing_spark.functions import HLL
        from dashing_spark.operators import agg, dist
        from dashing_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(10))
        q = sk.filter(F.col("lang") == "en")
        panel = dist.query_reference(q, sk, ["lang"], ("containment",))
        plan = panel._jdf.queryExecution().executedPlan().toString()
        assert "__bb" not in plan
        assert (
            "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
        )


class TestAsymmetricNeighborMirroring:
    def test_containment_direction_differs_per_row(self, spark):
        # X (10 tokens) ⊂ Y (100 tokens): containment(X in Y) = 1.0 but
        # containment(Y in X) = 0.1 — the mirrored kNN row must carry
        # the b->a value, not a copy of a->b
        import pandas as pd

        from dashing_spark.functions import HLL
        from dashing_spark.operators import agg

        toks_y = " ".join(f"w{i}" for i in range(100))
        toks_x = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame(
            pd.DataFrame({"k": ["X", "Y"], "text": [toks_x, toks_y]})
        )
        sk = agg.sketch_tokens_by_key(df, ["k"], lambda: HLL.empty(14))
        nn = {
            r["a_k"]: r["containment"]
            for r in dist.nearest_neighbors(
                sk, ["k"], 1, measure="containment"
            ).collect()
        }
        assert nn["X"] > 0.9   # X is (nearly) contained in Y
        assert nn["Y"] < 0.3   # Y is NOT contained in X


class TestLshBandBoundEnforced:
    def test_unmeetable_threshold_raises(self):
        from dashing_spark.operators import dedup

        with pytest.raises(ValueError, match="n_hashes"):
            dedup.pick_lsh_bands(128, 0.1)
        # and the documented thresholds still resolve
        assert dedup.pick_lsh_bands(128, 0.5) == 64   # r=2
        assert dedup.pick_lsh_bands(128, 0.9) == 32   # r=4
