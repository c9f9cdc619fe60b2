"""Tests for checkpointed resume (plans.pipeline) and incremental
streaming sketch maintenance (streaming.incremental)."""

import os

import pytest
from pyspark.sql import functions as F

from dashing_spark.functions import HLL
from dashing_spark.operators import agg
from dashing_spark.params import SketchParams
from dashing_spark.plans import snapshots
from dashing_spark.plans.pipeline import (
    build_or_resume_sketch_table,
    params_fingerprint,
    partition_lineage,
)
from dashing_spark.sources.tables import load_table
from dashing_spark.streaming.incremental import (
    apply_sketch_batch,
    committed_epoch,
    current_state_path,
    estimate_state,
    incremental_sketch_query,
    merge_sketch_states,
    read_state,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


class TestCheckpointResume:
    def test_build_then_resume(self, spark, docs, tmp_path):
        ckpt = str(tmp_path / "ckpt")
        params = SketchParams(p=12)
        sk1, m1 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(12), ckpt, params=params, salt=2
        )
        assert not m1.resumed
        assert m1.rows_in == docs.count()
        assert m1.keys_out == 5
        assert m1.partial_sketches >= 5
        # every partial beyond the first of its key is one merge, on
        # either merge tree (salt level run or skipped)
        assert m1.merges == m1.partial_sketches - m1.keys_out
        assert os.path.exists(m1.checkpoint)
        first = {r["lang"]: bytes(r["sketch"]) for r in sk1.collect()}

        sk2, m2 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(12), ckpt, params=params
        )
        assert m2.resumed
        assert {r["lang"]: bytes(r["sketch"]) for r in sk2.collect()} == first

    def test_different_params_different_snapshot(self, spark, docs, tmp_path):
        ckpt = str(tmp_path / "ckpt2")
        _, m1 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(12), ckpt, params=SketchParams(p=12)
        )
        _, m2 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(10), ckpt, params=SketchParams(p=10)
        )
        assert not m2.resumed
        assert m1.checkpoint != m2.checkpoint
        assert params_fingerprint(SketchParams(p=12), ["lang"]) != params_fingerprint(
            SketchParams(p=10), ["lang"]
        )

    def test_fingerprint_covers_input_and_sketch_type(self, spark, docs, tmp_path):
        """Same params but a different sketch constructor or different
        input data must NOT resume from the stale snapshot."""
        from dashing_spark.functions import KMV

        ckpt = str(tmp_path / "ckpt5")
        _, m1 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(12), ckpt, params=SketchParams(p=12)
        )
        _, m2 = build_or_resume_sketch_table(
            docs, ["lang"], lambda: KMV.empty(256), ckpt, params=SketchParams(p=12)
        )
        assert not m2.resumed and m2.checkpoint != m1.checkpoint
        _, m3 = build_or_resume_sketch_table(
            docs.limit(100), ["lang"], lambda: HLL.empty(12), ckpt,
            params=SketchParams(p=12),
        )
        assert not m3.resumed and m3.checkpoint != m1.checkpoint

    def test_metrics_json_written(self, spark, docs, tmp_path):
        ckpt = str(tmp_path / "ckpt3")
        _, m = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(10), ckpt, params=SketchParams(p=10)
        )
        fp = os.path.basename(m.checkpoint).split("_", 1)[1]
        path = os.path.join(ckpt, f"metrics_{fp}.json")
        assert os.path.exists(path)
        import json

        loaded = json.loads(open(path).read())
        assert loaded["rows_in"] == docs.count()

    def test_lineage_covers_all_rows(self, spark, docs):
        lin = partition_lineage(docs.repartition(6), ["text"])
        rows = lin.collect()
        assert sum(r["n_rows"] for r in rows) == docs.count()
        assert len(rows) == 6

    def test_checkpoint_matches_direct_build(self, spark, docs, tmp_path):
        ckpt = str(tmp_path / "ckpt4")
        sk, _ = build_or_resume_sketch_table(
            docs, ["lang"], lambda: HLL.empty(12), ckpt, params=SketchParams(p=12)
        )
        direct = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(12))
        assert {r["lang"]: bytes(r["sketch"]) for r in sk.collect()} == {
            r["lang"]: bytes(r["sketch"]) for r in direct.collect()
        }


class TestStreaming:
    def test_incremental_equals_batch(self, spark, docs, tmp_path):
        src_dir = str(tmp_path / "stream_src")
        docs.repartition(4).write.mode("overwrite").parquet(src_dir)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src_dir)
        )
        state_dir = str(tmp_path / "state")
        q = incremental_sketch_query(
            stream,
            ["lang"],
            lambda: HLL.empty(12),
            state_dir,
            str(tmp_path / "stream_ckpt"),
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(
                "streaming query did not finish within 120s"
            )
        final = {
            r["lang"]: bytes(r["sketch"]) for r in read_state(spark, state_dir).collect()
        }
        batch = {
            r["lang"]: bytes(r["sketch"])
            for r in agg.sketch_tokens_by_key(
                docs, ["lang"], lambda: HLL.empty(12)
            ).collect()
        }
        assert final == batch  # monoid ⇒ micro-batching invisible

        est = estimate_state(spark, state_dir, ["lang"])
        exact = {
            r["lang"]: r["d"]
            for r in docs.select("lang", F.explode(F.split("text", " ", -1)).alias("t"))
            .groupBy("lang")
            .agg(F.countDistinct("t").alias("d"))
            .collect()
        }
        for r in est.collect():
            assert abs(r["estimate"] - exact[r["lang"]]) <= max(
                0.05 * exact[r["lang"]], 2.0
            )

    def test_epoch_retry_is_idempotent(self, spark, docs, tmp_path):
        """A foreachBatch retry of a committed epoch must not re-merge
        its batch (double-counting additive sketches), and a re-run of
        an uncommitted epoch must rebuild from the previous epoch."""
        state_dir = str(tmp_path / "retry_state")
        os.makedirs(state_dir)
        half1 = docs.filter(F.col("doc_id") % 2 == 0)
        half2 = docs.filter(F.col("doc_id") % 2 == 1)
        apply_sketch_batch(half1, 0, ["lang"], lambda: HLL.empty(11), state_dir)
        assert committed_epoch(state_dir) == 0
        # the hint file older versions of the snapshot log wrote on every
        # commit: resuming such a state dir neither needs nor refuses it
        with open(os.path.join(state_dir, "version-hint.text"), "w") as f:
            f.write("0")
        apply_sketch_batch(half2, 1, ["lang"], lambda: HLL.empty(11), state_dir)
        after_first = {
            r["lang"]: bytes(r["sketch"]) for r in read_state(spark, state_dir).collect()
        }
        version = snapshots.current_version(state_dir)
        # retry of the already-committed epoch 1: state must be unchanged
        apply_sketch_batch(half2, 1, ["lang"], lambda: HLL.empty(11), state_dir)
        assert committed_epoch(state_dir) == 1
        assert snapshots.current_version(state_dir) == version
        # a lower epoch id (restarted query counter) is refused, not skipped
        with pytest.raises(ValueError, match="epoch 0 precedes committed epoch 1"):
            apply_sketch_batch(half1, 0, ["lang"], lambda: HLL.empty(11), state_dir)
        assert snapshots.current_version(state_dir) == version
        after_retry = {
            r["lang"]: bytes(r["sketch"]) for r in read_state(spark, state_dir).collect()
        }
        assert after_retry == after_first
        assert "-epoch_1-" in os.path.basename(current_state_path(state_dir))
        # and the merged result equals the one-shot batch build
        full = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(11))
        assert after_first == {r["lang"]: bytes(r["sketch"]) for r in full.collect()}

    def test_merge_sketch_states(self, spark, docs):
        half1 = docs.filter(F.col("doc_id") % 2 == 0)
        half2 = docs.filter(F.col("doc_id") % 2 == 1)
        a = agg.sketch_tokens_by_key(half1, ["lang"], lambda: HLL.empty(11))
        b = agg.sketch_tokens_by_key(half2, ["lang"], lambda: HLL.empty(11))
        merged = merge_sketch_states(a, b, ["lang"])
        full = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(11))
        assert {r["lang"]: bytes(r["sketch"]) for r in merged.collect()} == {
            r["lang"]: bytes(r["sketch"]) for r in full.collect()
        }


    @pytest.mark.parametrize(
        "field, change",
        [
            ("text_col", {"text_col": "source"}),
            ("sketch", {"make_sketch": lambda: HLL.empty(12)}),
            ("key_cols", {"key_cols": ["lang", "source"]}),
        ],
    )
    def test_resume_with_other_layout_raises(self, spark, docs, tmp_path, field, change):
        """A resume under another text column, other sketch parameters
        or other key columns must refuse by field name and leave the
        state as it was, not merge foreign sketches into it."""
        state_dir = str(tmp_path / "layout_state")
        args = {"key_cols": ["lang"], "make_sketch": lambda: HLL.empty(10)}
        half = docs.filter(F.col("doc_id") % 2 == 0)
        apply_sketch_batch(half, 0, state_dir=state_dir, **args)
        before = sorted(os.listdir(os.path.join(state_dir, "data")))
        state = {r["lang"]: bytes(r["sketch"]) for r in read_state(spark, state_dir).collect()}
        with pytest.raises(ValueError, match=field):
            apply_sketch_batch(docs, 1, state_dir=state_dir, **{**args, **change})
        assert committed_epoch(state_dir) == 0
        assert sorted(os.listdir(os.path.join(state_dir, "data"))) == before
        assert {
            r["lang"]: bytes(r["sketch"]) for r in read_state(spark, state_dir).collect()
        } == state

    def test_resume_of_pre_log_state_raises(self, spark, docs, tmp_path):
        """State of the older layout (a _CURRENT file naming an epoch_N
        table, no snapshot log) must be refused by name, not merged."""
        state_dir = tmp_path / "legacy_state"
        agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(10)).write.parquet(
            str(state_dir / "epoch_0")
        )
        (state_dir / "_CURRENT").write_text("0")
        with pytest.raises(ValueError, match="older layout.*_CURRENT"):
            apply_sketch_batch(docs, 1, ["lang"], lambda: HLL.empty(10), str(state_dir))
        assert sorted(os.listdir(state_dir)) == ["_CURRENT", "epoch_0"]


class TestStatefulStream:
    def test_engine_state_matches_batch_and_counts_exactly(self, spark, tmp_path):
        """applyInPandasWithState per-day HLLs: final estimates must be
        identical to the batch build (max-monoid state is micro-batch-
        boundary-free) and n_updates must count every event once."""
        from pyspark.sql import Window, functions as F

        from dashing_spark.functions import HLL
        from dashing_spark.streaming.stateful import stateful_sketch_stream

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        src, ck, out = (str(tmp_path / d) for d in ("src", "ck", "out"))
        for d in (src, ck, out):
            os.makedirs(d)
        ev.repartition(3).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withColumn("day", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
            .withColumn("__h", F.xxhash64("user_id"))
        )
        q = stateful_sketch_stream(stream, ["day"], lambda: HLL.empty(10), "__h")

        def sink(bdf, eid):
            bdf.withColumn("epoch", F.lit(eid)).write.mode("append").parquet(out)

        sq = (
            q.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        if not sq.awaitTermination(300):
            sq.stop()
            raise TimeoutError(
                "streaming query did not finish within 300s"
            )
        res = spark.read.parquet(out)
        w = Window.partitionBy("day").orderBy(
            F.col("n_updates").desc(), F.col("epoch").desc()
        )
        final = {
            r["day"]: (r["estimate"], r["n_updates"])
            for r in res.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .collect()
        }
        # batch reference: same sketch over all rows per day
        from dashing_spark.operators import agg

        batch = agg.sketch_hash_col_by_key(
            ev.withColumn("day", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
            .withColumn("__h", F.xxhash64("user_id")),
            ["day"],
            lambda: HLL.empty(10),
            "__h",
        )
        best = {
            r["day"]: r["e"]
            for r in batch.select(
                "day", agg.estimate_expr()("sketch").alias("e")
            ).collect()
        }
        counts = {
            r["day"]: r["n"]
            for r in ev.withColumn(
                "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
            )
            .groupBy("day")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert set(final) == set(best)
        for day, (est, n) in final.items():
            assert est == best[day]  # identical monoid state => identical estimate
            assert n == counts[day]


    def test_unknown_estimator_raises_when_built(self, spark, tmp_path):
        """An unknown estimator name fails when the stream is built,
        not in its first micro-batch."""
        from dashing_spark.streaming.stateful import stateful_sketch_stream

        src = str(tmp_path / "est_src")
        os.makedirs(src)
        stream = spark.readStream.schema("day string, __h long").parquet(src)
        with pytest.raises(ValueError, match="unknown estimator"):
            stateful_sketch_stream(
                stream, ["day"], lambda: HLL.empty(10), "__h", estimator="ertl_bogus"
            )


class TestStreamingDedup:
    def test_streamed_pairs_equal_batch_pipeline(
        self, spark, docs, tmp_path, verify_placement
    ):
        from dashing_spark.operators import dedup
        from dashing_spark.streaming import dedup_stream

        src_dir = str(tmp_path / "dd_src")
        docs.repartition(3).write.mode("overwrite").parquet(src_dir)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        state_dir = str(tmp_path / "dd_state")
        q = dedup_stream.incremental_dedup_query(
            stream,
            id_col="doc_id",
            state_dir=state_dir,
            checkpoint_dir=str(tmp_path / "dd_ckpt"),
            threshold=0.9,
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming query did not finish within 300s"
            )
        assert len(dedup_stream.committed_epochs(state_dir)) >= 2
        streamed = {
            (r["a_id"], r["b_id"], r["ji"])
            for r in dedup_stream.read_pairs(spark, state_dir).collect()
        }

        # batch reference: same primitives, one shot over the full corpus
        items = dedup.hashed_item_sets(docs, "doc_id")
        valid = items.filter(F.size("items") > 0).select("id")
        sigs = dedup.minhash_signatures(docs, "doc_id", n_hashes=128)
        sigs = sigs.join(valid, sigs["doc_id"] == valid["id"]).select(
            "doc_id", "signature"
        )
        # full r=4 banding over all 128 hashes: a strictly larger
        # candidate set than the stream's minimal banding, so equality
        # also shows the stream loses no pair that full banding finds
        cand = dedup.lsh_candidate_pairs(sigs, "doc_id", n_hashes=128, bands=32)
        batch = {
            (r["a_id"], r["b_id"], r["ji"])
            for r in dedup.exact_ji_for_pairs(docs, cand, "doc_id")
            .filter(F.col("ji") >= 0.9)
            .collect()
        }
        assert streamed == batch
        assert streamed  # fixture has ~8% near-dups: non-vacuous
        placement, decided = verify_placement
        assert decided and set(decided) == {placement == "fused"}

    def test_epoch_retry_is_noop(self, spark, docs, tmp_path):
        from dashing_spark.streaming import dedup_stream

        state_dir = str(tmp_path / "dd_state2")
        os.makedirs(state_dir, exist_ok=True)
        half = docs.filter(F.col("doc_id") % 2 == 0)
        dedup_stream.apply_dedup_batch(
            half, 0, id_col="doc_id", state_dir=state_dir, threshold=0.9
        )
        n0 = dedup_stream.read_pairs(spark, state_dir).count()
        # retry of a committed epoch must not re-index or re-emit
        dedup_stream.apply_dedup_batch(
            half, 0, id_col="doc_id", state_dir=state_dir, threshold=0.9
        )
        assert dedup_stream.committed_epochs(state_dir) == [0]
        assert dedup_stream.read_pairs(spark, state_dir).count() == n0
        # a later epoch sees the earlier index: new-vs-old pairs appear
        other = docs.filter(F.col("doc_id") % 2 == 1)
        dedup_stream.apply_dedup_batch(
            other, 1, id_col="doc_id", state_dir=state_dir, threshold=0.9
        )
        assert dedup_stream.committed_epochs(state_dir) == [0, 1]
        pairs = dedup_stream.read_pairs(spark, state_dir)
        cross = pairs.filter(
            (F.col("a_id") % 2) != (F.col("b_id") % 2)
        ).count()
        assert cross > 0
        # a lower epoch id (restarted query counter) is refused, not skipped
        version = snapshots.current_version(state_dir)
        with pytest.raises(ValueError, match="epoch 0 precedes committed epoch 1"):
            dedup_stream.apply_dedup_batch(
                half, 0, id_col="doc_id", state_dir=state_dir, threshold=0.9
            )
        assert snapshots.current_version(state_dir) == version
        assert dedup_stream.committed_epochs(state_dir) == [0, 1]

    def test_redelivered_docs_not_reindexed(self, spark, docs, tmp_path):
        # at-least-once delivery: epoch 1 redelivers every doc of epoch 0
        from dashing_spark.streaming import dedup_stream

        state_dir = str(tmp_path / "dd_state3")
        os.makedirs(state_dir, exist_ok=True)
        half = docs.filter(F.col("doc_id") % 2 == 0)
        dedup_stream.apply_dedup_batch(
            half, 0, id_col="doc_id", state_dir=state_dir, threshold=0.9
        )
        n0 = dedup_stream.read_pairs(spark, state_dir).count()
        # epoch 1 = ALL docs (the even half redelivered + the odd half new)
        dedup_stream.apply_dedup_batch(
            docs, 1, id_col="doc_id", state_dir=state_dir, threshold=0.9
        )
        pairs = dedup_stream.read_pairs(spark, state_dir)
        rows = pairs.collect()
        # no self-pairs, no duplicated pair rows
        assert all(r["a_id"] != r["b_id"] for r in rows)
        assert len(rows) == len({(r["a_id"], r["b_id"]) for r in rows})
        assert len(rows) > n0  # the genuinely-new odd docs added pairs

    def test_resume_with_other_n_hashes_raises(self, spark, docs, tmp_path):
        """A state_dir banded under one n_hashes must refuse an epoch
        banded under another: its band keys would never collide with
        the new ones, so old docs would silently stop matching."""
        from dashing_spark.streaming import dedup_stream

        state_dir = str(tmp_path / "dd_layout")
        dedup_stream.apply_dedup_batch(
            docs.filter(F.col("doc_id") % 2 == 0), 0,
            id_col="doc_id", state_dir=state_dir, threshold=0.9,
        )
        with pytest.raises(ValueError, match="layout"):
            dedup_stream.apply_dedup_batch(
                docs.filter(F.col("doc_id") % 2 == 1), 1,
                id_col="doc_id", state_dir=state_dir, threshold=0.9,
                n_hashes=128,
            )
        assert dedup_stream.committed_epochs(state_dir) == [0]

    def test_resume_manifest_without_layout_raises(self, spark, docs, tmp_path):
        """A state_dir of an older, pre-snapshot-log layout (an _EPOCHS
        manifest over per-doc docs_/bands_ tables) must be refused by
        name, not treated as an empty index."""
        from dashing_spark.streaming import dedup_stream

        state_dir = tmp_path / "dd_legacy"
        (state_dir / "docs_epoch_0").mkdir(parents=True)
        (state_dir / "_EPOCHS").write_text("0")
        with pytest.raises(ValueError, match="older layout.*_EPOCHS"):
            dedup_stream.apply_dedup_batch(
                docs, 1, id_col="doc_id", state_dir=str(state_dir),
                threshold=0.9,
            )

    def test_epoch_counter_restart_raises(self, spark, docs, tmp_path):
        from dashing_spark.streaming import dedup_stream

        state_dir = str(tmp_path / "dd_state4")
        os.makedirs(state_dir, exist_ok=True)
        half = docs.filter(F.col("doc_id") % 2 == 0)
        dedup_stream.apply_dedup_batch(
            half, 5, id_col="doc_id", state_dir=state_dir, threshold=0.9
        )
        with pytest.raises(ValueError, match="mismatch"):
            dedup_stream.apply_dedup_batch(
                docs, 3, id_col="doc_id", state_dir=state_dir, threshold=0.9
            )


class TestStatefulKeyOrder:
    def test_key_cols_order_differs_from_schema(self, spark, tmp_path):
        # stream schema lists (site, day); group by ["day", "site"] —
        # output keys must not transpose
        import pandas as pd

        from dashing_spark.functions import HLL
        from dashing_spark.streaming.stateful import stateful_sketch_stream

        src_dir = str(tmp_path / "sk_src")
        df = spark.createDataFrame(
            [("s1", "d1", i) for i in range(50)]
            + [("s2", "d2", i) for i in range(30)],
            "site string, day string, uid long",
        ).withColumn("__h", F.xxhash64("uid"))
        df.write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema(df.schema).parquet(src_dir)
        out = stateful_sketch_stream(
            stream, ["day", "site"], lambda: HLL.empty(12), "__h"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("keyorder_t")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError("stateful stream did not finish")
        rows = {
            (r["day"], r["site"]): r["n_updates"]
            for r in spark.sql("select * from keyorder_t").collect()
        }
        assert rows == {("d1", "s1"): 50, ("d2", "s2"): 30}


class TestIndexCompaction:
    """compact_index / expire_epochs — the maintenance operations that
    cap the streaming dedup index's per-epoch scan cost."""

    def _ingest_epochs(self, spark, docs, state_dir, n_epochs=3):
        from pyspark.sql import functions as F

        from dashing_spark.streaming import dedup_stream

        for e in range(n_epochs):
            batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(n_epochs)) == e)
            dedup_stream.apply_dedup_batch(
                batch, e, id_col="doc_id", state_dir=state_dir, threshold=0.9
            )

    def test_compaction_preserves_matching_semantics(self, spark, docs, tmp_path):
        """Pairs emitted by an epoch arriving AFTER compaction must be
        bit-identical to the uncompacted run — the segment is a pure
        re-layout of the same index."""
        from pyspark.sql import functions as F

        from dashing_spark.streaming import dedup_stream

        plain = str(tmp_path / "plain")
        compacted = str(tmp_path / "compacted")
        first = docs.filter(F.col("doc_id") % 2 == 0)
        last = docs.filter(F.col("doc_id") % 2 != 0)
        for state in (plain, compacted):
            for e in range(2):
                batch = first.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 2 * e)
                dedup_stream.apply_dedup_batch(
                    batch, e, id_col="doc_id", state_dir=state, threshold=0.9
                )
        assert dedup_stream.compact_index(spark, compacted, keep_last=0)
        assert dedup_stream._tokens(compacted) == ["c1"]
        # the epoch-counter guard must survive compaction
        assert dedup_stream.committed_epochs(compacted) == [1]
        for state in (plain, compacted):
            dedup_stream.apply_dedup_batch(
                last, 2, id_col="doc_id", state_dir=state, threshold=0.9
            )
        get = lambda s: {
            (r["a_id"], r["b_id"], r["ji"])
            for r in dedup_stream.read_pairs(spark, s).collect()
        }
        assert get(plain) == get(compacted)
        assert get(plain)  # non-vacuous

    def test_compaction_reduces_directory_count(self, spark, docs, tmp_path):
        import os

        from dashing_spark.streaming import dedup_stream

        state = str(tmp_path / "state")
        self._ingest_epochs(spark, docs, state, n_epochs=3)
        n_before = len(os.listdir(os.path.join(state, "data")))
        assert dedup_stream.compact_index(spark, state, keep_last=1)
        n_after = len(os.listdir(os.path.join(state, "data")))
        assert n_after < n_before
        assert dedup_stream._tokens(state) == ["c1", "2"]

    def test_compaction_noop_when_nothing_to_merge(self, spark, docs, tmp_path):
        from pyspark.sql import functions as F

        from dashing_spark.streaming import dedup_stream

        state = str(tmp_path / "state1")
        dedup_stream.apply_dedup_batch(
            docs.filter(F.col("doc_id") < 100), 0,
            id_col="doc_id", state_dir=state, threshold=0.9,
        )
        assert not dedup_stream.compact_index(spark, state, keep_last=1)
        assert not dedup_stream.compact_index(spark, state, keep_last=0)

    def test_auto_compaction_mid_stream_preserves_pairs(
        self, spark, docs, tmp_path
    ):
        """VERDICT r4 #4: with max_segments the index compacts ITSELF
        mid-stream; epochs arriving after the boundary must still
        produce the exact batch pair union."""
        from pyspark.sql import functions as F

        from dashing_spark.operators import dedup
        from dashing_spark.streaming import dedup_stream

        plain = str(tmp_path / "auto_plain")
        auto = str(tmp_path / "auto_compact")
        for state, policy in ((plain, None), (auto, 3)):
            for e in range(5):
                batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == e)
                dedup_stream.apply_dedup_batch(
                    batch, e, id_col="doc_id", state_dir=state,
                    threshold=0.9, max_segments=policy,
                )
        # the policy actually fired: segments folded, not 5 raw epochs
        toks = dedup_stream._tokens(auto)
        assert len(toks) <= 3 and any(t.startswith("c") for t in toks)
        assert dedup_stream._tokens(plain) == [
            "0", "1", "2", "3", "4",
        ]
        get = lambda s: {  # noqa: E731
            (r["a_id"], r["b_id"], r["ji"])
            for r in dedup_stream.read_pairs(spark, s).collect()
        }
        streamed = get(auto)
        assert streamed == get(plain)
        batch_pairs = {
            (r["a_id"], r["b_id"], r["ji"])
            for r in dedup.minhash_lsh_dedup(
                docs, "doc_id", threshold=0.9
            ).collect()
        }
        assert streamed == batch_pairs
        assert streamed  # non-vacuous

    def test_ttl_with_compaction_stays_bounded(self, spark, docs, tmp_path):
        """Review r5: with BOTH knobs active, compaction must not
        re-absorb existing segments — folding a segment forward
        re-stamps its docs with a newer max epoch, so the oldest docs
        would never age past the TTL horizon and the index would grow
        forever. With absorb_compacted=False (auto when ttl_epochs is
        set), segments age out whole: retention ≤ 2×ttl."""
        from pyspark.sql import functions as F

        from dashing_spark.streaming import dedup_stream

        state = str(tmp_path / "both_knobs")
        small = docs.filter(F.col("doc_id") < 120)
        n_epochs, ttl = 12, 3
        for e in range(n_epochs):
            batch = small.filter(F.pmod(F.col("doc_id"), F.lit(n_epochs)) == e)
            dedup_stream.apply_dedup_batch(
                batch, e, id_col="doc_id", state_dir=state,
                threshold=0.9, max_segments=3, ttl_epochs=ttl,
            )
        toks = dedup_stream._tokens(state)
        # every surviving entry's max covered epoch is within 2×ttl of
        # the head — nothing was refreshed past its horizon
        horizon = (n_epochs - 1) - 2 * ttl
        assert all(dedup_stream._token_epoch(t) > horizon for t in toks), toks
        # and the manifest itself stayed bounded (not one dir per epoch)
        assert len(toks) <= ttl + 3, toks

    def test_empty_epoch_advances_ttl_horizon(self, spark, docs, tmp_path):
        """r6 review: an empty epoch must still expire index entries
        older than the window — otherwise a quiet stream's index never
        shrinks and the next busy batch matches beyond ttl_epochs."""
        from pyspark.sql import functions as F

        from dashing_spark.streaming import dedup_stream

        state = str(tmp_path / "empty_ttl")
        small = docs.filter(F.col("doc_id") < 100)
        ttl = 2
        for e in (0, 1):
            dedup_stream.apply_dedup_batch(
                small.filter(F.pmod(F.col("doc_id"), F.lit(2)) == e),
                e, id_col="doc_id", state_dir=state,
                threshold=0.9, ttl_epochs=ttl,
            )
        assert dedup_stream._tokens(state) == ["0", "1"]
        empty = small.filter(F.lit(False))
        # epochs 2,3 arrive empty: horizon advances to 3-2+1 = 2 →
        # both indexed epochs age out
        dedup_stream.apply_dedup_batch(
            empty, 2, id_col="doc_id", state_dir=state,
            threshold=0.9, ttl_epochs=ttl,
        )
        assert dedup_stream._tokens(state) == ["1"]
        dedup_stream.apply_dedup_batch(
            empty, 3, id_col="doc_id", state_dir=state,
            threshold=0.9, ttl_epochs=ttl,
        )
        assert dedup_stream._tokens(state) == []
        # a busy epoch after the quiet stretch matches nothing old:
        # replay epoch-0 docs as epoch 4 — in a never-expired index
        # every doc would self-pair; here only in-batch pairs remain
        dedup_stream.apply_dedup_batch(
            small.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
            .withColumn("doc_id", F.col("doc_id") + 1000),
            4, id_col="doc_id", state_dir=state,
            threshold=0.9, ttl_epochs=ttl,
        )
        pairs = dedup_stream.read_pairs(spark, state)
        assert pairs.filter(
            (F.col("a_id") < 1000) | (F.col("b_id") < 1000)
        ).count() == 0

    def test_maintenance_params_validated(self, spark, docs, tmp_path):
        from pyspark.sql import functions as F

        from dashing_spark.streaming import dedup_stream

        state = str(tmp_path / "badpolicy")
        batch = docs.filter(F.col("doc_id") < 50)
        with pytest.raises(ValueError, match="max_segments"):
            dedup_stream.apply_dedup_batch(
                batch, 0, id_col="doc_id", state_dir=state, max_segments=1
            )
        with pytest.raises(ValueError, match="ttl_epochs"):
            dedup_stream.apply_dedup_batch(
                batch, 1, id_col="doc_id", state_dir=state, ttl_epochs=0
            )
        # the stream constructor fails FAST too (before the query — and
        # its checkpoint dir — exists), not inside the first foreachBatch
        with pytest.raises(ValueError, match="max_segments"):
            dedup_stream.incremental_dedup_query(
                None, id_col="doc_id", state_dir=state,
                checkpoint_dir=str(tmp_path / "ck"), max_segments=1,
            )

    def test_expire_drops_old_matches(self, spark, docs, tmp_path):
        """TTL semantics: a doc duplicating ONLY an expired doc emits no
        pair (bounded dedup window)."""
        from pyspark.sql import functions as F

        from dashing_spark.streaming import dedup_stream

        state = str(tmp_path / "state2")
        half_a = docs.filter(F.col("doc_id") % 2 == 0)
        half_b = docs.filter(F.col("doc_id") % 2 != 0)
        dedup_stream.apply_dedup_batch(
            half_a, 0, id_col="doc_id", state_dir=state, threshold=0.9
        )
        dropped = dedup_stream.expire_epochs(state, min_epoch=1)
        assert dropped == ["0"]
        dedup_stream.apply_dedup_batch(
            half_b, 1, id_col="doc_id", state_dir=state, threshold=0.9
        )
        pairs = {
            (r["a_id"], r["b_id"])
            for r in dedup_stream.read_pairs(spark, state).collect()
        }
        # no pair may touch an expired (even-id) doc
        assert all(a % 2 == 1 and b % 2 == 1 for a, b in pairs)


class TestWatermarkWindowed:
    def test_late_data_scenario_booleans(self, spark, tmp_path):
        from dashing_spark.streaming.windowed import late_data_scenario

        res = late_data_scenario(spark, str(tmp_path / "wm"))
        assert res == {
            "window_emitted_once": True,
            "late_rows_dropped": True,
            "open_window_held": True,
        }

    def test_windowed_counts_batch_semantics(self, spark):
        """The aggregation expression itself (sans engine state):
        per-window counts over a batch frame."""
        from pyspark.sql import functions as F

        from dashing_spark.streaming.windowed import windowed_event_counts

        df = spark.createDataFrame(
            [("2026-01-01 05:00:00", "a"), ("2026-01-01 06:00:00", "a"),
             ("2026-01-02 05:00:00", "b")],
            "ts string, user_id string",
        ).select(F.col("ts").cast("timestamp").alias("ts"), "user_id")
        # withWatermark is a no-op on batch frames, so the same helper runs
        out = {
            r["w_start"].day: r["n_events"]
            for r in windowed_event_counts(df).collect()
        }
        assert out == {1: 2, 2: 1}
