"""Physical-plan invariants — the scale-design contract.

These assert properties of the *plan*, not the result: column pruning
reaches the parquet scan, the two-stage agg shuffles only sketch blobs
(one exchange, two with a salt level), and the pair stage broadcasts
the sketch table. A regression here is a 100×-scale performance bug
even when results stay correct.
"""

import re

import pytest

from dashing_spark.functions import HLL
from dashing_spark.operators import agg, dist
from dashing_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    # other modules may have cached this table; a matching logical plan
    # would substitute InMemoryRelation for the FileScan we assert on
    spark.catalog.clearCache()
    return load_table(spark, SF, "documents")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestPlanInvariants:
    def test_scan_prunes_to_needed_columns(self, spark, docs):
        sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(10))
        plan = _plan(sk)
        read_schemas = [
            line for line in plan.splitlines() if "ReadSchema" in line
        ]
        assert read_schemas, f"no ReadSchema in plan:\n{plan}"
        # the 5-column table must be scanned as (text, lang) only
        for rs in read_schemas:
            assert "doc_id" not in rs
            assert "n_chars" not in rs
            assert "source" not in rs
            assert "text" in rs and "lang" in rs

    def test_two_stage_agg_shuffle_count(self, spark, docs, tmp_path):
        # unsalted: exactly ONE exchange (partials -> final merge)
        sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(10))
        assert _plan(sk).count("Exchange hashpartitioning") == 1
        # salted, partial stage with P <= salt partitions: every salted
        # group is one partial, so the salt level is skipped -> ONE
        assert docs.rdd.getNumPartitions() <= 4
        sk2 = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(10), salt=4)
        assert _plan(sk2).count("Exchange hashpartitioning") == 1
        # salted, P = 8 > salt and no upstream exchange: TWO (tree
        # level + final)
        path = str(tmp_path / "docs8")
        docs.repartition(8).write.parquet(path)
        # one scan partition per file: without this, Spark packs the 8
        # small files into as many partitions as there are cores
        spark.conf.set("spark.sql.files.minPartitionNum", "8")
        try:
            docs8 = spark.read.parquet(path)
            assert docs8.rdd.getNumPartitions() == 8
            sk3 = agg.sketch_tokens_by_key(
                docs8, ["lang"], lambda: HLL.empty(10), salt=2
            )
            assert _plan(sk3).count("Exchange hashpartitioning") == 2
        finally:
            spark.conf.unset("spark.sql.files.minPartitionNum")

    def test_raw_rows_never_shuffle(self, spark, docs):
        """The exchange inputs must be post-partial (sketch column
        present) — the document text column never crosses a shuffle."""
        sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(10), salt=2)
        plan = _plan(sk)
        before_first_exchange = plan.split("Exchange hashpartitioning")[-1]
        # below (upstream of) the first exchange sits the Arrow partial stage
        assert (
            "MapInArrow" in before_first_exchange
            or "MapInPandas" in before_first_exchange
            or "PythonMapInArrow" in before_first_exchange
        )

    def test_all_pairs_broadcasts_sketch_table(self, spark, docs):
        sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(10))
        pairs = dist.all_pairs(sk, ["lang"], measures=("ji",))
        assert "BroadcastNestedLoopJoin" in _plan(pairs) or "BroadcastExchange" in _plan(pairs)

    def test_symmetry_pruning_in_join_condition(self, spark, docs):
        sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(10))
        pairs = dist.all_pairs(sk, ["lang"], measures=("ji",))
        n = sk.count()
        assert pairs.count() == n * (n - 1) // 2

    def test_query_reference_broadcasts_reference_side(self, spark, docs):
        q = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(10))
        r = agg.sketch_tokens_by_key(docs, ["source"], lambda: HLL.empty(10))
        r = r.withColumnRenamed("source", "lang")
        panel = dist.query_reference(q, r, ["lang"], measures=("containment",))
        assert "BroadcastExchange" in _plan(panel) or "BroadcastNestedLoopJoin" in _plan(panel)

    def test_lsh_candidates_partial_aggregate_before_distinct(self, spark, docs):
        """The candidate-pair distinct must run a map-side partial
        HashAggregate before its exchange — that is what compresses the
        bands-fold duplicate pair multiset before it hits the shuffle."""
        from dashing_spark.operators import dedup

        sigs = dedup.minhash_signatures(docs, "doc_id")
        cands = dedup.lsh_candidate_pairs(sigs, "doc_id")
        plan = _plan(cands)
        # expect at least one HashAggregate on (a_id, b_id) upstream of
        # an Exchange (partial) and one downstream (final)
        assert plan.count("HashAggregate") >= 2
        assert "Exchange hashpartitioning(a_id" in plan
        # wide-row regression pin (VERDICT r2 #8): the dedup shuffle must
        # move 16-byte (a_id, b_id) rows only. Carrying signature/band
        # arrays through the join to emit on the first colliding band
        # measured 14x SLOWER (433 s vs 30 s at sf0.1, dedup.py docstring)
        # — everything ABOVE the pair exchange (its parents in the plan
        # dump) must not reference the signature column
        above_exchange = plan[: plan.index("Exchange hashpartitioning(a_id")]
        assert "signature" not in above_exchange
        assert cands.columns == ["a_id", "b_id"]

    def test_fused_verify_broadcasts_items_once(self, spark):
        """The fused verify joins ONE broadcast item relation on both
        pair sides: the executed plan holds a single BroadcastExchange
        and a ReusedExchange for the second probe, never two
        broadcasts of the same table."""
        from dashing_spark.operators import dedup

        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (1, 2)], "a_id long, b_id long"
        )
        items = spark.createDataFrame(
            [(1, [1, 2, 3]), (2, [1, 2, 3]), (3, [7, 8])],
            "id long, items array<long>",
        )
        out = dedup.verify_pairs(pairs, items, 0.9, fused=True)
        assert sorted(tuple(r) for r in out.collect()) == [(1, 2, 1.0)]
        final = _plan(out).split("Initial Plan")[0]
        nodes = re.findall(r"[+:]- (?:\*\(\d+\) )?(\w+)", final)
        assert nodes.count("BroadcastExchange") == 1
        assert nodes.count("ReusedExchange") == 1

    def test_plan_build_runs_no_job_on_streaming_frame(self, spark, tmp_path):
        """Near-dup plan builders must not run a Spark job: on a
        streaming frame a job cannot run at all, so the verify
        placement takes distinct-first without a size probe."""
        from dashing_spark.operators import dedup

        src = str(tmp_path / "stream_src")
        schema = "doc_id long, text string"
        spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e")], schema
        ).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        sc = spark.sparkContext
        sc.setJobGroup("near_dup_plan_build", "plan build only")
        try:
            outs = [
                dedup.minhash_lsh_dedup(stream, "doc_id"),
                dedup.ngram_jaccard_pairs(stream, "doc_id", n=3, threshold=0.6),
            ]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert all(o.isStreaming for o in outs)
        assert list(sc.statusTracker().getJobIdsForGroup("near_dup_plan_build")) == []

    def test_salt_decision_runs_no_job(self, spark, docs):
        """Building a salted sketch plan runs no Spark job, also where
        the upstream exchange (plain or inside a not-yet-materialized
        cache) hides the partial-stage partition count; those inputs
        keep the salt level."""
        sc = spark.sparkContext
        inputs = {
            "scan": (docs, 1),
            "repartition": (docs.repartition(11), 2),
            "cached_repartition": (docs.repartition(11).cache(), 2),
        }
        try:
            for name, (df, n_exchanges) in inputs.items():
                group = f"salt_plan_build_{name}"
                sc.setJobGroup(group, "plan build only")
                try:
                    sk = agg.sketch_tokens_by_key(
                        df, ["lang"], lambda: HLL.empty(10), salt=4
                    )
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
                assert _plan(sk).count("Exchange hashpartitioning") == n_exchanges, name
        finally:
            inputs["cached_repartition"][0].unpersist()

    def test_ngram_join_is_not_gram_level(self, spark, docs):
        """ngram_jaccard_pairs must not contain a gram-token equi-join
        (its output is O(sum df^2)); candidates come from LSH bands."""
        from dashing_spark.operators import dedup

        out = dedup.ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.6)
        opt = _optimized(out)
        # the only equi-joins allowed are on band/bhash and on ids
        assert "bhash" in opt

    def test_pick_lsh_bands_round_thresholds(self):
        """ADVICE r2: t=0.5 with 128 hashes must select r=2/b=64 — the
        documented banding — not fall to r=1 (all-pairs-ish candidates)
        because (1-0.25)^64 = 1.0045e-8 is an ulp past 1e-8."""
        from dashing_spark.operators.dedup import pick_lsh_bands

        assert pick_lsh_bands(128, 0.5) == 64  # r=2
        assert pick_lsh_bands(128, 0.9) == 32  # r=4, miss 1.4e-15
        assert pick_lsh_bands(128, 0.6) == 64  # r=2, miss 4e-13

    def test_lsh_candidate_pairs_validates_banding(self, spark, docs):
        """bands must divide n_hashes; bands > n_hashes must raise, not
        silently emit rows_per_band=0 (full cross join)."""
        import pytest as _pytest

        from dashing_spark.operators import dedup

        sigs = dedup.minhash_signatures(docs.limit(10), "doc_id")
        with _pytest.raises(ValueError):
            dedup.lsh_candidate_pairs(sigs, "doc_id", n_hashes=16, bands=32)
        with _pytest.raises(ValueError):
            dedup.lsh_candidate_pairs(sigs, "doc_id", n_hashes=128, bands=48)

    def test_tokenset_key_injective_on_separator_tokens(self, spark):
        """ADVICE r2: {"a\\x00b"} and {"a","b"} must land in different
        tokenset clusters (the old concat_ws("\\x00") key collapsed
        them into one false exact-dup cluster)."""
        from dashing_spark.operators import dedup

        df = spark.createDataFrame(
            [(1, "a\x00b"), (2, "a b"), (3, "a b")], ["doc_id", "text"]
        )
        clusters = dedup.tokenset_dup_clusters(df, "doc_id").collect()
        assert len(clusters) == 2
        by_n = sorted(r["n_docs"] for r in clusters)
        assert by_n == [1, 2]

    def test_ngram_drops_zero_gram_docs(self, spark):
        """Docs shorter than n carry no grams: they must not survive to
        the signature stage (all-sentinel signatures collide pairwise in
        every band)."""
        from dashing_spark.operators import dedup

        df = spark.createDataFrame(
            [(1, "ab"), (2, "x"), (3, ""), (4, "abcdef"), (5, "abcdef")],
            ["doc_id", "text"],
        )
        out = dedup.ngram_jaccard_pairs(df, "doc_id", n=3, threshold=0.5).collect()
        assert {(r["a_id"], r["b_id"]) for r in out} == {(4, 5)}

    def test_char_gram_codepoint_semantics(self):
        """ADVICE r2: grams are over codepoints, so the signature
        estimates the same char-gram Jaccard the verify thresholds —
        identical codepoint windows hash identically regardless of
        UTF-8 byte width, and ASCII batches keep byte-path hashes."""
        import pyarrow as pa

        from dashing_spark.functions.hashing import char_gram_hashes_arrow

        # é is 2 UTF-8 bytes: byte-gramming "xéy" would emit 3 grams of
        # bytes; codepoint-gramming emits exactly 1 gram of 3 chars
        h, c = char_gram_hashes_arrow(pa.array(["xéy"]), n=3)
        assert c.tolist() == [1]
        # same codepoint window in ASCII and non-ASCII docs must agree
        h2, c2 = char_gram_hashes_arrow(pa.array(["abc", "éabcé"]), n=3)
        assert c2.tolist() == [1, 3]
        # "abc" appears in both docs -> shared gram hash
        ascii_only, _ = char_gram_hashes_arrow(pa.array(["abc"]), n=3)
        assert ascii_only[0] in set(h2.tolist())

    def test_weighted_cm_avoids_occurrence_window(self, spark, docs):
        """weighted="cm" must not contain a Window (the exact mode's
        row_number over every token occurrence — an unsalvageable full
        occurrence shuffle); its only wide operations are the doc-row
        repartition by key and the partial-merge groupBy."""
        from dashing_spark.functions import HLL
        from dashing_spark.operators import agg

        cm = agg.sketch_tokens_by_key(
            docs, ["lang"], lambda: HLL.empty(10), weighted="cm"
        )
        plan_cm = _plan(cm)
        assert "Window" not in plan_cm
        exact = agg.sketch_tokens_by_key(
            docs, ["lang"], lambda: HLL.empty(10), weighted=True
        )
        assert "Window" in _plan(exact)  # the exact mode pays for exactness


class TestPipelineOpPlans:
    def test_stratified_sample_is_pure_filter(self, spark, docs):
        # the sampler's claim: no shuffle, no Python — just a filter on
        # an md5-prefix expression over the scan
        from dashing_spark.operators import corpus

        kept = corpus.stratified_sample(docs, {"en": 0.5}, default_rate=0.25)
        plan = _plan(kept)
        assert "Exchange" not in plan
        assert "Python" not in plan and "MapInPandas" not in plan

    def test_repetition_stats_single_agg_exchange(self, spark, docs):
        from dashing_spark.operators import text

        out = text.repetition_stats(docs, ["lang"], w=2)
        plan = _plan(out)
        # per-doc gram counting is codegen (Generate-free select over
        # array exprs — no explode, no Python); one agg shuffle on lang
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Python" not in plan

    def test_duplicate_spans_no_pair_join(self, spark, docs):
        from dashing_spark.operators import dedup

        out = dedup.duplicate_span_stats(
            docs, "doc_id", ["lang"], w=8, span_key="hash"
        )
        plan = _plan(out)
        # linear pipeline: span rows join span-counts by key — never a
        # doc×doc or span×span cross/theta join
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # hash-key mode: the span string is hashed before any exchange,
        # so only 8-byte keys cross shuffles (xxhash64 sits upstream)
        assert "xxhash64" in plan

    def test_decontamination_exact_join_broadcasts_bench(self, spark, docs):
        from pyspark.sql import functions as F

        from dashing_spark.operators import contamination

        bench = docs.filter(F.col("doc_id") % 97 == 0)
        train = docs.filter(F.col("doc_id") % 97 != 0)
        per = contamination.benchmark_overlap(
            train, bench, key_cols=("lang",), w=8
        )
        plan = _plan(per)
        # the benchmark gram side must be the broadcast build side —
        # the training side streams, nothing corpus-sized shuffles for
        # the membership join
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


class TestMultiKOneScan:
    def test_multi_k_single_scan(self, spark, docs):
        """VERDICT r3 #6: the k-sweep must share ONE scan + ONE
        intersection join — per-k re-scans would multiply the dominant
        shuffle by len(ks) at 100 TB. The 3-k sweep's exchange count
        must equal a single-k exact_pair_measures plan's."""
        from pyspark.sql import functions as F

        toks = docs.select(
            "lang", F.explode(F.split("text", " ", -1)).alias("token")
        )
        mk = dist.multi_k_measures(toks, "lang", "token", ks=(2, 3, 4))
        single = dist.exact_pair_measures(
            toks, "lang", "token", ("mash_dist",), k=2.0
        )
        n_mk = _plan(mk).count("Exchange hashpartitioning")
        n_single = _plan(single).count("Exchange hashpartitioning")
        assert n_mk == n_single, (n_mk, n_single)
        # the per-k fan-out adds exactly ONE Generate (the literal k
        # explode over the tiny pair table) on top of the single-k plan
        # (the token explode itself appears in both)
        assert (
            _plan(mk).count("Generate explode")
            == _plan(single).count("Generate explode") + 1
        )


class TestPairStrategyDispatch:
    """VERDICT r3 #7: all_pairs auto-selects broadcast vs grid from the
    sketch table's Catalyst size stats (reference analogue: the distmat
    mmap spill decision)."""

    def _materialized_sketches(self, spark, docs, tmp_path):
        from pyspark.sql import functions as F

        sk = agg.sketch_tokens_by_key(docs, ["lang"], lambda: HLL.empty(10))
        path = str(tmp_path / "sk.parquet")
        sk.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def test_small_table_broadcasts(self, spark, docs, tmp_path):
        sk = self._materialized_sketches(spark, docs, tmp_path)
        assert dist.pick_pair_strategy(sk) is None
        plan = _plan(dist.all_pairs(sk, ["lang"]))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_large_table_gets_grid(self, spark, docs, tmp_path):
        sk = self._materialized_sketches(spark, docs, tmp_path)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # shrink the threshold below the file size: the same table
            # must now dispatch to the grid theta-join
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
            b = dist.pick_pair_strategy(sk)
            assert b is not None and 2 <= b <= 64
            plan = _plan(dist.all_pairs(sk, ["lang"]))
            # grid signature: the tiny block-pair table is the broadcast
            # side of an equi-join on the block id — no nested-loop of
            # the full table against itself
            assert "__bb" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_unmaterialized_large_input_keeps_broadcast(self, spark):
        # Catalyst propagates stats THROUGH Python-eval nodes as
        # input-scaled guesses: a ~5-row sketch table over a 50M-doc
        # scan "weighs" gigabytes. The selector must ignore such
        # estimates — only materialized (file-backed) stats may engage
        # the grid. Plan-only check: nothing executes.
        from dashing_spark.sources.tables import synth_pages

        sk = agg.sketch_tokens_by_key(
            synth_pages(spark, 50_000_000), ["lang"], lambda: HLL.empty(10)
        )
        assert dist.pick_pair_strategy(sk) is None

    def test_streaming_plan_keeps_broadcast_without_throwing(self, spark):
        # sizing a stream would trip the batch-only optimizer checker
        # (AnalysisException at plan-construction time) — the selector
        # must bail out before touching the optimized plan
        stream = spark.readStream.format("rate").load()
        assert stream.isStreaming
        assert dist.pick_pair_strategy(stream) is None


class TestRound6PlanPins:
    def test_substring_rewrite_no_cartesian_no_python(self, spark, docs):
        """The ExactSubstr rewrite must stay a linear chain: no pair
        table (CartesianProduct/NestedLoop over data) and no Python
        nodes — the whole plan is JVM expressions."""
        from dashing_spark.operators import dedup

        out = dedup.remove_duplicate_runs(docs, "doc_id", w=8, min_len=16)
        plan = _plan(out)
        assert "CartesianProduct" not in plan
        assert "InPandas" not in plan and "PythonUDF" not in plan
        # the island window is doc-partitioned (never a global window) —
        # pinned on the island subtree directly, because r7's
        # localCheckpoint of the islands frame (three consumers, one
        # span-pipeline pass) truncates it out of the full plan string
        spans = dedup.span_rows(docs, "doc_id", [], "text", 8, "text")
        isl_plan = _plan(dedup.dup_islands(spans, 8))
        assert "windowspecdefinition(__id" in isl_plan
        assert "CartesianProduct" not in isl_plan

    def test_gopher_repetition_no_cartesian_no_python(self, spark, docs):
        from dashing_spark.operators import text as _text

        out = _text.gopher_repetition_rules(docs, "doc_id")
        plan = _plan(out)
        assert "CartesianProduct" not in plan
        assert "InPandas" not in plan and "PythonUDF" not in plan

    def test_gopher_repetition_one_doc_id_exchange(self, spark, docs):
        """The repetition rules hash-repartition the docs by id ONCE, at
        an explicit count (an exchange with no count is coalesced by
        AQE: measured 3x slower), and read each doc with three
        Generates (lines+paragraphs, {2,3,4}-grams, {5..10}-grams) plus
        the island explode. Every branch reuses the doc-id exchange, so
        the plan has at most 8 Exchange and 6 Generate operator lines;
        building it runs no Spark job."""
        from dashing_spark.operators import text as _text

        sc = spark.sparkContext
        sc.setJobGroup("gopher_plan_build", "plan build only")
        try:
            plan = _plan(_text.gopher_repetition_rules(docs, "doc_id"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup("gopher_plan_build")) == []
        ops = [re.sub(r"^[\s:+|-]*", "", line) for line in plan.splitlines()]
        exchanges = [o for o in ops if o.startswith("Exchange")]
        assert len(exchanges) <= 8, exchanges
        assert sum(o.startswith("Generate") for o in ops) <= 6
        by_id = [o for o in exchanges if o.startswith("Exchange hashpartitioning(__id#")]
        assert by_id and all("REPARTITION_BY_NUM" in o for o in by_id), by_id

    def test_c4_rules_is_single_projection(self, spark, docs):
        """c4_rules is row-local: zero exchanges — one projection over
        the scan."""
        from dashing_spark.operators import text as _text

        out = _text.c4_rules(docs)
        plan = _plan(out)
        assert "Exchange" not in plan
        assert "InPandas" not in plan and "PythonUDF" not in plan

    def test_gopher_quality_rules_is_single_projection(self, spark, docs):
        from dashing_spark.operators import text as _text

        out = _text.gopher_quality_rules(docs)
        plan = _plan(out)
        assert "Exchange" not in plan
        assert "InPandas" not in plan and "PythonUDF" not in plan

    def test_ivfpq_candidate_join_ships_codes_not_vectors(self, spark):
        """Pre-rerank, the neighbor side of the IVFPQ candidate join
        must carry PQ codes, never the full embedding vector — the
        memory story of the compressed tier."""
        from dashing_spark.operators import similarity
        from dashing_spark.sources.tables import load_table

        emb = load_table(spark, SF, "embeddings")
        out = similarity.ivfpq_topk(
            emb, k=2, n_centroids=8, nprobe=2, m=8, k_codes=16, rerank=0
        )
        plan = _optimized(out)
        # the ADC scorer consumes q_vec (query side) and codes
        # (neighbor side); an n_vec reference before rerank would mean
        # full vectors ride the candidate join
        assert "codes" in plan
        assert "n_vec" not in plan
