"""Tests for training-data pipeline operators: dedup, similarity search,
text analysis, multimodal plumbing."""

from functools import reduce

import numpy as np
import pytest
from pyspark.sql import functions as F

from dashing_spark.operators import dedup, multimodal, similarity, text
from dashing_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").cache()


class TestDedup:
    def test_minhash_lsh_recall_vs_exact(self, spark, docs, verify_placement):
        found = {
            (r["a_id"], r["b_id"])
            for r in dedup.minhash_lsh_dedup(docs, "doc_id", threshold=0.9).collect()
        }
        # exact all-pairs oracle
        items = docs.select(
            F.col("doc_id").alias("id"),
            F.explode(F.array_distinct(F.split("text", " ", -1))).alias("it"),
        )
        sizes = items.groupBy("id").agg(F.count("*").alias("sz"))
        inter = (
            items.select(F.col("id").alias("a_id"), "it")
            .join(items.select(F.col("id").alias("b_id"), "it"), "it")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("t2"))
        )
        exact = (
            inter.join(sizes.select(F.col("id").alias("a_id"), F.col("sz").alias("sa")), "a_id")
            .join(sizes.select(F.col("id").alias("b_id"), F.col("sz").alias("sb")), "b_id")
            .withColumn("ji", F.col("t2") / (F.col("sa") + F.col("sb") - F.col("t2")))
            .filter(F.col("ji") >= 0.9)
        )
        truth = {(r["a_id"], r["b_id"]) for r in exact.collect()}
        assert found == truth  # verify stage ⇒ no false positives; LSH ⇒ recall 1 here
        placement, decided = verify_placement
        assert decided == [placement == "fused"]

    def test_signatures_deterministic(self, spark, docs):
        a = {
            r["doc_id"]: tuple(r["signature"])
            for r in dedup.minhash_signatures(docs, "doc_id").collect()
        }
        b = {
            r["doc_id"]: tuple(r["signature"])
            for r in dedup.minhash_signatures(docs.repartition(7), "doc_id").collect()
        }
        assert a == b

    def test_signature_similarity_estimates_ji(self, spark):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    " ".join(f"w{i}" for i in range(100)),
                    " ".join(f"w{i}" for i in range(50, 150)),
                ],
            }
        )
        df = spark.createDataFrame(pdf)
        sigs = {r["doc_id"]: np.array(r["signature"]) for r in
                dedup.minhash_signatures(df, "doc_id", n_hashes=256).collect()}
        est = (sigs[1] == sigs[2]).mean()
        assert abs(est - 1 / 3) <= 0.12

    def test_simhash_near_dups_symmetric_and_verified(self, spark, docs):
        out = dedup.simhash_near_dups(docs, "doc_id", max_hamming=3).collect()
        for r in out:
            assert r["a_id"] < r["b_id"]
            assert 0 <= r["hamming"] <= 3

    def test_ngram_pairs_blocked_by_lang(self, spark, docs):
        pairs = dedup.ngram_jaccard_pairs(
            docs, "doc_id", n=3, threshold=0.6, block_cols=("lang",)
        )
        langs = docs.select("doc_id", "lang")
        joined = (
            pairs.join(langs.withColumnRenamed("doc_id", "a_id")
                       .withColumnRenamed("lang", "a_lang"), "a_id")
            .join(langs.withColumnRenamed("doc_id", "b_id")
                  .withColumnRenamed("lang", "b_lang"), "b_id")
        )
        assert joined.filter(F.col("a_lang") != F.col("b_lang")).count() == 0
        assert pairs.filter((F.col("ji") < 0.6) | (F.col("ji") > 1.0)).count() == 0

    def test_exact_and_tokenset_clusters(self, spark, docs):
        ex = dedup.exact_dup_clusters(docs, "doc_id")
        assert ex.agg(F.sum("n_docs")).collect()[0][0] == docs.count()
        ts = dedup.tokenset_dup_clusters(docs, "doc_id")
        assert ts.agg(F.sum("n_docs")).collect()[0][0] == docs.count()


class TestSimilarity:
    def test_blocked_matches_exact(self, spark, emb):
        queries = emb.filter(F.col("vec_id") < 10)
        exact = {
            (r["q_id"], r["rank"]): r["n_id"]
            for r in similarity.cosine_topk_exact(emb, queries, k=3).collect()
        }
        qrows = [(r["vec_id"], r["embedding"]) for r in queries.collect()]
        blocked = {
            (r["q_id"], r["rank"]): r["n_id"]
            for r in similarity.cosine_topk_blocked(emb.repartition(5), qrows, k=3).collect()
        }
        assert blocked == exact

    def test_lsh_recall_reasonable(self, spark, emb):
        exact = {
            (r["q_id"], r["n_id"])
            for r in similarity.cosine_topk_exact(emb, emb, k=3).collect()
        }
        approx = {
            (r["q_id"], r["n_id"])
            for r in similarity.lsh_cosine_topk(emb, k=3, n_planes=3, n_tables=10).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.6  # 3 planes x 10 tables on near-orthogonal vectors

    def test_embedding_near_dups_within_bucket_verified(self, spark, emb):
        out = similarity.embedding_near_dups(emb, threshold=0.3, n_planes=4, n_tables=6).collect()
        for r in out:
            assert r["cos"] >= 0.3
            assert r["a_id"] < r["b_id"]

    def test_semantic_dedup_lsh_matches_exact_on_clusters(self, spark):
        """SemDeDup assignment: LSH scale path == brute-force exact path
        on a corpus with true near-dup clusters (cos ~ 1 within a
        cluster, near-orthogonal across), plus never-lose-rows and
        keeper semantics."""
        import numpy as np

        rng = np.random.default_rng(5)
        base = rng.normal(size=(12, 16))
        rows = []
        vid = 0
        for c in range(12):
            members = 1 + (c % 4)  # cluster sizes 1..4
            for _ in range(members):
                v = base[c] + rng.normal(scale=0.01, size=16)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        exact = {
            r["vec_id"]: (r["comp"], r["keep"])
            for r in similarity.semantic_dedup(emb, threshold=0.95, exact=True).collect()
        }
        lsh = {
            r["vec_id"]: (r["comp"], r["keep"])
            for r in similarity.semantic_dedup(
                emb, threshold=0.95, n_planes=6, n_tables=12
            ).collect()
        }
        assert len(exact) == vid  # one row per input vector
        assert lsh == exact
        # keeper rule: exactly one keeper per component, = min id
        comps = {}
        for v, (c, k) in exact.items():
            comps.setdefault(c, []).append((v, k))
        for c, members in comps.items():
            assert min(v for v, _ in members) == c
            assert [v for v, k in members if k] == [c]


class TestText:
    def test_lang_id_deterministic_and_total(self, spark, docs):
        pred = text.lang_id_predict(docs)
        assert pred.filter(F.col("pred_lang").isNull()).count() == 0
        a = pred.groupBy("pred_lang").count().collect()
        b = text.lang_id_predict(docs.repartition(9)).groupBy("pred_lang").count().collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_quality_bounds(self, spark, docs):
        q = text.quality_score(docs)
        bad = q.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count()
        assert bad == 0

    def test_winnowing_robust_to_local_edit(self, spark):
        import pandas as pd

        base = " ".join(f"tok{i}" for i in range(200))
        edited = base.replace("tok100", "CHANGED")
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2], "text": [base, edited]})
        )
        fps = {
            r["doc_id"]: set(r["fingerprints"])
            for r in text.winnowing_fingerprints(df, "doc_id").collect()
        }
        overlap = len(fps[1] & fps[2]) / len(fps[1] | fps[2])
        assert overlap >= 0.8  # one token edit perturbs few fingerprints

    def test_token_stats_shape(self, spark, docs):
        out = text.token_stats(docs, ["lang"]).collect()
        assert {r["lang"] for r in out} == {"en", "de", "fr", "es", "zh"}
        for r in out:
            assert r["total_tokens"] >= r["n_docs"] * 10


class TestPII:
    FIXTURE = [
        (1, "mail jo.doe+x@sub.example.co.uk and b@c.io today"),
        (2, "ssn 123-45-6789 then 999-99-9999 end"),
        (3, "call +1 555-123-4567 or +44 207-946-0958"),
        (4, "hosts 10.0.0.1 and 192.168.255.3 up"),
        (5, "clean text with numbers 123 456-78 and 1.2.3 only"),
        (6, ""),
        (7, None),
        (8, "mixed a@b.org 111-22-3333 +1 555-000-1111 8.8.8.8"),
        # replacement-induced unmasking: the SSN here is boundary-
        # blocked by the phone's digits until the phone is redacted —
        # only the second chain pass can see it (r5 review find)
        (9, "call +1 555-123-4567123-45-6789 now"),
        # r6 kinds: US phones, card shapes, full-form IPv6
        (10, "ring (555) 123-4567 or 555.123.4567 maybe 555-000-1234"),
        (11, "pay 4111111111111111 or 4111 1111 1111 1111 done"),
        (12, "addr 2001:0db8:85a3:0000:0000:8a2e:0370:7334 up"),
    ]

    @pytest.fixture()
    def pii_df(self, spark):
        return spark.createDataFrame(
            self.FIXTURE, "doc_id int, text string"
        )

    def test_counts_per_kind(self, spark, pii_df):
        rows = {
            r["doc_id"]: r
            for r in text.pii_stats(pii_df).collect()
        }
        assert rows[1]["pii_email_count"] == 2
        assert rows[2]["pii_ssn_count"] == 2
        assert rows[3]["pii_phone_count"] == 2
        assert rows[4]["pii_ipv4_count"] == 2
        for kind in ("email", "ssn", "phone", "ipv4"):
            assert rows[5][f"pii_{kind}_count"] == 0
            assert rows[6][f"pii_{kind}_count"] == 0
            assert rows[7][f"pii_{kind}_count"] is None  # NULL in, NULL out
            assert rows[8][f"pii_{kind}_count"] == 1

    def test_counts_new_kinds(self, spark, pii_df):
        rows = {
            r["doc_id"]: r
            for r in text.pii_stats(pii_df).collect()
        }
        assert rows[10]["pii_phone_us_count"] == 1  # paren form
        # dot form + plain dash form (paren-form tail has no 3-3-4 run)
        assert rows[10]["pii_phone_us_dash_count"] == 2
        assert rows[11]["pii_card_count"] == 1
        assert rows[11]["pii_card_grouped_count"] == 1
        assert rows[12]["pii_ipv6_count"] == 1
        # no cross-triggering between the digit-shape kinds
        assert rows[10]["pii_card_count"] == 0
        assert rows[11]["pii_phone_us_dash_count"] == 0
        assert rows[2]["pii_phone_us_dash_count"] == 0  # SSNs stay SSNs
        assert rows[12]["pii_card_count"] == 0
        # intl phones DO also carry a 3-3-4 run — documented over-trigger
        assert rows[3]["pii_phone_us_dash_count"] == 2

    def test_redaction_removes_all_detectable_pii(self, spark, pii_df):
        red = text.redact_pii(pii_df)
        residue = text.pii_stats(red)
        conds = [c > 0 for c in text.pii_counts_cols("text").values()]
        leftover = residue.filter(reduce(lambda a, b: a | b, conds)).count()
        assert leftover == 0

    def test_redaction_idempotent_and_typed(self, spark, pii_df):
        once = text.redact_pii(pii_df, out_col="r1")
        twice = text.redact_pii(once, text_col="r1", out_col="r2")
        assert twice.filter(F.col("r1") != F.col("r2")).count() == 0
        r8 = twice.filter(F.col("doc_id") == 8).collect()[0]["r1"]
        assert r8 == "mixed <EMAIL> <SSN> <PHONE> <IPV4>"

    def test_replacement_with_literal_braces(self, spark, pii_df):
        """A caller replacement containing literal braces must not
        raise at plan-build time (str.format would KeyError on
        "{REDACTED}") — r5 ADVICE; substring substitution only."""
        red = text.redact_pii(
            pii_df, out_col="red", replacement="{REDACTED:{kind}}"
        )
        r1 = {r["doc_id"]: r["red"] for r in red.collect()}
        assert "{REDACTED:EMAIL}" in r1[1]
        assert "@" not in r1[1]

    def test_clean_text_untouched(self, spark, pii_df):
        red = text.redact_pii(pii_df, out_col="red")
        changed = red.filter(
            F.col("doc_id").isin(5, 6) & (F.col("red") != F.col("text"))
        ).count()
        assert changed == 0


class TestNormalizeText:
    CASES = [
        (1, "cafe\u0301 time", "caf\u00e9 time"),  # NFD -> NFC composition
        (2, "a  b\t c\nd", "a b c d"),  # whitespace collapse + trim
        (3, "  plain  ", "plain"),
        (4, "\u00e9 already nfc", "\u00e9 already nfc"),
        (5, None, None),
        (6, "", ""),
    ]

    def test_nfc_and_collapse(self, spark):
        df = spark.createDataFrame(
            [(i, s) for i, s, _ in self.CASES], "i int, t string"
        )
        got = {
            r["i"]: r["n"]
            for r in text.normalize_text(df, "t", out_col="n").collect()
        }
        for i, _, expect in self.CASES:
            assert got[i] == expect, (i, got[i])

    def test_matches_duckdb_nfc(self, spark):
        import duckdb

        strs = ["café", "ﬁne ﬂow", "ño", "ascii only", "ＡＢ"]
        df = spark.createDataFrame([(i, s) for i, s in enumerate(strs)], "i int, t string")
        got = {
            r["i"]: r["n"]
            for r in text.normalize_text(
                df, "t", out_col="n", collapse_whitespace=False
            ).collect()
        }
        con = duckdb.connect()
        for i, s in enumerate(strs):
            d = con.execute("select nfc_normalize(?)", [s]).fetchone()[0]
            assert got[i] == d, (i, s)

    def test_idempotent(self, spark):
        df = spark.createDataFrame(
            [(i, s) for i, s, _ in self.CASES if s is not None],
            "i int, t string",
        )
        once = text.normalize_text(df, "t", out_col="n1")
        twice = text.normalize_text(once, "n1", out_col="n2")
        assert twice.filter(F.col("n1") != F.col("n2")).count() == 0


class TestURLCanonicalize:
    #: raw → (canonical, host) ground truth (hand-derived)
    CASES = [
        ("HTTPS://WWW.Example.COM:443/Path/7?utm_source=feed&ref=en#frag",
         "https://example.com/Path/7?ref=en", "example.com"),
        ("http://example.com:80/", "http://example.com", "example.com"),
        ("https://example.com/a?utm_campaign=x&utm_medium=y&id=3",
         "https://example.com/a?id=3", "example.com"),
        ("https://sub.example.com/p?id=1&fbclid=abc",
         "https://sub.example.com/p?id=1", "sub.example.com"),
        ("https://example.com/p?gclid=z", "https://example.com/p",
         "example.com"),
        # promotion must handle non-alnum query keys ('+' is legal) so
        # equivalent URLs share one canonical form (r5 review find)
        ("http://x.com?utm_a=1&TOK+EN=AbC", "http://x.com?TOK+EN=AbC",
         "x.com"),
        ("http://x.com?TOK+EN=AbC", "http://x.com?TOK+EN=AbC", "x.com"),
        ("notaurl plain text", "notaurl plain text", ""),
        ("https://example.com", "https://example.com", "example.com"),
        ("", "", ""),
        # surviving query params are sorted (r6): both orders → one form
        ("https://example.com/a?z=9&a=1", "https://example.com/a?a=1&z=9",
         "example.com"),
        ("https://example.com/a?a=1&z=9", "https://example.com/a?a=1&z=9",
         "example.com"),
        ("https://example.com/a?z=9&utm_x=1&a=1",
         "https://example.com/a?a=1&z=9", "example.com"),
    ]

    def test_canonical_and_host_ground_truth(self, spark):
        df = spark.createDataFrame(
            [(i, c[0]) for i, c in enumerate(self.CASES)], "i int, u string"
        )
        got = {
            r["i"]: (r["c"], r["h"])
            for r in df.select(
                "i",
                text.canonicalize_url_col("u").alias("c"),
                text.url_host_col("u").alias("h"),
            ).collect()
        }
        for i, (_, canon, host) in enumerate(self.CASES):
            assert got[i] == (canon, host), f"case {i}"

    def test_param_order_variants_collapse(self, spark):
        variants = [
            "https://news.example.com/p/9?a=1&b=2",
            "https://news.example.com/p/9?b=2&a=1",
            "https://news.example.com/p/9?b=2&utm_x=1&a=1",
        ]
        df = spark.createDataFrame([(u,) for u in variants], "url string")
        out = text.url_dedup_stats(df.withColumn("k", F.lit("x")), ["k"]).collect()[0]
        assert out["n_raw_urls"] == 3
        assert out["n_canonical_urls"] == 1

    def test_variants_collapse_to_one_canonical(self, spark):
        variants = [
            "HTTPS://WWW.news.example.com:443/p/9",
            "https://news.example.com/p/9?utm_source=feed",
            "https://NEWS.example.com/p/9#sec",
            "https://news.example.com/p/9/",
        ]
        df = spark.createDataFrame([(u,) for u in variants], "url string")
        out = text.url_dedup_stats(df.withColumn("k", F.lit("x")), ["k"]).collect()[0]
        assert out["n_raw_urls"] == 4
        assert out["n_canonical_urls"] == 1
        assert out["n_hosts"] == 1

    def test_canonicalization_idempotent(self, spark):
        df = spark.createDataFrame(
            [(i, c[0]) for i, c in enumerate(self.CASES)], "i int, u string"
        )
        once = df.select("i", text.canonicalize_url_col("u").alias("c1"))
        twice = once.select(
            "i", "c1", text.canonicalize_url_col("c1").alias("c2")
        )
        assert twice.filter(F.col("c1") != F.col("c2")).count() == 0


class TestMultimodal:
    def test_decode_raises_for_unregistered_mime(self, spark, docs):
        from pyspark.sql import functions as F

        media = multimodal.media_from_documents(docs).withColumn(
            "meta",
            F.struct(
                F.lit("image/jpeg").alias("mime"),  # no jpeg codec in-image
                F.col("meta.width"),
                F.col("meta.height"),
                F.col("meta.duration_ms"),
            ),
        )
        with pytest.raises(Exception, match="no registered decoder"):
            multimodal.decode_features(media).collect()

    def test_real_codecs_roundtrip(self, spark, docs):
        """zlib and RIFF/WAVE payloads decode through real stdlib codecs
        back to exactly the source-derived unit counts."""
        media = multimodal.media_with_codecs(docs.limit(50))
        dp = {(r["media_id"], r["kind"]): r for r in
              multimodal.decode_payloads(media).collect()}
        src = {r["doc_id"]: r for r in docs.limit(50).collect()}
        assert len(dp) == 2 * len(src)
        for (mid, kind), r in dp.items():
            if kind == "text":
                assert r["n_units"] == len(src[mid]["text"].encode("utf-8"))
            else:
                assert r["n_units"] == src[mid]["n_chars"]
        feats = multimodal.decode_features(media, dim=8).collect()
        assert len(feats) == 2 * len(src)
        for r in feats[:10]:
            v = np.array(r["features"])
            assert v.shape == (8,)

    def test_register_decoder_plugs_in(self, spark, docs):
        from pyspark.sql import functions as F

        multimodal.register_decoder(
            "application/x-reverse", lambda b: np.frombuffer(b[::-1], dtype=np.uint8)
        )
        try:
            media = multimodal.media_from_documents(docs.limit(5)).withColumn(
                "meta",
                F.struct(
                    F.lit("application/x-reverse").alias("mime"),
                    F.col("meta.width"),
                    F.col("meta.height"),
                    F.col("meta.duration_ms"),
                ),
            )
            out = multimodal.decode_payloads(media).collect()
            assert len(out) == 5 and all(r["n_units"] > 0 for r in out)
        finally:
            multimodal.DECODERS.pop("application/x-reverse", None)

    def test_fake_decode_plumbing(self, spark, docs):
        media = multimodal.media_from_documents(docs)
        feats = multimodal.decode_features(media, dim=16, deterministic_fake=True)
        rows = feats.collect()
        assert len(rows) == docs.count()
        for r in rows[:10]:
            v = np.array(r["features"])
            assert v.shape == (16,)
            assert abs(np.linalg.norm(v) - 1.0) < 1e-5
        # deterministic across partitionings
        again = multimodal.decode_features(
            multimodal.media_from_documents(docs.repartition(7)),
            dim=16,
            deterministic_fake=True,
        ).collect()
        assert {r["media_id"]: tuple(r["features"]) for r in rows} == {
            r["media_id"]: tuple(r["features"]) for r in again
        }

    def test_frame_sample_shape(self, spark, docs):
        media = multimodal.media_from_documents(docs.limit(20))
        frames = multimodal.frame_sample(media, n_frames=4, frame_bytes=16).collect()
        assert len(frames) == 20 * 4
        for r in frames:
            assert 0 <= r["frame_idx"] < 4
            assert len(bytes(r["frame"])) <= 16

    def test_payload_stats(self, spark, docs):
        media = multimodal.media_from_documents(docs)
        out = multimodal.payload_stats(media).collect()[0]
        assert out["n_items"] == docs.count()
        assert out["total_bytes"] > 0


class TestIVF:
    def test_ivf_recall_vs_bruteforce(self, spark, emb):
        exact = {
            (r["q_id"], r["n_id"])
            for r in similarity.cosine_topk_exact(emb, emb, k=3).collect()
        }
        approx = {
            (r["q_id"], r["n_id"])
            for r in similarity.ivf_topk(emb, k=3, n_centroids=16, nprobe=4).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.4  # near-random 64-dim vectors; see BENCH notes

    def test_ivf_deterministic(self, spark, emb):
        a = sorted(map(tuple, similarity.ivf_topk(emb, k=2, n_centroids=8, nprobe=2).collect()))
        b = sorted(map(tuple, similarity.ivf_topk(
            emb.repartition(7), k=2, n_centroids=8, nprobe=2).collect()))
        assert a == b

    def test_assignments_cover_all_vectors(self, spark, emb):
        cent = similarity.train_ivf_centroids(emb, n_centroids=8)
        assert cent.shape[1] == 64
        asg = similarity.ivf_assignments(emb, cent, nprobe=1)
        assert asg.select("vec_id").distinct().count() == emb.count()


class TestGopherRules:
    """Published Gopher rule set (Rae et al. 2021 App. A.1.1) — each
    fixture doc trips exactly one rule at its boundary."""

    def _rules(self, spark, rows, **kw):
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = text.gopher_quality_rules(df, **kw)
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    GOOD = ("the data and rows that have with of be to " * 6).strip()  # 60 words

    def test_clean_doc_passes_all(self, spark):
        got = self._rules(spark, [(1, self.GOOD)])[1]
        assert got["gopher_keep"] is True
        assert got["gopher_n_words"] == 60

    def test_word_count_bounds(self, spark):
        short = "the of " * 10  # 20 words < 50
        got = self._rules(spark, [(1, short.strip())])[1]
        assert got["g_word_count_ok"] is False and got["gopher_keep"] is False
        # threshold is inclusive at exactly 50 words
        fifty = ("the of and that have " * 10).strip()
        assert self._rules(spark, [(2, fifty)])[2]["g_word_count_ok"] is True

    def test_mean_word_length(self, spark):
        longw = ("supercalifragilistic " * 60).strip() + " the of"
        got = self._rules(spark, [(1, longw)])[1]
        assert got["g_mean_word_len_ok"] is False

    def test_symbol_ratio(self, spark):
        doc = self.GOOD + " " + "# " * 10  # 10 hashes / 70 words > 0.1
        got = self._rules(spark, [(1, doc.strip())])[1]
        assert got["g_symbol_ok"] is False
        # ellipses count toward the same ratio
        doc2 = self.GOOD + " x..." * 10
        assert self._rules(spark, [(2, doc2)])[2]["g_symbol_ok"] is False

    def test_bullet_and_ellipsis_lines(self, spark):
        bullets = self.GOOD + "\n" + "\n".join("• item" for _ in range(20))
        got = self._rules(spark, [(1, bullets)])[1]
        assert got["g_bullet_ok"] is False  # 20/21 > 0.9
        ell = self.GOOD + "\n" + "\n".join("more soon..." for _ in range(2))
        got = self._rules(spark, [(2, ell)])[2]
        assert got["g_ellipsis_ok"] is False  # 2/3 > 0.3

    def test_alpha_fraction_and_stopwords(self, spark):
        nums = self.GOOD + " " + "123 456 " * 10  # 20/80 non-alpha -> 0.75
        got = self._rules(spark, [(1, nums.strip())])[1]
        assert got["g_alpha_ok"] is False
        nostop = ("walrus kumquat zephyr quince " * 15).strip()
        got = self._rules(spark, [(2, nostop)])[2]
        assert got["g_stopword_ok"] is False  # zero of the eight present

    def test_null_text_kept_as_row(self, spark):
        got = self._rules(spark, [(1, None)])[1]
        assert got["gopher_keep"] is False and got["gopher_n_words"] == 0

    def test_thresholds_parametrizable(self, spark):
        short = ("the of " * 10).strip()
        got = self._rules(spark, [(1, short)], min_words=10)[1]
        assert got["g_word_count_ok"] is True


class TestC4Rules:
    """C4 cleaning rules (Raffel et al. 2020 §2.2): line rewrite + doc
    booleans."""

    def _run(self, spark, rows, **kw):
        df = spark.createDataFrame(rows, "doc_id int, text string")
        return {r["doc_id"]: r.asDict()
                for r in text.c4_rules(df, **kw).collect()}

    def test_line_rules(self, spark):
        doc = ("This line has six words total.\n"
               "short line\n"
               "Another good line with punctuation here!\n"
               "uses javascript heavily today right now.")
        got = self._run(spark, [(1, doc)])[1]
        assert got["c4_text"] == (
            "This line has six words total.\n"
            "Another good line with punctuation here!"
        )
        assert got["c4_n_lines_kept"] == 2

    def test_doc_booleans(self, spark):
        rows = [
            (1, 'A brace appears right here { now.'),
            (2, "Sadly lorem ipsum shows up here."),
            (3, "One good sentence right here today.\n"
                "Another full sentence is right here!\n"
                "Third sentence makes the cut now?"),
        ]
        got = self._run(spark, rows)
        assert got[1]["c4_brace_ok"] is False
        assert got[2]["c4_lorem_ok"] is False
        assert got[3]["c4_keep"] is True
        assert got[1]["c4_sentences_ok"] is False  # 1 terminator < 3

    def test_badwords_and_null(self, spark):
        rows = [(1, "A perfectly ordinary sentence sits here."), (2, None)]
        got = self._run(spark, rows, badwords=("ordinary",))
        assert got[1]["c4_badword_ok"] is False
        assert got[2]["c4_text"] is None and got[2]["c4_keep"] is False
        assert len(got) == 2  # never-lose-rows

    def test_badwords_match_whole_tokens_not_substrings(self, spark):
        rows = [
            (1, "My class passed the test today."),   # contains 'ass' inside
            (2, "that ass remark was uncalled for."),  # whole token
            (3, "a bad phrase appears right here."),   # multi-word entry
        ]
        got = self._run(spark, rows, badwords=("ass", "bad phrase"))
        assert got[1]["c4_badword_ok"] is True   # substrings must NOT trip
        assert got[2]["c4_badword_ok"] is False
        assert got[3]["c4_badword_ok"] is False  # phrases match as substring

    def test_quote_terminal_and_word_floor(self, spark):
        doc = ('He said "this line ends with a quote"\n'
               "Tiny line ends.\n")
        got = self._run(spark, [(1, doc)])[1]
        # quote-terminated line kept; 3-word line cut by the 5-word floor
        assert got["c4_text"] == 'He said "this line ends with a quote"'


class TestGopherRepetitionRules:
    """Published Gopher repetition set (A.1.2): one fixture per rule
    family with hand-computable fractions."""

    def _rules(self, spark, rows, **kw):
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = text.gopher_repetition_rules(df, "doc_id", **kw)
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_duplicate_lines_and_char_fraction(self, spark):
        got = self._rules(spark, [(1, "x y\nx y\nx y\nz w")])[1]
        assert got["dup_line_frac"] == pytest.approx(0.5)  # 2 extra of 4
        assert got["dup_line_char_frac"] == pytest.approx(0.5)  # 6/12 chars
        assert got["dup_line_frac_ok"] is False
        assert got["gopher_rep_keep"] is False

    def test_duplicate_paragraphs(self, spark):
        doc = "para one here\n\npara one here\n\nother text"
        got = self._rules(spark, [(1, doc)])[1]
        assert got["dup_para_frac"] == pytest.approx(1 / 3)
        assert got["dup_para_frac_ok"] is False

    def test_top_ngram_char_fraction(self, spark):
        # "hello world" x4 = 4*11 = 44 chars of 50 total
        doc = "hello world hello world hello world hello world hi"
        got = self._rules(spark, [(1, doc)])[1]
        assert got["top_2gram_char_frac"] == pytest.approx(44 / 50)
        assert got["top_2gram_char_frac_ok"] is False

    def test_dup_ngram_coverage_no_double_count(self, spark):
        # a 10-token block repeated twice: every position is covered by
        # SOME duplicated 6-gram; coverage must be the union (whole
        # text), not the sum over overlapping grams (> text length)
        block = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
        doc = block + " " + block
        got = self._rules(spark, [(1, doc)])[1]
        assert got["dup_6gram_char_frac"] == pytest.approx(1.0)
        assert got["dup_6gram_char_frac_ok"] is False

    def test_clean_and_degenerate_docs_pass(self, spark):
        got = self._rules(
            spark, [(1, "a b c d e f g h i j k l"), (2, ""), (3, None)]
        )
        for i in (1, 2, 3):
            assert got[i]["gopher_rep_keep"] is True
        assert len(got) == 3  # never-lose-rows

    def test_thresholds_parametrizable(self, spark):
        got = self._rules(
            spark,
            [(1, "x y\nx y\nz w")],
            thresholds={"dup_line_frac": 0.5},
        )[1]
        assert got["dup_line_frac_ok"] is True  # 1/3 <= 0.5


class TestPQ:
    def test_codebook_shape_and_code_range(self, spark, emb):
        books = similarity.train_pq_codebooks(emb, m=16, k_codes=64)
        assert books.shape == (16, 64, 4)  # 64-dim / 16 subspaces
        codes = similarity.pq_encode(emb, books)
        assert codes.count() == emb.count()
        import numpy as np

        all_codes = np.asarray(
            [r["codes"] for r in codes.collect()], dtype=np.int64
        )
        assert all_codes.shape[1] == 16
        assert all_codes.min() >= 0 and all_codes.max() < 64

    def test_encode_deterministic_under_repartition(self, spark, emb):
        books = similarity.train_pq_codebooks(emb, m=8, k_codes=32)
        a = {r["vec_id"]: tuple(r["codes"])
             for r in similarity.pq_encode(emb, books).collect()}
        b = {r["vec_id"]: tuple(r["codes"])
             for r in similarity.pq_encode(emb.repartition(7), books).collect()}
        assert a == b

    def test_adc_approximates_cosine(self, spark, emb):
        """ADC score must track the true cosine: rank correlation over
        sampled pairs clearly positive, mean abs error bounded by the
        quantization budget."""
        import numpy as np

        books = similarity.train_pq_codebooks(emb, m=16, k_codes=64)
        rows = emb.orderBy("vec_id").limit(40).collect()
        vecs = {r["vec_id"]: np.asarray(r["embedding"], float) for r in rows}
        codes = {
            r["vec_id"]: np.asarray(r["codes"])
            for r in similarity.pq_encode(emb, books).collect()
            if r["vec_id"] in vecs
        }
        m, kc, dsub = books.shape
        ids = sorted(vecs)
        true, approx = [], []
        for qi in ids[:10]:
            q = vecs[qi] / np.linalg.norm(vecs[qi])
            lut = np.einsum("sd,skd->sk", q.reshape(m, dsub), books)
            for ni in ids[10:]:
                n = vecs[ni] / np.linalg.norm(vecs[ni])
                true.append(float(q @ n))
                approx.append(float(lut[np.arange(m), codes[ni]].sum()))
        true, approx = np.asarray(true), np.asarray(approx)
        assert np.abs(true - approx).mean() < 0.1
        assert np.corrcoef(true, approx)[0, 1] > 0.5

    def test_ivfpq_recall_and_rerank_gain(self, spark, emb):
        exact = {
            (r["q_id"], r["n_id"])
            for r in similarity.cosine_topk_exact(emb, emb, k=3).collect()
        }
        kw = dict(k=3, n_centroids=16, nprobe=4, m=16, k_codes=64)
        rer = {
            (r["q_id"], r["n_id"])
            for r in similarity.ivfpq_topk(emb, rerank=8, **kw).collect()
        }
        raw = {
            (r["q_id"], r["n_id"])
            for r in similarity.ivfpq_topk(emb, rerank=0, **kw).collect()
        }
        assert len(exact & rer) / len(exact) >= 0.4
        # exact re-rank must not LOSE recall vs raw ADC ranking
        assert len(exact & rer) >= len(exact & raw)

    def test_ivfpq_deterministic(self, spark, emb):
        a = sorted(map(tuple, similarity.ivfpq_topk(
            emb, k=2, n_centroids=8, nprobe=2, m=8, k_codes=16).collect()))
        b = sorted(map(tuple, similarity.ivfpq_topk(
            emb.repartition(5), k=2, n_centroids=8, nprobe=2,
            m=8, k_codes=16).collect()))
        assert a == b

    def test_indivisible_dim_raises(self, spark, emb):
        with pytest.raises(ValueError):
            similarity.train_pq_codebooks(emb, m=7)


class TestPersistedANNIndex:
    def test_build_query_roundtrip_and_recall(self, spark, emb, tmp_path):
        idx = str(tmp_path / "ann_index")
        info = similarity.build_ann_index(
            emb, idx, n_centroids=16, m=16, k_codes=64
        )
        assert info["version"] == 0 and info["n_vectors"] == emb.count()
        # self-query through the PERSISTED index with exact rerank must
        # match the recall of the in-memory ivfpq operator
        out = similarity.query_ann_index(
            spark, idx, emb, k=4, nprobe=4, rerank=8, index_embeddings=emb
        ).filter(F.col("q_id") != F.col("n_id")).filter(F.col("rank") <= 3)
        exact = {
            (r["q_id"], r["n_id"])
            for r in similarity.cosine_topk_exact(emb, emb, k=3).collect()
        }
        got = {(r["q_id"], r["n_id"]) for r in out.collect()}
        assert len(exact & got) / len(exact) >= 0.4

    def test_adc_only_query_and_new_vectors(self, spark, emb, tmp_path):
        idx = str(tmp_path / "ann_index2")
        similarity.build_ann_index(emb, idx, n_centroids=8, m=8, k_codes=16)
        # brand-new query vectors (ids disjoint from the index)
        import numpy as np

        rng = np.random.default_rng(3)
        q = spark.createDataFrame(
            [(10_000 + i, rng.standard_normal(64).tolist()) for i in range(5)],
            "vec_id long, embedding array<double>",
        )
        out = similarity.query_ann_index(spark, idx, q, k=3, nprobe=2)
        per = {r["q_id"] for r in out.collect()}
        assert per == {10_000 + i for i in range(5)}  # every query answered
        assert out.groupBy("q_id").count().agg(F.max("count")).first()[0] <= 3

    def test_time_travel_and_rerank_requires_vectors(self, spark, emb, tmp_path):
        idx = str(tmp_path / "ann_index3")
        similarity.build_ann_index(emb, idx, n_centroids=8, m=8, k_codes=16)
        half = emb.filter(F.col("vec_id") % 2 == 0)
        similarity.build_ann_index(half, idx, n_centroids=8, m=8, k_codes=16)
        q = emb.limit(3)
        # current version only knows the half corpus
        now = similarity.query_ann_index(spark, idx, q, k=5, nprobe=8)
        assert all(r["n_id"] % 2 == 0 for r in now.collect())
        # version 0 still answers from the full corpus (time travel)
        v0 = similarity.query_ann_index(spark, idx, q, k=5, nprobe=8, version=0)
        assert any(r["n_id"] % 2 == 1 for r in v0.collect())
        with pytest.raises(ValueError):
            similarity.query_ann_index(spark, idx, q, k=3, rerank=4)

    def test_training_ignores_column_order(self, spark, emb, tmp_path):
        """The IVF and PQ trainers sample by the id column: a frame that
        lists another column first persists the same centroids and
        codebooks, and the self-top-k operators return the same rows."""
        from dashing_spark.plans import snapshots

        moved = emb.select("label", "vec_id", "embedding")
        built = []
        for name, frame in (("id_first", emb), ("label_first", moved)):
            idx = str(tmp_path / name)
            similarity.build_ann_index(frame, idx, n_centroids=8, m=8, k_codes=16)
            props = snapshots.snapshot_properties(idx)
            built.append((props["centroids_npy_b64"], props["codebooks_npy_b64"]))
        assert built[0] == built[1]
        kw = dict(k=2, n_centroids=8, nprobe=2)
        for op, extra in (
            (similarity.ivf_topk, {}),
            (similarity.ivfpq_topk, dict(m=8, k_codes=16)),
        ):
            want = sorted(map(tuple, op(emb, **kw, **extra).collect()))
            got = sorted(map(tuple, op(moved, **kw, **extra).collect()))
            assert got == want

    def test_renamed_query_columns(self, spark, emb, tmp_path):
        """``id_col``/``vec_col`` name the query frame's columns only: the
        reranked answer equals the query under the index's own names."""
        idx = str(tmp_path / "ann_index4")
        similarity.build_ann_index(emb, idx, n_centroids=8, m=8, k_codes=16)
        q = emb.filter(F.col("vec_id") % 7 == 0)
        renamed = q.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        kw = dict(k=3, nprobe=2, rerank=4, index_embeddings=emb)
        want = similarity.query_ann_index(spark, idx, q, **kw).collect()
        got = similarity.query_ann_index(
            spark, idx, renamed, id_col="qid", vec_col="qvec", **kw
        ).collect()
        assert want and sorted(map(tuple, got)) == sorted(map(tuple, want))


class TestCorpusCuration:
    def test_stages_monotone_and_deterministic(self, spark, docs):
        from dashing_spark.operators import corpus

        kept, stats = corpus.curate(docs, near_threshold=0.9, min_quality=0.5)
        s = {r["stage"]: r["n_out"] for r in stats.collect()}
        assert s["input"] >= s["exact_dedup"] >= s["near_dedup"] >= s["quality"]
        assert s["quality"] == kept.count()
        # survivors contain no byte-identical pair and no JI>=0.9 pair
        from dashing_spark.operators import dedup

        assert (
            dedup.exact_dup_clusters(kept, "doc_id").filter("n_docs > 1").count() == 0
        )
        # keep-first rule: remaining pairs may only chain through drops;
        # every surviving near-dup pair's a-side must be a keeper id
        kept2, _ = corpus.curate(
            docs.repartition(7), near_threshold=0.9, min_quality=0.5
        )
        assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {
            r["doc_id"] for r in kept2.select("doc_id").collect()
        }

    def test_lang_allowlist(self, spark, docs):
        from dashing_spark.operators import corpus

        kept, stats = corpus.curate(docs, langs=["en", "de"])
        assert {r["lang"] for r in kept.select("lang").distinct().collect()} <= {
            "en", "de"
        }
        assert {r["stage"] for r in stats.collect()} == {
            "input", "exact_dedup", "near_dedup", "quality", "lang"
        }

    def test_line_dedup_stage_matches_standalone(self, spark, docs):
        """curate(line_dedup_sep=...) must rewrite text exactly as the
        standalone op applied after exact dedup — chain == composition
        of standalone stages, the invariant every other stage pins."""
        from dashing_spark.operators import corpus, dedup

        two = dedup.two_line_split(docs).drop("text").withColumnRenamed(
            "t2", "text"
        )
        kept, stats = corpus.curate(
            two, near_threshold=0.9, min_quality=0.0,
            line_dedup_sep="\n",
        )
        # standalone replica: exact dedup keepers, then line_dedup
        keepers = (
            two.select(F.md5("text").alias("dg"), "doc_id")
            .groupBy("dg")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        s1 = two.join(keepers, "doc_id", "left_semi")
        expect = dedup.line_dedup(s1, "doc_id", "text").select(
            "doc_id", F.col("text_out").alias("text")
        )
        got = kept.select("doc_id", "text")
        joined = got.join(
            expect.withColumnRenamed("text", "etext"), "doc_id", "left"
        )
        # every surviving doc carries the standalone-rewritten text
        assert joined.filter(
            F.col("etext").isNull() | (F.col("text") != F.col("etext"))
        ).count() == 0
        # the rewrite did real work: some doc lost a duplicate line
        changed = s1.join(
            expect.withColumnRenamed("text", "etext"), "doc_id"
        ).filter(F.col("text") != F.col("etext"))
        assert changed.count() > 0

    def test_substring_dedup_stage_matches_standalone(self, spark):
        """curate(substring_dedup_min_len=...) must rewrite text exactly
        as remove_duplicate_runs applied after exact dedup."""
        from dashing_spark.operators import corpus, dedup

        block = " ".join(f"b{i}" for i in range(20))
        filler = [" ".join(f"c{d}_{i}" for i in range(30)) for d in range(4)]
        rows = [
            (1, f"u1 u2 {block} u3 u4 " + filler[0], "en"),
            (2, f"{block} z1 z2 z3 z4 " + filler[1], "en"),
            (3, filler[2], "en"),
            (4, filler[3], "en"),
        ]
        docs = spark.createDataFrame(rows, "doc_id int, text string, lang string")
        kept, _ = corpus.curate(
            docs, min_quality=0.0, substring_dedup_min_len=16
        )
        expect = dedup.remove_duplicate_runs(
            docs, "doc_id", w=8, min_len=16
        ).select("doc_id", F.col("text_dedup").alias("etext"))
        joined = kept.select("doc_id", "text").join(expect, "doc_id", "left")
        assert joined.filter(
            F.col("etext").isNull() | (F.col("text") != F.col("etext"))
        ).count() == 0
        # the rewrite did real work on both block carriers
        changed = {r["doc_id"] for r in expect.join(
            docs.select("doc_id", F.col("text").alias("otext")), "doc_id"
        ).filter(F.col("etext") != F.col("otext")).collect()}
        assert changed == {1, 2}

    def test_gopher_stage_matches_standalone(self, spark):
        """curate(gopher=True) must keep exactly the docs passing BOTH
        standalone rule sets."""
        from dashing_spark.operators import corpus

        # 60 DISTINCT words (no within-doc repetition) incl. stopwords
        def good(tag):
            return "the be to of and that have with " + " ".join(
                f"{tag}word{i}" for i in range(52)
            )

        rows = [
            (1, good("a"), "en"),
            (2, good("b"), "en"),                     # disjoint filler
            (3, "x y\n" * 20 + good("c"), "en"),      # dup lines -> rep fail
            (4, ("# " * 40 + good("d")).strip(), "en"),  # symbols -> quality fail
        ]
        docs = spark.createDataFrame(rows, "doc_id int, text string, lang string")
        kept, stats = corpus.curate(docs, min_quality=0.0, gopher=True)
        assert {r["doc_id"] for r in kept.collect()} == {1, 2}
        s = {r["stage"]: r["n_out"] for r in stats.collect()}
        assert s["quality"] == 4 and s["gopher"] == 2  # attribution split

    def test_c4_stage_rewrites_and_gates(self, spark):
        from dashing_spark.operators import corpus

        rows = [
            (1, "First proper sentence sits right here.\n"
                "no punctuation line\n"
                "Second full sentence arrives right now!\n"
                "Third sentence closes the document out."),
            (2, "Contains a brace { and one sentence here."),
        ]
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        docs = docs.withColumn("lang", F.lit("en"))
        kept, _ = corpus.curate(docs, min_quality=0.0, c4=True)
        out = {r["doc_id"]: r["text"] for r in kept.collect()}
        assert set(out) == {1}  # brace doc gated out
        assert out[1] == ("First proper sentence sits right here.\n"
                          "Second full sentence arrives right now!\n"
                          "Third sentence closes the document out.")

    def test_full_chain_matches_standalone_stages(self, spark, docs):
        from dashing_spark.operators import contamination, corpus

        bench = docs.filter(F.col("doc_id") % 97 == 0)
        rates = {"en": 0.5, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.5}
        kept, stats = corpus.curate(
            docs,
            near_threshold=0.9,
            min_quality=0.5,
            max_repetition=0.5,
            bench=bench,
            max_overlap_frac=0.3,
            sample_rates=rates,
        )
        s = {r["stage"]: r["n_out"] for r in stats.collect()}
        order = [
            "input", "exact_dedup", "near_dedup", "quality",
            "repetition", "decontaminate", "sample",
        ]
        assert list(s) == order or set(s) == set(order)
        vals = [s[k] for k in order]
        assert vals == sorted(vals, reverse=True)
        assert s["sample"] == kept.count()
        # chain equals the standalone operators applied in sequence
        base, _ = corpus.curate(docs, near_threshold=0.9, min_quality=0.5)
        grams = text.token_ngrams_col("text", 2)
        dup = F.when(
            F.size(grams) > 0,
            F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams),
        ).otherwise(F.lit(0.0))
        step = base.filter(dup <= 0.5)
        step = contamination.decontaminate(step, bench, max_overlap_frac=0.3)
        step = corpus.stratified_sample(step, rates)
        assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {
            r["doc_id"] for r in step.select("doc_id").collect()
        }


class TestAdaptiveBanding:
    def test_low_threshold_recall_exact(self, spark, docs):
        """threshold=0.5 must still find the exact JI>=0.5 pair set —
        the adaptive banding widens to two-hash bands (a fixed r=4
        misses ~12% here; r=2/b=64 keeps the miss at 1.005e-8 within
        pick_lsh_banding's 1.05x slack — see ADVICE r2 #1, which dropped
        the r=1 full-candidate fallback this boundary used to hit)."""
        from dashing_spark.operators.dedup import pick_lsh_banding

        assert pick_lsh_banding(128, 0.9) == (18, 72)
        assert pick_lsh_banding(128, 0.5) == (64, 128)
        found = {
            (r["a_id"], r["b_id"])
            for r in dedup.minhash_lsh_dedup(docs, "doc_id", threshold=0.5).collect()
        }
        items = docs.select(
            F.col("doc_id").alias("id"),
            F.explode(F.array_distinct(F.split("text", " ", -1))).alias("it"),
        )
        sizes = items.groupBy("id").agg(F.count("*").alias("sz"))
        inter = (
            items.select(F.col("id").alias("a_id"), "it")
            .join(items.select(F.col("id").alias("b_id"), "it"), "it")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("t2"))
        )
        exact = (
            inter.join(sizes.select(F.col("id").alias("a_id"), F.col("sz").alias("sa")), "a_id")
            .join(sizes.select(F.col("id").alias("b_id"), F.col("sz").alias("sb")), "b_id")
            .withColumn("ji", F.col("t2") / (F.col("sa") + F.col("sb") - F.col("t2")))
            .filter(F.col("ji") >= 0.5)
        )
        truth = {(r["a_id"], r["b_id"]) for r in exact.collect()}
        assert found == truth


class TestNgramClusteredPath:
    def test_cluster_exact_same_pairs(self, spark, docs):
        """The opt-in clustered char-gram path (exact-dup gram sets
        collapse to one rep before LSH) must emit the identical pair
        set as the plain path."""
        from pyspark.sql import functions as F

        from dashing_spark.operators import dedup

        small = docs.filter(F.col("doc_id") < 300)
        plain = {
            (r["a_id"], r["b_id"], round(r["ji"], 9))
            for r in dedup.ngram_jaccard_pairs(
                small, "doc_id", n=3, threshold=0.6
            ).collect()
        }
        clustered = {
            (r["a_id"], r["b_id"], round(r["ji"], 9))
            for r in dedup.ngram_jaccard_pairs(
                small, "doc_id", n=3, threshold=0.6, cluster_exact=True
            ).collect()
        }
        assert plain == clustered


class TestConnectedComponents:
    def test_chain_clique_random_vs_union_find(self, spark):
        """Pointer-jumping label propagation must match union-find on a
        61-node chain (the adversarial diameter case), an 8-clique, and
        a random graph."""
        import random

        from dashing_spark.operators.dedup import connected_components

        random.seed(7)
        edges = [(random.randint(0, 200), random.randint(0, 200)) for _ in range(150)]
        edges += [(1000 + i, 1001 + i) for i in range(60)]
        edges += [(2000 + i, 2000 + j) for i in range(8) for j in range(i + 1, 8)]
        edges = [(a, b) if a < b else (b, a) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, ["a_id", "b_id"])
        out = {r["id"]: r["comp"] for r in connected_components(df).collect()}

        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        from collections import defaultdict

        groups = defaultdict(set)
        for x in parent:
            groups[find(x)].add(x)
        for root, members in groups.items():
            m = min(members)
            for x in members:
                assert out[x] == m, (x, out[x], m)

    def test_curate_components_mode_transitive(self, spark):
        """components mode must drop B AND C when A~B, B~C even if A~C
        was never an emitted pair (keep_first also drops C here — via
        the B~C pair — but keeps no transitive guarantee when the
        intermediate pair is missed)."""
        import pandas as pd

        from dashing_spark.operators import corpus

        # construct a token chain: A~B share 95%, B~C share 95%, A~C ~90.5%
        base = [f"w{i}" for i in range(40)]
        a = " ".join(base)
        b = " ".join(base[2:] + ["x1", "x2"])
        c = " ".join(base[4:] + ["x1", "x2", "y1", "y2"])
        df = spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": [1, 2, 3], "text": [a, b, c], "lang": ["en"] * 3}
            )
        )
        kept_cc, _ = corpus.curate(
            df, near_threshold=0.8, min_quality=0.0, near_mode="components"
        )
        ids_cc = {r["doc_id"] for r in kept_cc.select("doc_id").collect()}
        assert ids_cc == {1}


class TestMultimodalResize:
    def test_wav_resample_mean_pool(self, spark, docs):
        """resize_decoded on real RIFF/WAVE payloads: output length is
        exactly target_len and values equal the numpy box-filter means
        of the decoded PCM."""
        import numpy as np
        import wave, io

        from dashing_spark.operators import multimodal

        media = multimodal.media_with_codecs(docs.limit(8))
        wavs = media.filter(F.col("meta.mime") == "audio/wav")
        out = {
            r["media_id"]: np.array(r["resized"])
            for r in multimodal.resize_decoded(wavs, target_len=16).collect()
        }
        rows = wavs.select("media_id", "payload").collect()
        assert out and len(out) == len(rows)
        for r in rows:
            with wave.open(io.BytesIO(bytes(r["payload"]))) as w:
                pcm = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
            v = pcm.astype(np.float64)
            bounds = np.linspace(0, len(v), 17).round().astype(np.int64)
            expect = np.array([
                v[bounds[i]:max(bounds[i+1], bounds[i]+1)].mean()
                if bounds[i] < len(v) else v[-1]
                for i in range(16)
            ])
            got = out[r["media_id"]]
            assert len(got) == 16
            assert np.allclose(got, expect, rtol=1e-5)

    def test_unregistered_mime_raises_or_fakes(self, spark, docs):
        from dashing_spark.operators import multimodal

        media = multimodal.media_from_documents(docs.limit(4)).withColumn(
            "meta",
            F.struct(
                F.lit("video/mp4").alias("mime"),
                F.col("meta.width"),
                F.col("meta.height"),
                F.col("meta.duration_ms"),
            ),
        )
        import pytest as _pytest

        with _pytest.raises(Exception, match="no registered decoder"):
            multimodal.resize_decoded(media).collect()
        ok = multimodal.resize_decoded(media, deterministic_fake=True).collect()
        assert all(len(r["resized"]) == 64 for r in ok)


class TestTokenNgrams:
    def test_matches_python_sliding_windows(self, spark, docs):
        rows = docs.select(
            "doc_id", "text", text.token_ngrams_col("text", 8).alias("grams")
        ).collect()
        assert rows
        for r in rows:
            toks = r["text"].split(" ")
            exp = [
                " ".join(toks[i : i + 8]) for i in range(len(toks) - 7)
            ] if len(toks) >= 8 else []
            assert r["grams"] == exp

    def test_short_doc_yields_empty(self, spark):
        df = spark.createDataFrame([("a b c",)], "text string")
        got = df.select(text.token_ngrams_col("text", 8).alias("g")).first()["g"]
        assert got == []

    def test_adversarial_inputs_match_python(self, spark):
        # empty tokens from repeated/leading/trailing spaces, unicode,
        # single-token docs — Spark split(_, " ", -1) must agree with
        # Python str.split(" ") everywhere the oracles rely on it
        cases = [
            "",
            " ",
            "a",
            "a b",
            "a  b",                # empty token in the middle
            " a b ",               # leading/trailing empties
            "a b c d",
            "héllo wörld ünïcode tokens a b",
            "日本 語 の テスト a b c",
            "x " * 10,             # trailing empty token
        ]
        df = spark.createDataFrame([(c,) for c in cases], "text string")
        for w in (2, 3):
            got = {
                r["text"]: r["g"]
                for r in df.select(
                    "text", text.token_ngrams_col("text", w).alias("g")
                ).collect()
            }
            for c in cases:
                toks = c.split(" ")
                exp = (
                    [" ".join(toks[i : i + w]) for i in range(len(toks) - w + 1)]
                    if len(toks) >= w
                    else []
                )
                assert got[c] == exp, (c, w)


class TestRepetition:
    def test_corpus_dup_frac_vs_python(self, spark, docs):
        got = {
            r["lang"]: r
            for r in text.repetition_stats(docs, ["lang"], w=2).collect()
        }
        by_lang = {}
        for r in docs.select("lang", "text").collect():
            toks = r["text"].split(" ")
            grams = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
            acc = by_lang.setdefault(r["lang"], [0, 0, 0])
            acc[0] += len(grams)
            acc[1] += len(set(grams))
            acc[2] += 1
        for lang, (tot, uniq, n) in by_lang.items():
            assert got[lang]["total_grams"] == tot
            assert got[lang]["total_uniq_grams"] == uniq
            assert got[lang]["n_docs"] == n
            assert got[lang]["corpus_dup_frac"] == round(1.0 - uniq / tot, 9)


class TestLineDedup:
    @pytest.fixture()
    def line_docs(self, spark):
        rows = [
            (1, "cookie banner\nunique alpha\nnav menu"),
            (2, "cookie banner\nunique beta\nnav menu"),
            (3, "unique gamma\ncookie banner"),
            (4, "cookie banner"),  # every line a non-canonical dup
            (5, "x\n\nunique delta\nx"),  # short lines bypass dedup
            (6, None),  # NULL text must come back, not vanish
        ]
        return spark.createDataFrame(rows, "doc_id int, text string")

    def test_null_text_survives(self, spark, line_docs):
        out = {
            r["doc_id"]: r
            for r in dedup.line_dedup(line_docs, min_line_chars=2).collect()
        }
        assert 6 in out, "NULL-text doc dropped — pipeline lost a row"
        assert out[6]["text_out"] is None
        assert out[6]["n_lines"] == 0
        assert out[6]["n_kept"] == 0

    def test_canonical_first_occurrence_kept(self, spark, line_docs):
        out = {
            r["doc_id"]: r
            for r in dedup.line_dedup(line_docs, min_line_chars=2).collect()
        }
        # doc 1 holds the canonical "cookie banner" AND "nav menu"
        assert out[1]["text_out"] == "cookie banner\nunique alpha\nnav menu"
        assert out[2]["text_out"] == "unique beta"
        assert out[3]["text_out"] == "unique gamma"
        assert out[4]["text_out"] == ""
        assert out[4]["n_kept"] == 0
        assert out[4]["n_lines"] == 1

    def test_short_lines_bypass(self, spark, line_docs):
        out = {
            r["doc_id"]: r
            for r in dedup.line_dedup(line_docs, min_line_chars=2).collect()
        }
        # both "x" lines and the empty line survive (length < 2)
        assert out[5]["text_out"] == "x\n\nunique delta\nx"
        assert out[5]["n_kept"] == 4

    def test_total_line_conservation(self, spark, line_docs):
        out = dedup.line_dedup(line_docs, min_line_chars=2)
        agg = out.agg(
            F.sum("n_lines").alias("t"), F.sum("n_kept").alias("k")
        ).collect()[0]
        # 13 lines total; "cookie banner" drops 3 of 4, "nav menu" 1 of 2
        assert agg["t"] == 13
        assert agg["k"] == 9

    def test_separator_containing_quote_terminator(self, spark):
        """A line_sep containing literal ``\\E`` must not terminate the
        \\Q..\\E quote early and mis-split (r5 ADVICE) — Pattern.quote
        break-out semantics."""
        sep = "\\E|"
        rows = [
            (1, sep.join(["dup line", "unique a", "dup line"])),
            (2, "dup line"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {
            r["doc_id"]: r
            for r in dedup.line_dedup(
                df, line_sep=sep, min_line_chars=2
            ).collect()
        }
        # a naive \Q\E|\E quote would split doc 1 on regex `|` (every
        # char) instead of the literal separator — 3 real lines here
        assert out[1]["n_lines"] == 3
        assert out[1]["text_out"] == sep.join(
            ["dup line", "unique a"]
        )
        assert out[2]["text_out"] == ""

    def test_partitioning_independent(self, spark, line_docs):
        a = sorted(
            map(tuple, dedup.line_dedup(line_docs, min_line_chars=2).collect())
        )
        b = sorted(
            map(
                tuple,
                dedup.line_dedup(
                    line_docs.repartition(7), min_line_chars=2
                ).collect(),
            )
        )
        assert a == b


class TestDuplicateRuns:
    @pytest.fixture()
    def run_docs(self, spark):
        # a 20-token boilerplate block shared by docs 1 and 2 at
        # different offsets; docs 3/4 share only a single 4-token span;
        # doc 5 is clean; doc 6 too short for any span
        block = " ".join(f"b{i}" for i in range(20))
        rows = [
            (1, "u1 u2 u3 " + block + " t1 t2"),
            (2, block + " z1 z2 z3 z4"),
            (3, "p1 p2 s1 s2 s3 s4 p3 p4 p5 p6"),
            (4, "q1 s1 s2 s3 s4 q2 q3 q4 q5 q6"),
            (5, " ".join(f"c{i}" for i in range(30))),
            (6, "x1 x2"),
        ]
        return spark.createDataFrame(rows, "doc_id int, text string")

    def test_runs_found_and_measured(self, spark, run_docs):
        out = dedup.duplicate_run_stats(
            run_docs.withColumn("k", F.lit("g")), "doc_id", ["k"],
            w=4, min_len=10,
        ).collect()[0]
        # docs 1 and 2 each carry one maximal 20-token duplicated run;
        # the 4-token span of docs 3/4 is under min_len; doc 6 has no
        # spans at all (w=4 > 2 tokens)
        assert out["n_docs_with_spans"] == 5
        assert out["n_docs_with_run"] == 2
        assert out["total_runs"] == 2
        assert out["total_run_tokens"] == 40
        assert out["max_run_len"] == 20

    def test_min_len_equal_w_counts_all_covered(self, spark, run_docs):
        out = dedup.duplicate_run_stats(
            run_docs.withColumn("k", F.lit("g")), "doc_id", ["k"],
            w=4, min_len=4,
        ).collect()[0]
        # now the 4-token shared span of docs 3/4 qualifies too
        assert out["n_docs_with_run"] == 4
        assert out["total_runs"] == 4
        assert out["total_run_tokens"] == 40 + 8
        assert out["max_run_len"] == 20

    def test_gap_does_not_bridge(self, spark):
        # two duplicated 6-token regions separated by a > w gap must
        # stay two runs, not merge into one
        shared_a = "a1 a2 a3 a4 a5 a6"
        shared_b = "d1 d2 d3 d4 d5 d6"
        rows = [
            (1, f"{shared_a} g1 g2 g3 g4 g5 g6 g7 {shared_b}"),
            (2, f"{shared_a} h1 h2 h3 h4 h5 h6 h7 {shared_b}"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = dedup.duplicate_run_stats(
            df.withColumn("k", F.lit("g")), "doc_id", ["k"], w=4, min_len=4
        ).collect()[0]
        assert out["total_runs"] == 4  # 2 per doc
        assert out["max_run_len"] == 6

    def test_hash_key_matches_text_key(self, spark, run_docs):
        a = dedup.duplicate_run_stats(
            run_docs.withColumn("k", F.lit("g")), "doc_id", ["k"],
            w=4, min_len=10, span_key="text",
        ).collect()[0].asDict()
        b = dedup.duplicate_run_stats(
            run_docs.withColumn("k", F.lit("g")), "doc_id", ["k"],
            w=4, min_len=10, span_key="hash",
        ).collect()[0].asDict()
        assert a == b

    def test_min_len_below_w_raises(self, spark, run_docs):
        with pytest.raises(ValueError):
            dedup.duplicate_run_stats(
                run_docs, "doc_id", [], w=8, min_len=4
            )


class TestRemoveDuplicateRuns:
    """ExactSubstr rewriting (remove_duplicate_runs): every qualifying
    duplicated island is cut from every occurrence; everything else is
    byte-preserved."""

    BLOCK = " ".join(f"b{i}" for i in range(20))

    @pytest.fixture()
    def rw_docs(self, spark):
        rows = [
            (1, "u1 u2 u3 " + self.BLOCK + " t1 t2"),
            (2, self.BLOCK + " z1 z2 z3 z4"),
            (3, "p1 p2 s1 s2 s3 s4 p3 p4 p5 p6"),   # shares only a
            (4, "q1 s1 s2 s3 s4 q2 q3 q4 q5 q6"),   # 4-token span
            (5, self.BLOCK),                          # fully covered
            (6, "x1  x2 "),                           # ws roundtrip
            (7, None),
        ]
        return spark.createDataFrame(rows, "doc_id int, text string")

    def _out(self, rw_docs, **kw):
        out = dedup.remove_duplicate_runs(rw_docs, "doc_id", w=8,
                                          min_len=16, **kw)
        return {r["doc_id"]: r for r in out.collect()}

    def test_block_cut_from_every_occurrence(self, rw_docs):
        got = self._out(rw_docs)
        assert got[1]["text_dedup"] == "u1 u2 u3 t1 t2"
        assert got[2]["text_dedup"] == "z1 z2 z3 z4"
        assert got[1]["n_tokens_removed"] == 20
        assert got[2]["n_tokens_removed"] == 20

    def test_below_threshold_and_clean_docs_byte_preserved(self, rw_docs):
        got = self._out(rw_docs)
        for i in (3, 4, 6):  # short shared span / irregular whitespace
            assert got[i]["text_dedup"] == got[i]["text"]
            assert got[i]["n_tokens_removed"] == 0

    def test_fully_covered_doc_becomes_empty_not_lost(self, rw_docs):
        got = self._out(rw_docs)
        assert got[5]["text_dedup"] == ""
        assert got[5]["n_tokens_removed"] == 20
        assert len(got) == 7  # never-lose-rows

    def test_null_text_passes_through(self, rw_docs):
        got = self._out(rw_docs)
        assert got[7]["text_dedup"] is None
        assert got[7]["n_tokens_removed"] == 0

    def test_removed_tokens_match_run_stats(self, rw_docs):
        got = self._out(rw_docs)
        stats = dedup.duplicate_run_stats(
            rw_docs.fillna({"text": ""}), "doc_id", [], w=8, min_len=16
        ).first()
        assert sum(r["n_tokens_removed"] for r in got.values()) == \
            stats["total_run_tokens"]

    def test_hash_span_key_same_rewrite(self, rw_docs):
        a = self._out(rw_docs)
        b = self._out(rw_docs, span_key="hash")
        assert {k: v["text_dedup"] for k, v in a.items()} == \
            {k: v["text_dedup"] for k, v in b.items()}

    def test_out_col_collision_raises(self, rw_docs):
        with pytest.raises(ValueError):
            dedup.remove_duplicate_runs(rw_docs, "doc_id", out_col="text")

    def test_min_len_below_w_raises(self, rw_docs):
        with pytest.raises(ValueError):
            dedup.remove_duplicate_runs(rw_docs, "doc_id", w=8, min_len=4)


class TestSpanSharing:
    def test_shared_span_frame_scans_input_once_per_consumer(self, spark, docs):
        """The merged gate query builds span_rows once (lazy
        localCheckpoint) and feeds BOTH substring tiers; pinned at
        runtime with a rows accumulator on the input: the checkpoint
        materialization reads the docs once, and the only other input
        read is duplicate_run_stats' token-count branch — 2 × n_docs
        total. Without sharing, each tier re-runs the explode from the
        scan (4-5 × n_docs measured)."""
        n_docs = docs.count()
        acc = spark.sparkContext.accumulator(0)

        def counted(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        src = docs.mapInPandas(counted, schema=docs.schema)
        sp = dedup.span_rows(src, "doc_id", ["lang"], w=8).localCheckpoint(
            eager=False
        )
        a = dedup.duplicate_span_stats(
            src, "doc_id", ["lang"], w=8, spans=sp
        )
        b = dedup.duplicate_run_stats(
            src, "doc_id", ["lang"], w=8, min_len=16, spans=sp
        )
        a.join(b.select("lang", "total_runs"), "lang").collect()
        assert acc.value == 2 * n_docs, (
            f"span frame not shared: input scanned {acc.value / n_docs:.1f}x"
        )

    def test_line_dedup_plan_has_no_window(self, spark, docs):
        """line_dedup's keeper must stay a partial-aggregable min, not
        a row_number window — a hot boilerplate line would otherwise
        sort every occurrence on one reducer."""
        plan = (
            dedup.line_dedup(dedup.two_line_split(docs), "doc_id", "t2")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan
        assert "partial_merge" in plan or "partial" in plan.lower()


class TestDuplicateSpans:
    def test_hash_key_matches_text_key(self, spark, docs):
        a = {
            r["lang"]: r.asDict()
            for r in dedup.duplicate_span_stats(
                docs, "doc_id", ["lang"], w=8, span_key="text"
            ).collect()
        }
        b = {
            r["lang"]: r.asDict()
            for r in dedup.duplicate_span_stats(
                docs, "doc_id", ["lang"], w=8, span_key="hash"
            ).collect()
        }
        assert a == b

    def test_vs_python_bruteforce(self, spark, docs):
        got = {
            r["lang"]: r
            for r in dedup.duplicate_span_stats(
                docs, "doc_id", ["lang"], w=8
            ).collect()
        }
        span_docs = {}
        doc_spans = {}
        for r in docs.select("doc_id", "lang", "text").collect():
            toks = r["text"].split(" ")
            spans = {
                " ".join(toks[i : i + 8]) for i in range(len(toks) - 7)
            }
            if spans:
                doc_spans[(r["doc_id"], r["lang"])] = spans
                for s in spans:
                    span_docs.setdefault(s, set()).add(r["doc_id"])
        per_lang = {}
        for (did, lang), spans in doc_spans.items():
            acc = per_lang.setdefault(lang, [0, 0, 0, 0])  # docs, spans, dup, docs_with_dup
            dup = sum(1 for s in spans if len(span_docs[s]) >= 2)
            acc[0] += 1
            acc[1] += len(spans)
            acc[2] += dup
            acc[3] += 1 if dup else 0
        for lang, (nd, ts, td, dwd) in per_lang.items():
            assert got[lang]["n_docs_with_spans"] == nd
            assert got[lang]["total_spans"] == ts
            assert got[lang]["total_dup_spans"] == td
            assert got[lang]["n_docs_with_dup_span"] == dwd


class TestDecontamination:
    def test_exact_overlap_vs_python_and_bloom_superset(self, spark, docs):
        from dashing_spark.operators import contamination

        bench = docs.filter(F.col("doc_id") % 97 == 0)
        train = docs.filter(F.col("doc_id") % 97 != 0)
        per = contamination.benchmark_overlap(
            train, bench, key_cols=("lang",), w=8, lg_bits=20
        ).collect()
        assert per
        bench_grams = set()
        for r in bench.select("text").collect():
            toks = r["text"].split(" ")
            bench_grams |= {
                " ".join(toks[i : i + 8]) for i in range(len(toks) - 7)
            }
        exp = {}
        for r in train.select("doc_id", "text").collect():
            toks = r["text"].split(" ")
            spans = {
                " ".join(toks[i : i + 8]) for i in range(len(toks) - 7)
            }
            if spans:
                exp[r["doc_id"]] = (len(spans), len(spans & bench_grams))
        assert len(per) == len(exp)
        for r in per:
            n_grams, ov = exp[r["__id"]]
            assert r["n_grams"] == n_grams
            assert r["exact_overlap"] == ov
            # bloom has zero false negatives
            assert r["bloom_overlap"] >= ov

    def test_decontaminate_drops_flagged(self, spark, docs):
        from dashing_spark.operators import contamination

        bench = docs.filter(F.col("doc_id") % 97 == 0)
        train = docs.filter(F.col("doc_id") % 97 != 0)
        kept = contamination.decontaminate(
            train, bench, w=8, max_overlap_frac=0.3
        )
        per = contamination.benchmark_overlap(
            train, bench, key_cols=(), w=8
        )
        flagged = {
            r["__id"]
            for r in per.filter(
                F.col("exact_overlap") / F.col("n_grams") >= 0.3
            ).collect()
        }
        kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        train_ids = {r["doc_id"] for r in train.select("doc_id").collect()}
        assert kept_ids == train_ids - flagged


class TestDocumentFormats:
    SCHEMA = "doc_id long, text string, lang string"

    @pytest.fixture()
    def tricky_docs(self, spark):
        rows = [
            (1, "plain text", "en"),
            (2, 'quotes "inside" here', "en"),
            (3, "comma, separated, values", "de"),
            (4, "embedded\nnewline\r\nboth", "fr"),
            (5, "unicode café ñ 中文", "zh"),
            (6, None, "es"),
            (7, "", "es"),
            (8, "trailing space ", "en"),
            # literal '\\N' text (MySQL/TSV dump convention) must NOT
            # be confused with NULL by the CSV null sentinel (r5
            # review find: the old '\\N' sentinel silently nulled it)
            (9, "\\N", "de"),
            (10, "ends with \\N", "de"),
        ]
        return spark.createDataFrame(rows, self.SCHEMA)

    @pytest.mark.parametrize("fmt", ["jsonl", "csv", "parquet"])
    def test_roundtrip_lossless(self, spark, tricky_docs, fmt, tmp_path):
        from dashing_spark.sources import tables

        p = str(tmp_path / fmt)
        tables.write_documents(tricky_docs, p, fmt)
        back = tables.read_documents(spark, p, fmt, schema=self.SCHEMA)
        diff = back.exceptAll(tricky_docs).unionAll(
            tricky_docs.exceptAll(back)
        )
        bad = diff.collect()
        assert not bad, f"{fmt} roundtrip diff: {bad}"

    def test_bad_format_raises(self, spark, tricky_docs, tmp_path):
        from dashing_spark.sources import tables

        with pytest.raises(ValueError):
            tables.write_documents(tricky_docs, str(tmp_path / "x"), "xml")
        with pytest.raises(ValueError):
            tables.read_documents(spark, str(tmp_path / "x"), "xml")


class TestExactKSample:
    def _expected(self, docs, k):
        """Ground truth: k smallest md5(doc_id) per lang, via pandas."""
        import hashlib

        rows = docs.select("doc_id", "lang").collect()
        by_lang = {}
        for r in rows:
            h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()
            by_lang.setdefault(r["lang"], []).append((h, r["doc_id"]))
        out = {}
        for lang, items in by_lang.items():
            out[lang] = {i for _, i in sorted(items)[:k]}
        return out

    def test_exact_k_and_deterministic(self, spark, docs):
        from dashing_spark.operators import corpus

        expect = self._expected(docs, 7)
        got = {}
        for r in corpus.exact_k_sample(docs, 7).select("doc_id", "lang").collect():
            got.setdefault(r["lang"], set()).add(r["doc_id"])
        assert got == expect
        got2 = {}
        for r in (
            corpus.exact_k_sample(docs.repartition(9), 7)
            .select("doc_id", "lang")
            .collect()
        ):
            got2.setdefault(r["lang"], set()).add(r["doc_id"])
        assert got2 == expect

    def test_zero_margin_fallback_still_exact(self, spark, docs):
        """margin=0 makes the prefilter expect exactly k candidates, so
        hash fluctuation leaves some strata short — the full-stratum
        fallback must still produce the exact hash-order top-k."""
        from dashing_spark.operators import corpus

        expect = self._expected(docs, 11)
        got = {}
        for r in (
            corpus.exact_k_sample(docs, 11, margin=0.0)
            .select("doc_id", "lang")
            .collect()
        ):
            got.setdefault(r["lang"], set()).add(r["doc_id"])
        assert got == expect

    def test_small_stratum_returns_all(self, spark, docs):
        from dashing_spark.operators import corpus

        out = corpus.exact_k_sample(docs, 10**6)
        assert out.count() == docs.count()

    def test_rejects_bad_params(self, spark, docs):
        from dashing_spark.operators import corpus

        with pytest.raises(ValueError):
            corpus.exact_k_sample(docs, 0)
        with pytest.raises(ValueError):
            corpus.exact_k_sample(docs, 5, margin=-0.1)

    def test_zero_candidate_stratum_still_sampled(self, spark):
        """A stratum whose every md5 prefix lands above the prefilter
        cut produces NO candidate rows — it must still fall back and
        return k rows, not vanish (r5 review find: doc_ids 0-3 all
        hash above 2^31, so k=1 with margin=1 matched nothing)."""
        from dashing_spark.operators import corpus

        df = spark.createDataFrame(
            [(i, "en") for i in range(4)], "doc_id int, lang string"
        )
        out = corpus.exact_k_sample(df, 1).collect()
        assert len(out) == 1
        import hashlib

        expect = min(range(4), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
        assert out[0]["doc_id"] == expect

    def test_null_stratum_is_its_own_group(self, spark):
        from dashing_spark.operators import corpus

        df = spark.createDataFrame(
            [(i, "en" if i % 2 else None) for i in range(40)],
            "doc_id int, lang string",
        )
        got = {}
        for r in corpus.exact_k_sample(df, 3).collect():
            got.setdefault(r["lang"], set()).add(r["doc_id"])
        assert len(got.get(None, ())) == 3
        assert len(got.get("en", ())) == 3

    def test_randomized_matches_python_ground_truth(self, spark):
        """Seeded random strata sizes/ids/NULLs vs a pure-Python
        replica of 'k smallest md5 per stratum'."""
        import hashlib
        import random

        from dashing_spark.operators import corpus

        rng = random.Random(23)
        rows = []
        for s in range(12):
            strat = None if s == 0 else f"s{s}"
            for _ in range(rng.randint(1, 60)):
                rows.append((rng.randint(0, 10**6), strat))
        rows = list({(i, s) for i, s in rows})  # unique ids per stratum
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        k = 4
        expect = {}
        for i, s in rows:
            expect.setdefault(s, []).append(
                (hashlib.md5(str(i).encode()).hexdigest(), i)
            )
        expect = {
            s: {i for _, i in sorted(v)[:k]} for s, v in expect.items()
        }
        got = {}
        for r in corpus.exact_k_sample(df, k, margin=0.2).collect():
            got.setdefault(r["lang"], set()).add(r["doc_id"])
        assert got == expect

    def test_prefilter_bounds_the_rank_window(self, spark):
        """The scale mechanism itself: on one 50k-row stratum with k=5
        the candidate pool entering the rank window must stay ~k(1+m),
        not the stratum size (binomial mean 10; 500 is a >40x slack
        bound with astronomically small failure probability)."""
        from dashing_spark.operators import corpus
        from pyspark.sql import functions as Fx

        df = spark.range(50_000).select(
            Fx.col("id").alias("doc_id"), Fx.lit("one").alias("lang")
        )
        out = corpus.exact_k_sample(df, 5)
        assert out.count() == 5
        # reconstruct the candidate pool the operator builds
        h32 = Fx.conv(
            Fx.substring(Fx.md5(Fx.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("double")
        cut = 5 * 2.0 / 50_000 * 2.0**32
        pool_n = df.filter(h32 < Fx.lit(cut)).count()
        assert pool_n <= 500, pool_n

    def test_duplicate_ids_across_strata_independent(self, spark):
        """The same id in two strata must be ranked independently —
        stratum-level (not id-level) fallback joins (r5 review find)."""
        from dashing_spark.operators import corpus

        rows = [(i, "small") for i in range(3)] + [
            (i, "big") for i in range(200)
        ]
        df = spark.createDataFrame(rows, "doc_id int, lang string")
        got = {}
        for r in corpus.exact_k_sample(df, 2, margin=0.0).collect():
            got.setdefault(r["lang"], set()).add(r["doc_id"])
        import hashlib

        for lang, n in (("small", 3), ("big", 200)):
            expect = set(
                sorted(
                    range(n),
                    key=lambda i: hashlib.md5(str(i).encode()).hexdigest(),
                )[:2]
            )
            assert got[lang] == expect, lang


class TestCapDocsPerHost:
    @pytest.fixture()
    def hosted_docs(self, spark):
        rows = (
            [(i, f"https://big.example.com/p/{i}", "t") for i in range(40)]
            + [(100 + i, f"https://small.example.com/p/{i}", "t")
               for i in range(3)]
            + [(200, "no scheme here", "t"), (201, "also plain", "t")]
        )
        return spark.createDataFrame(rows, "doc_id int, url string, text string")

    def test_cap_binds_only_on_hot_hosts(self, spark, hosted_docs):
        from dashing_spark.operators import corpus, text

        kept = corpus.cap_docs_per_host(hosted_docs, 5)
        by_host = {
            r["h"]: r["n"]
            for r in kept.select(
                text.url_host_col("url").alias("h")
            ).groupBy("h").agg(F.count("*").alias("n")).collect()
        }
        assert by_host["big.example.com"] == 5
        assert by_host["small.example.com"] == 3  # under cap: untouched
        assert by_host[""] == 2  # scheme-less rows share one stratum
        assert set(kept.columns) == set(hosted_docs.columns)

    def test_deterministic_and_matches_full_rank(self, spark, hosted_docs):
        """The kept set equals the k smallest md5(doc_id) per host and
        is partitioning-independent."""
        import hashlib

        from dashing_spark.operators import corpus, text

        kept = {
            r["doc_id"]
            for r in corpus.cap_docs_per_host(hosted_docs, 5).collect()
        }
        kept2 = {
            r["doc_id"]
            for r in corpus.cap_docs_per_host(
                hosted_docs.repartition(7), 5
            ).collect()
        }
        assert kept == kept2
        rows = hosted_docs.select(
            "doc_id", text.url_host_col("url").alias("h")
        ).collect()
        expect = set()
        by_host = {}
        for r in rows:
            by_host.setdefault(r["h"], []).append(r["doc_id"])
        for ids in by_host.values():
            ids.sort(key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
            expect |= set(ids[:5])
        assert kept == expect


class TestUnigramLogprob:
    @pytest.fixture()
    def lm_docs(self, spark):
        rows = [
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the mat"),
            (3, "zyx1 zyx2 zyx3 zyx4 zyx5 zyx6"),  # rare-token soup
            (4, "the the the the the the"),  # most common token only
        ]
        return spark.createDataFrame(rows, "doc_id int, text string")

    def test_common_scores_above_rare(self, spark, lm_docs):
        from dashing_spark.operators import corpus

        out = {
            r["doc_id"]: r
            for r in corpus.unigram_logprob_scores(lm_docs).collect()
        }
        # all-"the" doc > normal prose > singleton-token soup
        assert out[4]["logprob"] > out[1]["logprob"] > out[3]["logprob"]
        for r in out.values():
            assert r["logprob"] < 0
            assert r["n_oov"] == 0  # self-reference: nothing is OOV

    def test_oov_against_separate_reference(self, spark, lm_docs):
        from dashing_spark.operators import corpus

        ref = lm_docs.filter(F.col("doc_id") < 3)
        out = {
            r["doc_id"]: r
            for r in corpus.unigram_logprob_scores(
                lm_docs, ref=ref
            ).collect()
        }
        assert out[3]["n_oov"] == 6  # every zyx token unseen in ref
        assert out[1]["n_oov"] == 0
        # unseen-token doc must score below any in-reference doc
        assert out[3]["logprob"] < min(
            out[1]["logprob"], out[2]["logprob"], out[4]["logprob"]
        )

    def test_exact_probability_arithmetic(self, spark):
        from dashing_spark.operators import corpus
        import math

        df = spark.createDataFrame(
            [(1, "a a b")], "doc_id int, text string"
        )
        r = corpus.unigram_logprob_scores(df).collect()[0]
        # N=3, V=2: p(a)=(2+1)/5, p(b)=(1+1)/5
        expect = (2 * math.log(3 / 5) + math.log(2 / 5)) / 3
        assert abs(r["logprob"] - expect) < 1e-12
        assert r["n_tokens"] == 3

    def test_bigram_exact_arithmetic(self, spark):
        from dashing_spark.operators import corpus
        import math

        df = spark.createDataFrame(
            [(1, "a a b")], "doc_id int, text string"
        )
        r = corpus.bigram_logprob_scores(df).collect()[0]
        # ref = self: unigrams a:2 b:1 (N=3,V=2); bigrams (a,a):1 (a,b):1
        # tok1 'a' unigram 3/5; tok2 'a|a' 1/2; tok3 'b|a' 1/2
        expect = (math.log(3 / 5) + 2 * math.log(1 / 2)) / 3
        assert abs(r["logprob"] - expect) < 1e-12
        assert r["n_tokens"] == 3
        assert r["n_bigram_hits"] == 2
        assert r["n_oov"] == 0

    def test_bigram_backoff_exact(self, spark):
        from dashing_spark.operators import corpus
        import math

        ref = spark.createDataFrame(
            [(100, "a a b")], "doc_id int, text string"
        )
        df = spark.createDataFrame(
            [(1, "a c")], "doc_id int, text string"
        )
        r = corpus.bigram_logprob_scores(df, ref=ref).collect()[0]
        # tok1 'a' unigram 3/5; tok2 'c|a' missing -> 0.4 * (0+1)/5
        expect = (math.log(3 / 5) + math.log(0.4 * 1 / 5)) / 2
        assert abs(r["logprob"] - expect) < 1e-12
        assert r["n_oov"] == 1
        assert r["n_bigram_hits"] == 0

    def test_bigram_ranks_fluent_above_shuffled(self, spark):
        """A doc whose bigrams all appear in the reference must outscore
        a doc with the same token multiset but unseen bigrams — the
        signal unigram scoring cannot see."""
        from dashing_spark.operators import corpus

        ref = spark.createDataFrame(
            [(100, "the cat sat on the mat " * 5)],
            "doc_id int, text string",
        )
        df = spark.createDataFrame(
            [(1, "the cat sat on the mat"),
             (2, "mat the on sat cat the")],
            "doc_id int, text string",
        )
        out = {r["doc_id"]: r for r in
               corpus.bigram_logprob_scores(df, ref=ref).collect()}
        uni = {r["doc_id"]: r for r in
               corpus.unigram_logprob_scores(df, ref=ref).collect()}
        assert out[1]["logprob"] > out[2]["logprob"]
        assert out[1]["n_bigram_hits"] > out[2]["n_bigram_hits"]
        # same token multiset: unigram scoring is blind to the shuffle
        assert abs(uni[1]["logprob"] - uni[2]["logprob"]) < 1e-12

    def test_bigram_null_text_keeps_row(self, spark):
        from dashing_spark.operators import corpus

        df = spark.createDataFrame(
            [(1, "a a b"), (2, None)], "doc_id int, text string"
        )
        out = {r["doc_id"]: r for r in
               corpus.bigram_logprob_scores(df).collect()}
        assert set(out) == {1, 2}
        assert out[2]["n_tokens"] == 0
        assert out[2]["logprob"] is None

    def test_null_text_docs_keep_their_row(self, spark):
        """Never-lose-rows: NULL-text docs produce zero token rows but
        must still come back (n_tokens=0, NULL logprob) so downstream
        inner joins don't silently drop them (r5 ADVICE)."""
        from dashing_spark.operators import corpus

        df = spark.createDataFrame(
            [(1, "a a b"), (2, None), (3, "")],
            "doc_id int, text string",
        )
        out = {r["doc_id"]: r for r in
               corpus.unigram_logprob_scores(df).collect()}
        assert set(out) == {1, 2, 3}
        assert out[2]["n_tokens"] == 0 and out[2]["n_oov"] == 0
        assert out[2]["logprob"] is None
        # empty string splits to one "" token — still a row
        assert out[3]["n_tokens"] == 1


class TestStratifiedSample:
    def test_rate_bounds_and_determinism(self, spark, docs):
        from dashing_spark.operators import corpus

        all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
        full = corpus.stratified_sample(docs, {}, default_rate=1.0)
        none = corpus.stratified_sample(docs, {}, default_rate=0.0)
        assert {r["doc_id"] for r in full.collect()} == all_ids
        assert none.count() == 0
        s1 = {r["doc_id"] for r in corpus.stratified_sample(
            docs, {"en": 0.5}, default_rate=0.25).collect()}
        s2 = {r["doc_id"] for r in corpus.stratified_sample(
            docs, {"en": 0.5}, default_rate=0.25).collect()}
        assert s1 == s2

    def test_rate_monotonicity(self, spark, docs):
        # lower rate keep-set is a subset of higher rate keep-set
        from dashing_spark.operators import corpus

        lo = {r["doc_id"] for r in corpus.stratified_sample(
            docs, {}, default_rate=0.25).collect()}
        hi = {r["doc_id"] for r in corpus.stratified_sample(
            docs, {}, default_rate=0.5).collect()}
        assert lo <= hi
        # and the empirical rate is in a sane band
        n = len({r["doc_id"] for r in docs.select("doc_id").collect()})
        assert abs(len(hi) / n - 0.5) < 0.15

    def test_cutoff_hex(self):
        from dashing_spark.operators.corpus import sample_cutoff_hex

        assert sample_cutoff_hex(0.0) == "0000"
        assert sample_cutoff_hex(0.5) == "8000"
        assert sample_cutoff_hex(0.75) == "c000"
        assert sample_cutoff_hex(1.0) == "g"
        # quantization: rate below one step still keeps ~nothing
        assert sample_cutoff_hex(1 / 65536) == "0001"


class TestConnectedComponentsStringIds:
    def test_string_ids_label_lexicographically(self, spark):
        from dashing_spark.operators import dedup

        pairs = spark.createDataFrame(
            [("urlB", "urlA"), ("urlB", "urlC"), ("urlX", "urlY")],
            "a_id string, b_id string",
        )
        labels = {
            r["id"]: r["comp"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert labels == {
            "urlA": "urlA", "urlB": "urlA", "urlC": "urlA",
            "urlX": "urlX", "urlY": "urlX",
        }


class TestNgramClusterExactBlockCols:
    def test_combination_raises(self, spark, docs):
        from dashing_spark.operators import dedup

        with pytest.raises(ValueError, match="block_cols"):
            dedup.ngram_jaccard_pairs(
                docs, "doc_id", block_cols=["lang"], cluster_exact=True
            )


class TestBlockedTopkTies:
    def test_duplicate_embeddings_resolve_like_exact(self, spark):
        # 12 identical reference vectors vs k=10: the partial top-k must
        # keep boundary ties so the final (cos desc, n_id asc) order
        # matches the exact path regardless of batch boundaries
        import pandas as pd

        vec = [1.0, 0.0, 0.0, 0.0]
        rows = [(i, vec) for i in range(12)] + [(100 + i, [0.0, 1.0, 0.0, 0.0]) for i in range(5)]
        df = spark.createDataFrame(
            pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]})
        ).repartition(4)
        q = [(999, vec)]
        exact = {
            (r["rank"], r["n_id"])
            for r in similarity.cosine_topk_exact(
                spark.createDataFrame(
                    pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]})
                ),
                spark.createDataFrame(pd.DataFrame({"vec_id": [999], "embedding": [vec]})),
                k=10,
            ).collect()
        }
        blocked = {
            (r["rank"], r["n_id"])
            for r in similarity.cosine_topk_blocked(df, q, k=10).collect()
        }
        assert blocked == exact
        # deterministic: the ten smallest ids of the twelve tied vectors
        assert {n for _, n in blocked} == set(range(10))


class TestAnsiEdgeCases:
    """Spark 4 runs ANSI mode by default: any unguarded division is a
    job-aborting SparkArithmeticException, not a quiet NULL. Real web
    crawls contain empty and sub-w-token docs, so these paths must
    survive them (review findings, round 4)."""

    def test_quality_score_survives_empty_text(self, spark):
        import pandas as pd

        from dashing_spark.operators import text

        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2], "text": ["", "the cat 42"]})
        )
        rows = {r["doc_id"]: r for r in text.quality_score(df).collect()}
        assert rows[1]["digit_ratio"] == 0.0  # empty doc: no digits
        assert rows[1]["quality"] is not None
        assert rows[2]["digit_ratio"] > 0.0

    def test_repetition_stats_survives_short_doc_group(self, spark):
        import pandas as pd

        from dashing_spark.operators import text

        # every doc in lang 'xx' is shorter than w=2 tokens: the group
        # has sum(n_grams)=0 and the corpus fraction must be NULL, not
        # a DIVIDE_BY_ZERO abort
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2],
                    "lang": ["xx", "en"],
                    "text": ["single", "a b a b a b"],
                }
            )
        )
        rows = {r["lang"]: r for r in text.repetition_stats(df, ["lang"], w=2).collect()}
        assert rows["xx"]["corpus_dup_frac"] is None
        assert rows["en"]["corpus_dup_frac"] is not None

    def test_lang_id_null_text_predicts_null(self, spark):
        from pyspark.sql import types as T

        from dashing_spark.operators import text

        df = spark.createDataFrame(
            [(1, None), (2, "the cat and the dog of the house")],
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("text", T.StringType()),
                ]
            ),
        )
        rows = {r["doc_id"]: r["pred_lang"] for r in text.lang_id_predict(df).collect()}
        assert rows[1] is None  # not a confident-looking 'de'
        assert rows[2] == "en"

    def test_squareform_rejects_unknown_keys(self, spark):
        import pytest as _pytest

        from dashing_spark.sources.sinks import pairs_to_squareform

        pairs = spark.createDataFrame(
            [("a", "b", 0.5)], ["a_key", "b_key", "ji"]
        )
        with _pytest.raises(ValueError, match="not in the supplied key list"):
            pairs_to_squareform(pairs, "ji", keys=["a"])


class TestSequencePacking:
    def _docs(self, spark):
        rows = [
            # lang en: token counts 3, 5, 4  (budget 4: bins 0..2)
            ("en", 0, "a b c"),
            ("en", 1, "d e f g h"),
            ("en", 2, "i j k l"),
            # lang de: one doc exactly filling a bin, then one token
            ("de", 3, "w x y z"),
            ("de", 4, "q"),
            # NULL text counts like empty (1 token)
            ("en", 5, None),
        ]
        return spark.createDataFrame(rows, "lang string, doc_id long, text string")

    def test_spans_match_hand_computed(self, spark):
        from dashing_spark.operators import corpus

        out = {
            r["doc_id"]: (r["start_off"], r["first_bin"], r["last_bin"])
            for r in corpus.pack_sequences(self._docs(spark), "doc_id", 4).collect()
        }
        assert out == {
            0: (0, 0, 0),   # [0,3) in bin 0
            1: (3, 0, 1),   # [3,8) crosses into bin 1
            2: (8, 2, 2),   # [8,12) exactly bin 2
            3: (0, 0, 0),   # de stream restarts at 0; [0,4) fills bin 0
            4: (4, 1, 1),   # next doc starts bin 1
            5: (12, 3, 3),  # NULL -> 1 token at offset 12
        }

    def test_partition_count_invariance(self, spark):
        from dashing_spark.operators import corpus

        docs = self._docs(spark)
        ref = sorted(
            corpus.pack_sequences(docs, "doc_id", 4, n_range_parts=2).collect()
        )
        for parts in (3, 8):
            got = sorted(
                corpus.pack_sequences(
                    docs.repartition(5), "doc_id", 4, n_range_parts=parts
                ).collect()
            )
            assert got == ref

    def test_packing_stats(self, spark):
        from dashing_spark.operators import corpus

        st = {
            r["lang"]: (r["n_sequences"], r["n_boundary_docs"], r["tail_waste"])
            for r in corpus.packing_stats(self._docs(spark), "doc_id", 4).collect()
        }
        # en: 13 tokens -> 4 bins of 4 = 16 slots, 3 wasted; doc 1 crosses
        # de: 5 tokens -> 2 bins, 3 wasted; nothing crosses
        assert st == {"en": (4, 1, 3), "de": (2, 0, 3)}

    def test_plan_shape_pinned(self, spark):
        """Scale guard: one range exchange + one window-clustering hash
        exchange (slim projection only) + one broadcast join; the text
        column must never reach an exchange. And the HTML-extraction
        chain must stay a single whole-stage-codegen projection."""
        import re

        from dashing_spark.operators import corpus, text

        docs = spark.createDataFrame(
            [("en", i, "a b c") for i in range(50)],
            "lang string, doc_id long, text string",
        )
        out = corpus.pack_sequences(docs, "doc_id", 4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the range + window-hash exchanges live BEHIND the checkpoint
        # (the r6 offset-consistency fix: the partition-id-keyed offsets
        # map must see the SAME materialized partitioning the output
        # reads — a re-executed range exchange can land rows on
        # different pids and mis-base every offset). Downstream: one
        # checkpoint scan + the broadcast offsets join, no re-shuffle.
        assert "ExistingRDD" in plan  # checkpointed local-cumsum frame
        assert plan.lower().count("rangepartitioning") == 0
        assert plan.count("BroadcastHashJoin") == 1
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "text" not in line, line  # slim rows only
        # the checkpointed segment itself still carries the documented
        # shape: exactly one range exchange + one window hash exchange,
        # text never in an exchange
        n_tok = F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " ", -1))
        d = docs.select("lang", "doc_id", n_tok.alias("n_tokens"))
        d = d.repartitionByRange(8, F.col("lang"), F.col("doc_id"))
        pre = d._jdf.queryExecution().executedPlan().toString()
        assert pre.lower().count("rangepartitioning") == 1
        for line in pre.splitlines():
            if "Exchange" in line:
                assert "text" not in line, line
        eplan = (
            docs.select(text.extract_text_col("text").alias("e"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert set(re.findall(r"\*\(\d+\)", eplan)) == {"*(1)"}
        assert "Exchange" not in eplan
