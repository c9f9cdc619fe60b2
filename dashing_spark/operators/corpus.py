"""Composed corpus curation — the end-to-end training-data pipeline.

No dashing counterpart (dashing stops at distances); this composes the
engine's dedup/quality/lang operators into the canonical web-corpus
cleaning sequence a 10^12-document pretraining pipeline runs:

    exact dedup  →  near-dup dedup (MinHash-LSH)  →  quality filter
                 →  optional language allow-list

Every stage's keeper rule is deterministic and SQL-reproducible, so the
whole pipeline is verifiable against an exact oracle at fixture scale:

- exact:   keep the min-id document of each md5(text) group;
- near:    among survivors, drop any document that appears as the
           LARGER id of a Jaccard ≥ threshold pair — i.e. any doc that
           near-duplicates ANY earlier-id doc, kept or itself dropped.
           This matches the ingestion-time index semantic
           (streaming/dedup_stream indexes every seen doc, so a chain
           A~B, B~C drops BOTH B and C even without an A~C pair); it is
           one narrow LSH pass, no iteration. It is NOT the greedy
           compare-only-against-keepers rule (which would keep C);
           use near_mode="components" for transitive-closure keeps;
- quality: keep documents with quality_score ≥ min_quality;
- lang:    optional allow-list on the lang column.

Scale notes: stage costs are the underlying operators' (one md5
groupBy; LSH bounded by true-near-dup mass; quality is pure codegen).
The stats frame is lazy — one aggregate per stage, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dashing_spark.operators import dedup, text


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_threshold: float = 0.9,
    min_quality: float = 0.5,
    langs: list[str] | None = None,
    near_mode: str = "keep_first",
    max_repetition: float | None = None,
    bench: DataFrame | None = None,
    max_overlap_frac: float = 0.3,
    sample_rates: dict[str, float] | None = None,
    strat_col: str = "lang",
    line_dedup_sep: str | None = None,
    substring_dedup_min_len: int | None = None,
    substring_dedup_w: int = 8,
    gopher: bool = False,
    c4: bool = False,
    c4_badwords: tuple = (),
) -> tuple[DataFrame, DataFrame]:
    """Run the curation pipeline. Returns (kept_docs, stats) where
    stats is a lazy one-row-per-stage frame: (stage, n_out).

    ``near_mode``: "keep_first" (default — drop the larger id of every
    pair, i.e. anything similar to ANY earlier doc; ingestion-index
    semantics, one narrow pass) or "components" (drop
    every non-min member of each CONNECTED COMPONENT of the pair graph
    — true transitive closure: A~B, B~C collapse to one keeper even
    when A~C was never emitted as a pair; costs O(log diameter)
    label-propagation rounds on ids only).

    Optional later stages, each deterministic and off by default:
    ``max_repetition`` drops docs whose within-doc duplicate 2-gram
    fraction exceeds the bound (Gopher repetition rule);
    ``bench`` drops docs overlapping the benchmark frame at >=
    ``max_overlap_frac`` of their 8-grams (decontamination);
    ``sample_rates`` applies the stratified md5-prefix sampler last
    (mixture weighting happens after all quality gates);
    ``line_dedup_sep`` (e.g. ``"\\n"``) enables the C4 corpus-wide
    line-dedup rewrite between exact and near-dup dedup — document
    counts don't change, text does, so it runs before every
    text-derived stage; ``substring_dedup_min_len`` (e.g. 50, the Lee
    et al. threshold) additionally cuts cross-document duplicated token
    runs of at least that length (ExactSubstr rewrite,
    :func:`dedup.remove_duplicate_runs`) in the same slot, after the
    line rewrite; ``gopher=True`` drops docs failing ANY of the
    published Gopher quality (A.1.1) or repetition (A.1.2) rules
    (:func:`text.gopher_quality_rules` /
    :func:`text.gopher_repetition_rules`), after the stage-3 scalar
    quality gate; ``c4=True`` applies the C4 §2.2 rules
    (:func:`text.c4_rules`) as BOTH a line rewrite (text replaced by
    the surviving lines) and a doc gate (brace / lorem / badword /
    3-sentence booleans), before near-dup dedup so signatures see the
    cleaned text — the order C4 itself uses."""
    # stage 1: exact dedup (min-id keeper per byte-identical text)
    keepers = (
        docs.select(F.md5(F.col(text_col)).alias("__dg"), F.col(id_col))
        .groupBy("__dg")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    s1 = docs.join(keepers, id_col, "left_semi")
    # stage 1b: optional C4 line dedup — rewrites text (strips corpus-
    # wide duplicate lines, keeping each line's canonical first
    # occurrence) BEFORE every text-derived stage, so near-dup
    # signatures and quality scores see the cleaned text
    if line_dedup_sep is not None:
        if not s1.isStreaming:
            # s1 feeds line_dedup's explode/base branches AND the
            # rewrite join probe — one exact-dedup pass, not three
            s1 = s1.localCheckpoint(eager=False)
        ld = dedup.line_dedup(s1, id_col, text_col, line_sep=line_dedup_sep)
        s1 = s1.drop(text_col).join(
            ld.select(id_col, F.col("text_out").alias(text_col)), id_col
        )
    # stage 1c: optional ExactSubstr rewrite — cuts cross-document
    # duplicated runs >= min_len tokens from every occurrence (Lee et
    # al. 2022); like line dedup it rewrites text, so it precedes every
    # text-derived stage
    if substring_dedup_min_len is not None:
        if not s1.isStreaming:
            s1 = s1.localCheckpoint(eager=False)
        rw = dedup.remove_duplicate_runs(
            s1, id_col, text_col,
            w=substring_dedup_w, min_len=substring_dedup_min_len,
        )
        s1 = rw.drop(text_col, "n_tokens_removed").withColumnRenamed(
            "text_dedup", text_col
        )
    # stage 1d: optional C4 rules — line rewrite + doc gate, before
    # near-dup dedup so signatures see the cleaned text (C4's own order)
    s1_pre_c4 = s1
    if c4:
        rules = text.c4_rules(s1, text_col=text_col, badwords=c4_badwords)
        s1 = (
            rules.filter(F.col("c4_keep"))
            .drop(
                text_col, "c4_n_lines_kept", "c4_brace_ok", "c4_lorem_ok",
                "c4_badword_ok", "c4_sentences_ok", "c4_keep",
            )
            .withColumnRenamed("c4_text", text_col)
        )
    # stage 2: near-dup dedup
    pairs = dedup.minhash_lsh_dedup(s1, id_col, text_col, threshold=near_threshold)
    if near_mode == "components":
        labels = dedup.connected_components(pairs)
        dropped = labels.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias(id_col)
        )
    else:
        dropped = pairs.select(F.col("b_id").alias(id_col)).distinct()
    s2 = s1.join(dropped, id_col, "left_anti")
    # stage 3: quality filter
    scored = text.quality_score(s2, text_col)
    s3 = s2.join(
        scored.filter(F.col("quality") >= min_quality).select(id_col),
        id_col,
        "left_semi",
    )
    # stage 3b: optional published Gopher rule gates (quality A.1.1 +
    # repetition A.1.2) — keep only docs passing every rule. s3 still
    # feeds four branches (the quality projection, the repetition
    # rules' doc-id repartition and their final join, and the
    # semi-joins' base); checkpoint so the exact-dedup + LSH + quality
    # lineage upstream runs once, not per branch (the same guard stages
    # 1b/1c carry)
    s3g = s3
    if gopher:
        if not s3.isStreaming:
            s3 = s3.localCheckpoint(eager=False)
        gq = text.gopher_quality_rules(s3, text_col=text_col)
        keep_q = gq.filter(F.col("gopher_keep")).select(id_col)
        gr = text.gopher_repetition_rules(s3, id_col, text_col=text_col)
        keep_r = gr.filter(F.col("gopher_rep_keep")).select(id_col)
        s3g = (
            s3.join(keep_q, id_col, "left_semi")
            .join(keep_r, id_col, "left_semi")
        )
    # stage 4: optional language allow-list
    s4 = s3g.filter(F.col("lang").isin(list(langs))) if langs else s3g

    def _stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_out")).select(
            F.lit(name).alias("stage"), "n_out"
        )

    stats = (
        _stage("input", docs)
        .unionByName(_stage("exact_dedup", s1_pre_c4))
        .unionByName(_stage("near_dedup", s2))
        .unionByName(_stage("quality", s3))
    )
    if c4:
        # own attribution row, inserted in pipeline order semantics
        stats = stats.unionByName(_stage("c4", s1))
    if gopher:
        # its own attribution row, like every other optional stage
        stats = stats.unionByName(_stage("gopher", s3g))
    if langs:
        stats = stats.unionByName(_stage("lang", s4))
    out = s4
    # stage 5: optional Gopher repetition gate (per-doc, pure codegen)
    if max_repetition is not None:
        dup = text.doc_dup_frac(text.token_ngrams_col(text_col, 2)).otherwise(
            F.lit(0.0)
        )
        out = out.filter(dup <= max_repetition)
        stats = stats.unionByName(_stage("repetition", out))
    # stage 6: optional benchmark decontamination
    if bench is not None:
        from dashing_spark.operators import contamination

        out = contamination.decontaminate(
            out, bench, id_col=id_col, text_col=text_col,
            max_overlap_frac=max_overlap_frac,
        )
        stats = stats.unionByName(_stage("decontaminate", out))
    # stage 7: optional mixture sampling (after every quality gate)
    if sample_rates is not None:
        out = stratified_sample(
            out, sample_rates, strat_col=strat_col, id_col=id_col
        )
        stats = stats.unionByName(_stage("sample", out))
    return out, stats


def sample_cutoff_hex(rate: float, hex_digits: int = 4) -> str:
    """Hex-prefix cutoff for a deterministic md5 Bernoulli sample at
    ``rate``: a row is kept iff the first ``hex_digits`` of
    md5(id-as-string) compare lexicographically below the cutoff.
    Fixed-length lowercase hex compares identically to its numeric
    value, and md5 agrees byte-for-byte between Spark and DuckDB, so
    the SAME rows are kept in both engines — sampling becomes exactly
    oracle-checkable (and at 100 TB, reproducible across reruns and
    engines with no RNG state). Effective rate is the cutoff quantized
    to 16^hex_digits steps."""
    cutoff = round(rate * (16 ** hex_digits))
    if cutoff >= 16 ** hex_digits:
        # rate 1.0: any hex prefix (chars 0-9a-f) sorts below "g"
        return "g"
    return format(cutoff, f"0{hex_digits}x")


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strat_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    hex_digits: int = 4,
) -> DataFrame:
    """Deterministic stratified corpus sampling — the mixing step that
    turns cleaned web text into a training mixture with per-stratum
    weights (e.g. upsample low-resource languages, downsample boiler-
    plate-heavy sources). Pure filter: a CASE over broadcast-free
    literal cutoffs compared against an md5 prefix of the id — no
    shuffle, no RNG, scan-pruned columns only; at any scale the cost is
    the scan itself. Unknown strata fall back to ``default_rate``."""
    prefix = F.substring(F.md5(F.col(id_col).cast("string")), 1, hex_digits)
    cutoff = F.lit(sample_cutoff_hex(default_rate, hex_digits))
    # build the CASE from the rates map (deterministic iteration order)
    for stratum in sorted(rates):
        cutoff = F.when(
            F.col(strat_col) == stratum,
            F.lit(sample_cutoff_hex(rates[stratum], hex_digits)),
        ).otherwise(cutoff)
    return docs.filter(prefix < cutoff)


def exact_k_sample(
    docs: DataFrame,
    k: int,
    strat_col: str = "lang",
    id_col: str = "doc_id",
    margin: float = 1.0,
) -> DataFrame:
    """Deterministic EXACT-k per-stratum sample: the k documents with
    the smallest ``md5(id)`` per stratum. Hash order makes the sample
    reproducible across engines, partitionings, and runs — the
    fixed-budget companion to :func:`stratified_sample`'s fixed-rate
    Bernoulli (e.g. "exactly 10k eval docs per language").

    Scale: a naive per-stratum rank sorts every row of a hot stratum
    on one reducer. Instead: (1) per-stratum counts via one map-side
    agg; (2) a RATE PREFILTER keeps rows whose 32-bit md5 prefix falls
    under ``(k/n)(1+margin)`` — candidate sets are ~k(1+margin) per
    stratum regardless of stratum size; (3) only candidates pay the
    rank window. Strata whose candidate set came up short (possible
    only under extreme hash clustering) fall back to ranking the whole
    stratum, so the result is EXACT always — the prefilter is a pure
    optimization, never a correctness dial.

    Returns the sampled rows (all input columns)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if margin < 0:
        raise ValueError(f"margin must be >= 0, got {margin}")
    h = F.md5(F.col(id_col).cast("string"))
    # surrogate stratum key: equi-joins drop NULL keys, but NULL is a
    # legitimate stratum (the oracle's PARTITION BY treats it as its
    # own group) — coalesce to a \\x00 sentinel no real value carries
    sk = F.coalesce(
        F.col(strat_col).cast("string"), F.lit("\x00__null_stratum__")
    )
    hashed = (
        docs.withColumn("__h", h)
        .withColumn(
            "__h32", F.conv(F.substring("__h", 1, 8), 16, 10).cast("double")
        )
        .withColumn("__sk", sk)
    )
    if not hashed.isStreaming:
        # three consumers (counts, candidates, fallback probe) — one
        # scan+hash pass, not three
        hashed = hashed.localCheckpoint(eager=False)
    counts = hashed.groupBy("__sk").agg(F.count("*").alias("__n"))
    cut = F.least(
        F.lit(2.0**32),
        F.lit(float(k) * (1.0 + margin)) / F.col("__n") * F.lit(2.0**32),
    )
    cand = hashed.join(F.broadcast(counts), "__sk").filter(
        F.col("__h32") < cut
    )
    # exactness fallback: any stratum with < k candidates ranks in
    # full. Derived from counts LEFT-joined to candidate counts — a
    # stratum whose prefilter matched NOTHING has no cand row at all
    # and must still fall back (coalesce(__c, 0)).
    ccnt = cand.groupBy("__sk").agg(F.count("*").alias("__c"))
    deficient = (
        counts.join(ccnt, "__sk", "left")
        .filter(
            (F.coalesce("__c", F.lit(0)) < F.lit(k))
            & (F.col("__n") > F.coalesce("__c", F.lit(0)))
        )
        .select("__sk")
    )
    # deficient strata contribute their FULL stratum (semi join);
    # everyone else contributes candidates (anti join) — both keyed on
    # the stratum, so duplicate ids across strata can't cross-exclude
    pool = (
        cand.drop("__n")
        .join(F.broadcast(deficient), "__sk", "left_anti")
        .unionByName(
            hashed.join(F.broadcast(deficient), "__sk", "left_semi")
        )
    )
    w = Window.partitionBy("__sk").orderBy("__h")
    return (
        pool.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__h", "__h32", "__rk", "__sk")
    )


def cap_docs_per_host(
    docs: DataFrame,
    k: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    margin: float = 1.0,
) -> DataFrame:
    """Keep at most ``k`` documents per registrable host, chosen
    deterministically as the k smallest ``md5(id)`` — the per-host cap
    every crawl-scale sampling pipeline applies first, because host
    skew dominates real crawls (a handful of hosts contribute millions
    of near-template pages; an uncapped corpus mix oversamples them
    before any language/quality weighting runs).

    Composition of two gated building blocks: the host key is
    :func:`~dashing_spark.operators.text.url_host_col` (lowercased,
    port/www-stripped; scheme-less rows share the ``""`` host stratum)
    and the selection is :func:`exact_k_sample` keyed on it — so the
    hot-host stratum never sorts on one reducer (rate prefilter bounds
    candidates at ~k(1+margin) per host) and the result is exact and
    reproducible across engines and partitionings. Hosts with ≤ k docs
    keep everything."""
    # collision-proof temp name: never clobber (then drop) a caller
    # column that happens to be called __host (r6 review find)
    tmp = "__host"
    while tmp in docs.columns:
        tmp += "_"
    hosted = docs.withColumn(tmp, text.url_host_col(url_col))
    return exact_k_sample(
        hosted, k, strat_col=tmp, id_col=id_col, margin=margin
    ).drop(tmp)


def unigram_logprob_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref: DataFrame | None = None,
    ref_text_col: str | None = None,
) -> DataFrame:
    """CCNet-shape language-model quality score: train a unigram LM on
    a reference corpus (``ref``; the corpus itself by default — the
    "score web text by how much it looks like the reference" filter of
    Wenzek et al. 2020, with a unigram model standing in for KenLM),
    then score every document by its per-token mean log-probability
    under add-one smoothing ``p(t) = (cnt(t)+1) / (N+V)``; unseen
    tokens get ``1/(N+V)``. Low scores = rare-token soup; high scores
    = reference-like prose.

    Emits per doc: ``n_tokens``, ``n_oov`` (tokens absent from the
    reference vocabulary — exact integers, oracle-replicable) and
    ``logprob`` (the transcendental score itself; gate queries bound
    it rather than hash it: ``ln(1/(N+V)) <= logprob <= 0``).

    Scale: one groupBy over reference tokens (map-side partial), one
    token->vocab equi-join (Catalyst broadcasts a small vocab; a web-
    scale vocab shuffles on the token key), one per-doc rollup. The
    N/V totals ride a one-row broadcast crossJoin — no driver collect.
    """
    ref = docs if ref is None else ref
    rtoks = ref.select(
        F.explode(
            F.split(F.col(ref_text_col or text_col), " ", -1)
        ).alias("__tok")
    )
    vocab = rtoks.groupBy("__tok").agg(F.count("*").alias("__cnt"))
    totals = vocab.agg(
        F.sum("__cnt").alias("__n"), F.count("*").alias("__v")
    )
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ", -1)).alias("__tok"),
    )
    scored = (
        toks.join(vocab, "__tok", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "__lp",
            F.log(
                (F.coalesce(F.col("__cnt"), F.lit(0)) + F.lit(1.0))
                / (F.col("__n") + F.col("__v"))
            ),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("__cnt").isNull(), 1).otherwise(0)).alias(
            "n_oov"
        ),
        F.avg("__lp").alias("logprob"),
    )
    # NULL-text docs produce zero token rows (explode of a NULL split
    # emits nothing), so left-join the rollup back onto the full id set:
    # every input doc comes back, NULL text as n_tokens=0 / NULL logprob.
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .fillna({"n_tokens": 0, "n_oov": 0})
    )


def _token_prev_rows(
    df: DataFrame, id_col: str | None, text_col: str
) -> DataFrame:
    """(id, __v, __u) rows: every token with its predecessor (__u NULL
    for the first token). One explode over arrays_zip of the token
    array with its right-shifted self — no per-doc window. With
    ``id_col=None`` only (__v, __u) is emitted — reference corpora
    need no id column (r6 review find)."""
    ts = F.split(F.col(text_col), " ", -1)
    prev = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(ts, 1, F.size(ts) - 1),
    )
    ids = [F.col(id_col)] if id_col is not None else []
    id_out = [id_col] if id_col is not None else []
    return (
        df.select(*ids, ts.alias("__ts"), prev.alias("__pv"))
        .select(
            *id_out,
            F.explode(F.arrays_zip("__ts", "__pv")).alias("__z"),
        )
        .select(
            *id_out,
            F.col("__z.__ts").alias("__v"),
            F.col("__z.__pv").alias("__u"),
        )
    )


def bigram_logprob_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref: DataFrame | None = None,
    ref_text_col: str | None = None,
    alpha: float = 0.4,
) -> DataFrame:
    """Bigram language-model quality score with stupid backoff (Brants
    et al. 2007) — the fidelity step from :func:`unigram_logprob_scores`
    toward CCNet's KenLM: per token ``v`` with context ``u``,

        S(v|u) = cnt(u,v) / cnt(u)          if the bigram is in ref
               = alpha * (cnt(v)+1)/(N+V)   otherwise (backoff to the
                                            add-one unigram)

    and the first token of a doc scores as its unigram. Emits per doc:
    ``n_tokens``, ``n_oov`` (unigram-absent — exact ints, oracle-
    replicable), ``n_bigram_hits`` (scoring-frame bigrams present in
    the reference — exact int) and ``logprob`` (mean log S; gate
    queries bound it rather than hash it, per the transcendental
    cross-engine rule).

    Scale: two reference groupBys (unigram + bigram counts, both
    map-side partial), three token-keyed equi-joins on the scoring
    rows (context unigram, backoff unigram, bigram — web-scale count
    tables shuffle on their token keys, small ones broadcast via AQE),
    a one-row broadcast totals crossJoin, one per-doc rollup. No
    driver collect; no per-doc window (predecessors come from one
    array zip). NULL-text docs keep their row (n_tokens=0)."""
    ref = docs if ref is None else ref
    rcol = ref_text_col or text_col
    rrows = _token_prev_rows(ref, None, rcol)
    vocab = rrows.groupBy(F.col("__v").alias("__tok")).agg(
        F.count("*").alias("__cnt")
    )
    bigrams = (
        rrows.filter(F.col("__u").isNotNull())
        .groupBy("__u", "__v")
        .agg(F.count("*").alias("__cbg"))
    )
    totals = vocab.agg(
        F.sum("__cnt").alias("__n"), F.count("*").alias("__v_sz")
    )
    toks = _token_prev_rows(docs, id_col, text_col)
    scored = (
        toks.join(
            vocab.select(
                F.col("__tok").alias("__v"), F.col("__cnt").alias("__cv")
            ),
            "__v",
            "left",
        )
        .join(
            vocab.select(
                F.col("__tok").alias("__u"), F.col("__cnt").alias("__cu")
            ),
            "__u",
            "left",
        )
        .join(bigrams, ["__u", "__v"], "left")
        .crossJoin(F.broadcast(totals))
    )
    uni = (F.coalesce(F.col("__cv"), F.lit(0)) + F.lit(1.0)) / (
        F.col("__n") + F.col("__v_sz")
    )
    prob = (
        F.when(F.col("__u").isNull(), uni)  # doc-initial token
        .when(
            F.col("__cbg").isNotNull() & (F.col("__cu") > 0),
            F.col("__cbg") / F.col("__cu"),
        )
        .otherwise(F.lit(alpha) * uni)
    )
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("__cv").isNull(), 1).otherwise(0)).alias(
            "n_oov"
        ),
        F.sum(
            F.when(
                F.col("__u").isNotNull() & F.col("__cbg").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_bigram_hits"),
        F.avg(F.log(prob)).alias("logprob"),
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .fillna({"n_tokens": 0, "n_oov": 0, "n_bigram_hits": 0})
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    budget: int,
    text_col: str = "text",
    strata_cols: tuple[str, ...] = ("lang",),
    n_range_parts: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard pretraining
    data layout (documents concatenated in a deterministic order within
    each stratum, then sliced into fixed ``budget``-token training
    sequences). Returns one row per input doc with its token span in
    the stratum's packed stream: ``(strata, id, n_tokens, start_off,
    first_bin, last_bin)`` — ``first_bin != last_bin`` means the doc
    crosses a sequence boundary (truncation/attention-reset site).

    Scale design: the offsets are an exclusive prefix sum over a total
    order ((strata, id)), and the naive formulation — a Window over
    ``ORDER BY`` with no partition — collapses to ONE task at any
    scale. This uses the distributed prefix-sum pattern instead:
    ``repartitionByRange`` on the order key (ranges are globally
    ordered, so partition-local sums compose), a per-partition local
    cumsum (Window partitioned by spark_partition_id — embarrassingly
    parallel and never skewed, since pids are uniform), a driver-side
    exclusive scan over the tiny (partition × stratum) totals table,
    and a broadcast map join to add each row's base offset. Measured
    plan (pinned in tests): exactly one range exchange + one hash
    exchange for the window clustering — both move only the slim
    (strata, id, n_tokens) projection, never the text — plus one
    broadcast; O(P·S) driver state; everything else columnar JVM.

    Token accounting matches the repo-wide rule (whitespace split;
    NULL text counts like empty ⇒ 1 token) so DuckDB window-function
    oracles replicate the spans exactly.
    """
    strata = list(strata_cols)
    spark = df.sparkSession
    n_tok = F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), " ", -1))
    d = df.select(*strata, F.col(id_col), n_tok.alias("n_tokens"))
    parts = n_range_parts or max(
        2, int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    )
    order_keys = [F.col(c) for c in strata] + [F.col(id_col)]
    d = d.repartitionByRange(parts, *order_keys).sortWithinPartitions(*order_keys)
    d = d.withColumn("__pid", F.spark_partition_id())
    w = Window.partitionBy("__pid", *strata).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = d.withColumn("__local_end", F.sum("n_tokens").over(w))
    # MATERIALIZE before the totals collect: the offsets map is keyed
    # by __pid, and without a checkpoint the range exchange executes
    # TWICE (totals job + output job) — two executions can assign
    # different range boundaries (AQE reshapes the upstream layout
    # feeding the range sampler), silently mis-basing every offset
    # (surfaced at sf0.1 as overlapping bins / negative tail waste;
    # invisible at small scale where boundaries are stable)
    d = d.localCheckpoint(eager=False)
    # tiny: one row per (physical partition, stratum)
    totals = (
        d.groupBy("__pid", *strata)
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    )
    offsets = {}  # (pid, *strata) -> exclusive base offset
    running: dict[tuple, int] = {}
    # sort by __pid ALONE: repartitionByRange already guarantees pid
    # order equals (strata, id) order within each stratum, so the
    # per-stratum running sum below is identical — and a NULL stratum
    # value no longer crashes the tuple comparison (NoneType vs str,
    # r6 ADVICE #3)
    for r in sorted(totals, key=lambda r: r["__pid"]):
        key = tuple(r[c] for c in strata)
        offsets[(r["__pid"],) + key] = running.get(key, 0)
        running[key] = running.get(key, 0) + r["t"]
    if offsets:
        off_rows = [k + (v,) for k, v in offsets.items()]
        off_schema = d.select("__pid", *strata).schema.add("__base", "long")
        off_df = spark.createDataFrame(off_rows, off_schema)
    else:
        off_df = spark.createDataFrame([], d.select("__pid", *strata).schema.add("__base", "long"))
    out = d.join(F.broadcast(off_df), ["__pid"] + strata)
    start = F.col("__base") + F.col("__local_end") - F.col("n_tokens")
    return out.select(
        *strata,
        F.col(id_col),
        "n_tokens",
        start.alias("start_off"),
        F.floor(start / F.lit(budget)).cast("long").alias("first_bin"),
        F.floor((start + F.col("n_tokens") - 1) / F.lit(budget))
        .cast("long")
        .alias("last_bin"),
    )


def packing_stats(
    df: DataFrame,
    id_col: str,
    budget: int,
    text_col: str = "text",
    strata_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Per-stratum packing summary over :func:`pack_sequences`:
    sequences produced, docs crossing a sequence boundary, and tail
    waste (pad tokens in the final partial sequence) — the
    how-much-compute-does-this-corpus-buy accounting."""
    packed = pack_sequences(df, id_col, budget, text_col, strata_cols)
    strata = list(strata_cols)
    return packed.groupBy(*strata).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.max("last_bin") + 1).alias("n_sequences"),
        F.sum((F.col("first_bin") != F.col("last_bin")).cast("long")).alias(
            "n_boundary_docs"
        ),
        ((F.max("last_bin") + 1) * budget - F.sum("n_tokens")).alias("tail_waste"),
    )
