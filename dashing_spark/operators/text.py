"""Text-analysis operators: token stats, quality scoring, language-ID,
document fingerprinting. All hot paths are JVM expressions (whole-stage
codegen); only the winnowing fingerprint needs a pandas batch kernel.
Training-data-pipeline additions (no dashing counterpart)."""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from dashing_spark.functions import hashing
from dashing_spark.operators.ship import ensure_shipped

#: marker tokens per language for the n-gram/stopword language-ID
#: heuristic (deterministic, SQL-expressible so oracles can replicate)
LANG_MARKERS = {
    "en": ["the", "a", "value", "row"],
    "de": ["data", "table", "window", "batch"],
    "fr": ["query", "merge", "sort", "line"],
    "es": ["hash", "filter", "scan", "stream"],
    "zh": ["spark", "join", "key", "agg"],
}


# ---------------------------------------------------------------------------
# HTML -> text extraction (north-rule pages table: html binary -> text)
# ---------------------------------------------------------------------------

#: block-level tags whose boundaries become layout newlines; ordered
#: longest-first so prefix tags (p/pre, head/header, t*-family) resolve
#: identically under Java's backtracking and RE2's NFA simulation
_HTML_BLOCK_TAGS = (
    "blockquote|figcaption|section|article|header|footer|figure|aside|"
    "table|thead|tbody|title|html|head|body|form|nav|pre|div|ul|ol|li|"
    "tr|td|th|hr|br|h[1-6]|p"
)

#: tag-stripping chain, applied in order. Every pattern is in the
#: Java∩RE2 subset (inline (?is) flags, lazy quantifiers, NO \b / $ /
#: backreferences) and is used VERBATIM by the DuckDB twin
#: (:func:`extract_text_duckdb`). Script/style bodies are deleted up to
#: their closing tag (an unterminated block degrades to plain text whose
#: inner tags still strip); comments vanish; block tags become newlines;
#: every remaining (inline) tag is deleted so "a<b>b</b>" joins as the
#: HTML renderer would.
_HTML_STRIP_RES: list[tuple[str, str]] = [
    (r"(?is)<script([^a-zA-Z>][^>]*)?>.*?</script[^>]*>", " "),
    (r"(?is)<style([^a-zA-Z>][^>]*)?>.*?</style[^>]*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?i)</?(" + _HTML_BLOCK_TAGS + r")([^a-zA-Z>][^>]*)?/?>", "\n"),
    (r"<[^>]*>", ""),
]

#: named-entity decodes, applied AFTER tag stripping so '&lt;script&gt;'
#: in page text can never become a live tag. '&amp;' decodes LAST — the
#: standard order that turns double-encoded '&amp;lt;' into '&lt;', not
#: '<'. Numeric entities beyond the quote pair are a documented
#: non-goal: a regex cannot map arbitrary codepoints (a Pandas-UDF tier
#: could, at Python cost; crawl text rarely needs it).
_HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&#34;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),
]

#: whitespace normalization per layout. Anchors are \A/\z (identical in
#: both engines); Java's $ matching before a trailing newline is the
#: exact divergence class these chains must avoid.
_HTML_WS_RES: dict[str, list[tuple[str, str]]] = {
    # flat: every whitespace run (block newlines included) -> one space
    "flat": [
        (r"[ \t\r\f\n]+", " "),
        (r"\A[ ]+", ""),
        (r"[ ]+\z", ""),
    ],
    # lines: one line per block; intra-line runs -> one space, any run
    # containing a newline -> exactly one newline
    "lines": [
        (r"[ \t\r\f]+", " "),
        (r"[ \n]*\n[ \n]*", "\n"),
        (r"\A[ \n]+", ""),
        (r"[ \n]+\z", ""),
    ],
}


def extract_text_col(html_col, layout: str = "flat"):
    """Deterministic HTML→text extraction as a pure JVM expression
    chain over an html STRING column (decode binary upstream): strip
    script/style/comments, block tags → newline, inline tags → deleted,
    decode the common named entities, then normalize whitespace per
    ``layout`` ('flat' = single-space-joined, the `pages.text`
    invariant form; 'lines' = one line per block). No Python in the
    path — byte-identical per url across runs and parallelism levels
    (BASELINE.json input_hint invariant), and replicated verbatim by
    the DuckDB twin :func:`extract_text_duckdb` for oracle gating.
    The reference ingests FASTA/FASTQ, not HTML (dashing
    src/options.h:14 input modes) — this is the web-pipeline-tier
    analogue of its sequence parsing."""
    if layout not in _HTML_WS_RES:
        raise ValueError(f"layout must be one of {sorted(_HTML_WS_RES)}, got {layout!r}")
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    for pat, rep in _HTML_STRIP_RES:
        c = F.regexp_replace(c, pat, rep)
    for src, dst in _HTML_ENTITIES:
        c = F.replace(c, F.lit(src), F.lit(dst))
    for pat, rep in _HTML_WS_RES[layout]:
        c = F.regexp_replace(c, pat, rep)
    return c


def _sql_str(s: str) -> str:
    """Plain single-quoted SQL literal (backslashes pass through to
    RE2 uninterpreted, matching Java's view of the same Python str)."""
    return "'" + s.replace("'", "''") + "'"


def _sql_rep(s: str) -> str:
    """Replacement literal — e'' escape form when a real control char
    (the block-tag newline) must reach the engine."""
    if "\n" in s:
        return "e" + _sql_str(s.replace("\\", "\\\\").replace("\n", "\\n"))
    return _sql_str(s)


def extract_text_duckdb(expr: str, layout: str = "flat") -> str:
    """DuckDB expression string replicating :func:`extract_text_col`
    verbatim over SQL expression ``expr`` — generated from the same
    pattern tables, so the oracle twin can never drift from the Spark
    chain."""
    if layout not in _HTML_WS_RES:
        raise ValueError(f"layout must be one of {sorted(_HTML_WS_RES)}, got {layout!r}")
    for pat, rep in _HTML_STRIP_RES:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, {_sql_rep(rep)}, 'g')"
    for src, dst in _HTML_ENTITIES:
        expr = f"replace({expr}, {_sql_str(src)}, {_sql_str(dst)})"
    for pat, rep in _HTML_WS_RES[layout]:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, {_sql_rep(rep)}, 'g')"
    return expr


def flat_ws_duckdb(expr: str) -> str:
    """DuckDB twin of just the 'flat' whitespace normalization —
    the canonical form extraction roundtrip checks compare against."""
    for pat, rep in _HTML_WS_RES["flat"]:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, {_sql_rep(rep)}, 'g')"
    return expr


def flat_ws_col(text_col):
    """Spark side of :func:`flat_ws_duckdb`."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for pat, rep in _HTML_WS_RES["flat"]:
        c = F.regexp_replace(c, pat, rep)
    return c


def html_escape_col(text_col):
    """Minimal HTML entity-encoding of a text column (&, <, > — the
    three that would otherwise parse as markup), for embedding
    arbitrary fixture text into synthesized pages. Inverse of the
    entity-decode step of :func:`extract_text_col` on this subset."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    c = F.replace(c, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    return F.replace(c, F.lit(">"), F.lit("&gt;"))


HTML_ESCAPE_DUCKDB = (
    "replace(replace(replace({expr}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
)


def token_ngrams_col(text_col: str, w: int):
    """Array of w-token shingles (space-joined) as a pure JVM expression
    (split → sequence → slice → array_join inside one Generate — no
    Python, no shuffle). Docs shorter than w tokens yield an empty
    array. Matches DuckDB ``ts[i : i+w-1]`` slicing exactly, so oracle
    queries can replicate gram sets verbatim. At w=1 the grams are the
    plain ``split`` tokens (NULL text stays NULL there)."""
    toks = F.split(F.col(text_col), " ", -1)
    if w == 1:
        return toks
    n = F.size(toks)
    return F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(1), n - w + 1),
            lambda i: F.array_join(F.slice(toks, i, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def doc_dup_frac(grams):
    """Per-doc duplicate fraction of a gram array: 1 - distinct/total,
    NULL for a doc with no grams."""
    return F.when(
        F.size(grams) > 0,
        F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams),
    )


def repetition_stats(
    df: DataFrame,
    key_cols,
    text_col: str = "text",
    w: int = 2,
    threshold: float = 0.2,
) -> DataFrame:
    """Gopher-style within-document repetition signal: the fraction of
    w-token grams in a doc that are repeats of an earlier gram in the
    SAME doc (1 − distinct/total). Heavily repeated boilerplate (nav
    bars, cookie banners) scores high and is a standard pretraining
    quality filter (Rae et al. 2021 "Gopher", rule class C4/Gopher).

    Per key emits exact integer gram counts (hash-gated), the corpus
    dup fraction as ONE division over those sums (IEEE-exact, hence
    bit-identical across engines), the per-doc average (round 5, same
    convention as avg_ttr), and how many docs exceed ``threshold``.
    Scale: one Generate + one partial-aggregated groupBy on the keys —
    no shuffle of gram rows."""
    grams = token_ngrams_col(text_col, w)
    per_doc = df.select(
        *key_cols,
        F.size(grams).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_uniq"),
        doc_dup_frac(grams).alias("dup_frac"),
    )
    dup_frac = F.col("dup_frac")
    return per_doc.groupBy(*key_cols).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_grams").alias("total_grams"),
        F.sum("n_uniq").alias("total_uniq_grams"),
        # CASE-guarded: a group whose docs are all shorter than w has
        # sum(n_grams)=0 and would raise DIVIDE_BY_ZERO under ANSI mode
        F.round(
            F.when(
                F.sum("n_grams") > 0,
                F.lit(1.0) - F.sum("n_uniq") / F.sum("n_grams"),
            ),
            9,
        ).alias("corpus_dup_frac"),
        F.round(F.avg(dup_frac), 5).alias("avg_doc_dup_frac"),
        F.sum(
            F.when(dup_frac > F.lit(threshold), 1).otherwise(0)
        ).alias("n_docs_over_threshold"),
    )


def token_stats(df: DataFrame, key_cols, text_col: str = "text") -> DataFrame:
    """Per-key token statistics — one pass, all codegen."""
    toks = F.split(F.col(text_col), " ", -1)
    per_doc = df.select(
        *key_cols,
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    return per_doc.groupBy(*key_cols).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(F.avg("n_tok"), 6).alias("avg_tokens_per_doc"),
        F.round(F.avg(F.col("n_uniq") / F.col("n_tok")), 6).alias("avg_ttr"),
    )


#: BPE-ish pre-tokenizer: letter runs, digit runs, single other-symbols —
#: the classic byte-pair-encoding pre-split (GPT-2 style, simplified to a
#: class set whose semantics agree between Java regex (Spark codegen) and
#: RE2 (DuckDB), so oracle counts hash-match exactly
BPE_SPLIT_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_token_stats(df: DataFrame, key_cols, text_col: str = "text") -> DataFrame:
    """Per-key counts under the BPE-ish regex pre-tokenizer — the token
    accounting a training-data pipeline budgets with (whitespace token
    counts undercount punctuation-heavy web text). All codegen:
    regexp_extract_all -> size."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), F.lit(0))
    per_doc = df.select(
        *key_cols,
        F.size(toks).alias("n_bpe"),
        F.size(F.array_distinct(toks)).alias("n_bpe_uniq"),
    )
    # zero-token docs (empty/whitespace-only text) contribute NULL to the
    # TTR average in both engines (CASE guards the ANSI divide)
    ttr = F.when(F.col("n_bpe") > 0, F.col("n_bpe_uniq") / F.col("n_bpe"))
    return per_doc.groupBy(*key_cols).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.round(F.avg("n_bpe"), 6).alias("avg_bpe_per_doc"),
        F.round(F.avg(ttr), 6).alias("avg_bpe_ttr"),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: length, token count, mean token
    length, digit/punct ratios, stopword ratio — deterministic
    arithmetic, replicable in ANSI SQL."""
    toks = F.split(F.col(text_col), " ", -1)
    n_chars = F.length(text_col)
    n_tok = F.size(toks)
    digits = n_chars - F.length(F.regexp_replace(F.col(text_col), "[0-9]", ""))
    stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))
    )
    return df.withColumns(
        {
            "n_chars_q": n_chars.cast("long"),
            "n_tokens": n_tok.cast("long"),
            "mean_tok_len": F.round((n_chars - (n_tok - 1)) / n_tok, 6),
            # empty text would raise DIVIDE_BY_ZERO under ANSI mode; an
            # empty doc has no digits, so 0.0 is the honest ratio
            "digit_ratio": F.round(
                F.when(n_chars > 0, digits / n_chars).otherwise(0.0), 6
            ),
            "stopword_ratio": F.round(stop / n_tok, 6),
        }
    )


#: the Gopher stop-word list (Rae et al. 2021, Appendix A.1.1): a doc
#: must contain at least two of these to pass the stop-word rule
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: Gopher A.1.2 repetition thresholds: rule name -> (param, max frac)
GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def gopher_repetition_rules(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    thresholds: dict | None = None,
    para_sep: str = "\n\n",
) -> DataFrame:
    """The published Gopher repetition-rule set (Rae et al. 2021,
    Appendix A.1.2) with the paper's thresholds: duplicate line /
    paragraph fractions (count and character), the character fraction
    of the single most frequent {2,3,4}-gram, and the character
    fraction COVERED by duplicated {5..10}-grams (overlaps not double
    counted — covered token positions are merged into islands exactly
    like :func:`dedup.dup_islands`, but within one document). One
    boolean per rule (fraction <= threshold) plus ``gopher_rep_keep``.

    Plans: one hash repartition by doc id, at an explicit count
    (:func:`dedup.explicit_partition_count`; AQE coalesces a count-free
    exchange of these few bytes onto one or two reducers, measured 3x
    slower). Every later groupBy, window and join is keyed by the doc
    id and reuses it. Three Generates read each doc — lines and
    paragraphs as one tagged array, the {2,3,4}-grams, the {5..10}-grams
    with positions — then one doc-partitioned window merges islands
    and one per-doc rollup joins the docs once. No pair joins, no
    Python. Fractions are exact int/int divisions — hash-gateable
    against a DuckDB twin. Docs keep their rows always: a doc with no
    grams at some n has fraction 0 for that rule."""
    from dashing_spark.operators.dedup import (
        _regex_quote, explicit_partition_count, merge_position_islands,
    )

    th = {**GOPHER_REPETITION_THRESHOLDS, **(thresholds or {})}
    base = df.select(
        F.col(id_col).alias("__id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
    ).repartition(explicit_partition_count(df.sparkSession), "__id")

    def tagged(arr, name, pos=False, **tags):
        """Each element of ``arr`` as a struct: the constant ``tags``,
        its 0-based index (``pos``) and the element as ``name``."""
        consts = [F.lit(v).alias(k) for k, v in tags.items()]
        if pos:
            return F.transform(arr, lambda x, i: F.struct(*consts, i.alias("__pos"), x.alias(name)))
        return F.transform(arr, lambda x: F.struct(*consts, x.alias(name)))

    def rows(arrays):
        """One Generate over the concatenated struct arrays."""
        return base.select("__id", F.inline(F.concat(*arrays)))

    # --- duplicate lines / paragraphs: occurrences beyond the first, as
    # count and character fractions. Separators are LITERAL (split is
    # regex — quoted like line_dedup, matching DuckDB string_split)
    per_unit = rows(
        tagged(F.split("__t", _regex_quote(sep), -1), "__u", __k=kind)
        for kind, sep in (("line", "\n"), ("para", para_sep))
    ).groupBy("__id", "__k", "__u").agg(F.count("*").alias("__c"))
    ln = F.length("__u")
    tot_chars = F.sum(F.col("__c") * ln)
    unit_fracs = per_unit.groupBy("__id", "__k").agg(
        (F.sum(F.col("__c") - 1) / F.sum("__c")).alias("__frac"),
        # all-empty units (e.g. text "") have zero total chars — ANSI
        # division would raise; an empty doc duplicates nothing
        F.when(
            tot_chars > 0, F.sum((F.col("__c") - 1) * ln) / tot_chars
        ).otherwise(F.lit(0.0)).alias("__cfrac"),
    )

    # --- top-{2,3,4}-gram character fraction: chars of the single most
    # frequent n-gram (count * len, only when count >= 2) / doc chars.
    # Count floor 2 is the PUBLISHED behavior: reference
    # implementations (DataTrove gopher_repetition_filter) guard with
    # `top_n_gram[1] > 1`, so a once-occurring top gram contributes 0 —
    # without the floor every short doc fails top-3/4-gram on its first
    # 4-gram alone. Tie-break: max (count, char contribution) struct —
    # deterministic and replicable as max(struct_pack(...)) in DuckDB.
    top = (
        rows(tagged(token_ngrams_col("__t", n), "__g", __n=n) for n in (2, 3, 4))
        .groupBy("__id", "__n", "__g")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= 2)
        .groupBy("__id", "__n")
        .agg(F.max(F.struct("__c", (F.col("__c") * F.length("__g")).alias("cl")))["cl"]
             .alias("__chars"))
    )

    # --- duplicated-{5..10}-gram COVERED character fraction: start
    # positions of within-doc duplicated n-grams merged into islands;
    # island [s, s+len-1] covers its tokens joined by single spaces
    dup_pos = (
        rows(
            tagged(token_ngrams_col("__t", n), "__g", pos=True, __n=n)
            for n in range(5, 11)
        )
        .groupBy("__id", "__n", "__g")
        .agg(F.count("*").alias("__c"), F.collect_list("__pos").alias("__ps"))
        .filter(F.col("__c") >= 2)
        .select("__id", "__n", F.explode("__ps").alias("__pos"))
    )
    isl = merge_position_islands(dup_pos, ["__id", "__n"], F.col("__n"))
    covered = F.slice(F.split("__t", " ", -1), F.col("__start") + 1, F.col("__len"))
    cov = isl.join(base, "__id").groupBy("__id", "__n").agg(
        F.sum(F.length(F.array_join(covered, " "))).alias("__chars")
    )

    # --- one per-doc rollup: rule rows -> columns, one join to the docs
    unit_cols = {
        f"dup_{k}{sfx}": F.max(F.when(F.col("__k") == k, F.col(v)))
        for k in ("line", "para")
        for v, sfx in (("__frac", "_frac"), ("__cfrac", "_char_frac"))
    }
    roll = (
        top.unionByName(cov)
        .unionByName(unit_fracs, allowMissingColumns=True)
        .groupBy("__id")
        .agg(
            *[c.alias(name) for name, c in unit_cols.items()],
            *[F.max(F.when(F.col("__n") == n, F.col("__chars"))).alias(f"__c{n}")
              for n in range(2, 11)],
        )
    )
    nchars = F.length("__t")

    def char_frac(n):
        return F.when(
            nchars > 0, F.coalesce(F.col(f"__c{n}"), F.lit(0)) / nchars
        ).otherwise(F.lit(0.0))

    out = base.join(roll, "__id", "left").select(
        F.col("__id").alias(id_col),
        *unit_cols,
        *[char_frac(n).alias(f"top_{n}gram_char_frac") for n in (2, 3, 4)],
        *[char_frac(n).alias(f"dup_{n}gram_char_frac") for n in range(5, 11)],
    )
    rules = {
        f"{name}_ok": F.coalesce(F.col(name), F.lit(0.0)) <= bound
        for name, bound in th.items()
    }
    out = out.withColumns(rules).withColumn(
        "gopher_rep_keep", reduce(lambda a, b: a & b, rules.values())
    )
    # a NULL id never matches the id-keyed stat joins (the recurring
    # equi-join NULL-key class) — such a row cannot be attributed, so
    # it FAILS CLOSED (flags False) instead of carrying NULL flags
    # that a .filter() would silently drop
    fixes = {c: F.coalesce(F.col(c), F.lit(False))
             for c in [*rules, "gopher_rep_keep"]}
    return df.join(out, id_col, "left").withColumns(fixes)


def gopher_quality_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The complete published Gopher quality-rule set (Rae et al. 2021,
    Appendix A.1.1) with the paper's thresholds as defaults — one
    boolean per rule plus the conjunction ``gopher_keep``:

    1. 50 <= word count <= 100,000
    2. 3 <= mean word length <= 10
    3. symbol-to-word ratio (``#`` and ``...``) <= 0.1
    4. <= 90% of lines start with a bullet (``•`` / ``- ``)
    5. <= 30% of lines end with an ellipsis
    6. >= 80% of words contain at least one alphabetic character
    7. at least two of the eight Gopher stop words present

    Pure JVM expressions (splits, lambda filters, literal replaces) —
    whole-stage-codegen friendly and replicable in ANSI SQL, so every
    rule boolean is hash-gateable against a DuckDB twin. A "word" is a
    non-empty space-split token (multi-space runs contribute no words);
    NULL text fails rule 1 with n_words 0 and keeps its row."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(txt, " ", -1), lambda t: t != "")
    n_words = F.size(words)
    lines = F.split(txt, "\n", -1)
    n_lines = F.size(lines)
    sum_word_len = F.aggregate(
        F.transform(words, F.length), F.lit(0), lambda acc, x: acc + x
    )
    mean_wl = F.when(n_words > 0, sum_word_len / n_words).otherwise(F.lit(0.0))
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis) / n_words
    ).otherwise(F.lit(0.0))
    bullet_frac = F.size(
        F.filter(lines, lambda l: l.startswith("•") | l.startswith("- "))
    ) / n_lines
    ellipsis_frac = F.size(F.filter(lines, lambda l: l.endswith("..."))) / n_lines
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words,
    ).otherwise(F.lit(0.0))
    stop_hits = reduce(
        lambda a, b: a + b,
        [F.array_contains(words, s).cast("int") for s in GOPHER_STOPWORDS],
    )
    rules = {
        "g_word_count_ok": (n_words >= min_words) & (n_words <= max_words),
        "g_mean_word_len_ok": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "g_symbol_ok": symbol_ratio <= max_symbol_word_ratio,
        "g_bullet_ok": bullet_frac <= max_bullet_line_frac,
        "g_ellipsis_ok": ellipsis_frac <= max_ellipsis_line_frac,
        "g_alpha_ok": alpha_frac >= min_alpha_word_frac,
        "g_stopword_ok": stop_hits >= min_stopword_hits,
    }
    out = df.withColumns(
        {"gopher_n_words": n_words.cast("long"), **rules}
    )
    return out.withColumn(
        "gopher_keep", reduce(lambda a, b: a & b, rules.values())
    )


#: terminal punctuation accepted by the C4 line rule (Raffel et al.
#: 2020 §2.2: period, exclamation, question mark, end quotation mark)
C4_TERMINALS = (".", "!", "?", '"')


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    line_sep: str = "\n",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    badwords: Sequence[str] = (),
    out_col: str = "c4_text",
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2) as a line-level
    REWRITE plus document booleans:

    - keep only lines ending in terminal punctuation (``. ! ? "``);
    - keep only lines with >= ``min_words_per_line`` words;
    - drop lines containing the word "javascript" (case-insensitive,
      ASCII lowering — the keyword is ASCII so engine lower() dialects
      cannot affect it);
    - ``c4_brace_ok``: no ``{`` anywhere (code page signal);
    - ``c4_lorem_ok``: no "lorem ipsum";
    - ``c4_badword_ok``: none of ``badwords`` present (the paper uses
      the "List of Dirty, Naughty ..." list — supplied by the caller,
      empty default). Single words match as WHOLE lowercase tokens
      (substring matching would drop "class" for "ass"); entries
      containing a space match as substrings (phrases);
    - ``c4_sentences_ok``: the REWRITTEN text carries at least
      ``min_sentences`` sentence terminators (``.!?``) — a counting
      APPROXIMATION of the paper's "fewer than 3 sentences" drop
      (ellipses/decimals inflate the count; a sentence tokenizer is a
      Python-tier dependency this JVM chain deliberately avoids);
    - ``c4_keep`` = every doc boolean (line rules affect ``out_col``,
      not keep/drop).

    Pure JVM lambda/split expressions; rows are never lost (NULL text
    -> NULL ``out_col``, doc booleans fail closed on the brace/lorem
    rules only if the text actually trips them — NULL passes)."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    from dashing_spark.operators.dedup import _regex_quote

    lines = F.split(txt, _regex_quote(line_sep), -1)

    def _line_ok(l):
        ends = reduce(
            lambda a, b: a | b, [l.endswith(t) for t in C4_TERMINALS]
        )
        words = F.filter(F.split(l, " ", -1), lambda t: t != "")
        return (
            ends
            & (F.size(words) >= min_words_per_line)
            & ~F.lower(l).contains("javascript")
        )

    kept = F.filter(lines, _line_ok)
    new_text = F.array_join(kept, line_sep)
    low = F.lower(txt)
    low_toks = F.split(low, " ", -1)
    # terminator count via length-of-replace (split-on-empty-regex is
    # engine-quirky; replace is identical in Spark and DuckDB)
    stripped = new_text
    for t in (".", "!", "?"):
        stripped = F.replace(stripped, F.lit(t), F.lit(""))
    n_sentences = F.length(new_text) - F.length(stripped)
    rules = {
        "c4_brace_ok": ~txt.contains("{"),
        "c4_lorem_ok": ~low.contains("lorem ipsum"),
        "c4_badword_ok": reduce(
            lambda a, b: a & b,
            [
                ~low.contains(w.lower())
                if " " in w
                else ~F.array_contains(low_toks, w.lower())
                for w in badwords
            ],
            F.lit(True),
        ),
        "c4_sentences_ok": n_sentences >= min_sentences,
    }
    out = df.withColumns(
        {
            out_col: F.when(
                F.col(text_col).isNull(), F.lit(None).cast("string")
            ).otherwise(new_text),
            "c4_n_lines_kept": F.size(kept).cast("long"),
            **rules,
        }
    )
    return out.withColumn("c4_keep", reduce(lambda a, b: a & b, rules.values()))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scalar quality score in [0,1]: rewards mid-length docs and a sane
    stopword ratio, penalizes digit soup. Weights are arbitrary but
    deterministic (the shape a C4/Gopher-rule filter takes)."""
    feat = quality_features(df, text_col)
    ln = F.log(F.col("n_chars_q") + F.lit(1.0))
    len_term = F.lit(1.0) - F.abs(ln - F.lit(5.5)) / F.lit(5.5)
    score = (
        F.greatest(F.least(len_term, F.lit(1.0)), F.lit(0.0)) * 0.5
        + F.greatest(F.lit(1.0) - F.col("digit_ratio") * 10, F.lit(0.0)) * 0.25
        + F.least(F.col("stopword_ratio") * 5, F.lit(1.0)) * 0.25
    )
    return feat.withColumn("quality", F.round(score, 6))


#: PII pattern per kind, in REDACTION PRIORITY order (emails first —
#: an email's local part could otherwise be half-eaten by the phone
#: pattern). Patterns are deliberately restricted to the syntax subset
#: Java regex and RE2 (DuckDB) interpret identically: no lookarounds,
#: no alternation (leftmost-first vs leftmost-longest divergence), no
#: `\s` (Java includes \x0B, RE2 does not), and NO `\b` — Java's word
#: boundary is Unicode-aware (é/ü/ñ are word chars) while RE2's is
#: ASCII-only, so `\bé1.2.3.4` diverges (found by the seeded
#: randomized parity sweep in tests/test_regex_parity.py). Dropping
#: the boundaries makes detection over-trigger on digit-abutted
#: candidates, which is the correct scrubbing direction (redact too
#: much, never too little) and keeps counts engine-identical.
PII_PATTERNS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+",
    "ssn": "[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "phone": "[+][0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3}[- ]?[0-9]{2,4}",
    # US-format phones (r5 verdict #3): the paren form and the
    # separator form are distinct patterns because the parity subset
    # bans alternation. The separator class [-. ] deliberately does
    # NOT overlap the SSN shape (3-3-4 vs 3-2-4 digit groups) or the
    # 4-4-4-4 grouped card shape (any 3-digit prefix of a 4-digit
    # group is followed by a digit, never a separator).
    "phone_us": "[(][0-9]{3}[)][ ]?[0-9]{3}[-. ][0-9]{4}",
    "phone_us_dash": "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    # card-shaped digit runs: 4x4 grouped and 13-19 contiguous.
    # Over-triggers on long ids/timestamps by design (redact too
    # much, never too little). Greedy {13,19} splits a 32-digit run
    # 19+13 identically in Java and RE2.
    "card_grouped": "[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}",
    "card": "[0-9]{13,19}",
    "ipv4": "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
    # full 8-group IPv6 form only: compressed (::) forms need
    # alternation, which the parity subset bans — documented gap
    "ipv6": "[0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4}){7}",
}


def pii_counts_cols(text_col) -> dict[str, "F.Column"]:
    """``{pii_<kind>_count: Column}`` of non-overlapping match counts
    per PII kind over ``text_col`` (name or Column) — pure JVM
    ``regexp_count``, whole-stage codegen. DuckDB twin:
    ``len(regexp_extract_all(text, pattern))``."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return {
        f"pii_{kind}_count": F.regexp_count(c, F.lit(pat)).cast("long")
        for kind, pat in PII_PATTERNS.items()
    }


def pii_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII detection counts (email / SSN-shaped / phone /
    IPv4-shaped) — the detect side of the scrubbing pass every
    training-data pipeline runs before release. Purely syntactic:
    an SSN-shaped or IPv4-shaped match is a *candidate*, which is the
    correct pipeline semantic (redaction must over-trigger, not
    under-trigger). NULL text yields NULL counts (ANSI-safe)."""
    return df.withColumns(pii_counts_cols(text_col))


def redact_pii_col(text_col, replacement: str = "<{kind}>", passes: int = 2):
    """Expression redacting every :data:`PII_PATTERNS` match in
    priority order. ``replacement`` may reference ``{kind}`` (default
    emits ``<EMAIL>``-style typed tokens, preserving the fact that
    *something* was there — downstream token counts shift by a bounded
    amount instead of silently collapsing).

    The chain is applied ``passes`` times (default 2) as insurance
    against replacement-induced unmasking: while :data:`PII_PATTERNS`
    deliberately carries no ``\\b`` anchors (see its comment — the
    original boundary-anchored patterns could be unmasked by an
    adjacent replacement, reproduced in the r5 review), a second pass
    guarantees anything a single replacement round newly exposes is
    also redacted, and the ``pii_gone`` re-detection gate in the entry
    query guards the residual class. Extra passes are no-ops on clean
    text (replacement tokens contain no digits or ``@``)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for _ in range(max(1, passes)):
        for kind, pat in PII_PATTERNS.items():
            # plain substring substitution, not str.format: a caller
            # replacement containing literal braces ("{REDACTED}")
            # must not raise at plan-build time
            c = F.regexp_replace(
                c, pat, replacement.replace("{kind}", kind.upper())
            )
    return c


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    replacement: str = "<{kind}>",
    passes: int = 2,
) -> DataFrame:
    """Redact PII in ``text_col`` (in place by default, or into
    ``out_col``). Chained JVM ``regexp_replace`` — one codegen stage,
    no Python. Idempotent for the default replacement: redaction
    tokens contain no digits or ``@``, so a repeat pass finds nothing
    (pinned by test); see :func:`redact_pii_col` for why the chain
    runs twice by default."""
    return df.withColumn(
        out_col or text_col, redact_pii_col(text_col, replacement, passes)
    )


#: tracking query parameters stripped by URL canonicalization —
#: chained alternation-free patterns (Java/RE2 parity, as with
#: :data:`PII_PATTERNS`); fragment is stripped first so values can
#: safely be ``[^&]*``
_URL_TRACKING_RES = [
    "[?&]utm_[A-Za-z_]+=[^&]*",
    "[?&]fbclid=[^&]*",
    "[?&]gclid=[^&]*",
]
_URL_HEAD_RE = "^[A-Za-z]+://[^/?#]*"


def canonicalize_url_col(url_col):
    """Canonical form of a URL as a pure JVM expression chain: strip
    the fragment, strip tracking params (utm_*/fbclid/gclid, repairing
    a leading ``&`` to ``?``), lowercase scheme+host, drop default
    ports (:80/:443) and a leading ``www.``, and drop a trailing
    slash. The canonicalization every crawl pipeline applies before
    URL-level dedup (reference computes no URLs — this is the
    pipeline-tier addition over the north-rule page table). Scheme-less
    strings pass through with only the generic steps applied. Each
    regex step is in the Java∩RE2 subset; the DuckDB twin uses the
    same patterns with the ``g`` flag / ``\\1`` replacements. End
    anchors are ``\\z`` (end of input, identical in both engines),
    never ``$`` — Java's ``$`` matches before a trailing newline,
    RE2's does not, so dirty crawl URLs with ``\\n`` tails would
    canonicalize differently per engine (r6 review find, pinned by
    the newline fragments in the randomized parity sweep)."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    u = F.regexp_replace(u, "#.*", "")
    for pat in _URL_TRACKING_RES:
        u = F.regexp_replace(u, pat, "")
    # a removed first param leaves "path&k=v": promote the first '&'
    # back to '?'. [^?&]* cannot skip separators, so the match anchors
    # at the FIRST '&' and only when no '?' precedes it; requiring a
    # k=v tail keeps a literal '&' in a query-less path untouched. The
    # key class is NEGATED (anything but separators/'=') — an
    # allowlist missed legal key chars like '+'/'~'/':' and split the
    # canonical forms of equivalent URLs (r5 review find).
    u = F.regexp_replace(u, "^([^?&]*)&([^?&#=]+=)", "$1?$2")
    u = F.regexp_replace(u, "[?]\\z", "")
    # sort surviving query params: ?a=1&b=2 and ?b=2&a=1 must collapse
    # — param-order variance is the biggest residual URL-dup class
    # after tracking params. Binary string sort on the &-split segments
    # (Spark UTF8String and DuckDB default collation both compare raw
    # UTF-8 bytes, so the twin's list_sort agrees).
    q = F.regexp_extract(u, "[?](.*)\\z", 1)
    u = F.when(q == "", u).otherwise(
        F.concat(
            F.regexp_replace(u, "[?].*\\z", ""),
            F.lit("?"),
            F.array_join(F.array_sort(F.split(q, "&", -1)), "&"),
        )
    )
    head = F.regexp_extract(u, _URL_HEAD_RE, 0)
    rest = F.regexp_replace(u, _URL_HEAD_RE, "")
    head = F.lower(head)
    head = F.regexp_replace(head, ":80\\z", "")
    head = F.regexp_replace(head, ":443\\z", "")
    head = F.regexp_replace(head, "://www[.]", "://")
    return F.regexp_replace(F.concat(head, rest), "/\\z", "")


def url_host_col(url_col):
    """Lowercased registrable host of a URL (port and a leading
    ``www.`` stripped) — empty string when there is no scheme://host
    prefix. The grouping key for host-level corpus stats and
    per-host sampling."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.lower(F.regexp_extract(u, "^[A-Za-z]+://([^/?#:]*)", 1))
    return F.regexp_replace(host, "^www[.]", "")


def url_dedup_stats(
    df: DataFrame, key_cols, url_col: str = "url"
) -> DataFrame:
    """Per-key URL-level dedup stats: raw vs canonical distinct-URL
    counts (their gap = dup pages reachable through URL variants —
    tracking params, case, www/port/slash noise) and distinct host
    count. One shuffle on ``key_cols``; countDistinct is partial-
    aggregated map-side."""
    canon = canonicalize_url_col(url_col)
    host = url_host_col(url_col)
    return (
        df.select(*key_cols, F.col(url_col), canon.alias("__c"), host.alias("__h"))
        .groupBy(*key_cols)
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(url_col).alias("n_raw_urls"),
            F.countDistinct("__c").alias("n_canonical_urls"),
            F.countDistinct("__h").alias("n_hosts"),
        )
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    form: str = "NFC",
    lowercase: bool = False,
    collapse_whitespace: bool = True,
) -> DataFrame:
    """Unicode text normalization — the canonical preprocessing before
    any hash-based dedup (byte-identical dedup is meaningless while
    'café' has two encodings). ``form`` normalization (NFC/NFKC/...)
    runs as an Arrow-vectorized pandas UDF — the one step the JVM has
    no builtin for — and whitespace collapse stays a JVM regexp
    (explicit ``[ \\t\\r\\n]`` class; ``\\s`` is banned from the
    cross-engine subset). DuckDB's ``nfc_normalize`` matches Python's
    ``unicodedata`` on NFC exactly (verified), so NFC tiers can be
    hash-gated; ``lowercase`` uses Python ``str.lower``, whose dialect
    differs from DuckDB ``lower`` on İ/final-sigma — keep it out of
    hash-gated oracle columns. NULL text passes through as NULL."""
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        # fail on the driver, not as an opaque executor traceback
        raise ValueError(f"invalid normalization form: {form!r}")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        out = s.map(
            lambda x: unicodedata.normalize(form, x)
            if x is not None
            else None
        )
        if lowercase:
            out = out.map(lambda x: x.lower() if x is not None else None)
        return out

    c = _norm(F.col(text_col))
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, "[ \\t\\r\\n]+", " "))
    return df.withColumn(out_col or text_col, c)


def lang_id_predict(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language-ID: score = |distinct tokens ∩ markers| per
    language, argmax with deterministic tie-break on language name."""
    toks = F.array_distinct(F.split(F.col(text_col), " ", -1))
    scored = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(toks, F.array(*[F.lit(m) for m in ms]))
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, ms in sorted(LANG_MARKERS.items())
        ]
    )
    # max by (score desc, lang asc): sort ascending by (-score, lang), take first
    best = F.array_sort(
        scored,
        lambda a, b: F.when(a["score"] > b["score"], -1)
        .when(a["score"] < b["score"], 1)
        .when(a["lang"] < b["lang"], -1)
        .when(a["lang"] > b["lang"], 1)
        .otherwise(0),
    )[0]
    # NULL text propagates NULL scores and the comparator would fall
    # through to lang-ascending order ('de' wins arbitrarily) — emit
    # NULL instead of a confident-looking label
    return df.withColumn(
        "pred_lang",
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
            best["lang"]
        ),
    )


def md5_fingerprints(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Whole-document digest fingerprint (JVM md5)."""
    return df.select(
        id_col, F.md5(F.col(text_col)).alias("fingerprint")
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 4,
    window: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003): k-token
    rolling hashes, minimum per sliding window, distinct mins kept.
    Returns (id, fingerprints array<long>) — robust to local edits."""
    from dashing_spark.operators.agg import token_hashes_col

    ensure_shipped(df.sparkSession)
    src = df.select(id_col, token_hashes_col(text_col).alias("__th"))
    id_field = [f for f in df.schema.fields if f.name == id_col][0]
    schema = T.StructType(
        [id_field, T.StructField("fingerprints", T.ArrayType(T.LongType()), False)]
    )

    def fn(batches):
        for pdf in batches:
            th, lens = hashing.flatten_hash_arrays(pdf["__th"])
            sh, doc_idx = hashing.shingle_hashes(th, lens, w=k)
            fps = []
            if len(sh):
                order = np.argsort(doc_idx, kind="stable")
                bounds = np.searchsorted(doc_idx[order], np.arange(len(pdf) + 1))
            for d in range(len(pdf)):
                if len(sh) == 0:
                    fps.append([])
                    continue
                seg = sh[order[bounds[d] : bounds[d + 1]]]
                if len(seg) == 0:
                    fps.append([])
                    continue
                if len(seg) <= window:
                    mins = np.array([seg.min()])
                else:
                    view = np.lib.stride_tricks.sliding_window_view(seg, window)
                    mins = np.unique(view.min(axis=1))
                fps.append(np.sort(mins).view(np.int64).tolist())
            out = pdf[[id_col]].copy()
            out["fingerprints"] = fps
            yield out

    return src.mapInPandas(fn, schema=schema)
