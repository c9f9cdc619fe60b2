"""dashing-compatible command-line driver over the Spark operators.

The reference is a compiled CLI (`dashing <subcommand> [options]`,
/root/reference/src/main.cpp:20-44); a user drives everything through
flags, not a library API. This module closes that last switch-over gap:
the same subcommand names (`sketch`, `dist`/`cmp`/`setdist`, `union`,
`fold`, `view`, `card`, `hll`, `panel`, `printmat`, `mkdist`,
`sketch_by_seq`/`sbs`, `dist_by_seq`/`cmp_by_seq`) with the same
short/long option spellings (getopt table
/root/reference/src/distmain.cpp:47-99, long options
/root/reference/src/dashing.h:44-104), re-targeted at the engine's text
domain per SURVEY.md §1.2:

- an input *path* is a document table (parquet / jsonl / csv — format
  inferred from the extension, `--fmt` overrides); each path becomes ONE
  set labeled by its basename, exactly as each FASTA file becomes one
  sketch in the reference;
- `-k/--kmer-length` is the token-shingle width (the k-mer analogue);
- `-S/--sketch-size` is log2 registers (reference default 10,
  /root/reference/src/dashing.cpp:61; `dashing hll` defaults to 24,
  src/hllmain.cpp:5);
- `*_by_seq` subcommands sketch per ROW of one table, keyed by
  `--key-col` (reference: per sequence record, src/distbyseq.cpp).

Matrix emitters (UT-TSV default, `-T` full TSV, `-U` PHYLIP, `-b`
packed binary) are driver-sized by construction in the reference too
(one output file); the 100 TB path is `--out-parquet`, which writes the
long-format pair table with Spark's native writer and never collects.

Exit codes: 0 on success, 2 on usage errors (argparse). `main()` accepts
an externally-owned SparkSession (tests reuse one JVM); standalone runs
create `local[nthreads]` from `-p/--nthreads`.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import tempfile
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from dashing_spark.functions.bbmh import BBitMinHash
from dashing_spark.functions.bloom import BloomFilter
from dashing_spark.functions.hll import HLL
from dashing_spark.functions.kmv import KMV
from dashing_spark.operators import agg, dist, freq
from dashing_spark.params import SketchParams
from dashing_spark.sources import sinks, tables

# ---------------------------------------------------------------------------
# session / io helpers
# ---------------------------------------------------------------------------


def _session(nthreads: int | None) -> SparkSession:
    n = nthreads if nthreads and nthreads > 0 else "*"
    return (
        SparkSession.builder.master(f"local[{n}]")
        .appName("dashing_spark_cli")
        .config("spark.sql.shuffle.partitions", str(max(8, (nthreads or 8))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _infer_fmt(path: str) -> str:
    # extension first: a Spark-written dataset DIRECTORY named
    # `docs.jsonl/` is json part-files, not parquet
    low = path.rstrip("/").lower()
    if low.endswith(".parquet"):
        return "parquet"
    if low.endswith((".jsonl", ".json")):
        return "jsonl"
    if low.endswith(".csv"):
        return "csv"
    if os.path.isdir(path):
        return "parquet"
    raise SystemExit(
        f"cannot infer document format of {path!r}; pass --fmt parquet|jsonl|csv"
    )


def _label_for(path: str) -> str:
    base = os.path.basename(path.rstrip("/"))
    for ext in (".parquet", ".jsonl", ".json", ".csv"):
        if base.lower().endswith(ext):
            base = base[: -len(ext)]
            break
    return base


def _gather_paths(args) -> list[str]:
    paths = list(getattr(args, "inputs", []) or [])
    if getattr(args, "paths", None):
        with open(args.paths) as f:
            paths += [ln.strip() for ln in f if ln.strip()]
    return paths


def _read_doc_table(spark: SparkSession, path: str, fmt: str | None) -> DataFrame:
    return tables.read_documents(spark, path, fmt=fmt or _infer_fmt(path))


def _sets_frame(spark: SparkSession, paths: Sequence[str], args) -> DataFrame:
    """(key, text) rows: one set per input path (file-as-set, the
    reference's sketch unit), labels = basenames (collision -> error,
    mirroring distinct output sketch filenames)."""
    if not paths:
        raise SystemExit("no input paths (positional or -F/--paths); see --help")
    labels = [_label_for(p) for p in paths]
    if len(set(labels)) != len(labels):
        raise SystemExit(f"duplicate input basenames would collide: {sorted(labels)}")
    parts = []
    for p, lbl in zip(paths, labels):
        df = _read_doc_table(spark, p, args.fmt)
        if args.text_col not in df.columns:
            raise SystemExit(f"{p}: no column {args.text_col!r}; pass --text-col")
        parts.append(
            df.select(F.lit(lbl).alias("key"), F.col(args.text_col).alias("text"))
        )
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out


def _byseq_frame(spark: SparkSession, paths: Sequence[str], args) -> DataFrame:
    """(key, text) rows keyed by a column — one sketch per sequence
    record (`sketch_by_seq`, /root/reference/src/distbyseq.cpp)."""
    if len(paths) != 1:
        raise SystemExit("*_by_seq takes exactly one input table")
    df = _read_doc_table(spark, paths[0], args.fmt)
    for c in (args.key_col, args.text_col):
        if c not in df.columns:
            raise SystemExit(f"{paths[0]}: no column {c!r}")
    return df.select(
        F.col(args.key_col).cast("string").alias("key"),
        F.col(args.text_col).alias("text"),
    )


# ---------------------------------------------------------------------------
# sketch construction
# ---------------------------------------------------------------------------


def _sketch_factory(args) -> Callable[[], object]:
    p = args.sketch_size
    if args.use_bb_minhash:
        return lambda: BBitMinHash.empty(p, args.bbits)
    if args.use_range_minhash:
        return lambda: KMV.empty(1 << p)
    if args.use_bloom_filter:
        return lambda: BloomFilter.empty(p)
    return lambda: HLL.empty(p)


def _item_rows(sets_df: DataFrame, args) -> DataFrame:
    """(key, __h) item-hash rows — the exact-mode / min-count spine."""
    if args.kmer_length <= 1:
        rows = sets_df.select(
            "key", F.explode(F.split("text", " ", -1)).alias("__tok")
        ).withColumn("__h", F.xxhash64("__tok", F.lit(args.seed)))
        return rows.select("key", "__h")
    rows = agg._shingle_hash_df(
        sets_df, ["key"], "text", args.kmer_length, args.seed
    )
    return rows.select("key", F.col("__ih").alias("__h"))


def _exact_items(sets_df: DataFrame, args) -> DataFrame:
    """(key, __h) rows for the ground-truth mode, honoring the same
    pre-sketch transforms the sketched path applies: --min-count drops
    below-floor items (reference filters BEFORE inserting into the full
    hash set, src/sketch_and_cmp.h:347) and --wj expands multiplicity
    into (item, occurrence) pairs so exact JI over the expanded set IS
    exact weighted Jaccard."""
    items = _item_rows(sets_df, args)
    if args.min_count > 1:
        keep = (
            items.groupBy("key", "__h")
            .count()
            .filter(F.col("count") >= args.min_count)
            .select("key", "__h")
        )
        items = items.join(keep, ["key", "__h"], "left_semi")
    if args.wj:
        from pyspark.sql import Window

        w = Window.partitionBy("key", "__h").orderBy(
            F.monotonically_increasing_id()
        )
        items = items.withColumn("__occ", F.row_number().over(w) - 1)
        items = items.select("key", F.xxhash64("__h", "__occ").alias("__h"))
    return items


def _exact_sizes(sets_df: DataFrame, items: DataFrame) -> DataFrame:
    """Exact per-key cardinalities, keeping keys whose every item was
    filtered out (cardinality 0) — same never-lose-keys rule as the
    sketched path's empty-sketch pad."""
    est = items.groupBy("key").agg(
        F.countDistinct("__h").cast("double").alias("cardinality")
    )
    return (
        sets_df.select("key")
        .distinct()
        .join(est, "key", "left")
        .select("key", F.coalesce("cardinality", F.lit(0.0)).alias("cardinality"))
    )


def _pad_missing_keys(
    spark: SparkSession,
    sk: DataFrame,
    expected: Sequence[str] | None,
    factory: Callable[[], object],
) -> DataFrame:
    """A set whose every item was filtered out (e.g. below --min-count)
    still gets a sketch — the reference writes an empty sketch file for
    an empty input rather than dropping the label. `expected` is the
    CLI's path-label list (small by construction)."""
    sk = sk.select("key", agg.SKETCH_COL)
    if not expected:
        return sk
    # the key probe is an action: checkpoint so the sketch build runs
    # ONCE and every downstream action reuses the materialized table
    # (eager=False + GC-unpersist, the lazy-operator pattern)
    sk = sk.localCheckpoint(eager=False)
    have = {r["key"] for r in sk.select("key").distinct().collect()}
    missing = [k for k in expected if k not in have]
    if not missing:
        return sk
    import pyspark.sql.types as T

    blob = bytearray(factory().to_bytes())
    pad = spark.createDataFrame(
        [(k, blob) for k in missing],
        T.StructType(
            [
                T.StructField("key", T.StringType(), False),
                T.StructField(agg.SKETCH_COL, T.BinaryType(), False),
            ]
        ),
    )
    return sk.unionByName(pad)


def _build_sketches(
    spark: SparkSession,
    sets_df: DataFrame,
    args,
    expected_keys: Sequence[str] | None = None,
) -> DataFrame:
    factory = _sketch_factory(args)

    def _done(sk: DataFrame) -> DataFrame:
        return _pad_missing_keys(spark, sk, expected_keys, factory)
    if args.min_count > 1:
        # --min-count/-c: drop items below the count floor BEFORE
        # sketching (reference: src/sketch_and_cmp.h:347). Exact backend
        # for any shingle width; --countmin (-y) selects the CM-gated
        # backend (never drops a frequent item) for w=1.
        if args.countmin and args.kmer_length <= 1:
            kept = freq.min_count_filter(
                sets_df,
                ["key"],
                min_count=args.min_count,
                backend="cms",
                lg_width=args.cm_sketch_size,
                depth=args.nhashes,
            ).withColumn("__h", F.xxhash64("token", F.lit(args.seed)))
        else:
            items = _item_rows(sets_df, args)
            kept = (
                items.groupBy("key", "__h")
                .count()
                .filter(F.col("count") >= args.min_count)
            )
        return _done(agg.sketch_hash_col_by_key(kept, ["key"], factory, "__h"))
    if args.wj:
        mode = "cm" if args.countmin else True
        return _done(
            agg.sketch_tokens_by_key(
                sets_df,
                ["key"],
                factory,
                shingle_w=args.kmer_length,
                seed=args.seed,
                weighted=mode,
                cm_lg_width=args.wj_cm_sketch_size,
                cm_depth=args.wj_cm_nhashes,
            )
        )
    if args.cache_sketches:
        from dashing_spark.plans import pipeline

        params = SketchParams(
            p=args.sketch_size,
            shingle_w=args.kmer_length,
            seed=args.seed,
            estimator=args.estimator if args.estimator != "default" else "ertl_mle",
        )
        sk, _ = pipeline.build_or_resume_sketch_table(
            sets_df,
            ["key"],
            factory,
            checkpoint_dir=args.prefix or ".dashing_spark_cache",
            params=params,
            lineage=False,
        )
        return _done(sk)
    return _done(
        agg.sketch_tokens_by_key(
            sets_df, ["key"], factory, shingle_w=args.kmer_length, seed=args.seed
        )
    )


def _load_sketch_tables(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    if not paths:
        raise SystemExit("no input paths (positional or -F/--paths); see --help")
    parts = [spark.read.parquet(p) for p in paths]
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    if "key" not in out.columns or agg.SKETCH_COL not in out.columns:
        raise SystemExit("presketched inputs must be (key, sketch) parquet tables")
    return out


# ---------------------------------------------------------------------------
# emission
# ---------------------------------------------------------------------------


def _emit_file(write_fn: Callable[[str], None], out: str | None, binary: bool = False):
    """Write through `write_fn(path)`; stream to stdout when no -O/-o —
    the reference's default destination."""
    if out:
        write_fn(out)
        return
    suffix = ".bin" if binary else ".tsv"
    with tempfile.NamedTemporaryFile(suffix=suffix, delete=False) as tmp:
        tmppath = tmp.name
    try:
        write_fn(tmppath)
        if binary:
            sys.stdout.buffer.write(open(tmppath, "rb").read())
        else:
            sys.stdout.write(open(tmppath).read())
    finally:
        os.unlink(tmppath)


def _emit_pairs(
    pairs: DataFrame, measure: str, args, keys: Sequence[str] | None = None
) -> None:
    """``keys`` pins the matrix axes to the CLI's input-label order (and
    keeps sets that appear in no pair — e.g. a single input — on the
    axes); None (presketched inputs) derives sorted keys from the pairs."""
    keys = list(keys) if keys else None
    if args.out_parquet:
        pairs.write.mode("overwrite").parquet(args.out_parquet)
        return
    if args.emit_binary:

        def _bin(p):
            order = sinks.write_packed_binary(pairs, measure, p, keys=keys)
            # the reference ships row labels as a .labels sidecar —
            # without it a packed matrix is uninterpretable
            with open(p + ".labels", "w") as f:
                f.write("\n".join(order) + "\n")

        _emit_file(_bin, args.out_dists, binary=True)
    elif args.phylip:
        _emit_file(
            lambda p: sinks.write_phylip(pairs, measure, p, keys=keys),
            args.out_dists,
        )
    elif args.full_tsv:

        def _full(p):
            mat = sinks.pairs_to_squareform(
                pairs, measure, keys=keys,
                diag=0.0 if measure in dist.DISTANCE_MEASURES else 1.0,
            )
            mat.to_csv(p, sep="\t", index_label="##Names", float_format="%.6f")

        _emit_file(_full, args.out_dists)
    else:
        _emit_file(
            lambda p: sinks.write_ut_tsv(pairs, measure, p, keys=keys),
            args.out_dists,
        )


def _emit_tsv_df(df: DataFrame, out: str | None) -> None:
    def _w(p):
        df.toPandas().to_csv(p, sep="\t", index=False, float_format="%.6f")

    _emit_file(_w, out)


# ---------------------------------------------------------------------------
# argparse surface
# ---------------------------------------------------------------------------


def _add_common(sp: argparse.ArgumentParser, by_seq: bool = False) -> None:
    sp.add_argument("inputs", nargs="*", help="document tables (one set per path)")
    sp.add_argument("-F", "--paths", help="file listing input paths, one per line")
    sp.add_argument("--fmt", choices=("parquet", "jsonl", "csv"))
    sp.add_argument("--text-col", default="text")
    sp.add_argument("-k", "--kmer-length", type=int, default=1,
                    help="token-shingle width (k-mer analogue)")
    sp.add_argument("-S", "--sketch-size", type=int, default=10,
                    help="log2 sketch registers (reference -S, default 10)")
    sp.add_argument("-R", "--seed", type=int, default=0)
    sp.add_argument("-p", "--nthreads", type=int, default=None,
                    help="local[-p] cores when the CLI owns the session")
    sp.add_argument("-P", "--prefix", default=None,
                    help="sketch-cache directory (with -W)")
    sp.add_argument("-x", "--suffix", default="", help="output-name suffix")
    sp.add_argument("-W", "--cache-sketches", action="store_true",
                    help="reuse the checkpointed sketch table when params match")
    sp.add_argument("-H", "--presketched", action="store_true",
                    help="inputs are (key, sketch) parquet tables, not documents")
    # sketch types
    sp.add_argument("-8", "--use-bb-minhash", action="store_true")
    sp.add_argument("-B", "--bbits", type=int, default=16)
    sp.add_argument("--use-range-minhash", action="store_true")
    sp.add_argument("--use-bloom-filter", action="store_true")
    for alias in ("--use-full-khash-sets", "--use-full-hash-sets",
                  "--use-hash-sets", "--hash-sets", "--use-full-sets"):
        sp.add_argument(alias, dest="exact_sets", action="store_true",
                        help=argparse.SUPPRESS)
    # estimators
    sp.add_argument("-E", "--original", dest="estimator", action="store_const",
                    const="original", default="default")
    sp.add_argument("-I", "--improved", dest="estimator", action="store_const",
                    const="ertl_improved")
    sp.add_argument("-m", "--ertl-mle", dest="estimator", action="store_const",
                    const="ertl_mle")
    sp.add_argument("-J", "--ertl-joint-mle", dest="estimator",
                    action="store_const", const="ertl_joint_mle")
    # weighted / min-count
    sp.add_argument("--wj", action="store_true", help="weighted (multiset) mode")
    sp.add_argument("--wj-cm-sketch-size", type=int, default=16)
    sp.add_argument("--wj-cm-nhashes", type=int, default=4)
    sp.add_argument("-y", "--countmin", action="store_true")
    sp.add_argument("-c", "--min-count", type=int, default=1)
    sp.add_argument("-t", "--cm-sketch-size", type=int, default=16)
    sp.add_argument("-q", "--nhashes", type=int, default=4)
    if by_seq:
        sp.add_argument("--key-col", default="doc_id")


def _add_dist_opts(sp: argparse.ArgumentParser) -> None:
    sp.add_argument("-Q", "--query-paths",
                    help="file of query paths: query x reference mode")
    sp.add_argument("-O", "--out-dists", default=None)
    sp.add_argument("-o", "--out-sizes", default=None)
    sp.add_argument("--out-parquet", default=None,
                    help="scale path: long-format pairs via the native writer")
    # result types
    sp.add_argument("-M", "--mash-dist", dest="measure", action="store_const",
                    const="mash_dist", default="ji")
    sp.add_argument("-l", "--full-mash-dist", dest="measure",
                    action="store_const", const="full_mash_dist")
    sp.add_argument("-Z", "--sizes", dest="measure", action="store_const",
                    const="sizes")
    sp.add_argument("--containment-index", dest="measure", action="store_const",
                    const="containment")
    sp.add_argument("--containment-dist", dest="measure", action="store_const",
                    const="containment_dist")
    sp.add_argument("--full-containment-dist", dest="measure",
                    action="store_const", const="full_containment_dist")
    sp.add_argument("--symmetric-containment-index", dest="measure",
                    action="store_const", const="symmetric_containment")
    sp.add_argument("--symmetric-containment-dist", dest="measure",
                    action="store_const", const="symmetric_containment_dist")
    # emission formats
    sp.add_argument("-T", "--full-tsv", action="store_true")
    sp.add_argument("-U", "--phylip", action="store_true")
    sp.add_argument("-b", "--emit-binary", action="store_true")
    sp.add_argument("-e", "--use-scientific", action="store_true",
                    help=argparse.SUPPRESS)
    sp.add_argument("--nearest-neighbors", type=int, default=None)
    sp.add_argument("--n-blocks", default="auto",
                    help="pair-join strategy: auto | int grid | none")


class _Parser(argparse.ArgumentParser):
    """Registering the reference's `-8` flag flips argparse's
    negative-number heuristic, which would reject `-R -3` (any negative
    option VALUE). Only the literal `-8` is an option; every other
    negative-number-shaped token is a value."""

    _NEG = re.compile(r"^-\d+$|^-\d*\.\d+$")

    def _parse_optional(self, arg_string):
        if arg_string != "-8" and self._NEG.match(arg_string):
            return None
        return super()._parse_optional(arg_string)


def build_parser() -> argparse.ArgumentParser:
    ap = _Parser(
        prog="dashing-spark",
        description=__doc__.splitlines()[0],
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("sketch", help="materialize sketch tables")
    _add_common(sp)
    sp.add_argument("-o", "--out", default=None,
                    help="output sketch-table parquet dir")

    for name, aliases, by_seq in (
        ("dist", ["cmp", "setdist"], False),
        ("dist_by_seq", ["cmp_by_seq"], True),
        ("panel", [], False),
    ):
        sp = sub.add_parser(name, aliases=aliases,
                            help="sketch + pairwise compare")
        _add_common(sp, by_seq=by_seq)
        _add_dist_opts(sp)

    sp = sub.add_parser("sketch_by_seq", aliases=["sbs"],
                        help="one sketch per row of a table")
    _add_common(sp, by_seq=True)
    sp.add_argument("-o", "--out", default=None)

    for name, default_p in (("card", 10), ("hll", 24)):
        sp = sub.add_parser(name, help="cardinality estimates")
        _add_common(sp)
        sp.set_defaults(sketch_size=default_p)
        sp.add_argument("-o", "--out", default=None)

    sp = sub.add_parser("union", help="merge sketch tables")
    sp.add_argument("inputs", nargs="+", help="(key, sketch) parquet dirs")
    sp.add_argument("-o", "--out", required=True)
    sp.add_argument("--by-key", action="store_true",
                    help="merge per key instead of into one global sketch")
    sp.add_argument("-p", "--nthreads", type=int, default=None)

    sp = sub.add_parser("fold", help="compress HLLs to a smaller precision")
    sp.add_argument("inputs", nargs=1)
    sp.add_argument("-S", "--sketch-size", type=int, required=True,
                    help="target log2 registers")
    sp.add_argument("-o", "--out", required=True)
    sp.add_argument("-p", "--nthreads", type=int, default=None)

    sp = sub.add_parser("view", help="dump register values")
    sp.add_argument("inputs", nargs=1)
    sp.add_argument("--max-regs", type=int, default=16)
    sp.add_argument("-p", "--nthreads", type=int, default=None)

    sp = sub.add_parser("printmat", help="display packed binary matrix")
    sp.add_argument("inputs", nargs=1)
    sp.add_argument("--labels", default=None,
                    help="file of row labels, one per line")

    sp = sub.add_parser("curate", help="training-corpus curation pipeline")
    sp.add_argument("inputs", nargs="*")
    sp.add_argument("-F", "--paths", help="file listing input paths")
    sp.add_argument("--fmt", choices=("parquet", "jsonl", "csv"))
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("-o", "--out", required=True,
                    help="output document-table directory")
    sp.add_argument("--out-fmt", choices=("parquet", "jsonl", "csv"),
                    default="parquet")
    sp.add_argument("--near-threshold", type=float, default=0.9)
    sp.add_argument("--min-quality", type=float, default=0.5)
    sp.add_argument("--langs", default=None,
                    help="comma-separated language allow-list")
    sp.add_argument("--components", action="store_true",
                    help="transitive-closure near-dup keeps")
    sp.add_argument("--line-dedup", action="store_true",
                    help="C4 corpus-wide duplicate-line rewrite")
    sp.add_argument("--substring-dedup", type=int, default=None,
                    metavar="MIN_LEN",
                    help="ExactSubstr rewrite at this run length")
    sp.add_argument("--gopher", action="store_true",
                    help="published Gopher quality + repetition gates")
    sp.add_argument("--c4", action="store_true",
                    help="C4 line rewrite + doc gates")
    sp.add_argument("--c4-badwords", default=None,
                    help="file with one badword/phrase per line")
    sp.add_argument("--max-repetition", type=float, default=None)
    sp.add_argument("--stats", action="store_true",
                    help="also print per-stage survivor counts (each "
                         "stage count replays the pipeline lineage — "
                         "several extra full executions)")
    sp.add_argument("-p", "--nthreads", type=int, default=None)

    sp = sub.add_parser("dedup", help="near-duplicate mining to parquet")
    sp.add_argument("inputs", nargs="*")
    sp.add_argument("-F", "--paths", help="file listing input paths")
    sp.add_argument("--fmt", choices=("parquet", "jsonl", "csv"))
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--method", choices=("minhash", "simhash", "exact"),
                    default="minhash")
    sp.add_argument("--threshold", type=float, default=0.9,
                    help="Jaccard threshold (minhash)")
    sp.add_argument("--max-hamming", type=int, default=3,
                    help="bit distance (simhash)")
    sp.add_argument("--clusters", action="store_true",
                    help="emit connected-component cluster labels "
                         "instead of pairs")
    sp.add_argument("-o", "--out", required=True,
                    help="output parquet directory")
    sp.add_argument("-p", "--nthreads", type=int, default=None)

    sp = sub.add_parser("mkdist", help="multi-k distance sweep")
    _add_common(sp)
    sp.add_argument("--ks", required=True,
                    help="comma-separated k values for the per-k distance "
                         "transform over the fixed -k item set, e.g. 2,3,4")
    sp.add_argument("-M", "--mash-dist", dest="measure", action="store_const",
                    const="mash_dist", default="mash_dist")
    sp.add_argument("--ji", dest="measure", action="store_const", const="ji")
    sp.add_argument("--slope", action="store_true",
                    help="also emit the per-pair regression slope")
    sp.add_argument("-o", "--out", default=None)

    sp = sub.add_parser("flatten", help="multi-k long format -> wide per-k columns")
    _add_common(sp)
    sp.add_argument("--ks", required=True)
    sp.add_argument("--measure", default="mash_dist")
    sp.add_argument("-o", "--out", default=None)

    return ap


# ---------------------------------------------------------------------------
# subcommand drivers
# ---------------------------------------------------------------------------


def _input_sets(spark, args, by_seq: bool):
    """(sets frame, expected key labels | None for by-seq mode)."""
    paths = _gather_paths(args)
    if by_seq:
        return _byseq_frame(spark, paths, args), None
    return _sets_frame(spark, paths, args), [_label_for(p) for p in paths]


def _cmd_sketch(spark, args, by_seq: bool = False) -> int:
    sets_df, labels = _input_sets(spark, args, by_seq)
    sk = _build_sketches(spark, sets_df, args, expected_keys=labels)
    out = args.out or (args.prefix or "") + "sketches" + args.suffix + ".parquet"
    sk.write.mode("overwrite").parquet(out)
    print(out)
    return 0


def _cmd_dist(spark, args, by_seq: bool = False) -> int:
    paths = _gather_paths(args)
    measure = args.measure
    ksinv = 1.0 / float(max(args.kmer_length, 1))
    nb = args.n_blocks
    if nb not in ("auto", "none", None):
        nb = int(nb)
    elif nb == "none":
        nb = None

    if args.exact_sets and args.presketched:
        # silently serving sketch ESTIMATES to a user who asked for
        # exact ground truth is the worst failure mode (r6 ADVICE #5)
        raise SystemExit(
            "--use-full-khash-sets requires document inputs (it rebuilds "
            "exact item sets) and is incompatible with -H/--presketched"
        )
    if args.exact_sets and not args.presketched:
        # ground-truth mode: exact set triples from raw item rows
        # (--use-full-khash-sets, /root/reference/src/khset64.h:129-156),
        # honoring --min-count / --wj like the sketched path
        sets_df, labels = _input_sets(spark, args, by_seq)
        if args.query_paths:
            raise SystemExit("--use-full-khash-sets does not support -Q yet")
        items = _exact_items(sets_df, args)
        pairs = dist.exact_pair_measures(
            items, "key", "__h", (measure,), k=float(max(args.kmer_length, 1))
        )
        if args.out_sizes:
            _emit_tsv_df(_exact_sizes(sets_df, items), args.out_sizes)
        _emit_pairs(pairs, measure, args, keys=labels)
        return 0

    labels = None
    if args.presketched:
        sk = _load_sketch_tables(spark, paths)
    else:
        sets_df, labels = _input_sets(spark, args, by_seq)
        sk = _build_sketches(spark, sets_df, args, expected_keys=labels)

    estimator = args.estimator
    if args.out_sizes:
        sizes = dist.estimate_cardinalities(sk, ["key"], estimator=estimator)
        _emit_tsv_df(sizes, args.out_sizes)

    if args.query_paths:
        with open(args.query_paths) as f:
            qpaths = [ln.strip() for ln in f if ln.strip()]
        if args.presketched:
            # -H applies to the query side too: both halves of the
            # panel come from persisted (key, sketch) tables
            qsk = _load_sketch_tables(spark, qpaths)
        elif by_seq:
            qsk = _build_sketches(spark, _byseq_frame(spark, qpaths, args), args)
        else:
            qsk = _build_sketches(
                spark,
                _sets_frame(spark, qpaths, args),
                args,
                expected_keys=[_label_for(p) for p in qpaths],
            )
        pairs = dist.query_reference(
            qsk, sk, ["key"], (measure,), ksinv=ksinv, estimator=estimator,
            n_blocks=nb,
        )
        out_df = pairs.select(
            F.col("a_key").alias("q_key"), F.col("b_key").alias("r_key"), measure
        ).orderBy("q_key", "r_key")
        if args.out_parquet:
            out_df.write.mode("overwrite").parquet(args.out_parquet)
        else:
            _emit_tsv_df(out_df, args.out_dists)
        return 0

    if args.nearest_neighbors:
        nn = dist.nearest_neighbors(
            sk, ["key"], args.nearest_neighbors, measure=measure,
            ksinv=ksinv, estimator=estimator, n_blocks=nb,
        )
        out_df = nn.select("a_key", "b_key", measure, "rank").orderBy(
            "a_key", "rank"
        )
        if args.out_parquet:
            out_df.write.mode("overwrite").parquet(args.out_parquet)
        else:
            _emit_tsv_df(out_df, args.out_dists)
        return 0

    pairs = dist.all_pairs(
        sk, ["key"], (measure,), ksinv=ksinv, estimator=estimator, n_blocks=nb
    )
    _emit_pairs(pairs, measure, args, keys=labels)
    return 0


def _cmd_card(spark, args) -> int:
    paths = _gather_paths(args)
    if args.exact_sets:
        sets_df = _sets_frame(spark, paths, args)
        items = _exact_items(sets_df, args)
        _emit_tsv_df(_exact_sizes(sets_df, items).orderBy("key"), args.out)
        return 0
    if args.presketched:
        sk = _load_sketch_tables(spark, paths)
    else:
        sk = _build_sketches(
            spark,
            _sets_frame(spark, paths, args),
            args,
            expected_keys=[_label_for(p) for p in paths],
        )
    out = dist.estimate_cardinalities(sk, ["key"], estimator=args.estimator)
    _emit_tsv_df(out.orderBy("key"), args.out)
    return 0


def _cmd_union(spark, args) -> int:
    sk = _load_sketch_tables(spark, args.inputs)
    if args.by_key:
        merged = agg.merge_sketches_by_key(sk, ["key"])
    else:
        merged = agg.union_all_sketches(sk).withColumn("key", F.lit("union"))
    merged.write.mode("overwrite").parquet(args.out)
    print(args.out)
    return 0


def _cmd_fold(spark, args) -> int:
    sk = _load_sketch_tables(spark, args.inputs)
    folded = sk.withColumn(
        agg.SKETCH_COL, agg.fold_expr(args.sketch_size)(F.col(agg.SKETCH_COL))
    )
    folded.write.mode("overwrite").parquet(args.out)
    print(args.out)
    return 0


def _cmd_view(spark, args) -> int:
    sk = _load_sketch_tables(spark, args.inputs)
    for row in sk.select("key", agg.SKETCH_COL).toLocalIterator():
        regs = sinks.view_registers(row[agg.SKETCH_COL])
        head = " ".join(str(int(v)) for v in regs[: args.max_regs])
        more = "" if len(regs) <= args.max_regs else f" ... ({len(regs)} regs)"
        print(f"{row['key']}\t{head}{more}")
    return 0


def _cmd_printmat(args) -> int:
    keys = None
    labels_path = args.labels
    if labels_path is None and os.path.exists(args.inputs[0] + ".labels"):
        labels_path = args.inputs[0] + ".labels"  # the -b sidecar
    if labels_path:
        with open(labels_path) as f:
            keys = [ln.strip() for ln in f if ln.strip()]
    mat = sinks.read_packed_binary(args.inputs[0], keys=keys)
    sys.stdout.write(mat.to_csv(sep="\t", index_label="##Names", float_format="%.6f"))
    return 0


def _read_union_docs(spark, args, required_cols) -> DataFrame:
    """Read and union the input document tables, validating that EVERY
    input carries the required columns — a missing column filled with
    NULLs by allowMissingColumns would silently corrupt dedup/curate
    semantics (NULL digests collapse into one exact-dup group; NULL
    text drops docs from near-dup scans)."""
    paths = _gather_paths(args)
    if not paths:
        raise SystemExit("no input paths; see --help")
    parts = []
    for p in paths:
        d = _read_doc_table(spark, p, args.fmt)
        missing = [c for c in required_cols if c not in d.columns]
        if missing:
            raise SystemExit(f"{p}: missing column(s) {missing}")
        parts.append(d)
    docs = parts[0]
    for d in parts[1:]:
        docs = docs.unionByName(d, allowMissingColumns=True)
    return docs


def _cmd_dedup(spark, args) -> int:
    from dashing_spark.operators import dedup

    docs = _read_union_docs(spark, args, (args.id_col, args.text_col))
    if args.method == "exact":
        if args.clusters:
            raise SystemExit(
                "--clusters applies to near-dup methods; --method exact "
                "already emits one group row per duplicate set"
            )
        out = dedup.exact_dup_clusters(docs, args.id_col, args.text_col)
        out.write.mode("overwrite").parquet(args.out)
        print(args.out)
        return 0
    if args.method == "minhash":
        pairs = dedup.minhash_lsh_dedup(
            docs, args.id_col, args.text_col, threshold=args.threshold
        )
    else:
        pairs = dedup.simhash_near_dups(
            docs, args.id_col, args.text_col, max_hamming=args.max_hamming
        )
    if args.clusters:
        out = dedup.connected_components(pairs)
    else:
        out = pairs
    out.write.mode("overwrite").parquet(args.out)
    print(args.out)
    return 0


def _cmd_curate(spark, args) -> int:
    from dashing_spark.operators import corpus

    docs = _read_union_docs(spark, args, (args.id_col, args.text_col))
    badwords = ()
    if args.c4_badwords:
        with open(args.c4_badwords) as f:
            badwords = tuple(ln.strip() for ln in f if ln.strip())
    kept, stats = corpus.curate(
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        near_threshold=args.near_threshold,
        min_quality=args.min_quality,
        langs=args.langs.split(",") if args.langs else None,
        near_mode="components" if args.components else "keep_first",
        max_repetition=args.max_repetition,
        line_dedup_sep="\n" if args.line_dedup else None,
        substring_dedup_min_len=args.substring_dedup,
        gopher=args.gopher,
        c4=args.c4,
        c4_badwords=badwords,
    )
    tables.write_documents(kept, args.out, fmt=args.out_fmt)
    if args.stats:
        # each stage row replays its lineage — opt-in because the
        # write above already ran the pipeline once
        for r in stats.collect():
            print(f"{r['stage']}\t{r['n_out']}")
    print(args.out)
    return 0


def _cmd_mkdist(spark, args, flatten: bool = False) -> int:
    sets_df = _sets_frame(spark, _gather_paths(args), args)
    ks = [int(k) for k in args.ks.split(",") if k]
    # item set comes from -k (shingle width), computed ONCE; --ks are
    # the per-k distance-transform values over that fixed set — the
    # engine's one-scan mkdist core (dist.multi_k_measures; the
    # reference shells out one re-sketch per k instead,
    # /root/reference/src/mkdistmain.cpp:12-142)
    items = _item_rows(sets_df, args)
    mk = dist.multi_k_measures(items, "key", "__h", ks, measure=args.measure)
    if flatten:
        out = dist.flatten_multi_k(mk, args.measure, ks).orderBy("a_key", "b_key")
        _emit_tsv_df(out, args.out)
        return 0
    if args.slope:
        out = dist.mash_slope(mk, measure=args.measure).orderBy("a_key", "b_key")
    else:
        out = mk.orderBy("a_key", "b_key", "k")
    _emit_tsv_df(out, args.out)
    return 0


def main(argv: Sequence[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    cmd = args.cmd
    if cmd == "printmat":
        return _cmd_printmat(args)
    own = spark is None
    if own:
        spark = _session(getattr(args, "nthreads", None))
    try:
        if cmd == "sketch":
            return _cmd_sketch(spark, args)
        if cmd in ("sketch_by_seq", "sbs"):
            return _cmd_sketch(spark, args, by_seq=True)
        if cmd in ("dist", "cmp", "setdist", "panel"):
            if cmd == "panel" and not args.query_paths:
                raise SystemExit("panel requires -Q/--query-paths")
            return _cmd_dist(spark, args)
        if cmd in ("dist_by_seq", "cmp_by_seq"):
            return _cmd_dist(spark, args, by_seq=True)
        if cmd in ("card", "hll"):
            return _cmd_card(spark, args)
        if cmd == "union":
            return _cmd_union(spark, args)
        if cmd == "fold":
            return _cmd_fold(spark, args)
        if cmd == "view":
            return _cmd_view(spark, args)
        if cmd == "dedup":
            return _cmd_dedup(spark, args)
        if cmd == "curate":
            return _cmd_curate(spark, args)
        if cmd == "mkdist":
            return _cmd_mkdist(spark, args)
        if cmd == "flatten":
            return _cmd_mkdist(spark, args, flatten=True)
        raise SystemExit(f"unknown subcommand {cmd!r}")
    finally:
        if own:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
