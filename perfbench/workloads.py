"""The benchmark's workloads. Each builds its corpus from the seed,
prepares its inputs in a Spark session, runs one named operation of the
program, and checks that operation's output with its oracle.

A workload runs in *cycles* of one operation each. Every operation consumes every output column, so Catalyst cannot prune
a Python UDF out of the timed plan (a bare ``.count()`` over
``dist.all_pairs`` skips the pair kernel entirely).
"""

from __future__ import annotations

import dataclasses
import functools
import hashlib
import os
import shutil
import time

import numpy as np

import corpus
import host
import oracles


@dataclasses.dataclass
class OpRecord:
    group: str  # the Spark job group the operation ran under
    seconds: float
    cpu_s: float = 0.0  # CPU seconds of the whole process tree
    output: object = None
    items: int = 0  # input items (docs or pairs) the operation covered
    rows: int = 0  # output rows it produced
    problems: list = dataclasses.field(default_factory=list)
    checksum: str = ""


class Timer:
    """Times operations, each under its own Spark job group
    (``<prefix><n>``) so the event log can be split per operation."""

    def __init__(self, spark, prefix: str):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.n = 0
        self.windows = {}  # group -> (start_ms, end_ms)

    def __call__(self, fn) -> OpRecord:
        group = f"{self.prefix}{self.n}"
        self.n += 1
        self.sc.setJobGroup(group, group)
        start = time.time()
        cpu0 = host.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            cpu = host.tree_cpu_s() - cpu0
            self.sc.setJobGroup("check", "check")
            self.windows[group] = (start * 1e3, start * 1e3 + dt * 1e3)
        return OpRecord(group, dt, cpu, out)


def _write_parts(table, out_dir: str) -> None:
    """Write ``table`` as one parquet file per core, one scan split
    each: the first stage of an operation then runs in a single wave of
    tasks (two waves measured twice the op-to-op jitter)."""
    import pyarrow.parquet as pq

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    n = table.num_rows
    parts = os.cpu_count() or 1
    for i in range(parts):
        lo, hi = i * n // parts, (i + 1) * n // parts
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _checksum(rows) -> str:
    """Order-independent digest of collected rows."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]


class Workload:
    name = ""
    knobs = corpus.Knobs()
    # untimed operations before measuring. Operation times fall over the
    # first few operations of a session (JIT, Python workers), so a
    # shorter warm-up leaves that trend in the measured median
    warmup_ops = 2

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self.corpus = None
        self.df = None

    # -- set-up -----------------------------------------------------------
    def generate(self) -> None:
        """Generate the corpus and write it as parquet."""
        self.corpus = corpus.generate(self.seed, self.knobs)
        _write_parts(self.corpus.table, self.data_dir)

    @property
    def input_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.data_dir, f))
            for f in os.listdir(self.data_dir)
        )

    def load(self, spark) -> None:
        """Read and cache the corpus (and build any prebuilt input)."""
        self.df = spark.read.parquet(self.data_dir).cache()
        self.df.count()

    def prepare_oracle(self) -> None:
        """Compute the expected outputs from the corpus; runs once, after
        the set-ups and outside ``setup_s``."""

    def warmup(self, spark, timed) -> list:
        """Untimed cycles before measuring; returns their records."""
        return [r for _ in range(self.warmup_ops) for r in self.cycle(spark, timed)]

    # -- measured cycle ---------------------------------------------------
    def cycle(self, spark, timed) -> list:
        raise NotImplementedError

    def layer_info(self) -> dict:
        """Facts the per-layer report needs (key counts, token counts)."""
        return {}


class SketchBuild(Workload):
    """One HLL (p=14) per ``lang`` over the whole corpus, salted merge;
    the sketch rows are collected and digested."""

    name = "sketch_build"
    knobs = corpus.Knobs(docs=12_000)
    warmup_ops = 5
    p = 14
    salt = 4

    def prepare_oracle(self) -> None:
        c = self.corpus
        exact = oracles.exact_distinct_per_key(c, c.lang_code, corpus.LANGS)
        present = np.unique(c.lang_code)
        self.exact = {c.lang_names[k]: int(exact[k]) for k in present}
        self.reference = None

    def cycle(self, spark, timed):
        from dashing_spark.functions.hll import HLL
        from dashing_spark.operators import agg

        def op():
            sk = agg.sketch_tokens_by_key(
                self.df, ["lang"], functools.partial(HLL, self.p), salt=self.salt
            )
            return sk.collect()

        rec = timed(op)
        rows = [(r["lang"], bytes(r["sketch"])) for r in rec.output]
        rec.problems = oracles.check_sketch_build(rows, self.exact, self.p, self.reference)
        if self.reference is None:
            self.reference = dict(rows)
        rec.items = self.corpus.n_docs
        rec.rows = len(rows)
        rec.checksum = _checksum(rows)
        return [rec]

    def layer_info(self):
        return {
            "keys": len(self.exact),
            "tokens": int(len(self.corpus.tokens)),
            "p": self.p,
        }


class DistancePanel(Workload):
    """``dist.all_pairs`` over a table of HLL sketches (p=10) of the
    ``SKETCHES`` sites with the most documents, with three measures; every output column feeds an in-Spark
    checksum, and a hashed sample of pair rows comes back for the
    oracle. The sketch table is the program's input: the benchmark
    builds it with the ``functions`` kernels (no Spark) and writes it as
    parquet, as a materialized sketch table would be, so no token
    kernel runs inside the operation."""

    name = "distance_panel"
    knobs = corpus.Knobs(docs=3_000, sites=300)
    warmup_ops = 10
    p = 10
    SKETCHES = 256  # a fixed panel: n(n-1)/2 = 32,640 pairs on every seed
    measures = ("ji", "mash_dist", "containment")
    sample_mod = 509

    def generate(self) -> None:
        import pyarrow as pa

        from dashing_spark.functions import hashing
        from dashing_spark.functions.hll import HLL

        self.corpus = c = corpus.generate(self.seed, self.knobs)
        th, lens = hashing.hash_tokens_arrow(c.table.column("text"))
        site_of_tok = np.repeat(c.site_code, lens)
        order = np.argsort(site_of_tok, kind="stable")
        bounds = np.searchsorted(site_of_tok[order], np.arange(c.knobs.sites + 1))
        top = np.argsort(-np.bincount(c.site_code, minlength=c.knobs.sites),
                         kind="stable")[: self.SKETCHES]
        self.blobs = {
            c.site_names[k]: HLL(self.p).update_hashes(th[order[bounds[k]:bounds[k + 1]]]).to_bytes()
            for k in sorted(top)
        }
        # deal the sites round-robin over the parquet parts: the join
        # keeps pairs a < b, so parts of contiguous sites would give the
        # first scan task most of the pairs and leave the others idle
        sites = list(self.blobs)
        n_parts = os.cpu_count() or 1
        dealt = [sites[i] for i in np.argsort(np.arange(len(sites)) % n_parts, kind="stable")]
        _write_parts(
            pa.table({"site": dealt, "sketch": [self.blobs[s] for s in dealt]}),
            self.data_dir,
        )

    def load(self, spark) -> None:
        self.sketches = spark.read.parquet(self.data_dir).cache()
        self.sketches.count()

    def cycle(self, spark, timed):
        from pyspark.sql import functions as F

        from dashing_spark.operators import dist

        ms = list(self.measures)

        def op():
            pairs = dist.all_pairs(self.sketches, ["site"], measures=ms)
            h = F.xxhash64("a_site", "b_site", *ms)
            sample = F.pmod(F.xxhash64("a_site", "b_site"), F.lit(self.sample_mod)) == 0
            row = pairs.agg(
                F.count("*").alias("n"),
                F.sum(h.bitwiseAND(F.lit(0x7FFFFFFF))).alias("h"),
                F.collect_list(
                    F.when(sample, F.struct(F.col("a_site").alias("a"),
                                            F.col("b_site").alias("b"), *ms))
                ).alias("sample"),
            ).first()
            return row

        rec = timed(op)
        row = rec.output
        sampled = [r.asDict() for r in row["sample"]]
        rec.problems = oracles.check_distance_panel(
            len(self.blobs), row["n"], sampled, self.blobs, ms
        )
        rec.items = rec.rows = int(row["n"])
        rec.checksum = f"{row['n']}:{row['h']}"
        return [rec]

    def layer_info(self):
        n = len(self.blobs)
        return {"sketches": n, "pairs": n * (n - 1) // 2, "p": self.p}


WORKLOADS = {w.name: w for w in (SketchBuild, DistancePanel)}
