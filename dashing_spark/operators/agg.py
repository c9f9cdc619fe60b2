"""Two-stage distributed sketch aggregation — the engine's core operator.

This is the Spark re-expression of the reference's build/union phases:
per-thread partial sketches merged by a parallel tree
(`fill_sketch` /root/reference/src/dashing.h:627-641, `union_core` +
`par_reduce` /root/reference/src/union.cpp:10-58). Spark's native aggs
get partial aggregation from Catalyst for free, but pandas grouped-agg
UDFs do NOT (each group's rows all reach one task), so we implement the
partial/final split explicitly:

  stage 1 (map-side combine): one ``mapInArrow`` kernel,
      ``_partial_sketches``, serves every builder — every input
      partition emits AT MOST ONE ROW PER KEY (per sketch variant),
      holding a serialized partial sketch. All hashing/updating is
      whole-batch numpy on Arrow batches; a builder supplies only its
      items generator (token shingles or one value column) and its
      sketch factories.
  stage 2 (optional salt level): ``groupBy(key, part_id % salt)`` merge —
      the explicit tree level that bounds fan-in per task under skew
      (north rule; analogous to par_reduce's log2 tree). It runs only
      when the partial stage may have more than ``salt`` partitions:
      with P <= salt every salted group is a single partial. P is read
      at plan time only where that runs no Spark job (a batch plan with
      no exchange); otherwise the level stays.
  stage 3: ``groupBy(key)`` merge -> final sketch row per key.

Both merge levels are grouped Arrow UDFs (``applyInArrow``): each group
arrives as one Arrow table, with no pandas frame per group. The number
of Python stages matters more than their work here: every Python task
costs about 0.2 CPU-s (4-core x86_64 host) before user code runs, as
PySpark's worker calls ``importlib.invalidate_caches()`` per task,
which re-reads the ``pyspark.zip`` directory.

Only sketch blobs cross the shuffle (p=14 HLL = 16 KiB), so at 10^12
input rows the shuffle volume is O(#keys × #partitions), not O(rows).
Monoid sketches (HLL/Bloom/CMS/KMV/BBMH) give bit-identical results for
ANY partitioning / merge order, which the tests assert.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F, types as T

from dashing_spark.functions import hashing
from dashing_spark.functions.cms import CountMinSketch
from dashing_spark.functions.hll import resolve_estimator
from dashing_spark.functions.serde import sketch_from_bytes
from dashing_spark.operators.ship import ensure_shipped

SKETCH_COL = "sketch"
_PART_COL = "__src_part"


def token_hashes_col(text_col: str, seed: int = 0):
    """array<long> of 64-bit token hashes, computed ENTIRELY JVM-side
    (split + xxhash64 inside whole-stage codegen). Python/Arrow only
    ever sees int64 arrays — no per-token Python string objects, which
    is the difference between allocator-bound and memory-bandwidth-bound
    scaling at high core counts."""
    col = f"`{text_col}`"  # backticks: names with '-'/' ' must still parse
    if seed:
        return F.expr(
            f"transform(split({col}, ' ', -1), t -> xxhash64(t, {int(seed)}L))"
        )
    return F.expr(f"transform(split({col}, ' ', -1), t -> xxhash64(t))")


def _key_schema(df: DataFrame, key_cols: Sequence[str]) -> list[T.StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[k] for k in key_cols]


def _result_schema(df: DataFrame, key_cols: Sequence[str]) -> T.StructType:
    return T.StructType(
        _key_schema(df, key_cols)
        + [T.StructField(SKETCH_COL, T.BinaryType(), False)]
    )


def _shingle_hash_df(
    df: DataFrame, key_cols: Sequence[str], text_col: str, shingle_w: int, seed: int
) -> DataFrame:
    """Explode each row into its w-shingle hashes (one int64 `__ih` per
    shingle occurrence), used by the weighted path. Tokens are hashed
    pandas-side (``hash_str_array``, not ``hash_tokens_arrow``), while
    the key columns are taken from the Arrow batch at each shingle's
    row, so 64-bit keys stay exact next to nulls."""
    key_cols = list(key_cols)
    n_keys = len(key_cols)
    src = df.select(*key_cols, text_col)
    schema = T.StructType(
        _key_schema(src, key_cols) + [T.StructField("__ih", T.LongType(), False)]
    )

    def fn(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        for rb in batches:
            toks, lens = hashing.tokenize_flat(rb.column(n_keys).to_pandas())
            th = hashing.hash_str_array(toks)
            sh, doc_idx = hashing.shingle_hashes(th, lens, w=shingle_w, seed=seed)
            rows = pa.array(doc_idx, type=pa.int64())
            cols = [
                rb.column(i).take(rows).cast(arrow_schema.field(i).type)
                for i in range(n_keys)
            ]
            yield pa.RecordBatch.from_arrays(
                cols + [pa.array(sh.view(np.int64))], schema=arrow_schema
            )

    return src.mapInArrow(fn, schema=schema)


def _batch_key_codes(rb, n_keys: int):
    """Per-row group codes + unique key tuples for one Arrow batch.

    Single key column: Arrow dictionary-encode yields the codes without
    materializing a Python object per row — only the len(uniq)
    dictionary values cross into Python (as acc keys). Multi-key (or
    null-bearing) batches fall back to pandas factorize over tuples of
    the Arrow values as Python objects, so 64-bit keys stay exact.
    """
    enc = rb.column(0).dictionary_encode() if n_keys == 1 else None
    if enc is not None and enc.indices.null_count == 0:
        codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        uniq = [(v,) for v in enc.dictionary.to_pylist()]
    else:
        keys = list(zip(*(rb.column(i).to_pylist() for i in range(n_keys))))
        codes, uniq = pd.factorize(pd.Series(keys, dtype=object))
    return codes, uniq


def _token_items(widths: Sequence[int], seed: int, hasher: str = "arrow"):
    """Items generator of the token builders. The text column after the
    keys is tokenized and hashed once per batch (with ``hasher="jvm"``
    it already holds the JVM-side token hashes); each width in
    ``widths`` is then rolled once into its own shingle stream."""

    def items(rb, n_keys):
        col = rb.column(n_keys)
        if hasher == "jvm":
            th = col.flatten().to_numpy(zero_copy_only=False).view(np.uint64)
            lens = np.diff(col.offsets.to_numpy()).astype(np.int64)
        else:
            th, lens = hashing.hash_tokens_arrow(col)
        for w in widths:
            sh, doc_idx = hashing.shingle_hashes(th, lens, w=w, seed=seed)
            yield w, sh, doc_idx

    return items


def _column_items(dtype):
    """Items generator of the column builders: the one value column
    after the keys, one value per row, as ``dtype`` (int64 hashes wrap
    to uint64). Callers drop null values JVM-side."""

    def items(rb, n_keys):
        vals = rb.column(n_keys).to_numpy(zero_copy_only=False).astype(dtype)
        yield None, vals, None

    return items


def _partial_sketches(
    src: DataFrame,
    key_cols: Sequence[str],
    items: Callable,
    variants: "list[tuple[object, object, Callable[[], object]]]",
    salt: int | None,
    counters: dict | None = None,
    tag_field: "T.StructField | None" = None,
    update: str = "update_hashes",
) -> DataFrame:
    """The one partial stage (stage 1) behind every builder, followed by
    :func:`_merge_partials`.

    ``src`` holds ``key_cols`` first, then the value columns ``items``
    reads. Per Arrow batch, ``items(rb, n_keys)`` yields ``(stream,
    values, row_of_value)`` once for every stream, empty or not;
    ``row_of_value`` maps each value to its batch row, or is None when
    values line up with rows. ``variants`` is ``[(tag, stream,
    factory)]``: every key seen gets one sketch per variant, keyed
    ``(tag, *key)``, whose ``update`` method takes that key's values of
    the variant's stream, in row order, once per batch. ``tag_field``
    names the leading tag column of the output; with None the single
    variant's tag is dropped.

    The output batch is built as Arrow arrays typed from the schema: a
    pandas frame would turn a null-bearing int64 key column into
    float64 and merge distinct keys above 2^53. ``counters`` may carry
    accumulators under "rows" / "partials" / "merges"."""
    ensure_shipped(src.sparkSession)
    key_cols = list(key_cols)
    n_keys = len(key_cols)
    lead = [tag_field] if tag_field is not None else []
    out_keys = [f.name for f in lead] + key_cols
    partial_schema = T.StructType(
        lead
        + _key_schema(src, key_cols)
        + [
            T.StructField(_PART_COL, T.IntegerType(), False),
            T.StructField(SKETCH_COL, T.BinaryType(), False),
        ]
    )
    by_stream: dict = {}
    for tag, stream, make_sketch in variants:
        by_stream.setdefault(stream, []).append((tag, make_sketch))
    skip = 0 if tag_field is not None else 1

    def partial_fn(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(partial_schema)
        acc: dict[tuple, object] = {}
        n_rows = 0
        for rb in batches:
            n_rows += rb.num_rows
            codes, uniq = _batch_key_codes(rb, n_keys)
            for stream, vals, row in items(rb, n_keys):
                val_codes = codes if row is None else codes[row]
                order = np.argsort(val_codes, kind="stable")
                bounds = np.searchsorted(val_codes[order], np.arange(len(uniq) + 1))
                for ci, key in enumerate(uniq):
                    seg = order[bounds[ci] : bounds[ci + 1]]
                    # one fancy-index copy per key, shared by every
                    # variant (updates never mutate their input)
                    key_vals = vals[seg] if len(seg) else None
                    for tag, make_sketch in by_stream[stream]:
                        tk = (tag, *key)
                        sk = acc.get(tk)
                        if sk is None:
                            sk = acc[tk] = make_sketch()
                        if key_vals is not None:
                            getattr(sk, update)(key_vals)
        if counters:
            if "rows" in counters:
                counters["rows"].add(n_rows)
            if "partials" in counters:
                counters["partials"].add(len(acc))
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else -1
        rows = [(*tk[skip:], part_id, sk.to_bytes()) for tk, sk in acc.items()]
        cols = [list(c) for c in zip(*rows)] or [[] for _ in arrow_schema]
        yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    partials = src.mapInArrow(partial_fn, schema=partial_schema)
    return _merge_partials(partials, out_keys, salt, counters)


class _CMWeighted:
    """Weighted adapter, CM-approximate occurrence indexing — the
    reference's ACTUAL WeightedSketcher mechanism (wjcm defaults,
    src/dashing.h:252-253,471-485): a per-key sketch
    wrapper whose Count-Min sketch streams occurrence counts, so the
    i-th duplicate of a shingle becomes item hash64(shingle,
    cm_count_so_far) of the wrapped sketch.

    Cost shape vs the exact mode: the exact row_number() window
    shuffles EVERY token occurrence once (no map-side combine is
    possible under a window); here the only shuffle is a repartition of
    the raw doc rows by key — so each key is one stream, the per-file
    granularity the reference runs at — and the CM lives in executor
    memory. Error: CM only OVERcounts (by ≤ εN with ε = e/2^lg_width
    per row, Pr ≥ 1-δ), so colliding shingles skip occurrence slots;
    the multiset estimate inherits that one-sided inflation on top of
    the sketch's own JI error (property-tested bound in
    tests/test_spark_agg.py).

    Vectorization: occurrences of a shingle within one Arrow batch get
    consecutive indices base..base+c-1 with base = the CM estimate
    carried across batches, then one batched CM update per batch —
    batch-granularity CM streaming, same ε bound as element-at-a-time.

    Memory: each live key holds a depth x 2^lg_width int64 counter
    matrix in the executor (2 MiB at the 16/4 defaults). With the
    repartition by key, a partition carries ~(#keys / #partitions)
    counters — for high-cardinality keys (url/site rather than lang)
    size ``cm_lg_width`` down (the eps = e/2^lg_width overcount bound
    trades directly against it) or prefer the exact mode, whose window
    shuffle holds no per-key executor state.

    Skew: one key = one stream = one task, so a giant key serializes
    through a single executor — inherent to streaming occurrence
    indexing (the reference's per-file counter has the same property),
    and bounded by that key's own data, not the table. Keys needing
    parallel exactness should use the exact mode (whose window shuffle
    parallelizes by (key, shingle))."""

    __slots__ = ("sketch", "cm")

    def __init__(self, sketch, cm_lg_width: int, cm_depth: int):
        self.sketch = sketch
        self.cm = CountMinSketch(cm_lg_width, cm_depth)

    def update_hashes(self, vals: np.ndarray) -> "_CMWeighted":
        u, inv, cnt = np.unique(vals, return_inverse=True, return_counts=True)
        base = self.cm.query_hashes(u).astype(np.int64)
        # within-batch cumcount per shingle: group-sort inv, then
        # position minus group start
        g_order = np.argsort(inv, kind="stable")
        starts = np.concatenate(([0], np.cumsum(cnt[:-1])))
        local = np.arange(len(vals), dtype=np.int64) - np.repeat(starts, cnt)
        occ = np.empty(len(vals), dtype=np.int64)
        occ[g_order] = base[inv[g_order]] + local
        self.cm.update_hashes(u, cnt.astype(np.int64))
        with np.errstate(over="ignore"):
            items = hashing.splitmix64(vals ^ hashing.splitmix64(occ.view(np.uint64)))
        self.sketch.update_hashes(items)
        return self

    def to_bytes(self) -> bytes:
        return self.sketch.to_bytes()


def sketch_tokens_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    make_sketch: Callable[[], object],
    text_col: str = "text",
    shingle_w: int = 1,
    seed: int = 0,
    salt: int | None = None,
    weighted: bool = False,
    hasher: str = "arrow",
    counters: dict | None = None,
    cm_lg_width: int = 16,
    cm_depth: int = 4,
) -> DataFrame:
    """One sketch per key over the w-shingle hashes of ``text_col``.

    ``counters`` optionally carries Spark accumulators under keys
    "rows" / "partials" / "merges" — the pipeline's metrics hooks
    (plans/pipeline.py) ride the same kernels instead of duplicating
    them. Ignored with ``weighted=True``.

    ``hasher="arrow"`` (default): tokens are hashed by the numpy
    byte-polynomial kernel directly over Arrow string buffers — zero
    allocation churn on both sides, best parallel scaling.
    ``hasher="jvm"``: split+xxhash64 in whole-stage codegen, int64
    arrays through Arrow — faster single-core on string-heavy rows at
    the cost of JVM allocation/GC pressure at high core counts.
    Both are deterministic; sketches from different hashers are not
    comparable with each other.

    ``weighted=True`` feeds hash64(shingle, occurrence_index) instead —
    the reference's multiset/weighted-Jaccard adapter (WeightedSketcher,
    /root/reference/src/dashing.h:471-485): the i-th duplicate of a
    shingle within its key group becomes a distinct item, so sketch
    cardinalities estimate multiset sizes and JI becomes weighted
    Jaccard. The reference numbers occurrences with a streaming CM
    sketch per file (single-threaded); the distributed-exact equivalent
    is a row_number window over (key, shingle) — one shuffle, then the
    (shingle, occurrence) pair is hashed JVM-side and the normal
    hash-column sketch path takes over. ``weighted="cm"`` is the
    streaming CM mode itself (:class:`_CMWeighted`, Arrow hasher).
    """
    key_cols = list(key_cols)
    make = make_sketch
    if weighted == "cm":
        df, hasher = df.repartition(*key_cols), "arrow"
        make = lambda: _CMWeighted(make_sketch(), cm_lg_width, cm_depth)  # noqa: E731
    elif weighted:
        from pyspark.sql import Window

        if shingle_w == 1:
            items = df.select(
                *key_cols, F.explode(token_hashes_col(text_col, seed)).alias("__ih")
            )
        else:
            items = _shingle_hash_df(df, key_cols, text_col, shingle_w, seed)
        w = Window.partitionBy(*key_cols, "__ih").orderBy(
            F.monotonically_increasing_id()
        )
        items = items.withColumn("__occ", F.row_number().over(w) - 1)
        items = items.withColumn("__h", F.xxhash64("__ih", "__occ"))
        return sketch_hash_col_by_key(items, key_cols, make_sketch, "__h", salt=salt)
    # the hot path: raw text ships as Arrow string buffers; tokenizing,
    # hashing, shingling and sketch updates are whole-batch numpy over
    # those buffers (hash_tokens_arrow) — no JVM string garbage and no
    # Python string objects, so throughput scales with cores instead of
    # being capped by allocator/GC contention
    if hasher == "jvm":
        src = df.select(*key_cols, token_hashes_col(text_col).alias("__th"))
    else:
        src = df.select(*key_cols, text_col)
    return _partial_sketches(
        src,
        key_cols,
        _token_items([shingle_w], seed, hasher),
        [(None, shingle_w, make)],
        salt,
        counters,
    )


def _sketch_tokens_multi(
    df: DataFrame,
    key_cols: Sequence[str],
    tag_field: "T.StructField",
    variants: "list[tuple[object, int, Callable[[], object]]]",
    text_col: str,
    seed: int,
    salt: int | None,
    counters: dict | None = None,
) -> DataFrame:
    """Shared engine for the one-scan sweep kernels: tokens are hashed
    once per Arrow batch and each distinct shingle width among
    ``variants`` ([(tag_value, shingle_w, factory)]) is rolled once.
    Output: (tag, *key_cols, sketch), the tag column named by
    ``tag_field``; each variant's blobs are bit-identical to
    ``sketch_tokens_by_key`` with that (factory, shingle_w) — pinned by
    tests."""
    if any(w < 1 for _, w, _ in variants):
        raise ValueError("shingle widths must be >= 1")
    key_cols = list(key_cols)
    return _partial_sketches(
        df.select(*key_cols, text_col),
        key_cols,
        _token_items(sorted({w for _, w, _ in variants}), seed),
        variants,
        salt,
        counters,
        tag_field,
    )


def sketch_tokens_multi_w(
    df: DataFrame,
    key_cols: Sequence[str],
    make_sketch: Callable[[], object],
    ws: Sequence[int],
    text_col: str = "text",
    seed: int = 0,
    salt: int | None = None,
    counters: dict | None = None,
) -> DataFrame:
    """One sketch per (w, key) for EVERY shingle width in ``ws`` from a
    single scan. The multi-width sweep analogue of the reference's
    mkdist regime (/root/reference/src/mkdistmain.cpp:12-142, one
    subprocess — i.e. one full input pass — per k); at 100 TB the
    input scan dominates, so an n-width sweep must not cost n scans.
    Output columns: (w:int, *key_cols, sketch)."""
    ws = [int(w) for w in ws]
    if len(set(ws)) != len(ws) or not ws:
        raise ValueError(f"ws must be non-empty and distinct, got {ws}")
    return _sketch_tokens_multi(
        df,
        key_cols,
        T.StructField("w", T.IntegerType(), False),
        [(w, w, make_sketch) for w in ws],
        text_col,
        seed,
        salt,
        counters,
    )


def sketch_tokens_multi_type(
    df: DataFrame,
    key_cols: Sequence[str],
    factories: "dict[str, Callable[[], object]]",
    text_col: str = "text",
    shingle_w: int = 1,
    seed: int = 0,
    salt: int | None = None,
    counters: dict | None = None,
) -> DataFrame:
    """One sketch of EVERY type in ``factories`` per key from a single
    scan. The reference runs one process per sketch type (one full
    input pass each, /root/reference/src/dashing.cpp sketch_core); at
    100 TB an n-type comparison study must not cost n scans. Output
    columns: (sketch_type:string, *key_cols, sketch)."""
    factories = dict(factories)
    if not factories:
        raise ValueError("factories must be non-empty")
    return _sketch_tokens_multi(
        df,
        key_cols,
        T.StructField("sketch_type", T.StringType(), False),
        [(name, shingle_w, mk) for name, mk in factories.items()],
        text_col,
        seed,
        salt,
        counters,
    )


def _non_null(df: DataFrame, col: str) -> DataFrame:
    """``df`` without the rows whose ``col`` is null (or NaN, for a
    floating-point column), dropped JVM-side before any sketching."""
    keep = F.col(col).isNotNull()
    if dict(df.dtypes).get(col) in ("float", "double"):
        keep = keep & ~F.isnan(col)
    return df.filter(keep)


def sketch_hash_col_multi_type(
    df: DataFrame,
    key_cols: Sequence[str],
    factories: "dict[str, Callable[[], object]]",
    hash_col: str,
    salt: int | None = None,
) -> DataFrame:
    """Multi-type variant of :func:`sketch_hash_col_by_key`: one scan of
    a precomputed int64 hash column updates EVERY factory's sketch per
    key. Same output shape as :func:`sketch_tokens_multi_type`. Null
    hashes are dropped JVM-side, so a key whose hashes are all null
    yields no row."""
    key_cols = list(key_cols)
    factories = dict(factories)
    if not factories:
        raise ValueError("factories must be non-empty")
    return _partial_sketches(
        _non_null(df, hash_col).select(*key_cols, hash_col),
        key_cols,
        _column_items(np.uint64),
        [(name, None, mk) for name, mk in factories.items()],
        salt,
        tag_field=T.StructField("sketch_type", T.StringType(), False),
    )


def sketch_numeric_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    make_sketch: Callable[[], object],
    value_col: str,
    salt: int | None = None,
) -> DataFrame:
    """One sketch per key over a numeric column (KLL / t-digest path).

    Null / NaN values are dropped JVM-side before sketching — a NaN fed
    into a quantile sketch poisons its compactions (comparisons against
    NaN are false), while exact rank oracles skip nulls; both sides
    must agree on the population."""
    key_cols = list(key_cols)
    return _partial_sketches(
        _non_null(df, value_col).select(*key_cols, value_col),
        key_cols,
        _column_items(np.float64),
        [(None, None, make_sketch)],
        salt,
        update="update_batch",
    )


def sketch_hash_col_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    make_sketch: Callable[[], object],
    hash_col: str,
    salt: int | None = None,
) -> DataFrame:
    """One sketch per key over a precomputed int64 hash column (e.g.
    ``F.xxhash64(...)`` kept JVM-side). Null hashes are dropped
    JVM-side, so a key whose hashes are all null yields no row."""
    key_cols = list(key_cols)
    return _partial_sketches(
        _non_null(df, hash_col).select(*key_cols, hash_col),
        key_cols,
        _column_items(np.uint64),
        [(None, None, make_sketch)],
        salt,
    )


def _merge_blobs(columns):
    """Merge the sketch blobs of an iterable of Arrow arrays in arrival
    order, one array's blobs at a time; None when there are none."""
    acc = None
    for col in columns:
        for b in col.to_pylist():
            if acc is None:
                acc = sketch_from_bytes(b)
            else:
                acc.merge(sketch_from_bytes(b))
    return acc


def _merge_groups(
    df: DataFrame, key_cols: Sequence[str], acc_merges=None
) -> DataFrame:
    """One merged sketch per ``key_cols`` group, as a grouped Arrow UDF.

    Spark does the grouping, so null keys, NaN and -0.0 group as in any
    ``groupBy``, and each group reaches Python as one Arrow table (one
    group in memory at a time). The group's blobs merge in arrival
    order; the output row is the group's key slice plus one blob."""
    key_cols = list(key_cols)

    def merge(table):
        import pyarrow as pa

        sk = _merge_blobs(table.column(SKETCH_COL).chunks)
        if acc_merges is not None:
            acc_merges.add(table.num_rows - 1)
        return (
            table.select(key_cols)
            .slice(0, 1)
            .append_column(SKETCH_COL, pa.array([sk.to_bytes()], pa.binary()))
        )

    return (
        df.select(*key_cols, SKETCH_COL)
        .groupBy(*key_cols)
        .applyInArrow(merge, schema=_result_schema(df, key_cols))
    )


def _partition_count_without_job(df: DataFrame) -> int | None:
    """``df``'s partition count when reading it runs no Spark job, else
    None. That needs a batch plan with no exchange and no subquery:
    either one puts AQE in the plan, and AQE answers a partition count
    by running the stages below it (a cached relation prints its plan,
    so an exchange inside a not-yet-materialized cache counts too)."""
    if df.isStreaming:
        return None
    plan = df._jdf.queryExecution().executedPlan()
    text = plan.toString()
    if any(s in text for s in ("Exchange", "Subquery", "AdaptiveSparkPlan")):
        return None
    return plan.execute().getNumPartitions()


def _merge_partials(
    partials: DataFrame,
    key_cols: Sequence[str],
    salt: int | None,
    counters: dict | None = None,
) -> DataFrame:
    acc_merges = (counters or {}).get("merges")
    if salt and salt > 1:
        # the partial stage emits at most one row per key per partition,
        # so with P <= salt partitions every (key, part % salt) group is
        # a single partial and the salt level would merge nothing
        n_parts = _partition_count_without_job(partials)
        if n_parts is None or n_parts > salt:
            # explicit tree level: cap fan-in per merge task (par_reduce
            # analogue, /root/reference/src/union.cpp:10-24)
            salted = partials.withColumn(
                "__salt", F.pmod(F.col(_PART_COL), F.lit(salt)).cast("int")
            )
            partials = _merge_groups(salted, [*key_cols, "__salt"], acc_merges)
    return _merge_groups(partials, key_cols, acc_merges)


def merge_sketches_by_key(
    sketches: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """Merge a (key..., sketch) table down to one sketch per key — the
    cross-table union path (`dashing union` over sketch files built in
    separate runs, /root/reference/src/union.cpp:32-58). Input rows may
    come from different builds (e.g. different precisions after
    `fold_expr`); blobs under one key must be merge-compatible."""
    ensure_shipped(sketches.sparkSession)
    return _merge_groups(sketches, key_cols)


def union_all_sketches(sketches: DataFrame, sketch_col: str = SKETCH_COL) -> DataFrame:
    """Merge every sketch in a table into ONE — `dashing union`
    (/root/reference/src/union.cpp:32-58). Partition-level partial merge
    (mapInArrow) then a single final merge, i.e. a two-level tree."""
    ensure_shipped(sketches.sparkSession)
    schema = T.StructType([T.StructField(SKETCH_COL, T.BinaryType(), False)])

    def partial(batches):
        import pyarrow as pa

        acc = _merge_blobs(rb.column(0) for rb in batches)
        if acc is not None:
            yield pa.RecordBatch.from_arrays(
                [pa.array([acc.to_bytes()], pa.binary())], names=[SKETCH_COL]
            )

    partials = sketches.select(sketch_col).mapInArrow(partial, schema=schema)
    return _merge_groups(partials, []).withColumnRenamed(SKETCH_COL, sketch_col)


def estimate_expr(estimator: str = "default"):
    """pandas UDF: sketch blob -> cardinality/count estimate (double).
    The reference's cardinality projection (src/dashing.h:488-495).
    ``estimator`` names an HLL estimator (sketch types with one
    estimator ignore it); an unknown name raises ValueError here, not
    in the first task."""
    resolve_estimator(estimator)

    @F.pandas_udf(T.DoubleType())
    def _est(blobs: pd.Series) -> pd.Series:
        return blobs.map(lambda b: float(sketch_from_bytes(b).estimate(estimator)))

    return _est


def quantile_expr(qs: Sequence[float]):
    """pandas UDF: quantile-sketch blob -> array<double> of quantiles."""
    qarr = list(qs)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _q(blobs: pd.Series) -> pd.Series:
        return blobs.map(
            lambda b: np.asarray(sketch_from_bytes(b).quantile(qarr), dtype=float).tolist()
        )

    return _q


def fold_expr(p_new: int):
    """pandas UDF: HLL blob -> HLL blob folded to precision p_new
    (`dashing fold`, /root/reference/src/dashing.cpp:570-590)."""

    @F.pandas_udf(T.BinaryType())
    def _fold(blobs: pd.Series) -> pd.Series:
        return blobs.map(lambda b: sketch_from_bytes(b).fold(p_new).to_bytes())

    return _fold


