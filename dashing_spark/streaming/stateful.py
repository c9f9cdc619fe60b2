"""Custom stateful streaming sketches via applyInPandasWithState.

The foreachBatch path (streaming/incremental.py) owns durable,
epoch-committed state on storage; this module is the OTHER Structured
Streaming state mechanism — engine-managed per-key state inside the
streaming state store — for pipelines that want the sketch to live
with the query (checkpointed by the engine, no side directory).

Per key, the state value is one serialized sketch blob; every
micro-batch the handler deserializes it, folds the batch's hashes in
(vectorized numpy — the per-key batch arrives as pandas chunks), and
emits the refreshed estimate. Sketches are monoids, so the emitted
estimate after an availableNow run is independent of micro-batch
boundaries — asserted against the batch build in tests.

Scale shape: state is O(#keys × sketch bytes) in the state store,
updates are append-free (register max / bottom-k merge), and the
shuffle per micro-batch is the same hash-partition-by-key the batch
aggregation pays. This is the applyInPandasWithState pattern from the
Structured Streaming guide, carrying binary sketch state instead of
counters.
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from dashing_spark.functions.hll import resolve_estimator
from dashing_spark.operators.ship import ensure_shipped


def stateful_sketch_stream(
    stream: DataFrame,
    key_cols: Sequence[str],
    make_sketch: Callable[[], object],
    hash_col: str,
    estimator: str = "default",
):
    """Transform a streaming DataFrame with an int64 ``hash_col`` into a
    per-key (keys..., estimate, n_updates) stream maintained by
    engine-managed state. Returns the transformed streaming DataFrame —
    attach your own writeStream sink. ``estimator`` names an HLL
    estimator (sketch types with one estimator ignore it); an unknown
    name raises ValueError here, not in the first micro-batch."""
    resolve_estimator(estimator)
    ensure_shipped(stream.sparkSession)
    key_cols = list(key_cols)
    # fields MUST follow key_cols order — the groupBy key tuple arrives
    # in that order, and schema-order fields would silently transpose
    # key values whenever the stream schema lists them differently
    by_name = {f.name: f for f in stream.schema.fields}
    key_fields = [by_name[c] for c in key_cols]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("estimate", T.DoubleType(), False),
            T.StructField("n_updates", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("blob", T.BinaryType(), True),
            T.StructField("n", T.LongType(), True),
        ]
    )

    def fn(key, pdf_iter, state):
        import numpy as np

        from dashing_spark.functions.serde import sketch_from_bytes

        if state.exists:
            blob, n = state.get
            sk = sketch_from_bytes(bytes(blob))
            n = int(n)
        else:
            sk = make_sketch()
            n = 0
        for pdf in pdf_iter:
            h = pdf[hash_col].to_numpy(dtype="int64").view(np.uint64)
            sk.update_hashes(h)
            n += len(h)
        state.update((bytearray(sk.to_bytes()), n))
        yield pd.DataFrame(
            [list(key) + [float(sk.estimate(estimator)), n]],
            columns=[f.name for f in out_schema.fields],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.select(*key_cols, hash_col)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
