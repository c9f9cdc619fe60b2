"""Per-layer metrics of a traced run.

Layers (metric prefixes) and where their numbers come from:

- ``functions.*``: the public numpy kernels replayed on one core with
  no Spark, on Arrow slices of the workload's own corpus;
- ``boundary.*``: the Python UDF SQL metrics of each operation, and
  ``overhead_s``, the UDF run time minus the replayed kernel time for
  the same rows;
- ``plan.*``: jobs, stages, tasks, task time and data movement of each
  operation, from the event log;
- ``agg.*``: the two-stage sketch aggregation (``sketch_build``);
- ``setup.*``, ``host.*`` and ``trace.*``: set-up parts, the memcpy
  sentinel and the tracing overhead.

Every workload reports every metric; one that does not apply to a
workload (``agg.*`` off ``sketch_build``) reads 0. Per-operation numbers are medians over the
traced loop's operations.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

REPLAY_DOCS = 4000  # corpus prefix the kernels are replayed on
PAIR_SKETCHES = 48  # sketches in the replayed pair panel (1128 pairs)
KERNEL_UNITS = {
    "hash_tokens_arrow.tokens_per_s": "tokens/s",
    "shingle_hashes.items_per_s": "items/s",
    "hll_update.items_per_s": "items/s",
    "hll_merge.sketches_per_s": "sketches/s",
    "serde.mb_per_s": "MB/s",
    "pair_kernel.pairs_per_s": "pairs/s",
}


def _rate(fn, items: float, min_s: float = 0.15, rounds: int = 3) -> float:
    """Items per second of ``fn``: best of ``rounds``, each repeating
    ``fn`` for at least ``min_s``."""
    best = 0.0
    for _ in range(rounds):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        best = max(best, n * items / dt)
    return best


def replay_kernels(bench) -> dict:
    """Single-core rates of the ``functions`` kernels the workloads'
    UDFs run, on slices of the workload's corpus."""
    from dashing_spark.functions import hashing
    from dashing_spark.functions.compare import (
        measure_from_triple_batch,
        triple_batch_from_blobs,
    )
    from dashing_spark.functions.hll import HLL
    from dashing_spark.functions.serde import sketch_from_bytes
    from workloads import DistancePanel

    text = bench.corpus.table.column("text").combine_chunks()
    text = text.slice(0, min(len(text), REPLAY_DOCS))
    slices = [text.slice(i * len(text) // 8, len(text) // 8) for i in range(8)]
    hashed = [hashing.hash_tokens_arrow(s) for s in slices]
    n_tok = sum(len(th) for th, _ in hashed)
    shingled = [hashing.shingle_hashes(th, lens, w=1)[0] for th, lens in hashed]
    p = getattr(bench, "p", 14)
    sketches = [HLL(p).update_hashes(sh) for sh in shingled]
    blobs = [s.to_bytes() for s in sketches]

    def merge_all():
        acc = HLL(p)
        for s in sketches:
            acc.merge(s)

    def serde():
        for s in sketches:
            sketch_from_bytes(s.to_bytes())

    # pair panel: PAIR_SKETCHES sketches at the distance panel's
    # precision, all pairs
    flat = np.concatenate(shingled)
    panel = [
        HLL(DistancePanel.p).update_hashes(part).to_bytes()
        for part in np.array_split(flat, PAIR_SKETCHES)
    ]
    ia, ib = np.triu_indices(PAIR_SKETCHES, k=1)
    a_blobs = [panel[i] for i in ia]
    b_blobs = [panel[j] for j in ib]

    def pair_kernel():
        t0, t1, t2 = triple_batch_from_blobs(a_blobs, b_blobs)
        for m in ("ji", "mash_dist", "containment"):
            measure_from_triple_batch(t0, t1, t2, m)

    return {
        "hash_tokens_arrow.tokens_per_s": _rate(
            lambda: [hashing.hash_tokens_arrow(s) for s in slices], n_tok),
        "shingle_hashes.items_per_s": _rate(
            lambda: [hashing.shingle_hashes(th, lens, w=1) for th, lens in hashed], n_tok),
        "hll_update.items_per_s": _rate(
            lambda: [HLL(p).update_hashes(sh) for sh in shingled], n_tok),
        "hll_merge.sketches_per_s": _rate(merge_all, len(sketches)),
        "serde.mb_per_s": _rate(serde, sum(map(len, blobs)) / 1e6),
        "pair_kernel.pairs_per_s": _rate(pair_kernel, len(ia)),
    }


def _replay_s(bench, kernels: dict, op: dict) -> float:
    """Kernel time, at the replayed single-core rates, for the rows one
    operation's UDFs processed."""
    info = bench.layer_info()
    if bench.name == "sketch_build":
        tokens = info["tokens"]
        partials = op["partial_rows"]
        blob_mb = partials * ((1 << info["p"]) + 6) / 1e6
        return (
            tokens / kernels["hash_tokens_arrow.tokens_per_s"]
            + tokens / kernels["shingle_hashes.items_per_s"]
            + tokens / kernels["hll_update.items_per_s"]
            + partials / kernels["hll_merge.sketches_per_s"]
            + 2 * blob_mb / kernels["serde.mb_per_s"]  # to_bytes, then from_bytes
        )
    return info["pairs"] / kernels["pair_kernel.pairs_per_s"]  # distance_panel


PLAN_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records",
    "broadcast_bytes", "spill_bytes", "driver_gap_s",
)
PLAN_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
              "shuffle_records": "records"}
BOUNDARY_KEYS = (
    "python_bytes_sent", "python_bytes_received", "python_rows_received",
    "python_run_s", "python_boot_s",
)


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if key.endswith("_bytes") or key.startswith("python_bytes"):
        return "B"
    return PLAN_UNITS.get(key, "rows")


def per_layer_metrics(bench, loop, summary: dict, kernels: dict, *,
                      untraced_op_s_p50: float, setup: dict, memcpy,
                      steal: float) -> dict:
    """name -> (value, unit) for every per-layer metric."""
    ops = [summary[r.group] for r in loop.records]
    info = bench.layer_info()
    med = lambda xs: float(statistics.median(xs)) if xs else 0.0  # noqa: E731
    out = {}
    for k, v in kernels.items():
        out[f"functions.{k}"] = (v, KERNEL_UNITS[k])
    for k in BOUNDARY_KEYS:
        out[f"boundary.{k}"] = (med([o[k] for o in ops]), "rows" if "rows" in k else _unit(k))
    replay = [_replay_s(bench, kernels, o) for o in ops]
    out["boundary.overhead_s"] = (
        med([o["python_run_s"] - r for o, r in zip(ops, replay)]), "s")
    for k in PLAN_KEYS:
        out[f"plan.{k}"] = (med([o[k] for o in ops]), _unit(k))
    out["plan.shuffle_records_per_output_row"] = (
        med([o["shuffle_records"] / max(r.rows, 1) for o, r in zip(ops, loop.records)]),
        "records/row",
    )

    agg_on = bench.name == "sketch_build"
    keys = info.get("keys", 1)
    out["agg.partial_stage_task_s"] = (
        med([o["partial_stage_task_s"] for o in ops]) if agg_on else 0.0, "s")
    out["agg.merge_stage_task_s"] = (
        med([o["merge_stage_task_s"] for o in ops]) if agg_on else 0.0, "s")
    out["agg.partials_per_key"] = (
        med([o["partial_rows"] / keys for o in ops]) if agg_on else 0.0, "partials/key")

    for k in ("session_s", "generate_s", "load_s", "warmup_s"):
        out[f"setup.{k}"] = (setup[k], "s")
    out["host.memcpy_gbps_start"] = (memcpy[0], "GB/s")
    out["host.memcpy_gbps_end"] = (memcpy[1], "GB/s")
    out["host.cpu_steal_share"] = (steal, "ratio")
    traced_p50 = med(loop.op_s)
    out["trace.op_s_p50"] = (traced_p50, "s")
    out["trace.overhead_ratio"] = (traced_p50 / untraced_op_s_p50 - 1.0, "ratio")
    return out
