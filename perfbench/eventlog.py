"""Per-operation Spark accounting, read from the session's own event
log after the run (so collection stays off the timed path).

The benchmark sets one job group per operation; every job carries its
group in its properties, every stage belongs to jobs, every task to a
stage, and SQL executions are tied to groups through their jobs. From
that the parser sums, per group:

- ``plan.*``: jobs, stages, tasks, task run/CPU/GC time, shuffle bytes
  and records, spill, broadcast bytes, and the part of the operation's
  wall time during which no stage of it was running (``driver_gap_s``);
- ``boundary.*``: the Python SQL metrics of the pandas/Arrow UDF nodes
  (bytes sent and received, rows received, worker boot and run time);
- ``agg``-stage task time, split by the SQL node the stage runs
  (``MapInArrow`` partial vs ``FlatMapGroupsInPandas`` merge).
"""

from __future__ import annotations

import collections
import json
import os

# Python UDF SQL metric names (PythonSQLMetrics, Spark 4.x)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_RUN = "time to run Python workers"
PY_ROWS = "number of output rows"
BROADCAST_SIZE = "data size"


def read_events(log_dir: str, app_id: str):
    """Yield the JSON events of application ``app_id`` from an
    uncompressed event log (single file or a rolling ``eventlog_v2_*``
    directory)."""
    candidates = [os.path.join(log_dir, app_id), os.path.join(log_dir, f"eventlog_v2_{app_id}")]
    path = next((p for p in candidates if os.path.exists(p)), None)
    if path is None:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    files = (
        sorted(
            (os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(os.path.basename(f).split("_")[1]),
        )
        if os.path.isdir(path)
        else [path]
    )
    for name in files:
        with open(name) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _walk_plan(info, out: list) -> None:
    out.append(info)
    for child in info.get("children", ()):
        _walk_plan(child, out)


class _Op:
    __slots__ = ("jobs", "executions")

    def __init__(self):
        self.jobs, self.executions = set(), set()


def summarize(events, windows: dict) -> dict:
    """Per-group totals. ``windows`` maps job group -> (start_ms, end_ms)
    of the operation's wall-clock interval."""
    ops = collections.defaultdict(_Op)
    stage_group: dict[int, str] = {}
    stage_span: dict[int, tuple] = {}
    stage_scopes: dict[int, set] = collections.defaultdict(set)
    task_sums = collections.defaultdict(lambda: collections.Counter())
    accum_update = collections.Counter()  # accumulator id -> summed task updates
    driver_accum = collections.Counter()
    plan_nodes: dict[int, list] = collections.defaultdict(list)
    events = list(events)

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group not in windows:
                continue
            op = ops[group]
            op.jobs.add(ev["Job ID"])
            if props.get("spark.sql.execution.id") is not None:
                op.executions.add(int(props["spark.sql.execution.id"]))
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            if ev.get("jobGroupId") in windows:
                ops[ev["jobGroupId"]].executions.add(int(ev["executionId"]))
            nodes: list = []
            _walk_plan(ev["sparkPlanInfo"], nodes)
            plan_nodes[int(ev["executionId"])].extend(nodes)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            # driver-side metrics (broadcast size) are set, not added
            for acc_id, value in ev.get("accumUpdates", ()):
                driver_accum[int(acc_id)] = max(driver_accum[int(acc_id)], int(value))

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid not in stage_group:
                continue
            if "Submission Time" in info and "Completion Time" in info:
                stage_span[sid] = (info["Submission Time"], info["Completion Time"])
            for rdd in info.get("RDD Info", ()):
                scope = rdd.get("Scope")
                if scope:
                    stage_scopes[sid].add(json.loads(scope).get("name", ""))
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_group:
                continue
            m = ev.get("Task Metrics") or {}
            s = task_sums[sid]
            s["tasks"] += 1
            s["run_ms"] += m.get("Executor Run Time", 0)
            s["cpu_ns"] += m.get("Executor CPU Time", 0)
            s["gc_ms"] += m.get("JVM GC Time", 0)
            s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            s["sw_bytes"] += sw.get("Shuffle Bytes Written", 0)
            s["sw_records"] += sw.get("Shuffle Records Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            s["sr_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                upd = acc.get("Update")
                if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.isdigit()):
                    accum_update[int(acc["ID"])] += int(upd)

    out = {}
    for group, (start_ms, end_ms) in windows.items():
        op = ops.get(group, _Op())
        # stages that ran (a job lists skipped stages too)
        sids = [s for s, g in stage_group.items() if g == group and s in stage_span]
        op_sums = collections.Counter()
        for sid in sids:
            op_sums.update(task_sums.get(sid, {}))
        # python UDF nodes and broadcast exchanges of the op's executions
        py = collections.Counter()
        broadcast = 0
        seen = set()
        for eid in op.executions:
            for node in plan_nodes.get(eid, ()):
                metrics = {mt["name"]: int(mt["accumulatorId"]) for mt in node.get("metrics", ())}
                key = tuple(sorted(metrics.values()))
                if key in seen:
                    continue  # one node re-announced by AQE or by another execution
                seen.add(key)
                if PY_SENT in metrics:
                    py["sent"] += accum_update[metrics[PY_SENT]]
                    py["recv"] += accum_update[metrics.get(PY_RECV, -1)]
                    py["rows"] += accum_update[metrics.get(PY_ROWS, -1)]
                    py["boot_ms"] += accum_update[metrics.get(PY_BOOT, -1)]
                    py["run_ms"] += accum_update[metrics.get(PY_RUN, -1)]
                    if node.get("nodeName") == "MapInArrow":
                        py["partial_rows"] += accum_update[metrics.get(PY_ROWS, -1)]
                if node.get("nodeName") == "BroadcastExchange" and BROADCAST_SIZE in metrics:
                    broadcast += driver_accum[metrics[BROADCAST_SIZE]]
        out[group] = {
            "jobs": len(op.jobs),
            "stages": len(sids),
            "tasks": op_sums["tasks"],
            "task_run_s": op_sums["run_ms"] / 1e3,
            "task_cpu_s": op_sums["cpu_ns"] / 1e9,
            "gc_s": op_sums["gc_ms"] / 1e3,
            "shuffle_write_bytes": op_sums["sw_bytes"],
            "shuffle_read_bytes": op_sums["sr_bytes"],
            "shuffle_records": op_sums["sw_records"],
            "spill_bytes": op_sums["spill"],
            "broadcast_bytes": broadcast,
            "driver_gap_s": _uncovered_s(start_ms, end_ms, [stage_span[s] for s in sids]),
            "python_bytes_sent": py["sent"],
            "python_bytes_received": py["recv"],
            "python_rows_received": py["rows"],
            "python_boot_s": py["boot_ms"] / 1e3,
            "python_run_s": py["run_ms"] / 1e3,
            "partial_rows": py["partial_rows"],
            "partial_stage_task_s": sum(
                task_sums[s]["run_ms"] for s in sids if "MapInArrow" in stage_scopes[s]
            ) / 1e3,
            "merge_stage_task_s": sum(
                task_sums[s]["run_ms"] for s in sids
                if "FlatMapGroupsInPandas" in stage_scopes[s]
            ) / 1e3,
        }
    return out


def _uncovered_s(start_ms: float, end_ms: float, spans) -> float:
    """Length of [start, end] not covered by any of ``spans``, in s."""
    covered, cursor = 0.0, start_ms
    for s, e in sorted(spans):
        s, e = max(s, cursor), min(e, end_ms)
        if e > s:
            covered += e - s
            cursor = e
    return max(0.0, (end_ms - start_ms) - covered) / 1e3
