"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sketch_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run is a closed loop with one
client: one driver process, Spark ``local[nproc]``, and each operation
starts when the previous one (and its output check) has finished.

1. Set-up, ``SETUPS`` times: start a Spark session, generate the corpus
   from the seed, write it as parquet, and load and cache it.
   ``setup_s`` is the median of all but the first set-up, which also
   pays the JVM launch. The expected outputs are then computed once,
   outside ``setup_s``.
2. Warm-up: untimed cycles (Python workers, JIT, plan caches).
3. Measure: whole cycles of operations until ``--seconds`` have passed.

With ``--trace 1`` the same three steps run with the Spark event log
on, and every operation runs under its own job group. The log is
parsed after the session stops, so collection stays off the timed
path. Then the ``functions`` kernels are replayed on one core with no
Spark, and a last untraced session loads, warms up and measures again:
``trace.overhead_ratio`` compares the traced loop with it. That loop
has had more warm-up than the traced one, so the ratio is an upper
bound on the tracing overhead. A traced run prints the per-layer
metrics; end-to-end metrics come only from untraced runs.

Everything the run writes goes under ``.perfbench_work/`` in the
current directory, which is removed at the end. Before the run exits
(SIGTERM included) it stops the Spark JVM and waits until every process
it started has ended. The last line of standard output is the result
JSON; the line before it is a record of the environment, knobs, CPU
steal and every operation.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 4


def _spark_conf(work: str, traced: bool) -> dict:
    nproc = os.cpu_count() or 1
    conf = {
        "spark.master": f"local[{nproc}]",
        "spark.app.name": "perfbench",
        # the corpora here need well under 1 GB of heap. A fixed,
        # pre-touched heap keeps the JVM's resident size from drifting
        # with GC sizing choices, which otherwise dominates the
        # run-to-run spread of peak_rss_mb
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(2 * nproc),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    # set either way: a session restarted in the same JVM inherits the
    # launch-time settings it does not override
    conf["spark.eventLog.enabled"] = "true" if traced else "false"
    if traced:
        conf.update({
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _start_session(conf: dict):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_processes(seen) -> None:
    """Stop the Spark JVM this process launched, and wait until it and
    every other process this one started (``seen`` and the live
    descendants: the JVM's Python workers, a launcher) have ended.
    ``spark.stop()`` leaves the JVM running until this process exits,
    and it would then outlive the run for a while."""
    import host

    procs = set(seen) | set(host.descendants(os.getpid()))
    if "pyspark" not in sys.modules:
        host.end_processes(procs)
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    host.end_processes(procs)


@dataclasses.dataclass
class Loop:
    """The operations of one measured loop."""

    records: list
    attempted: int
    failed: int
    problems: list

    @property
    def op_s(self) -> list:
        return [r.seconds for r in self.records]


def _measure(spark, bench, timer, seconds: float) -> Loop:
    records, problems = [], []
    attempted = failed = 0
    t0 = time.perf_counter()
    while True:
        n_before = timer.n
        try:
            recs = bench.cycle(spark, timer)
        except Exception:  # an operation that raises counts as failed
            traceback.print_exc()
            attempted += max(1, timer.n - n_before)
            failed += 1
            problems.append(traceback.format_exc(limit=1).strip().splitlines()[-1])
            recs = []
        for r in recs:
            attempted += 1
            records.append(r)
            if r.problems:
                failed += 1
                problems.extend(r.problems)
        if time.perf_counter() - t0 >= seconds:
            break
    return Loop(records, attempted, failed, problems)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # every temp file of this process, the JVMs and the Python workers
    # stays inside the checkout (-UsePerfData: no /tmp/hsperfdata_*)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [root, HERE]
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import host

    rss = host.PeakRss()
    try:
        return _run(args, work, rss)
    finally:
        rss.stop()
        _stop_processes(rss.seen)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(args, work: str, rss) -> int:
    # the program under test is the checkout's own package
    if not os.path.isfile(os.path.join(os.getcwd(), "dashing_spark", "__init__.py")):
        print("perfbench: no dashing_spark/ package in the current directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    import corpus
    import eventlog
    import host
    import layers
    from workloads import WORKLOADS, Timer

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    memcpy_start = host.memcpy_gbps()
    bench = WORKLOADS[args.workload](args.seed, work)
    conf = _spark_conf(work, traced=bool(args.trace))
    spark = None
    with rss:
        try:
            setups = []
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = _start_session(conf)
                t1 = time.perf_counter()
                bench.generate()
                t2 = time.perf_counter()
                bench.load(spark)
                t3 = time.perf_counter()
                setups.append({"session_s": t1 - t0, "generate_s": t2 - t1,
                               "load_s": t3 - t2, "total_s": t3 - t0})
            t0 = time.perf_counter()
            bench.prepare_oracle()
            oracle_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            warm = bench.warmup(spark, Timer(spark, "warmup"))
            warmup_s = time.perf_counter() - t0
            timer = Timer(spark, "op")
            ticks = host.cpu_ticks()
            loop = _measure(spark, bench, timer, args.seconds)
            steal = host.steal_share(ticks, host.cpu_ticks())
            if args.trace:
                app_id = spark.sparkContext.applicationId
                spark.stop()  # flushes and closes the event log
                spark = None
                events = eventlog.read_events(os.path.join(work, "eventlog"), app_id)
                summary = eventlog.summarize(events, timer.windows)
                kernels = layers.replay_kernels(bench)
                spark = _start_session(_spark_conf(work, traced=False))
                bench.load(spark)
                bench.warmup(spark, Timer(spark, "warmup"))
                untraced = _measure(spark, bench, Timer(spark, "op"), args.seconds)
        finally:
            if spark is not None:
                spark.stop()
        peak_rss = rss.peak
    memcpy_end = host.memcpy_gbps()

    setup_s = statistics.median(s["total_s"] for s in setups[1:])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "environment": host.environment(conf),
        "knobs": corpus.settings(bench.knobs),
        "setups": setups,
        "oracle_s": oracle_s,
        "warmup_s": warmup_s,
        "op_s": loop.op_s,
        "op_cpu_s": [r.cpu_s for r in loop.records],
        "checksums": [r.checksum for r in loop.records if r.checksum],
        "problems": [p for r in warm for p in r.problems] + loop.problems[:20],
        "memcpy_gbps": [memcpy_start, memcpy_end],
        "cpu_steal_share": steal,
        "layer_info": bench.layer_info(),
    }
    # a warm-up operation with a wrong output counts as failed too
    attempted = len(warm) + loop.attempted
    failed = sum(1 for r in warm if r.problems) + loop.failed
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s_p50": (statistics.median(loop.op_s), "s"),
            "items_per_s": (
                statistics.median(r.items / r.seconds for r in loop.records), "items/s"
            ),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
        }
    else:
        record["untraced_op_s"] = untraced.op_s
        record["problems"] += untraced.problems[:20]
        metrics = layers.per_layer_metrics(
            bench, loop, summary, kernels,
            untraced_op_s_p50=statistics.median(untraced.op_s),
            setup=dict(setups[-1], warmup_s=warmup_s),
            memcpy=(memcpy_start, memcpy_end),
            steal=steal,
        )
        attempted += untraced.attempted
        failed += untraced.failed
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
