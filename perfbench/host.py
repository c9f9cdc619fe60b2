"""Host facts for every run: the environment record, a memcpy
bandwidth sentinel, and a peak-memory sampler for the driver's process
tree (this Python process, the Spark JVM it launched and the JVM's
Python workers)."""

from __future__ import annotations

import os
import platform
import threading
import time

import numpy as np


def memcpy_gbps(mb: int = 64, repeats: int = 5) -> float:
    """Best-of-``repeats`` single-core copy bandwidth in GB/s — a
    sentinel that tells records from different hosts (or a host under
    load) apart."""
    src = np.ones(mb << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return src.nbytes / best / 1e9


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from
    ``/proc/stat``; (0, 0) where it cannot be read."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks()`` readings: a gauge of contention from other tenants
    of a shared host, which the memcpy sentinel hardly shows."""
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def environment(spark_conf: dict) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "machine": platform.machine(),
        "mem_total_mb": _mem_total_mb(),
        "spark_conf": dict(sorted(spark_conf.items())),
    }


def _mem_total_mb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        return None
    return None


def _children() -> dict[int, list[tuple[int, str]]]:
    """ppid -> (pid, start time) of each live process. The start time
    and the pid together name one process even if pids are reused."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat(int(name))
        if fields is not None and fields[0] != "Z":
            kids.setdefault(int(fields[1]), []).append((int(name), fields[19]))
    return kids


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _alive(proc: tuple[int, str]) -> bool:
    fields = _stat(proc[0])
    return fields is not None and fields[0] != "Z" and fields[19] == proc[1]


def descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live descendant of ``root``."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        for proc in kids.get(todo.pop(), ()):
            todo.append(proc[0])
            out.append(proc)
    return out


def end_processes(procs, grace_s: float = 10.0) -> None:
    """Wait until every process of ``procs`` ((pid, start time) pairs)
    has ended: SIGTERM those still alive, then SIGKILL whatever outlives
    ``grace_s``."""
    import signal

    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p in procs if _alive(p)]
        for pid, _ in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + grace_s
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = [p for p in left if _alive(p)]
        if not left:
            return


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default:
    this process), its live descendants and the descendants they have
    reaped. Time the hypervisor gave to other guests is not in it."""
    root = os.getpid() if root is None else root
    ticks = 0
    for pid in [root] + [p for p, _ in descendants(root)]:
        fields = _stat(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants on a background thread; ``peak`` is the largest sample
    seen. Each process counts its proportional share (PSS) of the pages
    it shares, so the Python workers forked from one daemon are not
    counted once per fork. ``seen`` holds every descendant sampled, so
    that processes which outlive their parent can still be stopped."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self.seen: set[tuple[int, str]] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            procs = descendants(root)
            self.seen.update(procs)
            total = _pss_bytes(root) + sum(_pss_bytes(pid) for pid, _ in procs)
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
