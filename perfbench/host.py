"""Host facts and process-tree memory, read from /proc."""

from __future__ import annotations

import gc
import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    """CPUs this process may run on, as ``nproc`` reports them."""
    return len(os.sched_getaffinity(0))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants: this process,
    the driver JVM it launched and the JVM's Python workers."""
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def retained_bytes(spark) -> dict:
    """Memory the system still holds after a workload: the driver JVM's
    heap (after full collections) and non-heap in use.  Unlike peak RSS
    it does not depend on when the collector grew the heap, nor on how
    many Python workers the scheduler happened to keep alive.  The
    driver's Python process is left out: it also holds the benchmark's
    own generator state, oracles and sampled answers."""
    # JVM objects the Python side no longer references stay reachable
    # until Python collects their gateway proxies
    gc.collect()
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # each collection lets Spark's ContextCleaner see dropped references
    # and release what they held, which a later collection frees; the
    # chain takes a few seconds, so collect on a fixed schedule and keep
    # the least heap in use seen
    heap = None
    for _ in range(12):
        jvm.System.gc()
        time.sleep(0.25)
        used = mx.getHeapMemoryUsage().getUsed()
        heap = used if heap is None else min(heap, used)
    return {"heap": heap, "non_heap": mx.getNonHeapMemoryUsage().getUsed()}


class RssMonitor:
    """Samples the process tree's resident memory on a thread and keeps
    the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssMonitor:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostWatch:
    """nproc, load average and CPU steal over an interval."""

    def __enter__(self) -> HostWatch:
        self._t0 = _cpu_times()
        self.load_start = os.getloadavg()
        return self

    def __exit__(self, *exc) -> None:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self._t0, t1)]
        total = sum(d[:8]) or 1
        self.steal_pct = 100.0 * (d[7] if len(d) > 7 else 0) / total
        self.load_end = os.getloadavg()

    def record(self) -> dict:
        return {
            "nproc": nproc(),
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in self.load_end],
            "steal_pct": round(self.steal_pct, 3),
        }
