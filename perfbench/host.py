"""Host state recorded with every run (not gated, but it makes a noisy
run attributable), and the peak-RSS sampler for the JVM plus every
Python process of the run."""

from __future__ import annotations

import os
import platform
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: on a shared host, the usual cause of a run
    slower than its neighbours."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def versions() -> dict:
    import numpy
    import pyspark

    return {
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "spark": pyspark.__version__,
    }


def dispatch_floor_ms(spark, reps: int = 5) -> float:
    """Median wall time of a trivial one-job query: the fixed cost every
    job pays on this host."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        spark.range(1).collect()
        times.append((time.perf_counter() - t) * 1000.0)
    return statistics.median(times)


def _children(pid: int) -> list[int]:
    """Direct children of ``pid``, from each of its threads' children list."""
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out  # exited
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def wait_gone(pids, timeout_s: float) -> None:
    """Wait until every pid has exited; kill what is left at the end."""
    end = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < end:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


class RssSampler:
    """Samples the summed resident set of this process and all of its
    descendants (the JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return False
