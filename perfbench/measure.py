"""Process-tree CPU and memory from /proc, host regime evidence.

The benchmark process, its JVM and the JVM's Python workers form one
process tree; ``TreeSampler`` reads that tree's CPU seconds and peak
resident memory over a timed region.  ``host_sample``/``host_pct`` and
``calibrate`` record how busy the machine was, so a noisy run explains
itself.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree_pids(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def _cpu_ticks(pid: int) -> int:
    """utime+stime of the process plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page
    split among the processes sharing it, so the forked Python workers'
    common pages count once across the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeSampler:
    """CPU seconds and peak resident memory (summed PSS) of this
    process tree between ``start()`` and ``stop()``; memory is sampled
    every ``interval_s``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.root = os.getpid()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0

    def _cpu(self) -> int:
        return sum(_cpu_ticks(p) for p in tree_pids(self.root))

    def _sample(self) -> None:
        rss = sum(_pss_bytes(p) for p in tree_pids(self.root))
        self.peak_rss = max(self.peak_rss, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self.peak_rss = 0
        self._stop.clear()
        self._cpu0 = self._cpu()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> tuple[float, float]:
        """Returns (cpu_s, peak_rss_mb) of the region."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        cpu_s = (self._cpu() - self._cpu0) / _CLK
        return cpu_s, self.peak_rss / 1e6


def host_sample() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies from the aggregate /proc/stat line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0, 0
    total = sum(vals)
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return total, total - idle, steal


def host_pct(before, after) -> dict:
    dt = after[0] - before[0]
    if dt <= 0:
        return {}
    return {
        "busy_pct": round(100 * (after[1] - before[1]) / dt, 1),
        "steal_pct": round(100 * (after[2] - before[2]) / dt, 1),
    }


def calibrate(spark, rows: int = 10_000_000) -> float:
    """Wall seconds of a fixed pure-JVM job (range -> hash aggregate;
    no repository code, no Python workers): the same yardstick shape
    as bench.py's, at a size that costs a quarter to half a second."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(rows)
        .groupBy((F.col("id") % 1000).alias("k"))
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        .agg(F.sum("n"), F.sum("s"))
        .collect()
    )
    return time.perf_counter() - t0
