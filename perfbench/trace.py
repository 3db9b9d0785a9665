"""Tracing from outside the program: Spark's monitoring REST API and a
timing wrapper for the crawl engine's storage seam.

Jobs and stages are attributed to a public call by diffing the job and
stage ids the REST API lists before and after the call (the engine's
commit-pool threads do not inherit thread-local job groups, so ids are
the only attribution that sees every job).
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from datetime import datetime, timezone


def _epoch(stamp: str | None) -> float | None:
    """REST timestamps look like ``2026-01-02T03:04:05.678GMT``."""
    if not stamp:
        return None
    dt = datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = self.sc.uiWebUrl
        if not self.base:
            raise RuntimeError("tracing needs spark.ui.enabled=true")
        self.app = f"{self.base}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.app}/{path}", timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        # the status store is fed by the listener bus asynchronously:
        # wait until every event posted so far has been applied
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def snapshot(self) -> tuple[set, set]:
        self._drain()
        jobs = {j["jobId"] for j in self._get("jobs")}
        stages = {(s["stageId"], s["attemptId"]) for s in self._get("stages")}
        return jobs, stages

    def since(self, before: tuple[set, set]) -> tuple[list, list]:
        """Jobs and executed stages that are new since ``before``."""
        self._drain()
        jobs0, stages0 = before
        jobs = [j for j in self._get("jobs") if j["jobId"] not in jobs0]
        stages = [
            s for s in self._get("stages")
            if (s["stageId"], s["attemptId"]) not in stages0
            and s.get("status") != "SKIPPED"
        ]
        return jobs, stages


def stage_totals(stages: list) -> dict:
    return {
        "exec_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "exec_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "shuffle_write_bytes": sum(
            s.get("shuffleWriteBytes", 0) for s in stages
        ),
        "shuffle_write_records": sum(
            s.get("shuffleWriteRecords", 0) for s in stages
        ),
        "spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            for s in stages
        ),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
    }


def stages_by_section(stages: list, t0: float, sections: dict) -> dict:
    """Group a round's stages by the engine section whose interval
    holds the stage's submission time.  ``sections`` is the ordered
    ``{name: seconds}`` dict ``run_round`` returns, measured from the
    round's start ``t0``; stages after the last section count to it."""
    bounds, t = [], t0
    for name, dur in sections.items():
        t += dur
        bounds.append((t, name))
    out: dict = {name: [] for name in sections}
    for s in stages:
        sub = _epoch(s.get("submissionTime")) or t0
        name = next((n for end, n in bounds if sub <= end), bounds[-1][1])
        out[name].append(s)
    return out


def uncovered_s(jobs: list, t0: float, t1: float) -> float:
    """Seconds of [t0, t1] during which no job was running: the
    driver-side share of a call (planning, collects, file renames)."""
    spans = []
    for j in jobs:
        a, b = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        if a is None or b is None:
            continue
        spans.append((max(a, t0), min(b, t1)))
    covered, end = 0.0, t0
    for a, b in sorted(spans):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return max(0.0, (t1 - t0) - covered)


class TimedStorage:
    """Delegating wrapper around a snapshot storage that accumulates
    write time per table and manifest time.

    ``write_small`` is a real method, so the engine's
    ``resolve_write_small`` probe takes the same per-host fast path it
    takes on the wrapped storage: the traced crawl runs the same
    program as the untraced one.  Commit-pool threads write
    concurrently, hence the lock."""

    def __init__(self, inner):
        self.inner = inner
        self.write_s: dict[str, float] = {}
        self.manifest_s = 0.0
        self._lock = threading.Lock()

    def _add(self, table: str, dt: float) -> None:
        with self._lock:
            self.write_s[table] = self.write_s.get(table, 0.0) + dt

    def write(self, df, table, rnd):
        t0 = time.perf_counter()
        try:
            self.inner.write(df, table, rnd)
        finally:
            self._add(table, time.perf_counter() - t0)

    def write_small(self, df, table, rnd):
        t0 = time.perf_counter()
        try:
            self.inner.write_small(df, table, rnd)
        finally:
            self._add(table, time.perf_counter() - t0)

    def read(self, table, rnd):
        return self.inner.read(table, rnd)

    def read_union(self, table, rounds):
        return self.inner.read_union(table, rounds)

    def save_manifest(self, manifest):
        t0 = time.perf_counter()
        try:
            self.inner.save_manifest(manifest)
        finally:
            self.manifest_s += time.perf_counter() - t0

    def load_manifest(self):
        return self.inner.load_manifest()

    def reset(self):
        self.inner.reset()


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes of all files, number of parquet data files) under path."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(dirpath, name))
            files += name.endswith(".parquet")
    return total, files
