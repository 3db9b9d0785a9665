"""The crawl workload: ``CrawlEngine`` rounds over the synthetic web,
checked against the reference simulator."""

from __future__ import annotations

import os
import shutil
import statistics
import time

from perfbench.inputs import crawl_seeds
from perfbench.trace import (
    TimedStorage,
    dir_usage,
    stage_totals,
    stages_by_section,
    uncovered_s,
)

#: the section names ``run_round`` times, in order
SECTIONS = ("fetch_extract", "robots", "seen_dedup", "commit")


class Crawl:
    """One pass = engine construction + ``init`` + ``rounds`` calls of
    ``run_round`` in a fresh workdir."""

    def __init__(self, work_dir, seed, *, n_hosts, per_host, rounds,
                 **engine_kw):
        self.work_dir = work_dir
        self.n_hosts = n_hosts
        self.rounds = rounds
        self.engine_kw = engine_kw
        self.seeds = crawl_seeds(seed, n_hosts, per_host)
        self.warm_seeds = crawl_seeds(seed + 1_000_003, n_hosts, per_host)
        self.outputs: list = []
        self._n = 0

    def _fresh_dir(self) -> str:
        self._n += 1
        return os.path.join(self.work_dir, f"crawl{self._n}")

    def _engine(self, spark, workdir, storage=None, **overrides):
        from scalpel_ts_spark.plans.frontier import CrawlEngine

        kw = {**self.engine_kw, **overrides}
        return CrawlEngine(
            spark, workdir, n_hosts=self.n_hosts, storage=storage, **kw
        )

    def warmup(self, spark) -> None:
        """``init`` and one round of the same shape on other seed
        pages; the round compacts the seen set, so the compaction path
        is warm too."""
        wd = self._fresh_dir()
        eng = self._engine(spark, wd, compact_every=1)
        eng.init(self.warm_seeds)
        eng.run(1)
        eng.fetch_log().collect()
        shutil.rmtree(wd, ignore_errors=True)

    def run_pass(self, spark, rest=None) -> dict:
        """Times one pass; with ``rest`` it also attributes jobs and
        stages to init, each round and each round's sections."""
        from scalpel_ts_spark.plans.storage import ParquetSnapshotStorage

        wd = self._fresh_dir()
        storage = (
            TimedStorage(ParquetSnapshotStorage(spark, wd)) if rest else None
        )
        calls = []
        t_pass = time.perf_counter()
        before = rest.snapshot() if rest else None
        t0 = time.time()
        eng = self._engine(spark, wd, storage)
        eng.init(self.seeds)
        init_s = time.time() - t0
        if rest:
            calls.append(("init", t0, t0 + init_s, None, rest.since(before)))
        metrics, round_s = [], []
        for _ in range(self.rounds):
            before = rest.snapshot() if rest else None
            t0 = time.time()
            m = eng.run_round()
            t1 = time.time()
            round_s.append(t1 - t0)
            metrics.append(m)
            if rest:
                calls.append(("round", t0, t1, m, rest.since(before)))
            if m.get("stopped") or not m.get("committed", True):
                break
        pass_s = time.perf_counter() - t_pass

        # outside the timed region: outputs for the reference check
        log = [
            (r.round, r.priority, r.seq, r.url, r.n_links)
            for r in eng.fetch_log().collect()
        ]
        seen = {r.url for r in eng.seen().collect()}
        fetched = sum(m["fetched"] for m in metrics)
        errors = sum(m.get("fetch_errors", 0) for m in metrics)
        self.outputs.append((log, seen, len(metrics), errors))
        out = {
            "pass_s": pass_s,
            "items": fetched,
            "steps": round_s,
        }
        if rest:
            out["layers"] = self._layers(
                calls, metrics, log, seen, fetched, wd, storage, init_s
            )
        shutil.rmtree(wd, ignore_errors=True)
        return out

    def _layers(self, calls, metrics, log, seen, fetched, wd, storage,
                init_s) -> dict:
        from scalpel_ts_spark.plans.frontier import TABLES

        med = statistics.median
        rounds = [c for c in calls if c[0] == "round"]
        per_round = []
        for _, t0, t1, m, (jobs, stages) in rounds:
            by_sec = stages_by_section(stages, t0, m["sections"])
            rows = [p["rows"] for p in m["lineage"] if p["rows"] > 0]
            per_round.append({
                "sections": m["sections"],
                "jobs": len(jobs),
                "tasks": stage_totals(stages)["tasks"],
                "driver_s": uncovered_s(jobs, t0, t1),
                "skew": max(rows) / (sum(rows) / len(rows)) if rows else 1.0,
                "seen": stage_totals(by_sec.get("seen_dedup", [])),
                "fetch": stage_totals(by_sec.get("fetch_extract", [])),
            })
        all_stages = [s for c in calls for s in c[4][1]]
        totals = stage_totals(all_stages)
        n_links = sum(e[4] for e in log)
        layers = {
            "frontier.init_s": init_s,
            "frontier.round_s_p50": med(t1 - t0 for _, t0, t1, _, _ in rounds),
            "frontier.jobs_per_round": med(r["jobs"] for r in per_round),
            "frontier.tasks_per_round": med(r["tasks"] for r in per_round),
            "frontier.driver_s_per_round": med(
                r["driver_s"] for r in per_round
            ),
            "frontier.partition_skew": med(r["skew"] for r in per_round),
            "frontier.new_per_link": (
                sum(m.get("discovered_new", 0) for m in metrics) / n_links
                if n_links else 0.0
            ),
            "seen.rows": len(seen),
            "seen.shuffle_bytes_per_round": med(
                r["seen"]["shuffle_write_bytes"] for r in per_round
            ),
            "seen.exec_s_per_round": med(
                r["seen"]["exec_s"] for r in per_round
            ),
            "fetch_extract.exec_s_per_url": (
                sum(r["fetch"]["exec_s"] for r in per_round) / max(1, fetched)
            ),
            "storage.manifest_s": storage.manifest_s,
            "storage.bytes_per_url": dir_usage(wd)[0] / max(1, fetched),
            "spark.exec_cpu_s": totals["exec_cpu_s"],
            "spark.shuffle_write_bytes": totals["shuffle_write_bytes"],
            "spark.spill_bytes": totals["spill_bytes"],
        }
        for sec in SECTIONS:
            layers[f"frontier.section_s.{sec}"] = med(
                r["sections"].get(sec, 0.0) for r in per_round
            )
        for table in TABLES:
            nbytes, nfiles = dir_usage(os.path.join(wd, table))
            layers[f"storage.write_s.{table}"] = storage.write_s.get(table, 0.0)
            layers[f"storage.bytes.{table}"] = nbytes
            layers[f"storage.files.{table}"] = nfiles
        return layers

    def check(self) -> tuple[int, int, list[str]]:
        """Compares every pass's fetch order and seen set with the
        reference simulator run on the same seeds and budget.
        Returns (attempted, failed, messages)."""
        from scalpel_ts_spark.plans.simulator import simulate_crawl

        kw = self.engine_kw
        sim = simulate_crawl(
            self.seeds, self.rounds, cap=kw["cap"], refill=kw["refill"],
            n_hosts=self.n_hosts,
        )
        want_log = sorted(
            (e["round"], e["priority"], e["seq"], e["url"])
            for e in sim.fetch_log
        )
        attempted = failed = 0
        notes = []
        for i, (log, seen, n_rounds, errors) in enumerate(self.outputs):
            # every fetch, every round and both comparisons are operations
            attempted += len(log) + errors + n_rounds + 2
            failed += errors + (self.rounds - n_rounds)
            got_log = sorted(e[:4] for e in log)
            if got_log != want_log:
                failed += 1
                notes.append(
                    f"pass {i}: fetch log differs from the simulator "
                    f"({len(got_log)} vs {len(want_log)} fetches)"
                )
            if seen != sim.seen:
                failed += 1
                notes.append(
                    f"pass {i}: seen set differs from the simulator "
                    f"({len(seen)} vs {len(sim.seen)} urls)"
                )
        return attempted, failed, notes
