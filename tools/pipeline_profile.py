"""Per-query stage/job profile for the bench pipeline queries and the
bench-shaped crawl, via the live UI's REST API, per queries() entry.

For each named query: one untimed warm rep, then one timed rep whose
NEW jobs and stages (diffed by id against the pre-rep snapshot) are
dumped with wall/executor time, task counts and shuffle volume — the
direct way to see whether a 1.5s query reading is one slow stage or
ten 100ms ones (job-submission overhead).

Usage: python tools/pipeline_profile.py [sf_dir] [query ...|crawl]
Prints one JSON object per query.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
NAMES = sys.argv[2:] or ["dedup_winnow"]


def _get(ui, app_id, path):
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/{path}"
    ) as r:
        return json.load(r)


def _snapshot(ui, app_id):
    jobs = {j["jobId"] for j in _get(ui, app_id, "jobs")}
    stages = {s["stageId"] for s in _get(ui, app_id, "stages")}
    return jobs, stages


def _diff_report(ui, app_id, before):
    jobs0, stages0 = before
    jobs = [j for j in _get(ui, app_id, "jobs") if j["jobId"] not in jobs0]
    stages = [
        s for s in _get(ui, app_id, "stages") if s["stageId"] not in stages0
    ]
    from datetime import datetime

    def _wall(o):
        try:
            sub = datetime.strptime(
                o["submissionTime"][:23], "%Y-%m-%dT%H:%M:%S.%f"
            )
            comp = datetime.strptime(
                o["completionTime"][:23], "%Y-%m-%dT%H:%M:%S.%f"
            )
            return round((comp - sub).total_seconds(), 3)
        except Exception:
            return None

    job_rows = sorted(
        (
            {
                "job": j["jobId"],
                "wall": _wall(j),
                "stages": len(j.get("stageIds", [])),
                "tasks": j.get("numCompletedTasks"),
            }
            for j in jobs
        ),
        key=lambda x: x["job"],
    )
    stage_rows = sorted(
        (
            {
                "stage": s["stageId"],
                "wall": _wall(s),
                "exec_sec": round((s.get("executorRunTime") or 0) / 1000.0, 2),
                "tasks": s.get("numCompleteTasks"),
                "sh_r_mb": round((s.get("shuffleReadBytes") or 0) / 1e6, 1),
                "sh_w_mb": round((s.get("shuffleWriteBytes") or 0) / 1e6, 1),
                "name": s["name"].split("\n")[0][:100],
            }
            for s in stages
            if s.get("status") != "SKIPPED"
        ),
        key=lambda x: -(x["wall"] or 0),
    )
    return job_rows, stage_rows


def main() -> None:
    from scalpel_ts_spark.sources.session import get_spark, tmpfs_local_dir

    tmpfs = tmpfs_local_dir()
    conf = {"spark.ui.enabled": "true"}
    if tmpfs:
        conf["spark.local.dir"] = tmpfs
    spark = get_spark(
        "pipeline-profile", cores=32, shuffle_partitions=32, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = json.loads(
        urllib.request.urlopen(f"{ui}/api/v1/applications").read()
    )[0]["id"]

    import __spark_entry__ as E

    qs = E.queries()

    def run_crawl():
        from scalpel_ts_spark.plans.frontier import CrawlEngine
        from scalpel_ts_spark.sources.synthetic import make_url

        base = "/dev/shm" if tmpfs else None
        wd = tempfile.mkdtemp(prefix="prof_crawl_", dir=base)
        eng = CrawlEngine(
            spark, wd, n_hosts=200, cap=512, refill=256, salt_buckets=16,
            write_docs=True,
        )
        eng.init([make_url(h, p) for h in range(200) for p in range(25)])
        out = eng.run(4)
        shutil.rmtree(wd, ignore_errors=True)
        return out

    for name in NAMES:
        if name == "crawl":
            run_crawl()  # warm
            before = _snapshot(ui, app_id)
            t0 = time.time()
            metrics = run_crawl()
            wall = round(time.time() - t0, 3)
            jobs, stages = _diff_report(ui, app_id, before)
            print(json.dumps({
                "query": "crawl", "wall": wall,
                "sections": [m.get("sections") for m in metrics],
                "n_jobs": len(jobs),
                "jobs": jobs,
                "top_stages": stages[:40],
            }))
            continue
        qs[name](spark, SF_DIR).count()  # warm
        before = _snapshot(ui, app_id)
        t0 = time.time()
        qs[name](spark, SF_DIR).count()
        wall = round(time.time() - t0, 3)
        jobs, stages = _diff_report(ui, app_id, before)
        print(json.dumps({
            "query": name, "wall": wall, "n_jobs": len(jobs),
            "jobs": jobs, "top_stages": stages[:25],
        }))
    spark.stop()


if __name__ == "__main__":
    main()
