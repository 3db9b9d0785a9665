"""Two-cluster-size scaling evidence (north rule: >= 0.8 efficiency
from N to 4N executors).

No real cluster exists in the sandbox, so the same job runs at two
parallelism levels on the SAME input: one macro-round of the crawl
engine over a 2M-URL seeded frontier (SCALING_PAGES_PER_HOST) (politeness top-k -> fetch ->
parse+extract -> link discovery -> canonicalize -> hash dedup + exact
seen anti-join -> snapshot commit).  Each level runs in a fresh process/JVM
with a small warm-up crawl first so codegen/Python-worker startup is
excluded from both measurements equally (the warm-up pays codegen once
only because get_spark's codegen cache holds the engine's generated
classes), and — round 4 — each child
is ``taskset``-pinned to exactly its core count, because ``local[N]``
caps task slots but not actual CPU (see ``_run_child``); the pin is
what makes "N cores" physically true, as an executor cgroup would.

Usage:
    python tools/scaling_bench.py            # run both levels, print JSON
    python tools/scaling_bench.py --child 8  # internal: one level

SCALING_PAIRS=5 runs the INTERLEAVED-PAIR protocol (round-3 verdict
item 4): N,4N alternate back-to-back so each pair sees the same host
conditions, per-pair efficiencies are reported with their MEDIAN as
the headline — the same discipline the query A/Bs use, extended to
the scaling evidence.  Per-level medians are reported alongside so
cross-level host drift is quantifiable.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_HOSTS = 500
# default 4000 pages/host = a 2M-URL macro-round.  The round loop
# carries ~18s of serial driver time (Catalyst planning, job
# submission, manifest IO — measured by per-section Amdahl split at
# 2 vs 8 pinned cores, BASELINE.md) that is CONSTANT per round; at the
# 10^10-URL design point a round is >=10^8 URLs, so the sandbox job
# must be big enough that this fixed cost doesn't masquerade as an
# engine scaling limit.  2M URLs puts the serial share at ~4% of the
# 4N-level wall (500k reads ~0.66 pair efficiency on serial share
# alone; 2M predicts ~0.87).
PAGES_PER_HOST = int(os.environ.get("SCALING_PAGES_PER_HOST", "4000"))
ROUNDS = 1
# snapshot workdir on tmpfs when available: the sandbox's single
# shared virtio disk is a resource a real cluster does NOT share
# (HDFS/S3/Iceberg object storage scales with executor count), and
# its writeback stalls showed up as 40% run-to-run swings on the
# 4N side only — tmpfs isolates the ENGINE's scaling from the box's
# one disk.  Overridable for durability-focused runs.
from scalpel_ts_spark.sources.session import tmpfs_local_dir  # noqa: E402

_TMPFS = tmpfs_local_dir()  # None unless /dev/shm has real headroom
WORKDIR_BASE = os.environ.get(
    "SCALING_WORKDIR", "/dev/shm" if _TMPFS else None
)
# N and 4N parallelism levels.  Default 2 vs 8: on this single-box
# sandbox, Python-parse-heavy work saturates shared memory bandwidth
# past ~8-16 of the 32 cores (pure-CPU work keeps scaling), which a
# real multi-executor cluster does not share — so the N->4N evidence
# uses levels below that ceiling; the 8->32 pair is reported
# alongside as the ceiling measurement.
CORES_N = int(os.environ.get("SCALING_N", "2"))
CORES_4N = 4 * CORES_N


def child(cores: int) -> None:
    from pyspark.sql import functions as F

    from scalpel_ts_spark.plans.frontier import CrawlEngine
    from scalpel_ts_spark.sources.session import get_spark
    from scalpel_ts_spark.sources.synthetic import make_url

    # per-EXECUTOR memory is constant on a real cluster, so total
    # memory scales with executor count — a fixed heap across
    # parallelism levels anti-scales instead (4 concurrent tasks in
    # the same 8g quadruple the live working set and start spilling
    # where the 1-task run didn't; measured: the 4-core 4M-URL child
    # ran 2.27x its 2M wall vs the 1-core child's clean 2.05x).
    # 4g fixed (driver role) + 4g per core models "every executor
    # brings its own memory", the north rule's multi-executor premise.
    os.environ["SPARK_DRIVER_MEM"] = f"{4 + 4 * cores}g"
    spark = get_spark(
        f"scaling-{cores}", cores=cores, shuffle_partitions=max(cores, 8),
        extra_conf={"spark.local.dir": _TMPFS} if _TMPFS else None,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: tiny crawl exercises every code path once
    wd = tempfile.mkdtemp(prefix="scale_warm_", dir=WORKDIR_BASE)
    warm = CrawlEngine(spark, wd, n_hosts=5, cap=8, refill=4,
                       write_docs=True)
    warm.init([make_url(h, 0) for h in range(5)])
    warm.run(2)
    shutil.rmtree(wd, ignore_errors=True)

    # measured: one macro-round over the full seeded frontier
    wd = tempfile.mkdtemp(prefix="scale_run_", dir=WORKDIR_BASE)
    # politeness budget must cover the whole frontier (cap x n_hosts
    # >= seeded URLs) so the macro-round fetches everything it seeded
    cap = max(4096, PAGES_PER_HOST + 256)
    eng = CrawlEngine(spark, wd, n_hosts=N_HOSTS, cap=cap, refill=cap // 2,
                      write_docs=True)
    seeds = spark.range(N_HOSTS * PAGES_PER_HOST).select(
        F.concat(
            F.lit("http://h"), (F.col("id") % N_HOSTS).cast("string"),
            F.lit(".test/p/"), (F.col("id") / N_HOSTS).cast("long").cast("string"),
        ).alias("url")
    )
    eng.init_df(seeds)
    # host-regime evidence around the measured round (same protocol as
    # bench.py): this shared VM's neighbors produce sustained 1.5-2x
    # stretches, and the pinned child burns only cores/32 of the box —
    # a busy_pct far above that, or nonzero steal, marks a noisy pair
    # so the artifact classifies quiet vs noisy on data, not prose.
    from bench import _calib, _cpu_sample, _host_pct  # noqa: E402

    # regime yardstick (same fixed pure-JVM job bench.py interleaves):
    # at a pinned core count its wall quantifies the box's CURRENT
    # effective per-core throughput, so cross-night section drift in
    # the bandwidth-bound stages is attributable from the artifact
    # alone.  One untimed warm rep, then the recorded one.
    _calib(spark)
    calib_sec = _calib(spark)
    cpu0 = _cpu_sample()
    t0 = time.time()
    metrics = eng.run(ROUNDS)
    dt = time.time() - t0
    host = _host_pct(cpu0, _cpu_sample())
    host["calib_jvm_sec"] = calib_sec
    fetched = sum(m["fetched"] for m in metrics)
    sections: dict = {}
    for m in metrics:
        for k, v in m.get("sections", {}).items():
            sections[k] = round(sections.get(k, 0.0) + v, 2)
    shutil.rmtree(wd, ignore_errors=True)
    spark.stop()
    print(json.dumps({
        "cores": cores, "wall_sec": round(dt, 2), "urls": fetched,
        "urls_per_sec": round(fetched / dt, 1), "sections": sections,
        **host,
    }))


def _run_child(cores: int) -> dict:
    # PIN the child (and every JVM thread + Python worker it spawns —
    # affinity is inherited) to `cores` physical CPUs.  `local[N]`
    # alone caps TASK SLOTS, not CPU: GC, shuffle/Arrow IO threads,
    # codegen and the Python worker pool all run beside the N task
    # threads, so on an otherwise-idle box a local[2] JVM happily
    # burns 6+ cores — measured here as a local[2] crawl at 3.3x the
    # per-core throughput of local[32], flipping pair efficiency from
    # 1.1 to 0.35 depending on host load.  A real cluster executor is
    # cgroup-capped to its core count, which taskset reproduces; with
    # the pin, per-pair efficiencies are stable across host regimes.
    cmd = [sys.executable, os.path.abspath(__file__), "--child", str(cores)]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    else:
        # non-Linux / minimal image: run unpinned rather than crash
        # with a bare FileNotFoundError (round-4 ADVICE).  Results are
        # then subject to the slot-vs-CPU caveat documented above.
        print(
            "scaling_bench: WARNING taskset not found — running UNPINNED; "
            "local[N] caps task slots, not CPU, so efficiencies will be "
            "host-load-dependent",
            file=sys.stderr,
        )
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        # surface the child's actual traceback instead of dying on an
        # IndexError over empty stdout with stderr discarded
        print(out.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(
            f"child level failed (cores={cores}, rc={out.returncode}); "
            "stderr tail above"
        )
    line = lines[-1]
    print(line, file=sys.stderr)
    return json.loads(line)


def main() -> None:
    import statistics

    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        child(int(sys.argv[2]))
        return
    pairs = int(os.environ.get("SCALING_PAIRS", "1"))
    per_pair = []
    pair_host = []
    thr = {CORES_N: [], CORES_4N: []}
    for _ in range(pairs):
        rn = _run_child(CORES_N)
        r4 = _run_child(CORES_4N)
        thr[CORES_N].append(rn["urls_per_sec"])
        thr[CORES_4N].append(r4["urls_per_sec"])
        per_pair.append(
            round((r4["urls_per_sec"] / rn["urls_per_sec"]) / 4, 3)
        )
        ph = {
            f"local{CORES_N}": {
                k: rn[k] for k in ("busy_pct", "steal_pct", "calib_jvm_sec") if k in rn
            },
            f"local{CORES_4N}": {
                k: r4[k] for k in ("busy_pct", "steal_pct", "calib_jvm_sec") if k in r4
            },
        }
        if "calib_jvm_sec" in rn and "calib_jvm_sec" in r4:
            # the fixed pure-JVM yardstick's own N->4N speedup is the
            # box's DELIVERED scaling for these two processes (<= 4 when
            # neighbors squeeze shared bandwidth between the children —
            # invisible to steal%, which only counts CPU).  Crawl
            # efficiency divided by it isolates ENGINE-added scaling
            # loss from box-delivery loss; both numbers stay in the
            # artifact, raw pair efficiency remains the headline.
            delivered = rn["calib_jvm_sec"] / r4["calib_jvm_sec"]
            ph["calib_delivered_scaling"] = round(delivered, 2)
            ph["calib_normalized_eff"] = round(
                (r4["urls_per_sec"] / rn["urls_per_sec"]) / delivered, 3
            )
        pair_host.append(ph)
    med_n = statistics.median(thr[CORES_N])
    med_4n = statistics.median(thr[CORES_4N])
    print(json.dumps({
        "job": f"crawl macro-round, {N_HOSTS * PAGES_PER_HOST}-URL frontier",
        "pairs": pairs,
        "pinned": bool(shutil.which("taskset")),
        "workdir": WORKDIR_BASE or tempfile.gettempdir(),
        f"local{CORES_N}_urls_per_sec": thr[CORES_N],
        f"local{CORES_4N}_urls_per_sec": thr[CORES_4N],
        "pair_efficiencies": per_pair,
        "pair_host": pair_host,
        "median_pair_efficiency": round(statistics.median(per_pair), 3),
        "per_level_median_efficiency": round((med_4n / med_n) / 4, 3),
    }))


if __name__ == "__main__":
    main()
