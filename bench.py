"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line.

The headline metric mirrors BASELINE.json: URLs fetched+extracted per
second through the full crawl round loop (frontier scheduling ->
fetch -> parse -> extract -> link discovery -> seen dedup -> snapshot
commit), plus the training-data pipeline stages (span extraction,
minhash near-dup, ANN, text stats) at the same scale factor.

Noise-immune protocol (round-4 verdict item 1): this host swings
±30-50% run-to-run under neighbor load, and a single-shot artifact
recorded a 2x phantom regression in r4 that interleaved A/Bs proved
was regime, not code.  So every number here is a MEDIAN:

* crawl: one untimed warm-up, then ``BENCH_CRAWL_REPS`` (default 3)
  full timed runs; ``queries.crawl`` is the median wall, raw reps in
  ``crawl_reps``, per-stage sections element-wise-median'd.
* pipeline queries: one untimed warm rep apiece, then
  ``BENCH_QUERY_REPS`` (default 3) reps interleaved round-robin
  (q1,q2,...,q1,q2,...) so no query owns a quiet or noisy stretch of
  the host; ``queries.<q>`` is the median, raw reps in ``query_reps``
  — the same interleaved-rep discipline as the variant A/Bs recorded
  in BASELINE.md.

The artifact is self-describing about its substrate (round-4 ADVICE):
``protocol.workdir`` / ``protocol.local_dir`` record where snapshots
and shuffle scratch lived.  tmpfs is the standard when /dev/shm has
headroom (see sources/session.py:tmpfs_local_dir for the sizing
assumption); BENCH_WORKDIR=/tmp + SPARK_GRAFT_LOCAL_DIR=/tmp measure
the disk path.

Scaling evidence (two-cluster-size rule): tools/scaling_bench.py runs
taskset-pinned N vs 4N-core pairs; BASELINE.md records throughput at
both plus efficiency.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CRAWL_ROUNDS = int(os.environ.get("BENCH_CRAWL_ROUNDS", "4"))
# medians need >= 1 rep; a 0 would crash statistics.median, not skip
CRAWL_REPS = max(1, int(os.environ.get("BENCH_CRAWL_REPS", "3")))
QUERY_REPS = max(1, int(os.environ.get("BENCH_QUERY_REPS", "3")))

PIPELINE_QUERIES = [
    "extract_spans",
    "dedup_minhash",
    "dedup_exact",
    "dedup_simhash",
    "dedup_winnow",  # new in r5 — totals are +~9s vs r1-r4 query sets
    "quality_gopher",  # new in r5 (late): Gopher gate, map-only
    "repetition_topgram",  # new in r5 (late): top-2-gram repetition
    "decontamination",  # new in r5 (late): eval-set n-gram overlap
    "text_stats",
    "ann_bruteforce",
    "ann_lsh",
    "ann_ivf",
    "embedding_neardup",
    "topk_lineitem",
    "seen_antijoin_bloom",
    "url_canonicalize",
]


def _median(xs: list[float]) -> float:
    return round(statistics.median(xs), 3)


def _cpu_sample() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies from the aggregate /proc/stat line.

    Recorded around every crawl rep so the artifact carries its own
    host-regime evidence: this shared VM's neighbors have produced
    sustained 1.5-2x stretches (BENCH_r04's phantom crawl regression),
    and a reading annotated with 'steal 30%, box 90% busy' is
    interpretable on its own instead of needing a prose rebuttal."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0, 0
    total = sum(vals)
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return total, total - idle, steal


def _host_pct(before, after) -> dict:
    dt = after[0] - before[0]
    if dt <= 0:
        return {}
    return {
        "busy_pct": round(100 * (after[1] - before[1]) / dt, 1),
        "steal_pct": round(100 * (after[2] - before[2]) / dt, 1),
    }


def _calib(spark) -> float:
    """Fixed pure-JVM reference job (range -> hash-agg, no repo code,
    no Python workers): its wall time at a FIXED size is a cross-round
    yardstick for the box's current throughput — a crawl reading is
    comparable across BENCH_r{N} artifacts after dividing out the
    calibration ratio."""
    t0 = time.time()
    (
        spark.range(600_000_000)
        .groupBy((F.col("id") % 1000).alias("k"))
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        .agg(F.sum("n"), F.sum("s"))
        .collect()
    )
    return round(time.time() - t0, 3)


def main() -> None:
    if not os.path.isdir(SF_DIR):
        sys.exit(f"bench: SPARK_GRAFT_SF_DIR does not exist: {SF_DIR}")
    from scalpel_ts_spark.sources.session import get_spark, tmpfs_local_dir

    local_dir = tmpfs_local_dir()
    workdir_base = os.environ.get(
        "BENCH_WORKDIR", "/dev/shm" if local_dir else None
    )
    spark = get_spark(
        "bench",
        cores=CPUS,
        shuffle_partitions=max(CPUS, 8),
        extra_conf={"spark.local.dir": local_dir} if local_dir else None,
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    from scalpel_ts_spark.plans.frontier import CrawlEngine
    from scalpel_ts_spark.sources.synthetic import make_url

    # -- headline: the crawl round loop ------------------------------------
    # JVM/codegen/Python-worker warm-up, EXCLUDED from the timed runs —
    # the same protocol tools/scaling_bench.py has used since round 1
    # (a fresh local JVM spends 10-15s on first-job class loading and
    # codegen).  Codegen is paid once, not per crawl, only because
    # get_spark's codegen cache holds the engine's generated classes;
    # at Spark's default 100 entries every crawl recompiled them.  The
    # miniature crawl touches every code path: parquet IO, pandas UDFs,
    # cogroups, broadcasts, window/top-k.
    warm_dir = tempfile.mkdtemp(prefix="bench_warm_", dir=workdir_base)
    weng = CrawlEngine(spark, warm_dir, n_hosts=5, cap=8, refill=4)
    weng.init([f"http://h{h}.test/p/{p}" for h in range(5) for p in range(3)])
    weng.run(1)
    shutil.rmtree(warm_dir, ignore_errors=True)

    def crawl_once() -> tuple[float, int, dict[str, float]]:
        # large per-round politeness budget: rounds are macro-batches,
        # so fixed per-round scheduling cost amortizes over the batch.
        # t0 starts BEFORE engine construction + init: rounds 1-4
        # timed seed canonicalization and the round-0 writes inside
        # the crawl wall, and the metric definition must not drift
        # across BENCH_r{N} artifacts
        workdir = tempfile.mkdtemp(prefix="bench_crawl_", dir=workdir_base)
        t0 = time.time()
        eng = CrawlEngine(
            spark, workdir, n_hosts=200, cap=512, refill=256,
            write_docs=True,
        )
        eng.init([make_url(h, p) for h in range(200) for p in range(25)])
        fetched = 0
        sections: dict[str, float] = {}
        for m in eng.run(CRAWL_ROUNDS):
            fetched += m["fetched"]
            for k, v in m.get("sections", {}).items():
                sections[k] = round(sections.get(k, 0.0) + v, 2)
        wall = round(time.time() - t0, 3)
        shutil.rmtree(workdir, ignore_errors=True)
        return wall, fetched, sections

    _calib(spark)  # warm the calibration plan itself, untimed
    crawl_walls: list[float] = []
    crawl_sections: list[dict[str, float]] = []
    calib_reps: list[float] = []
    host_reps: list[dict] = []
    urls_fetched = 0
    for _ in range(CRAWL_REPS):
        calib_reps.append(_calib(spark))  # regime yardstick, interleaved
        h0 = _cpu_sample()
        wall, urls_fetched, sections = crawl_once()
        host_reps.append(_host_pct(h0, _cpu_sample()))
        crawl_walls.append(wall)
        crawl_sections.append(sections)
    calib_reps.append(_calib(spark))

    timings: dict[str, float] = {"crawl": _median(crawl_walls)}
    extra: dict = {
        "urls_fetched": urls_fetched,
        "urls_per_sec": round(urls_fetched / timings["crawl"], 1),
        # per-stage breakdown (fetch_extract / robots / seen_dedup /
        # commit), element-wise median across reps, so a slow stage is
        # diagnosable without a rep's host-noise spike owning the record
        "crawl_sections": {
            k: _median([s.get(k, 0.0) for s in crawl_sections])
            for k in crawl_sections[0]
        },
        "crawl_reps": crawl_walls,
        # regime evidence: fixed pure-JVM yardstick job (comparable at
        # identical size across rounds) + /proc/stat busy/steal around
        # each crawl rep — a slow reading carries its own explanation
        "calib_jvm_sec": {"median": _median(calib_reps), "reps": calib_reps},
        "host_during_crawl": host_reps,
    }
    # pre-declared quiet-rep statistic: the rep with the LOWEST
    # measured steal is the closest this shared VM gets to an
    # unloaded machine, so report it (wall + its steal) next to the
    # median.  This is instrumentation, not selection: the median
    # stays the headline and every raw rep is in the artifact — but
    # when 2 of 3 reps land in a 15-20% steal stretch (observed:
    # sustained multi-minute regimes), the quiet rep is the number
    # comparable across rounds.
    if any(h.get("steal_pct") is not None for h in host_reps):
        qi = min(
            range(len(crawl_walls)),
            key=lambda i: host_reps[i].get("steal_pct", 1e9),
        )
        extra["crawl_quiet_rep"] = {
            "wall_sec": crawl_walls[qi],
            **host_reps[qi],
        }

    # -- pipeline stages over the sf tables --------------------------------
    qs = E.queries()
    n_docs = 0

    def consume(name: str, measure_docs: bool = False) -> None:
        nonlocal n_docs
        df = qs[name](spark, SF_DIR)
        if measure_docs and name == "extract_spans":
            # n_docs is deterministic — derive it in the WARM rep only;
            # running a second full pipeline execution inside every
            # timed rep doubled extract_spans' recorded median (and
            # halved docs_per_sec) through BENCH_r04
            n_docs = df.select("doc_id").distinct().count()
        df.count()

    for name in PIPELINE_QUERIES:  # untimed warm rep apiece
        consume(name, measure_docs=True)
    reps: dict[str, list[float]] = {n: [] for n in PIPELINE_QUERIES}
    for _ in range(QUERY_REPS):
        for name in PIPELINE_QUERIES:  # interleaved round-robin
            t0 = time.time()
            consume(name)
            reps[name].append(round(time.time() - t0, 3))
    for name in PIPELINE_QUERIES:
        timings[name] = _median(reps[name])
    extra["query_reps"] = reps
    extra["docs_extracted"] = n_docs
    extra["docs_per_sec"] = round(n_docs / timings["extract_spans"], 1)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "crawl+pipeline wall time, medians of interleaved reps "
                  "(headline: URLs fetched+extracted/sec in 'urls_per_sec')",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "protocol": {
            "workdir": workdir_base or tempfile.gettempdir(),
            "local_dir": local_dir or "spark-default(disk)",
            "crawl_reps": CRAWL_REPS,
            "query_reps": QUERY_REPS,
            "warmup_excluded": True,
            "crawl_includes_init": True,  # same boundary as r1-r4
            # r5 added one pipeline query; 'value' (the sum) is not
            # directly comparable to r1-r4 totals without subtracting it
            "queries_added_this_round": [
                "dedup_winnow",
                "quality_gopher",
                "repetition_topgram",
                "decontamination",
            ],
        },
        **extra,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
