"""Seeded crawl and curation benchmark.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 28 --trace 0

Runs one workload through the package's public entry points on Spark
``local[4]`` from the root of a checkout, checks its outputs against
the repository's references, and prints one JSON object as the last
line of stdout: ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics listed in
BENCHMARK.json; ``--trace 1`` reports the per-layer metrics, measured
with the Spark UI's REST API and a storage timing wrapper, plus the
tracing overhead (traced minus untraced, from an untraced run of the
same seed made first in a child process).  A readable record of the
run, with the host regime evidence, goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.corpus import Corpus  # noqa: E402
from perfbench.crawl import Crawl  # noqa: E402
from perfbench.measure import (  # noqa: E402
    TreeSampler,
    calibrate,
    host_pct,
    host_sample,
)
from perfbench.trace import SparkRest  # noqa: E402

CORES = 4
#: the repository code the benchmark drives and checks against
REPO_FILES = (
    "scalpel_ts_spark/__init__.py",
    "__spark_entry__.py",
    "tools/oracle_check.py",
    "tests/test_winnow.py",
)

#: workload -> (class, shape, nominal seconds of one timed pass on an
#: idle 4-vCPU host).  A run times ``round(--seconds / nominal)``
#: passes, at least one, so every run of a workload does the same work
#: however loaded the host is; perfbench/METRICS.md says why each
#: workload exists and how the shapes were sized.
WORKLOADS = {
    "crawl_deep": (Crawl, dict(
        n_hosts=64, per_host=4, cap=8, refill=4, rounds=2,
        compact_every=2, write_docs=True,
    ), 14.0),
    "corpus": (Corpus, dict(
        n_docs=1000, n_vecs=400, warm_docs=300, warm_vecs=120,
    ), 13.0),
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _spark(work_dir: str, traced: bool):
    from scalpel_ts_spark.sources.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the JVM and its Python workers write stays in the
    # work dir: an inherited SPARK_LOCAL_DIRS would override
    # spark.local.dir, and get_spark applies SPARK_GRAFT_LOCAL_DIR last
    for var in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR"):
        os.environ.pop(var, None)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _parse_rates(seed: int) -> dict:
    """Single-driver-thread rates of the parser and the extractors over
    seeded synthetic pages (median of three timed repetitions)."""
    from perfbench.inputs import synthetic_pages
    from scalpel_ts_spark.core.tag_spec import tags_to_spec
    from scalpel_ts_spark.core.tokenizer import parse
    from scalpel_ts_spark.operators.extract import (
        SpanExtractor,
        crawl_extract_tokens,
    )

    pages = synthetic_pages(seed, 500)
    toks = [parse(p) for p in pages]
    specs = [tags_to_spec(t) for t in toks]
    spans = SpanExtractor()

    def rate(fn, items):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            for x in items:
                fn(x)
            times.append(time.perf_counter() - t0)
        return len(items) / statistics.median(times)

    return {
        "core.parse_docs_per_s": rate(parse, pages),
        "extract.docs_per_s": rate(crawl_extract_tokens, toks),
        "extract.spans_docs_per_s": rate(spans.run, specs),
    }


def measure(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    cls, shape, nominal_s = WORKLOADS[workload]
    n_passes = max(1, round(seconds / nominal_s))
    work_dir = os.path.join(
        ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}"
    )
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    try:
        wl = cls(work_dir, seed, **shape)
        t0 = time.perf_counter()
        spark = _spark(work_dir, traced)
        session_s = time.perf_counter() - t0
        try:
            wl.warmup(spark)
            setup_s = time.perf_counter() - t0
            rest = SparkRest(spark) if traced else None
            regime = {"calib_s_before": calibrate(spark)}
            h0 = host_sample()
            passes, errors = [], []
            sampler = TreeSampler()
            for _ in range(n_passes):
                # frames the warm-up or the last pass persisted would
                # turn this pass's identical plans into cache reads
                spark.catalog.clearCache()
                sampler.start()
                try:
                    p = wl.run_pass(spark, rest)
                except Exception:  # a failed pass is counted, not fatal
                    errors.append(traceback.format_exc())
                    p = None
                cpu_s, rss_mb = sampler.stop()
                if p is None:
                    break
                p.update(cpu_s=cpu_s, peak_rss_mb=rss_mb)
                passes.append(p)
            regime.update(host_pct(h0, host_sample()))
            regime["calib_s_after"] = calibrate(spark)
            rates = _parse_rates(seed) if traced else {}
        finally:
            _stop(spark)
        attempted, failed, notes = wl.check()
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass  # another run still has its work dir there
    for e in errors:
        _log(e)
    attempted += len(errors)
    failed += len(errors)
    if not passes:
        raise RuntimeError("no pass completed")
    med = statistics.median
    e2e = {
        "setup_s": setup_s,
        "pass_s": med(p["pass_s"] for p in passes),
        "items_per_s": med(p["items"] / p["pass_s"] for p in passes),
        "cpu_s": med(p["cpu_s"] for p in passes),
        "peak_rss_mb": med(p["peak_rss_mb"] for p in passes),
    }
    layers = {"session.start_s": session_s, **rates}
    if traced:
        for name in passes[0]["layers"]:
            layers[name] = med(p["layers"][name] for p in passes)
    return {
        "workload": workload,
        "seed": seed,
        "passes": len(passes),
        "pass_s": [p["pass_s"] for p in passes],
        "steps": [p["steps"] for p in passes],
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
        "regime": regime,
        "e2e": e2e,
        "layers": layers,
    }


def _untraced_child(args) -> dict:
    """Runs this benchmark untraced on the same seed in a child process
    and returns its end-to-end metrics and counts."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True, timeout=110, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in REPO_FILES:
        if not os.path.isfile(os.path.join(ROOT, need)):
            _log(f"{need} is missing: run from the root of a checkout")
            return 2
    spec = _spec()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    base = _untraced_child(args) if args.trace else None
    rec = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    attempted, failed = rec["attempted"], rec["failed"]
    if args.trace:
        values = dict(rec["layers"])
        for name, m in base["metrics"].items():
            values[f"overhead.{name}"] = rec["e2e"][name] - m["value"]
        attempted += base["attempted"]
        failed += base["failed"]
    else:
        values = rec["e2e"]
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            raise KeyError(f"no measurement for {missing}")
    rec["fail_frac"] = failed / attempted
    _log(json.dumps(rec))
    for note in rec["notes"]:
        _log(f"MISMATCH {note}")
    metrics = {
        m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
