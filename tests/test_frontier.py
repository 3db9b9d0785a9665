"""Crawl determinism gates (SURVEY.md §5.2 item 2):

1. the Spark engine's ordered fetch log and final URL-seen set equal
   the single-process reference simulator's under the same seed list
   and politeness budget;
2. a run resumed from a mid-crawl snapshot produces an identical tail,
   also after a crash inside a round's commit;
3. the seen-set prefilter operator changes nothing (it is a prefilter,
   the exact anti-join is the authority), on the simulator's crawl.
"""

import json
import os

import pytest

from scalpel_ts_spark.functions.url import host_id_py, url_hash_py
from scalpel_ts_spark.operators import seen as seen_ops
from scalpel_ts_spark.operators.cuckoo import CuckooTable
from scalpel_ts_spark.plans import frontier as frontier_mod
from scalpel_ts_spark.plans.frontier import CrawlEngine
from scalpel_ts_spark.plans.simulator import simulate_crawl
from scalpel_ts_spark.sources.synthetic import make_url

SEEDS = [make_url(1, 0), make_url(2, 5), make_url(7, 11)]
ROUNDS = 4
N_HOSTS = 20


def _sim():
    return simulate_crawl(SEEDS, ROUNDS, cap=8, refill=4, n_hosts=N_HOSTS)


def _engine_log(eng):
    rows = eng.fetch_log().collect()
    return sorted((r.round, r.priority, r.seq, r.url, r.host_id) for r in rows)


def _sim_log(sim):
    return sorted(
        (e["round"], e["priority"], e["seq"], e["url"], e["host_id"])
        for e in sim.fetch_log
    )


@pytest.fixture(scope="module")
def sim_state():
    return _sim()


def _assert_sizes_match_snapshots(eng):
    # every committed round's manifest entry holds the row counts of the
    # snapshots that round wrote: the frontier, and the larger of the
    # two per-host tables
    for rnd, m in enumerate(eng.manifest["rounds"], 1):
        rows = {
            table: eng.storage.read(table, rnd).count()
            for table in ("frontier", "host_state", "robots")
        }
        assert m["frontier_rows"] == rows["frontier"], rnd
        assert m["host_rows"] == max(rows["host_state"], rows["robots"]), rnd


def test_spark_crawl_matches_simulator(spark, tmp_path_factory, sim_state):
    wd = str(tmp_path_factory.mktemp("crawl"))
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, write_docs=False
    )
    eng.init(SEEDS)
    eng.run(ROUNDS)
    assert _engine_log(eng) == _sim_log(sim_state)
    got_seen = {r.url for r in eng.seen().collect()}
    assert got_seen == sim_state.seen
    # the row counts that size each round: init's from the seeds, then
    # each round's observed on its own writes
    assert eng.manifest["init"] == {"frontier_rows": 3, "host_rows": 3}
    _assert_sizes_match_snapshots(eng)
    # the frontier is keyed by hashes of the URL alone; the fetch log
    # keeps its shape, with the order key in `seq`
    assert set(eng.storage.read("frontier", ROUNDS).columns) == {
        "url", "host_id", "priority", "url_hash", "fails"
    }
    assert eng.fetch_log().columns == [
        "round", "priority", "seq", "url", "host_id", "n_links"
    ]
    # the round-metrics contract perfbench reads: sections in order,
    # each measured contiguously from the round's start, and lineage
    # accounting for every fetched row
    assert len(eng.manifest["rounds"]) == ROUNDS
    for m in eng.manifest["rounds"]:
        secs = m["sections"]
        assert list(secs) == ["fetch_extract", "robots", "seen_dedup", "commit"]
        assert all(v >= 0 for v in secs.values())
        assert sum(secs.values()) <= m["wall_sec"] + 0.01
        assert sum(p["rows"] for p in m["lineage"]) == m["fetched"]


def test_unprekeyed_selection_matches_simulator(
    spark, tmp_path_factory, monkeypatch, sim_state
):
    # one selection task per frontier row: every round's frontier is
    # past the pre-key bound, so the window takes its own exchange with
    # the partial group limit beneath it, and the fused fetch stage
    # repartitions the candidates itself
    monkeypatch.setattr(frontier_mod, "SELECT_ROWS_PER_TASK", 1)
    paths = []
    fetch_extract = CrawlEngine._fetch_extract

    def spy(self, st):
        paths.append(st.prekeyed)
        return fetch_extract(self, st)

    monkeypatch.setattr(CrawlEngine, "_fetch_extract", spy)
    wd = str(tmp_path_factory.mktemp("crawl_unprekeyed"))
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, write_docs=False
    )
    eng.init(SEEDS)
    eng.run(ROUNDS)
    assert paths == [False] * ROUNDS
    assert _engine_log(eng) == _sim_log(sim_state)
    assert {r.url for r in eng.seen().collect()} == sim_state.seen


def test_resume_produces_identical_tail(spark, tmp_path_factory, sim_state):
    wd = str(tmp_path_factory.mktemp("crawl_resume"))
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, write_docs=False
    )
    eng.init(SEEDS)
    eng.run(2)
    # a manifest written before the engine kept its row counts has
    # neither; resume counts the last round's snapshots instead
    mpath = os.path.join(wd, "manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    del manifest["init"]
    for m in manifest["rounds"]:
        del m["frontier_rows"], m["host_rows"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    # simulate a crash: reopen from the manifest and continue
    eng2 = CrawlEngine.resume(spark, wd)
    assert eng2.round == 2
    eng2.run(ROUNDS - 2)
    assert _engine_log(eng2) == _sim_log(sim_state)
    assert {r.url for r in eng2.seen().collect()} == sim_state.seen


def test_commit_waits_for_writes_in_flight(spark, tmp_path_factory):
    # a failing seen write (main thread) must not return while the
    # concurrent docs/fetch_log/host_state writes are still running,
    # and must leave the round uncommitted
    import threading
    import time

    from scalpel_ts_spark.plans.storage import ParquetSnapshotStorage

    class SlowStorage(ParquetSnapshotStorage):
        in_flight = 0
        lock = threading.Lock()

        def _slow(self, write, df, table, rnd):
            if table == "seen":
                if rnd == 1:
                    time.sleep(0.3)  # the early writes are in flight
                    raise OSError("seen write failed")
                return write(df, table, rnd)
            with self.lock:
                self.in_flight += 1
            try:
                time.sleep(1)
                write(df, table, rnd)
            finally:
                with self.lock:
                    self.in_flight -= 1

        def write(self, df, table, rnd):
            self._slow(super().write, df, table, rnd)

        def write_small(self, df, table, rnd):
            self._slow(super().write_small, df, table, rnd)

    wd = str(tmp_path_factory.mktemp("crawl_commitfail"))
    storage = SlowStorage(spark, wd)
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, storage=storage
    )
    eng.init(SEEDS)
    with pytest.raises(OSError, match="seen write failed"):
        eng.run_round()
    assert storage.in_flight == 0
    assert storage.load_manifest()["rounds"] == []


class FaultStorage:
    """A snapshot storage that delegates to ``inner`` but raises on the
    write of ``table`` in round ``rnd``: ``before`` its files land or
    ``after``, through ``write`` and ``write_small`` alike."""

    def __init__(self, inner, table, rnd, when):
        self.inner, self.table, self.rnd, self.when = inner, table, rnd, when

    def _write(self, write, df, table, rnd):
        hit = (table, rnd) == (self.table, self.rnd)
        if hit and self.when == "before":
            raise OSError(f"{table} write failed")
        write(df, table, rnd)
        if hit:
            raise OSError(f"{table} write failed")

    def write(self, df, table, rnd):
        self._write(self.inner.write, df, table, rnd)

    def write_small(self, df, table, rnd):
        self._write(self.inner.write_small, df, table, rnd)

    def __getattr__(self, name):
        return getattr(self.inner, name)


def _crash_resume_finish(spark, wd, sim, table, when, compact_every):
    # round 2 crashes on one table's write (every other write of the
    # round runs); the round stays uncommitted, and the resumed crawl
    # must redo it to the same crawl without reading any orphaned
    # round-2 snapshot
    from scalpel_ts_spark.plans.storage import ParquetSnapshotStorage

    storage = FaultStorage(ParquetSnapshotStorage(spark, wd), table, 2, when)
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4,
        compact_every=compact_every, storage=storage,
    )
    eng.init(SEEDS)
    eng.run(1)
    with pytest.raises(OSError, match=f"{table} write failed"):
        eng.run_round()
    eng2 = CrawlEngine.resume(spark, wd)
    assert eng2.round == 1
    eng2.run(ROUNDS - 1)
    assert _engine_log(eng2) == _sim_log(sim)
    seen_urls = [r.url for r in eng2.seen().collect()]
    assert len(seen_urls) == len(set(seen_urls))
    assert set(seen_urls) == sim.seen
    _assert_sizes_match_snapshots(eng2)


@pytest.mark.parametrize("compact_every", [8, 2], ids=["delta", "compacted"])
def test_resume_after_crash_between_seen_and_frontier_writes(
    spark, tmp_path_factory, sim_state, compact_every
):
    # the frontier write fails after the seen snapshot (a delta, or a
    # full compacted one) has landed
    wd = str(tmp_path_factory.mktemp(f"crawl_crash_{compact_every}"))
    _crash_resume_finish(
        spark, wd, sim_state, "frontier", "before", compact_every
    )
    assert os.path.isdir(os.path.join(wd, "seen", "r2"))


@pytest.mark.parametrize(
    "table,when,compact_every",
    [
        pytest.param(table, when, every, id=f"{table}-{when}-{mode}")
        for table in frontier_mod.TABLES
        for when in ("before", "after")
        for mode, every in (("delta", 8), ("compacting", 2))
        # frontier-before is the test above
        if (table, when) != ("frontier", "before")
    ],
)
def test_resume_after_crash_at_any_commit_point(
    spark, tmp_path_factory, sim_state, table, when, compact_every
):
    wd = str(tmp_path_factory.mktemp(f"crawl_crash_{table}_{when}"))
    _crash_resume_finish(spark, wd, sim_state, table, when, compact_every)


def test_new_urls_dedup_matches_python(spark):
    # candidates deduped by url_hash keep one row per new hash, through
    # the prefilter split-union of both filter kinds and the no-filter
    # anti-join.  Rows are a pure function of url_hash, the engine-wide
    # premise (equal hash => identical row).
    import pyspark.sql.functions as F

    from scalpel_ts_spark.operators.seen import Bloom, build_filter, new_urls

    key = (F.col("id") % 900)  # duplicate hashes on purpose
    cand = spark.range(0, 3000).select(
        F.concat(F.lit("http://h"), (key % 7).cast("string"),
                 F.lit(".test/p/"), key.cast("string")).alias("url"),
        (key % 7).alias("host_id"),
        key.alias("url_hash"),
    )
    seen = spark.range(0, 300).select(F.col("id").alias("url_hash"))
    expected = sorted(
        (f"http://h{k % 7}.test/p/{k}", k % 7, k) for k in range(300, 900)
    )
    for kind in (Bloom, CuckooTable, None):
        filters = None if kind is None else build_filter(seen, kind, n_buckets=8)
        unique = cand.dropDuplicates(["url_hash"])
        got = new_urls(unique, seen, filters, kind, n_buckets=8).collect()
        assert sorted(
            (r.url, r.host_id, r.url_hash) for r in got
        ) == expected, f"kind={kind}"


def _crawl_seen_and_links(spark, sim):
    # the simulator's final seen set, and the out-links of every seen
    # page as candidates (duplicates, seen and new URLs mixed), keyed
    # by the engine's url_hash
    from scalpel_ts_spark.functions.url import url_hash
    from scalpel_ts_spark.sources.synthetic import out_link_ids, parse_url_ids

    links = [
        make_url(*t)
        for u in sorted(sim.seen)
        for t in out_link_ids(*parse_url_ids(u), N_HOSTS)
    ]

    def keyed(urls):
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return df.withColumn("url_hash", url_hash(df.url))

    return keyed(sorted(sim.seen)), keyed(links), links


def test_prefilter_is_transparent(spark, sim_state):
    # the prefilter is a prefilter, the exact anti-join is the
    # authority: on a crawl's seen set and discovered links, new_urls
    # through either filter kind returns exactly the no-filter rows
    # (duplicates kept), and no seen candidate is tagged definitely new
    from scalpel_ts_spark.operators.seen import build_filter, new_urls, prefilter

    seen, cand, links = _crawl_seen_and_links(spark, sim_state)
    expected = sorted(u for u in links if u not in sim_state.seen)
    assert 0 < len(expected) < len(links)
    assert sorted(r.url for r in new_urls(cand, seen).collect()) == expected
    for kind in (seen_ops.Bloom, CuckooTable):
        filters = build_filter(seen, kind, n_buckets=8)
        tagged = prefilter(cand, filters, kind, n_buckets=8).collect()
        assert all(r.maybe_seen for r in tagged if r.url in sim_state.seen)
        assert any(not r.maybe_seen for r in tagged), f"kind={kind}"
        got = new_urls(cand, seen, filters, kind, n_buckets=8).collect()
        assert sorted(r.url for r in got) == expected, f"kind={kind}"


def test_non_default_bloom_buckets_match_simulator(spark, sim_state):
    # regression: new_urls must probe with the SAME bucket count the
    # bitmaps were built with, or already-seen URLs pass as bloom
    # false negatives (ADVICE r1).  A non-power-of-two count of 7
    # matches the simulator; probing those bitmaps at 8 buckets does not
    from scalpel_ts_spark.operators.seen import Bloom, build_filter, new_urls

    seen, cand, links = _crawl_seen_and_links(spark, sim_state)
    expected = set(links) - sim_state.seen
    blooms = build_filter(seen, Bloom, n_buckets=7)
    assert blooms.count() == 7
    cand = cand.dropDuplicates(["url_hash"])
    got = new_urls(cand, seen, blooms, Bloom, n_buckets=7).collect()
    assert sorted(r.url for r in got) == sorted(expected)
    # the mismatch this guards against: bucket 7 has no bitmap, other
    # buckets hold another bucketing's keys, so seen URLs leak through
    skewed = new_urls(cand, seen, blooms, Bloom, n_buckets=8)
    assert {r.url for r in skewed.collect()} & sim_state.seen


@pytest.mark.parametrize(
    "kind", [seen_ops.Bloom, CuckooTable], ids=["bloom", "cuckoo"]
)
def test_bloom_bucket_overflow_guard(spark, monkeypatch, kind):
    # a config mismatch (huge candidate volume into one task's pandas
    # heap) must raise, not OOM (round-4 verdict #3), for either kind
    import pyspark.sql.functions as F

    from scalpel_ts_spark.operators.seen import build_filter, prefilter

    monkeypatch.setattr(seen_ops, "BLOOM_ROWS_PER_BUCKET", 250)  # guard 1000
    seen = spark.range(0, 10).select(F.col("id").alias("url_hash"))
    filters = build_filter(seen, kind, n_buckets=1)
    cand = spark.range(0, 5000).select(F.col("id").alias("url_hash"))
    with pytest.raises(Exception, match="filter bucket overflow"):
        prefilter(cand, filters, kind, n_buckets=1).count()


def test_robots_cache_fetches_each_host_once(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("crawl_robots"))
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, write_docs=False
    )
    eng.init(SEEDS)
    metrics = eng.run(3)
    misses = [m["robots_cache_misses"] for m in metrics]
    assert misses[0] > 0
    # cache property: total fetches == rows in the final rules table
    # (a host's robots.txt is never fetched twice)
    rules = spark.read.parquet(f"{wd}/robots/r{eng.round}")
    assert rules.count() == sum(misses)
    assert rules.select("host_id").distinct().count() == rules.count()


def test_seen_compaction_bounds_delta_chain(spark, tmp_path_factory, sim_state):
    # compaction on (every 2 rounds): results identical, and the seen
    # read is bounded to <= compact_every snapshots regardless of
    # crawl length
    wd = str(tmp_path_factory.mktemp("crawl_compact"))
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4,
        compact_every=2, write_docs=False,
    )
    eng.init(SEEDS)
    eng.run(2)
    # resume across a compaction boundary too
    eng2 = CrawlEngine.resume(spark, wd)
    assert eng2.compact_every == 2
    eng2.run(ROUNDS - 2)
    assert _engine_log(eng2) == _sim_log(sim_state)
    assert {r.url for r in eng2.seen().collect()} == sim_state.seen
    fulls = eng2.manifest["seen_full_rounds"]
    assert fulls == [0, 2, 4]
    # the union read spans only rounds since the last full snapshot
    base = max(r for r in fulls if r <= eng2.round)
    assert eng2.round - base < 2


def test_repeated_crawl_compiles_no_new_classes(spark, tmp_path_factory):
    # the codegen cache (get_spark's spark.sql.codegen.cache.maxEntries)
    # holds a whole crawl's generated classes, so a second crawl of the
    # same shape and seeds compiles none; at Spark's default of 100
    # entries the crawl's ~144 classes cycle through the LRU and every
    # pass recompiled about 160
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    seeds = [make_url(h, p) for h in range(64) for p in (3, 17, 41, 97)]

    def crawl():
        wd = str(tmp_path_factory.mktemp("crawl_codegen"))
        eng = CrawlEngine(
            spark, wd, n_hosts=64, cap=8, refill=4, compact_every=2
        )
        eng.init(seeds)
        return sum(m["fetched"] for m in eng.run(2))

    first = crawl()
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    assert crawl() == first > 0
    assert codegen.METRIC_COMPILATION_TIME().getCount() - before == 0


def _synthetic_http(url):
    # FetchFn over the same deterministic web as the default fetcher
    from scalpel_ts_spark.sources.synthetic import html_for_url

    return (200, "text/html; charset=utf-8",
            html_for_url(url, N_HOSTS).encode("utf-8"))


def test_pluggable_http_fetch_stage_matches_simulator(
    spark, tmp_path_factory, sim_state
):
    # the production seam: swap the synthetic fetch UDF for the
    # per-host HTTP fetch stage (decode rule included); with a FetchFn
    # over the same synthetic web the crawl must be identical
    from functools import partial

    from scalpel_ts_spark.sources.fetch import http_fetch_stage

    wd = str(tmp_path_factory.mktemp("crawl_http"))
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, write_docs=False,
        fetch_stage=partial(http_fetch_stage, fetch_fn=_synthetic_http),
    )
    eng.init(SEEDS)
    eng.run(ROUNDS)
    assert _engine_log(eng) == _sim_log(sim_state)
    assert {r.url for r in eng.seen().collect()} == sim_state.seen


def test_link_outside_synthetic_url_space_is_crawled(spark, tmp_path_factory):
    # hosts and crawl order are hashes of the URL, not of the synthetic
    # URL shape: a real-web link is discovered under its own host and
    # fetched the next round
    from functools import partial

    from scalpel_ts_spark.sources.fetch import http_fetch_stage

    external = "https://example.com/x"

    def external_link_http(url):
        status, ctype, body = _synthetic_http(url)
        anchor = f'<a href="{external}">out</a></nav>'.encode()
        return status, ctype, body.replace(b"</nav>", anchor)

    wd = str(tmp_path_factory.mktemp("crawl_external_link"))
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, write_docs=False,
        fetch_stage=partial(http_fetch_stage, fetch_fn=external_link_http),
    )
    eng.init(SEEDS)
    m = eng.run_round()
    assert eng.round == 1 and m["discovered_new"] > 0
    assert external in {r.url for r in eng.seen().collect()}
    frontier = {
        r.url: r for r in eng.storage.read("frontier", 1).collect()
    }
    assert frontier[external].host_id == host_id_py(external)
    assert frontier[external].url_hash == url_hash_py(external)
    eng.run_round()
    log = {r.url: r for r in eng.fetch_log().collect()}
    assert log[external].round == 1
    assert log[external].host_id == host_id_py(external)


def test_resume_refuses_a_crawl_keyed_before_url_hashing(
    spark, tmp_path_factory
):
    # a frontier from before the keying change: host ids parsed from
    # the synthetic URL shape and a `seq` order key
    wd = str(tmp_path_factory.mktemp("crawl_old_keys"))
    eng = CrawlEngine(spark, wd, n_hosts=N_HOSTS, write_docs=False)
    eng.init(SEEDS)
    old = spark.createDataFrame(
        [(make_url(1, 0), 1, 0, 1_000_000_000, url_hash_py(make_url(1, 0)), 0)],
        "url string, host_id long, priority int, seq long, url_hash long, "
        "fails int",
    )
    eng.storage.write(old, "frontier", 0)
    # such a crawl's manifest may also name options removed since: the
    # keying change is what the refusal names
    eng.manifest["config"]["salt_buckets"] = 16
    eng.storage.save_manifest(eng.manifest)
    with pytest.raises(ValueError, match="URL keying change"):
        CrawlEngine.resume(spark, wd)


def _flaky_http(url):
    # page 0 of host h1 always fails; everything else succeeds
    from scalpel_ts_spark.sources.synthetic import html_for_url

    if url == make_url(1, 0):
        raise OSError("connection reset")
    return (200, "text/html; charset=utf-8",
            html_for_url(url, N_HOSTS).encode("utf-8"))


def test_fetch_errors_stay_in_frontier_for_retry(spark, tmp_path_factory):
    from functools import partial

    from scalpel_ts_spark.sources.fetch import http_fetch_stage

    wd = str(tmp_path_factory.mktemp("crawl_flaky"))
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, write_docs=False,
        fetch_stage=partial(http_fetch_stage, fetch_fn=_flaky_http),
    )
    eng.init(SEEDS)  # SEEDS includes make_url(1, 0)
    m1 = eng.run_round()
    assert m1["fetch_errors"] == 1
    # the failed URL was neither logged as fetched nor dropped: it is
    # still in the next frontier for retry
    logged = {r.url for r in eng.fetch_log().collect()}
    assert make_url(1, 0) not in logged
    frontier = {
        r.url for r in spark.read.parquet(f"{wd}/frontier/r1").collect()
    }
    assert make_url(1, 0) in frontier


def test_permanently_failing_url_dropped_after_retry_cap(
    spark, tmp_path_factory
):
    from functools import partial

    from scalpel_ts_spark.sources.fetch import http_fetch_stage

    wd = str(tmp_path_factory.mktemp("crawl_permfail"))
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, write_docs=False,
        fetch_stage=partial(http_fetch_stage, fetch_fn=_flaky_http),
        max_fetch_retries=2,
    )
    eng.init(SEEDS)
    bad = make_url(1, 0)
    fails_by_round = []
    for _ in range(3):
        eng.run_round()
        rows = spark.read.parquet(f"{wd}/frontier/r{eng.round}").collect()
        row = {r.url: r.fails for r in rows}.get(bad)
        fails_by_round.append(row)
    # retried with an incrementing counter, then dropped past the cap
    assert fails_by_round == [1, 2, None]
    assert bad not in {r.url for r in eng.fetch_log().collect()}
    # the rest of the crawl was unaffected
    assert eng.manifest["rounds"][-1]["fetched"] > 0


def _http_404(url):
    from io import BytesIO
    from urllib.error import HTTPError

    from scalpel_ts_spark.sources.synthetic import html_for_url

    if url == make_url(1, 0):
        # custom error page WITH a link: the URL must leave the
        # frontier, but the error body is not content — its link must
        # never be discovered
        body = (
            '<html><body><a href="http://h5.test/p/99999">x</a>'
            "gone</body></html>"
        )
        raise HTTPError(
            url, 404, "Not Found", None, BytesIO(body.encode())
        )
    return (200, "text/html; charset=utf-8",
            html_for_url(url, N_HOSTS).encode("utf-8"))


def test_4xx_is_a_result_not_a_fetch_failure(spark, tmp_path_factory):
    # ADVICE r2 (high): 404/403/410 are responses — the URL is fetched
    # (status recorded, leaves the frontier, enters the log) instead of
    # being re-selected forever and starving its host's budget
    from functools import partial

    from scalpel_ts_spark.sources.fetch import http_fetch_stage

    wd = str(tmp_path_factory.mktemp("crawl_404"))
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, write_docs=False,
        fetch_stage=partial(http_fetch_stage, fetch_fn=_http_404),
    )
    eng.init(SEEDS)
    m = eng.run_round()
    assert m["fetch_errors"] == 0
    log = eng.fetch_log().collect()
    by_url = {r.url: r for r in log}
    assert make_url(1, 0) in by_url
    # the status column makes 4xx visible (and filterable) downstream
    assert by_url[make_url(1, 0)].status == 404
    assert all(r.status == 200 for u, r in by_url.items()
               if u != make_url(1, 0))
    frontier = {
        r.url for r in spark.read.parquet(f"{wd}/frontier/r1").collect()
    }
    assert make_url(1, 0) not in frontier
    # the 404 body is NOT content: its link was never discovered, and
    # it contributed nothing to the corpus
    assert make_url(5, 99999) not in frontier
    assert by_url[make_url(1, 0)].n_links == 1  # parsed, logged...
    seen = {r.url for r in eng.seen().collect()}
    assert make_url(5, 99999) not in seen  # ...but not followed


def _all_error_fetch(url):
    raise OSError("network down")


def test_all_error_rounds_retry_then_stop(spark, tmp_path_factory):
    # ADVICE r2 (medium): an all-error round is NOT 'frontier
    # exhausted' — it retries (bounded), only a clean empty round or
    # max consecutive failures stop the crawl
    from functools import partial

    from scalpel_ts_spark.sources.fetch import http_fetch_stage

    wd = str(tmp_path_factory.mktemp("crawl_outage"))
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, write_docs=False,
        fetch_stage=partial(http_fetch_stage, fetch_fn=_all_error_fetch),
        max_fetch_retries=3,
    )
    eng.init(SEEDS)
    m1, m2, m3 = eng.run_round(), eng.run_round(), eng.run_round()
    assert [m["fetch_errors"] for m in (m1, m2, m3)] == [3, 3, 3]
    assert [m["stopped"] for m in (m1, m2, m3)] == [False, False, True]
    # nothing was committed during the outage: resume-safe
    assert eng.round == 0


def test_fetched_antijoin_broadcast_is_conditional(spark):
    # VERDICT r2 'what's wrong' #1: no FORCED broadcast when the round
    # budget exceeds the threshold (AQE may still pick one at runtime
    # from observed sizes — the hint is what must be conditional)
    from pyspark.sql import functions as F

    from scalpel_ts_spark.plans.frontier import (
        DEFAULT_BROADCAST_FETCHED_MAX,
        frontier_anti_join,
    )

    frontier = spark.range(100).select(F.col("id").alias("url_hash"))
    fetched = spark.range(10).select(F.col("id").alias("url_hash"))
    under = frontier_anti_join(frontier, fetched, expected_rows=10)
    over = frontier_anti_join(
        frontier, fetched, expected_rows=DEFAULT_BROADCAST_FETCHED_MAX + 1
    )
    under_plan = under._jdf.queryExecution().analyzed().toString()
    over_plan = over._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in under_plan
    assert "ResolvedHint" not in over_plan
    # both shapes produce identical results
    assert sorted(r.url_hash for r in under.collect()) == sorted(
        r.url_hash for r in over.collect()
    )


def _robots_web_fetch(url):
    """Synthetic web + REAL robots.txt bodies: hosts 1,3,4+ declare a
    textual prefix rule, host 2's robots 404s (allow all), host 0's
    robots server is down (disallow all).  Host 0 is the synthetic
    web's HOT host (~20% of cross-links), so disallowed targets onto
    it are guaranteed to be discovered."""
    from io import BytesIO
    from urllib.error import HTTPError

    from scalpel_ts_spark.sources.synthetic import html_for_url

    if url.endswith("/robots.txt"):
        host = int(url.split("//h")[1].split(".")[0])
        if host == 2:
            raise HTTPError(url, 404, "nf", None, BytesIO(b""))
        if host == 0:
            raise OSError("robots server down")
        return (200, "text/plain", b"User-agent: *\nDisallow: /p/1")
    return (200, "text/html; charset=utf-8",
            html_for_url(url, N_HOSTS).encode("utf-8"))


def test_http_robots_stage_end_to_end(spark, tmp_path_factory):
    """Production robots path through the engine: real robots bodies
    cached per host, RFC 9309 cogrouped filtering of discovered links,
    4xx=allow-all / 5xx=disallow-all classes, resume with stages."""
    from functools import partial

    from scalpel_ts_spark.functions.robots import http_robots_stage
    from scalpel_ts_spark.sources.fetch import http_fetch_stage
    from scalpel_ts_spark.sources.synthetic import (
        make_url,
        out_link_ids,
        parse_url_ids,
    )

    wd = str(tmp_path_factory.mktemp("crawl_http_robots"))
    stages = dict(
        fetch_stage=partial(http_fetch_stage, fetch_fn=_robots_web_fetch),
        robots_stage=http_robots_stage(_robots_web_fetch),
    )
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, write_docs=False,
        **stages,
    )
    # host 0 (robots server down) and make_url(7, 11) (matches the
    # textual Disallow: /p/1 prefix) are seeded directly: the pre-fetch
    # vet (RFC 9309 — robots BEFORE a host's first contact; round-3
    # ADVICE) must fetch robots for the seed hosts and deny both, so
    # NEITHER is ever fetched, and links DISCOVERED onto host 0 are
    # dropped as disallow-all
    seeds = SEEDS + [make_url(0, 1)]
    eng.init(seeds)
    m1 = eng.run_round()
    assert m1["robots_denied"] == 2  # make_url(7, 11) + make_url(0, 1)
    # the denied seeds left the frontier: never re-selected
    frontier = {
        r.url for r in spark.read.parquet(f"{wd}/frontier/r1").collect()
    }
    assert make_url(0, 1) not in frontier
    assert make_url(7, 11) not in frontier
    eng.run(1)
    # resume re-supplies the stages (callables cannot live in the
    # manifest) and continues on the robots cache
    eng2 = CrawlEngine.resume(spark, wd, **stages)
    eng2.run(1)

    log_urls = {r.url for r in eng2.fetch_log().collect()}
    seen = {r.url for r in eng2.seen().collect()} - set(seeds)
    # recompute every out-link of every fetched page: which targets
    # SHOULD the robots rules have blocked?
    targets = set()
    for u in log_urls:
        h, p = parse_url_ids(u)
        targets |= {
            make_url(th, tp) for th, tp in out_link_ids(h, p, N_HOSTS)
        }
    rule_blocked = {
        u for u in targets
        if parse_url_ids(u)[0] not in (2, 0)
        and str(parse_url_ids(u)[1]).startswith("1")
    }
    host0 = {u for u in targets if parse_url_ids(u)[0] == 0}
    assert rule_blocked and host0  # the scenario exercised both classes
    # Disallow: /p/1 prefix enforced on rule hosts; 5xx host fully
    # disallowed — blocked targets never entered the (discovered) seen
    assert not (rule_blocked & seen)
    assert not (host0 & seen)
    # 404-robots host is fully allowed: /p/1* pages DO get discovered
    host2_blockedish = {
        u for u in (targets & seen)
        if parse_url_ids(u)[0] == 2
        and str(parse_url_ids(u)[1]).startswith("1")
    }
    assert host2_blockedish
    # with the pre-fetch vet NOTHING fetched violates robots — seeds
    # included (the round-2 contract carved seeds out; round-4 closes it)
    assert not log_urls & (rule_blocked | host0)
    assert make_url(7, 11) not in log_urls
    assert not {u for u in log_urls if parse_url_ids(u)[0] == 0}
    # robots cache: one row per encountered host; the unreachable host
    # carries its bounded-retry counter (re-fetched once per round)
    rules = spark.read.parquet(f"{wd}/robots/r{eng2.round}")
    assert rules.columns == ["host_id", "robots_txt", "url", "fetch_fails"]
    assert rules.count() == rules.select("host_id").distinct().count()
    by_host = {r.host_id: r for r in rules.collect()}
    host0_id = host_id_py(make_url(0, 0))
    # prefetch + 2 discovery retries
    assert by_host[host0_id].fetch_fails == 3
    assert all(
        r.fetch_fails == 0 for h, r in by_host.items() if h != host0_id
    )


def _flaky_robots_fetch(flag_path, url):
    """Host 1's robots server is down until ``flag_path`` exists;
    every other host serves an allow-all robots.  Pages are the
    synthetic web."""
    import os

    from scalpel_ts_spark.sources.synthetic import html_for_url

    if url.endswith("/robots.txt"):
        host = int(url.split("//h")[1].split(".")[0])
        if host == 1 and not os.path.exists(flag_path):
            raise OSError("robots server down")
        return (200, "text/plain", b"User-agent: *\nAllow: /")
    return (200, "text/html; charset=utf-8",
            html_for_url(url, N_HOSTS).encode("utf-8"))


def test_unreachable_robots_refetch_recovers(spark, tmp_path_factory):
    """Round-3 ADVICE: a transient 5xx must not blank a host forever.
    The DISALLOW_ALL sentinel carries a fetch_fails counter; the host
    is re-fetched each round (bounded by max_fetch_retries) and a
    successful fetch replaces the sentinel with the real body."""
    from functools import partial

    from scalpel_ts_spark.functions.robots import (
        DISALLOW_ALL,
        http_robots_stage,
    )
    from scalpel_ts_spark.sources.fetch import http_fetch_stage
    from scalpel_ts_spark.sources.synthetic import make_url

    wd = str(tmp_path_factory.mktemp("crawl_robots_recover"))
    flag = str(tmp_path_factory.mktemp("robots_flag") / "up")
    fetch_fn = partial(_flaky_robots_fetch, flag)
    eng = CrawlEngine(
        spark, wd, n_hosts=N_HOSTS, cap=8, refill=4, write_docs=False,
        fetch_stage=partial(http_fetch_stage, fetch_fn=fetch_fn),
        robots_stage=http_robots_stage(fetch_fn),
    )
    eng.init([make_url(1, 0), make_url(2, 5)])

    def host1_row(rnd):
        rows = {
            r.host_id: r
            for r in spark.read.parquet(f"{wd}/robots/r{rnd}").collect()
        }
        return rows.get(host_id_py(make_url(1, 0)))

    m1 = eng.run_round()
    # pre-vet fetched host 1's robots, got the outage sentinel, denied
    # the seed; host 2 crawled normally
    assert m1["robots_denied"] == 1
    r1 = host1_row(1)
    assert r1.robots_txt == DISALLOW_ALL and r1.fetch_fails == 1
    eng.run_round()
    r2 = host1_row(2)
    assert r2.robots_txt == DISALLOW_ALL and r2.fetch_fails == 2
    # server comes back: the next round's bounded re-fetch replaces
    # the sentinel with the real body and resets the counter
    open(flag, "w").close()
    eng.run_round()
    r3 = host1_row(3)
    assert r3.robots_txt == "User-agent: *\nAllow: /"
    assert r3.fetch_fails == 0
    # the host count is the robots table's rows, not the summed cache
    # misses (host 1's re-fetches are misses of a host already cached)
    _assert_sizes_match_snapshots(eng)


def test_round_one_per_host_writes_gated_on_seed_hosts(
    spark, tmp_path_factory, monkeypatch
):
    # n_hosts understates the seed list's 16 hosts: round 1's host_state
    # holds every seed host, so the driver-write gate must size it by
    # the seeds' host count, not by the empty round-0 per-host tables
    from scalpel_ts_spark.plans.storage import ParquetSnapshotStorage

    monkeypatch.setattr(frontier_mod, "DRIVER_WRITE_MAX_ROWS", 8)
    calls = []

    class SpyStorage(ParquetSnapshotStorage):
        def write(self, df, table, rnd):
            calls.append((table, rnd, "write"))
            super().write(df, table, rnd)

        def write_small(self, df, table, rnd):
            calls.append((table, rnd, "write_small"))
            super().write_small(df, table, rnd)

    wd = str(tmp_path_factory.mktemp("crawl_host_gate"))
    eng = CrawlEngine(
        spark, wd, n_hosts=1, cap=8, refill=4, write_docs=False,
        storage=SpyStorage(spark, wd),
    )
    eng.init([make_url(h, 0) for h in range(16)])
    eng.run_round()
    assert ("host_state", 1, "write") in calls
    assert ("host_state", 1, "write_small") not in calls
    assert eng.manifest["rounds"][0]["host_rows"] == 16


def test_obs_count_reads_only_a_pruned_observation_as_zero(spark):
    # AQE prunes the observed empty join side, so its metric row is
    # null: that reads as 0; a metric the observation lacks raises
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    pruned = Observation()
    empty = (
        spark.range(100).filter("id < 0").repartition(3, "id")
        .observe(pruned, F.count(F.lit(1)).alias("n"))
    )
    assert spark.range(1000).join(empty, "id").collect() == []
    assert frontier_mod._obs_count(pruned, "n") == 0
    fired = Observation()
    spark.range(3).observe(fired, F.count(F.lit(1)).alias("n")).collect()
    assert frontier_mod._obs_count(fired, "n") == 3
    with pytest.raises(KeyError):
        frontier_mod._obs_count(fired, "m")


def test_crawl_invariants_oracle_matches_simulator():
    """The driver's crawl_invariants oracle row pins constant VALUES
    (__spark_entry__._CRAWL_INVARIANTS_SQL) derived from the executable
    spec.  Re-derive them from plans/simulator.py here so a change to
    the crawl policy (or a typo in the pinned constants) fails pytest
    instead of surfacing only in the driver's correctness loop."""
    import duckdb

    import __spark_entry__ as E

    sim = simulate_crawl(
        [make_url(h, 0) for h in range(6)], 3, cap=4, refill=2, n_hosts=8
    )
    per = {}
    urls = []
    for e in sim.fetch_log:
        r = e["round"]
        per.setdefault(r, {}).setdefault(e["host_id"], 0)
        per[r][e["host_id"]] += 1
        urls.append(e["url"])
    dup_total = len(urls) - len(set(urls))
    derived = sorted(
        (
            r,
            sum(hosts.values()),
            len(hosts),
            max(hosts.values()),
            dup_total,
        )
        for r, hosts in per.items()
    )
    pinned = sorted(
        tuple(row)
        for row in duckdb.connect()
        .execute(E.oracle_sql()["crawl_invariants"])
        .fetchall()
    )
    assert derived == pinned
