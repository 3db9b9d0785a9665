"""The crawl engine: PySpark-native URL frontier + fetch scheduler.

One crawl round is one Spark job pipeline over snapshot tables.
``CrawlEngine.run_round`` runs it as the stage methods named on the
right, which pass one ``_Round`` state object:

    frontier ──(refill token buckets)── host_state   _select
       │ join on host_id
       ▼
    top-k per host (operators.topk)
       │ (production: robots pre-vet for hosts       _robots_prevet
       │  with no cached rules)
    fetch UDF ── parse+extract UDF                   _fetch_extract
       │  (one parse: spans, links, title)
    explode links ── canonicalize                    _discover_dedup
       │
    hash dedup + exact anti-join vs seen, on ONE
    url_hash exchange of the discovered side
    (operators.seen.new_urls)
       │
    robots rules for new hosts (cache table)         _robots
       │
    robots filter on the small genuinely-new set     _next_frontier
    (per-URL allow/deny commutes with dedup and
    set-difference); next frontier, token spend
       │
    write snapshots: docs+, fetch_log+, seen+,       _commit
       frontier', host_state', robots'
    manifest (metrics + per-partition lineage)       _record

The seen check runs no bloom: a ``left_anti`` join builds on its right
side, the seen set, so the seen set is exchanged in full with or
without a prefilter, and a bloom would only add its own cogroup,
bitmap exchange, update and write to every round (BASELINE.md r7 has
the measurements).  The partitioned bloom/cuckoo prefilter stays an
operator in :mod:`scalpel_ts_spark.operators.seen`.

Storage goes through the :mod:`scalpel_ts_spark.plans.storage` seam:
the sandbox uses ``ParquetSnapshotStorage`` (every table versioned by
round under ``workdir/<table>/r<N>``, manifest as JSON), a cluster uses
``IcebergSnapshotStorage`` (``writeTo(...).overwrite(round == N)`` on
tables partitioned by round + ``bucket(url_hash)`` /
``bucket(host_id)``) — the engine code is identical.  The ``seen``
table is append-only deltas with a FULL compacted snapshot rewritten
every ``compact_every`` rounds, so per-round scan cost and file count
stay bounded for arbitrarily long crawls; the manifest records
per-round metrics, per-partition lineage, which seen snapshots are
full, and the row counts that size the next round — giving
atomic-at-round granularity and resume-from-any-round.

Determinism: every key is derived from the URL itself, never from
task scheduling or the URL's shape: ``host_id`` and ``url_hash`` are
hashes of the canonical URL's authority and of the URL
(:mod:`scalpel_ts_spark.functions.url`), and a host's crawl order is
(priority, url_hash) — so the engine reproduces the reference
simulator's fetch log and seen set exactly, at any parallelism,
resumed or not (tests/test_frontier.py).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from scalpel_ts_spark.functions.robots import robots_filter_stage
from scalpel_ts_spark.functions.url import canonicalize_url, host_id, url_hash
from scalpel_ts_spark.operators.extract import (
    crawl_extract_udf,
    fused_fetch_extract_udf,
)
from scalpel_ts_spark.operators.seen import new_urls
from scalpel_ts_spark.operators.topk import topk_per_group
from scalpel_ts_spark.plans.storage import ParquetSnapshotStorage, SnapshotStorage
from scalpel_ts_spark.sources.synthetic import fetch_robots_rules, html_for_url

TABLES = ("frontier", "seen", "host_state", "docs", "fetch_log", "robots")

#: ~24 MB of longs — comfortably under Spark's driver/executor broadcast
#: comfort zone; above this the anti-join falls back to a plain shuffle
DEFAULT_BROADCAST_FETCHED_MAX = 3_000_000

#: per-host tables (one row per host) are collected and written driver-
#: side below this row count: no distributed-write job, no commit-
#: protocol renames.  Above it (10^7-host design point) they stay
#: distributed writes.
DRIVER_WRITE_MAX_ROWS = 1_000_000

#: frontier rows per selection task below which the selection window
#: is pre-keyed onto the fetch stage's ``par`` partitions; above it the
#: window gets its own exchange at full shuffle parallelism, with the
#: partial group limit beneath it
SELECT_ROWS_PER_TASK = 500_000


def frontier_anti_join(
    frontier: DataFrame,
    fetched_keys: DataFrame,
    expected_rows: int,
) -> DataFrame:
    """``frontier MINUS fetched`` on url_hash — the per-round frontier
    update.

    The fetched side is bounded by the round budget (cap x n_hosts,
    known a priori), so when that bound is under
    ``DEFAULT_BROADCAST_FETCHED_MAX`` the join broadcasts it and the
    frontier is never shuffled.  At design-point budgets (10^7 hosts x
    8 tokens ~ 10^8 rows) a forced broadcast would OOM the driver, so
    past the threshold this stays a plain left_anti join and lets AQE
    pick the strategy from observed sizes (round-2 verdict finding
    #1).
    """
    if expected_rows <= DEFAULT_BROADCAST_FETCHED_MAX:
        fetched_keys = F.broadcast(fetched_keys)
    return frontier.join(fetched_keys, "url_hash", "left_anti")


def _obs_count(obs: Observation, key: str) -> int:
    """Read a count metric off an Observation, treating an observation
    that AQE pruned as 0.

    When the observed plan is EMPTY at runtime (an empty join side, or
    a cached empty relation), AQE's empty-relation propagation can
    prune the CollectMetrics node entirely — the metric row is then
    null, and ``Observation.get`` raises a ``Py4JJavaError`` whose
    Java exception is the ``AssertionError`` of
    ``PythonSQLUtils.toPyRow``.  For count metrics the pruned-empty
    case IS zero.  Anything else propagates: these counts size later
    rounds, so a silent 0 must not hide a fault."""
    try:
        return int(obs.get[key])
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.lang.AssertionError":
            raise
        return 0


def _with_count(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """``df`` observed with its row count under ``name``, and the
    Observation that holds the count once an action ran the plan."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias(name)), obs


def _coalesce_for_write(
    df: DataFrame, est_rows: int, rows_per_file: int = 262_144
) -> DataFrame:
    """Bound a snapshot's output file count by its (known) row count.

    Small snapshots otherwise inherit one file per upstream partition —
    dozens of near-empty parquet files whose commit-protocol renames
    dominate round latency on shared disks.  Only applied when the
    estimate calls for FEWER files than typical task counts (the
    coalesce is a narrow dependency and would otherwise cap scan
    parallelism on genuinely large tables).

    Parallelism floor: writing meaningful data must not idle cores —
    coalescing a half-million-row table to 2 tasks on a 4-core level
    measurably broke the N->4N scaling pair — so files may go down to
    quarter-full before the count drops below the core count."""
    target = max(1, -(-est_rows // rows_per_file))
    if target > 64:
        return df  # big table: keep natural partitioning
    par = df.sparkSession.sparkContext.defaultParallelism
    floor = min(par, max(1, -(-est_rows // max(1, rows_per_file // 4))))
    return df.coalesce(max(target, floor))


def resolve_write_small(storage):
    """The storage's ``write_small``, a required method of the seam;
    kept as a name because perfbench/test_timed_storage.py imports
    it."""
    return storage.write_small


@dataclass
class _Round:
    """The state one crawl round's stages hand each other.

    ``run_round`` makes one per round; each stage method reads the
    fields earlier stages set and sets its own.  ``caches`` holds every
    frame the round persisted, and ``release`` unpersists them.
    ``sections`` are wall seconds measured contiguously from ``t0``:
    each ``mark`` closes the interval since the previous mark."""

    r: int
    t0: float = field(default_factory=time.time)
    sections: dict = field(default_factory=dict)
    caches: list = field(default_factory=list)
    # select (+ production robots pre-vet)
    frontier: DataFrame | None = None
    new_state: DataFrame | None = None
    candidates: DataFrame | None = None
    prekeyed: bool = False
    par: int = 1
    robots_prev: DataFrame | None = None
    miss_sites: DataFrame | None = None
    prefetch_rules: DataFrame | None = None
    prefetch_obs: Observation | None = None
    denied: DataFrame | None = None
    # fetch_extract
    fetched_all: DataFrame | None = None
    fetched: DataFrame | None = None
    content: DataFrame | None = None
    has_err: bool = False
    lineage: list = field(default_factory=list)
    n_fetched: int = 0
    n_errors: int = 0
    # discover_dedup, robots
    seen: DataFrame | None = None
    new_keys: DataFrame | None = None
    robots: DataFrame | None = None
    robots_obs: Observation | None = None
    # next frontier, commit
    seen_delta: DataFrame | None = None
    n_new_obs: Observation | None = None
    denied_obs: Observation | None = None
    next_frontier: DataFrame | None = None
    host_state_next: DataFrame | None = None
    sizes: dict = field(default_factory=dict)

    def __post_init__(self):
        self._last = self.t0

    def mark(self, label: str) -> None:
        now = time.time()
        self.sections[label] = round(
            self.sections.get(label, 0.0) + now - self._last, 3
        )
        self._last = now

    def cache(self, df: DataFrame) -> DataFrame:
        self.caches.append(df.persist())
        return df

    def release(self) -> None:
        for df in self.caches:
            df.unpersist()
        self.caches.clear()


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        n_hosts: int = 50,
        cap: int = 8,
        refill: int = 4,
        write_docs: bool = True,
        compact_every: int = 8,
        storage: SnapshotStorage | None = None,
        fetch_stage=None,
        robots_stage=None,
        max_fetch_retries: int = 3,
    ):
        """``fetch_stage``: optional ``df -> df + html column`` callable
        replacing the synthetic fetcher — the production seam.  E.g.::

            from functools import partial
            from scalpel_ts_spark.sources.fetch import http_fetch_stage
            CrawlEngine(..., fetch_stage=partial(
                http_fetch_stage, fetch_fn=urllib_fetch))

        The stage receives the selected candidate frame (no
        pre-repartition — a grouped stage shuffles by host itself) and
        must append an ``html`` string column.  If it also emits a
        ``fetch_error`` column, rows with a non-null error are treated
        as NOT fetched: excluded from docs/fetch_log/seen, host tokens
        unspent, and left in the frontier for retry next round (count
        reported as the ``fetch_errors`` metric).  The default reads
        the deterministic synthetic web, which is what the
        simulator-equality gates require.

        ``robots_stage``: optional ``(host_id, url) -> (host_id,
        robots_txt)`` callable replacing the synthetic rule table with
        REAL robots.txt bodies — the production pairing for an HTTP
        ``fetch_stage`` (``functions.robots.http_robots_stage``).
        When set, the per-host cache stores raw bodies, new hosts are
        fetched once from an exemplar URL, and discovered links are
        vetted by the cogrouped RFC 9309 filter
        (``robots_filter_stage``) instead of the synthetic modulus
        rule.  Default None keeps the deterministic synthetic table
        the simulator-equality gates require.

        ``max_fetch_retries``: a row that keeps erroring is retried at
        most this many times (its ``fails`` count rides the frontier),
        then dropped — permanently failing URLs must not monopolize a
        host's politeness budget forever (round-2 ADVICE, high).  The
        same bound caps consecutive ALL-error rounds before ``run``
        stops: transient total outages retry, genuine dead-ends halt.
        """
        self.spark = spark
        self.workdir = workdir
        self.n_hosts = n_hosts
        self.cap = cap
        self.refill = refill
        self.write_docs = write_docs
        self.compact_every = compact_every
        self.storage = storage or ParquetSnapshotStorage(spark, workdir)
        self.fetch_stage = fetch_stage
        self.robots_stage = robots_stage
        self.max_fetch_retries = max_fetch_retries
        self._consec_all_error_rounds = 0
        self.manifest = {
            "config": self._config(),
            "rounds": [],
            "seen_full_rounds": [0],
        }

    def _config(self):
        return {
            "n_hosts": self.n_hosts,
            "cap": self.cap,
            "refill": self.refill,
            "compact_every": self.compact_every,
            "max_fetch_retries": self.max_fetch_retries,
        }

    @property
    def round(self) -> int:
        """The last committed round: the manifest holds one entry per
        committed round."""
        return len(self.manifest["rounds"])

    def _sizes(self) -> dict:
        """The row counts after the last committed round: its manifest
        entry, or ``init``'s for round 0.  ``frontier_rows`` is observed
        on the frontier write; ``host_rows`` is the larger of the two
        per-host tables (host_state, robots), observed on their writes
        — round 0's is the seeds' approximate distinct host count."""
        rounds = self.manifest["rounds"]
        return rounds[-1] if rounds else self.manifest["init"]

    # --- snapshot IO (thin delegates onto the storage seam) ---------------

    def _write(self, df: DataFrame, table: str, rnd: int, write=None):
        """``write`` defaults to the storage's distributed write."""
        # label the write's jobs in the UI (guide §1.5); thread-local,
        # so each concurrent commit-pool write is labelled correctly
        self.spark.sparkContext.setJobDescription(f"write {table} r{rnd}")
        try:
            (write or self.storage.write)(df, table, rnd)
        finally:
            self.spark.sparkContext.setJobDescription(None)

    def _write_per_host(self, df: DataFrame, table: str, rnd: int) -> int:
        """Per-host tables (host_state, robots): one row per host, so
        under DRIVER_WRITE_MAX_ROWS they take the storage seam's
        driver-side write (no distributed job, no commit-protocol
        renames); past it they stay distributed, file count bounded.
        Returns the rows written, observed on the write.

        The gate uses the host count of the last committed round
        (``_sizes``), not the static ``n_hosts`` config — with a
        production robots_stage the table grows with discovered hosts,
        and an understated config must not collect an oversized table
        onto the driver (round-3 ADVICE).  This round's table can be
        larger by one round of discovery, so the gate keeps 2x
        headroom."""
        est = max(self.n_hosts, self._sizes()["host_rows"])
        df, obs = _with_count(df, "rows")
        if est <= DRIVER_WRITE_MAX_ROWS // 2:
            self._write(df, table, rnd, self.storage.write_small)
        else:
            self._write(_coalesce_for_write(df, est), table, rnd)
        return _obs_count(obs, "rows")

    def _read(self, table: str, rnd: int) -> DataFrame:
        return self.storage.read(table, rnd)

    def _seen_full_rounds(self) -> list:
        return self.manifest.get("seen_full_rounds", [0])

    def _seen_union(self, upto: int) -> DataFrame:
        """Full seen set = latest compacted (full) snapshot <= upto,
        plus the append-only deltas after it.

        Every ``compact_every`` rounds the engine rewrites a FULL seen
        snapshot (manifest records which rounds are full), so the
        number of snapshots this reads — and hence file count and scan
        cost — is bounded by ``compact_every`` regardless of crawl
        length.  (Iceberg equivalent: data-file compaction /
        rewrite_data_files on the seen table.)"""
        base = max(r for r in self._seen_full_rounds() if r <= upto)
        return self.storage.read_union("seen", range(base, upto + 1))

    # --- lifecycle --------------------------------------------------------

    def init(self, seeds):
        """Round-0 snapshot from a seed list."""
        return self.init_df(
            self.spark.createDataFrame([(u,) for u in seeds], ["url"])
        )

    def init_df(self, seeds_df: DataFrame):
        """Round-0 snapshot from a DataFrame with a ``url`` column
        (the scale path: a 10^10-URL seed list never goes through the
        driver)."""
        self.storage.reset()
        seed_df = seeds_df.select(canonicalize_url(F.col("url")).alias("url"))
        # a seed without scheme://authority has no host: not crawled
        frontier = seed_df.select(
            "url",
            host_id(F.col("url")).alias("host_id"),
            F.lit(0).alias("priority"),
            url_hash(F.col("url")).alias("url_hash"),
            F.lit(0).alias("fails"),  # fetch-retry count (bounded)
        ).filter(F.col("host_id").isNotNull())
        # round 0's row counts ride the frontier write as an
        # Observation (no separate count job); the per-host tables
        # start empty, so the seeds' distinct hosts stand in for their
        # round-1 size
        obs = Observation()
        observed = frontier.observe(
            obs,
            F.count(F.lit(1)).alias("frontier_rows"),
            F.approx_count_distinct("host_id").alias("host_rows"),
        )
        self._write(observed, "frontier", 0)
        init = {k: _obs_count(obs, k) for k in ("frontier_rows", "host_rows")}
        self.manifest.update(init=init, rounds=[], seen_full_rounds=[0])
        # production robots cache rows carry an exemplar url (for
        # re-fetches) and the consecutive-unreachable counter that
        # bounds how long a 5xx DISALLOW_ALL sentinel sticks (r3
        # ADVICE: RFC 9309 scopes complete-disallow to WHILE the file
        # is unreachable, not forever)
        robots_schema = (
            "host_id long, robots_txt string, url string, fetch_fails int"
            if self.robots_stage is not None
            else "host_id long, disallow_mod int, disallow_rem int"
        )
        per_host = {
            "host_state": "host_id long, tokens int",
            "robots": robots_schema,
        }
        # the remaining round-0 snapshots are independent of each other
        # — the empty per-host tables are written beside the seen
        # write, like the round commit's pool
        with ThreadPoolExecutor(max_workers=len(per_host)) as pool:
            futures = [
                pool.submit(
                    self._write_per_host,
                    self.spark.createDataFrame([], schema),
                    table,
                    0,
                )
                for table, schema in per_host.items()
            ]
            self._write(frontier.select("url", "url_hash"), "seen", 0)
            for fut in futures:
                fut.result()
        self.storage.save_manifest(self.manifest)

    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        workdir: str,
        storage: SnapshotStorage | None = None,
        fetch_stage=None,
        robots_stage=None,
    ) -> "CrawlEngine":
        """Reopen an engine from its latest committed snapshot.

        Stages are callables and cannot live in the manifest: a
        production resume re-supplies the same ``fetch_stage`` /
        ``robots_stage`` it crawled with."""
        storage = storage or ParquetSnapshotStorage(spark, workdir)
        manifest = storage.load_manifest()
        # a frontier from before the URL keying change carries `seq`
        # and host ids parsed from the URL shape (and its manifest may
        # name options since removed): crawling on would mix two keys
        # per host
        frontier = storage.read("frontier", len(manifest["rounds"]))
        if "seq" in frontier.columns:
            raise ValueError(
                f"{workdir} was crawled before the URL keying change (host "
                "and order keys are now hashes of the canonical URL): it "
                "cannot be resumed, start a new crawl with init"
            )
        eng = cls(
            spark,
            workdir,
            storage=storage,
            fetch_stage=fetch_stage,
            robots_stage=robots_stage,
            **manifest["config"],
        )
        eng.manifest = {"init": {}, **manifest}
        # a manifest written before the engine kept its row counts has
        # neither: count the last committed round's snapshots once
        sizes = eng._sizes()
        if "frontier_rows" not in sizes:
            rnd = eng.round
            sizes["frontier_rows"] = eng._read("frontier", rnd).count()
            sizes["host_rows"] = max(
                eng._read(table, rnd).count()
                for table in ("host_state", "robots")
            )
        return eng

    # --- production robots helpers -----------------------------------------

    @staticmethod
    def _with_path(df: DataFrame) -> DataFrame:
        """path-with-query for RFC 9309 rule matching; bare authority
        becomes '/'."""
        return df.withColumn(
            "path",
            F.coalesce(
                F.nullif(
                    F.regexp_replace(
                        F.col("url"), r"^[a-z][a-z0-9+.-]*://[^/]*", ""
                    ),
                    F.lit(""),
                ),
                F.lit("/"),
            ),
        )

    def _robots_fetch(
        self, sites: DataFrame, robots_prev: DataFrame
    ) -> DataFrame:
        """Fetch robots.txt for ``sites`` (host_id, url) through the
        production stage and attach the cache-metadata columns: the
        exemplar url (so later re-fetches need no URL lookup) and
        ``fetch_fails`` — consecutive fetches that came back as the
        unreachable-sentinel body.  RFC 9309 scopes the 5xx
        complete-disallow to while the file is UNREACHABLE (cached up
        to ~24h), so hosts with ``0 < fetch_fails <=
        max_fetch_retries`` are re-fetched each round until success or
        the bound — the deterministic sandbox analog of a TTL (round-3
        ADVICE).  A genuine disallow-all robots body matches the
        sentinel and is re-fetched too: harmless (same body returns,
        counter saturates at the bound).

        Joins are per-host rows (never URL volume); robots_prev
        supplies the previous counter, absent for new hosts.
        """
        from scalpel_ts_spark.functions.robots import DISALLOW_ALL

        rules = self.robots_stage(sites).join(
            sites.select("host_id", "url"), "host_id"
        )
        prev = robots_prev.select(
            "host_id", F.col("fetch_fails").alias("_prev_fails")
        )
        return (
            rules.join(prev, "host_id", "left")
            .select(
                "host_id",
                "robots_txt",
                "url",
                F.when(
                    F.col("robots_txt") == F.lit(DISALLOW_ALL),
                    F.coalesce(F.col("_prev_fails"), F.lit(0)) + 1,
                )
                .otherwise(F.lit(0))
                .cast("int")
                .alias("fetch_fails"),
            )
        )

    # --- one crawl round ---------------------------------------------------

    def run_round(self) -> dict:
        """One crawl round: the stages of the module diagram over one
        ``_Round``.  Sections ``fetch_extract`` and ``robots`` are
        marked here, ``seen_dedup`` and ``commit`` inside ``_commit``;
        the round's caches are released on every exit path."""
        st = _Round(self.round)
        try:
            self._select(st)
            self._fetch_extract(st)
            st.mark("fetch_extract")
            # a zero-fetch round still COMMITS when the robots pre-vet
            # denied candidates: those rows must leave the frontier, or
            # the same denied batch would be re-selected forever
            if st.n_fetched == 0 and (
                st.denied is None or st.denied.limit(1).count() == 0
            ):
                return self._uncommitted(st)
            self._consec_all_error_rounds = 0
            self._discover_dedup(st)
            self._robots(st)
            st.mark("robots")
            self._next_frontier(st)
            self._commit(st)
            return self._record(st)
        finally:
            st.release()

    def _select(self, st: _Round) -> None:
        """Token refill and the politeness-budgeted top-k; on the
        production path, the robots pre-vet of first-contact hosts."""
        frontier = st.frontier = self._read("frontier", st.r)
        host_state = self._read("host_state", st.r)

        # 1. token-bucket refill for hosts with pending work; hosts not
        #    pending this round keep their balance untouched (matches
        #    the reference policy in plans/simulator.py)
        pending_hosts = frontier.select("host_id").distinct()
        refreshed = pending_hosts.join(host_state, "host_id", "left").select(
            "host_id",
            F.when(F.col("tokens").isNull(), F.lit(self.cap))
            .otherwise(F.least(F.lit(self.cap), F.col("tokens") + F.lit(self.refill)))
            .alias("tokens"),
        )
        idle = host_state.join(pending_hosts, "host_id", "left_anti")
        # persisted: THREE consumers (the broadcast into the budgeted
        # selection, the token-spend update, and the host_state write)
        # would each recompute the frontier-wide host distinct — the
        # r6 profile showed the host_state commit alone re-running it
        # for 4s a round at a 700k-row frontier.  The cache is one row
        # per pending/known host, materialized by the first job.
        st.new_state = st.cache(refreshed.unionByName(idle))

        # 2. politeness-budgeted selection: top-k per host by
        #    (priority, url_hash) with k = the host's token balance.
        #    host_state is per-HOST (millions of rows at most) while
        #    the frontier is per-URL (10^10 design point) — broadcast
        #    the small side so the frontier is not shuffled for this
        #    join
        budgeted = frontier.join(F.broadcast(st.new_state), "host_id")
        frontier_rows = self._sizes()["frontier_rows"]
        # fetch-stage parallelism, derived from the round's expected
        # fetch volume (~2k rows/task), capped at ONE task per core:
        # each Python-stage task pays a measured ~140ms runner-init
        # latency (JVM->worker handshake, warm reused workers — r6
        # stack-sampled), so two task waves cost two init waves where
        # one suffices.  A production fetch stage with per-host
        # latency variance raises this through defaultParallelism on
        # a bigger cluster.
        cores = self.spark.sparkContext.defaultParallelism
        expected = min(frontier_rows, self.cap * self.n_hosts)
        st.par = max(1, min(cores, -(-expected // 2048)))
        st.prekeyed = (
            self.fetch_stage is None
            and frontier_rows <= st.par * SELECT_ROWS_PER_TASK
        )
        if st.prekeyed:
            # pre-key the selection exchange at the fetch stage's own
            # partitioning: the window reuses it (same host_id
            # clustering), and the fused fetch UDF then runs IN the
            # window's stage — no separate candidate repartition, one
            # exchange fewer per round.  Only while the whole frontier
            # fits `par` tasks (by the manifest's row count: the
            # optimizer's estimate of a frontier-x-broadcast join is a
            # cardinality product): the partial group limit then runs
            # after this exchange, not before it.  Balance: a host's
            # selected rows are capped at `cap`, so host keying bounds
            # any task at cap x (hosts/par) rows.
            budgeted = budgeted.repartition(st.par, "host_id")
        # tokens <= cap (the refill's least() above), so `cap` is the
        # literal bound that gives the window its partial group limit
        st.candidates = topk_per_group(
            budgeted,
            group_cols=["host_id"],
            order_cols=[F.col("priority"), F.col("url_hash")],
            k=F.col("tokens"),
            prune_k=self.cap,
        ).drop("tokens")
        st.robots_prev = self._read("robots", st.r)
        if self.robots_stage is not None:
            self._robots_prevet(st)

    def _robots_prevet(self, st: _Round) -> None:
        """Robots-before-first-fetch (production path only; round-3
        ADVICE, medium): RFC 9309 requires consulting robots.txt
        BEFORE crawling, but rules are normally fetched at link-
        discovery time — so a host's very first contact (round-1
        seeds, typically) would otherwise be fetched blind.  Hosts in
        the batch with no cached robots row get their robots.txt
        fetched NOW; only THEIR candidate rows pay the cogrouped vet
        (hosts with a cached row were vetted when their URLs were
        discovered); denied rows are excluded from the fetch AND
        removed from the frontier (they can never legally be fetched).
        In steady state every host has a cached row, so this is an
        empty anti-join."""
        # the candidate batch (bounded by the round budget) gets FOUR
        # consumers in this path — miss-host detection, the vet split,
        # the fetch stage, and the denied-keys anti-join in the
        # frontier write — so one bounded persist stops the top-k
        # selection from recomputing per consumer
        candidates = st.cache(st.candidates)
        st.miss_sites = st.cache(
            candidates.groupBy("host_id")
            .agg(F.min("url").alias("url"))
            .join(st.robots_prev.select("host_id"), "host_id", "left_anti")
        )
        prefetch, st.prefetch_obs = _with_count(
            self._robots_fetch(st.miss_sites, st.robots_prev), "n_prefetch"
        )
        st.prefetch_rules = st.cache(prefetch)
        miss_hosts = F.broadcast(st.miss_sites.select("host_id"))
        unknown = candidates.join(miss_hosts, "host_id", "left_semi")
        vetted = st.cache(
            robots_filter_stage(
                self._with_path(unknown), st.prefetch_rules
            ).drop("path")
        )
        st.candidates = candidates.join(
            miss_hosts, "host_id", "left_anti"
        ).unionByName(vetted)
        st.denied = unknown.join(
            vetted.select("url_hash"), "url_hash", "left_anti"
        ).select("url_hash")

    def _fetch_extract(self, st: _Round) -> None:
        """Fetch + single-parse extraction (spans, links, title), and
        the one job that materializes it with per-partition lineage
        and error counts.

        The Python stage needs explicit ROW-based partitioning (AQE
        sizes by bytes; fetch/parse cost is per row and the UDF's
        output is ~10x its input).  ``par`` was derived before the
        selection; on the pre-keyed path the selection exchange
        already established it, so the fused UDF rides the window's
        stage with no further repartition.

        Failed fetches (non-null ``fetch_error``) are NOT fetched:
        excluded from docs/fetch_log/seen and host tokens unspent — but
        their url_hashes are kept as DATA (not just a count) so the
        frontier update can bump each row's retry counter and drop
        rows past max_fetch_retries instead of re-selecting a
        permanently failing URL every round (round-2 ADVICE, high).
        The HTTP status rides along when the fetch stage provides one:
        4xx rows ARE fetched (leave the frontier, spend a token, logged
        with their status) but their bodies are CONTENT-FILTERED out of
        the docs corpus and link discovery — a custom 404 page is
        neither training data nor a link source."""
        candidates = st.candidates
        if self.fetch_stage is not None:
            # no pre-repartition: a grouped fetch stage (http_fetch_
            # stage's applyInPandas) shuffles by host itself — a prior
            # (host, url) exchange would just be shuffled again
            with_html = self.fetch_stage(candidates)
            st.has_err = "fetch_error" in with_html.columns
            keep_cols = list(candidates.columns) + [
                c for c in ("status", "fetch_error") if c in with_html.columns
            ]
            extracted = with_html.withColumn(
                "ex", crawl_extract_udf()(F.col("url"), F.col("html"))
            )
        else:
            # synthetic fetch: fuse fetch+parse into ONE Python worker
            # call so multi-KB document bodies never cross the Arrow
            # boundary — only the ~10x-smaller extract struct rides
            # back to the JVM (two chained pandas UDFs would ship each
            # body JVM->Python->JVM->Python; see fused_fetch_extract_
            # udf's docstring and the A/B in BASELINE.md r5)
            keep_cols = list(candidates.columns)
            n_hosts = self.n_hosts
            if st.prekeyed:
                # the selection exchange was pre-keyed at (par,
                # host_id) and the window reused it, so the candidate
                # batch is already row-balanced on `par` partitions —
                # the fused UDF runs in the window's stage, no second
                # exchange
                spread = candidates
            else:
                spread = candidates.repartition(st.par, "host_id", "url_hash")
            extracted = spread.withColumn(
                "ex",
                fused_fetch_extract_udf(
                    lambda u: html_for_url(u, n_hosts)
                )(F.col("url")),
            )
        fetched_all = st.fetched_all = st.cache(
            extracted.select(*keep_cols, "ex")
        )
        err = F.col("fetch_error").isNotNull() if st.has_err else F.lit(False)
        # one job: materialize fetch+extract AND collect per-partition
        # lineage + error counts; n_fetched derives from the lineage
        self.spark.sparkContext.setJobDescription(
            f"fetch+extract stats r{st.r}"
        )
        stats = (
            fetched_all.groupBy(F.spark_partition_id().alias("pid"))
            .agg(
                F.count(F.when(~err, 1)).alias("rows"),
                F.count(F.when(err, 1)).alias("errs"),
            )
            .collect()
        )
        self.spark.sparkContext.setJobDescription(None)
        st.lineage = [
            {"partition": row["pid"], "rows": row["rows"]} for row in stats
        ]
        st.n_fetched = sum(row["rows"] for row in stats)
        st.n_errors = sum(row["errs"] for row in stats)
        st.fetched = (
            fetched_all.filter(~err).drop("fetch_error")
            if st.has_err
            else fetched_all
        )
        # 2xx (or statusless synthetic) rows are corpus+discovery
        # content; non-2xx rows stay in fetched (seen/log/tokens) only
        if "status" in st.fetched.columns:
            st.content = st.fetched.filter(
                F.col("status").isNull()
                | ((F.col("status") >= 200) & (F.col("status") < 300))
            )
        else:
            st.content = st.fetched

    def _uncommitted(self, st: _Round) -> dict:
        """Result of a round that fetched nothing and commits nothing.

        'frontier exhausted' and 'every fetch failed this round' are
        different conditions (round-2 ADVICE, medium): a clean empty
        round ends the crawl; an all-error round is retried (tokens
        refill, rows kept) up to max_fetch_retries consecutive times,
        then the crawl stops rather than spinning on a dead network."""
        if st.n_errors > 0:
            self._consec_all_error_rounds += 1
        stopped = (
            st.n_errors == 0
            or self._consec_all_error_rounds >= self.max_fetch_retries
        )
        return {
            "round": st.r + 1,
            "fetched": 0,
            "stopped": stopped,
            "fetch_errors": st.n_errors,
            # nothing was written and the manifest gained no round: a
            # retried outage round must not collide with the later
            # committed round of the same number in metrics streams
            "committed": False,
        }

    def _discover_dedup(self, st: _Round) -> None:
        """Link discovery -> canonical URLs -> the genuinely-new set
        (hash dedup + exact anti-join against seen)."""
        # 4. link discovery -> canonical candidate URLs.
        # NOT persisted: at discovery volume re-running the regex pass
        # from the (persisted) fetched content costs less than
        # materializing a cache of every link string (profiled: persist
        # 2.1s vs recompute 1.2s per macro-round), and skipping the
        # cache keeps memory high-water independent of discovery
        # volume — the scale-safe choice.
        candidates_raw = (
            st.content.select(F.explode("ex.links").alias("raw_url"))
            .select(canonicalize_url(F.col("raw_url")).alias("url"))
            .withColumn("host_id", host_id(F.col("url")))
            # a link without scheme://authority has no host: dropped
            .filter(F.col("host_id").isNotNull())
        )
        if st.prefetch_rules is not None:
            # rules fetched by the pre-vet join the cache view for the
            # rest of the round (and its write) — never re-fetched at
            # discovery time
            st.robots_prev = st.robots_prev.unionByName(st.prefetch_rules)

        # 5. seen-set dedup FIRST: the url_hash-keyed dropDuplicates
        #    and the exact anti-join share one hash exchange of the
        #    discovered side (tests/test_plan_shapes.py pins it).  Only
        #    (url, host_id, url_hash) travels through that exchange.
        st.seen = self._seen_union(st.r)
        discovered = candidates_raw.select(
            "url", "host_id", url_hash(F.col("url")).alias("url_hash")
        )
        # persisted: the genuinely-new set (post-dedup, post-anti-join
        # — orders of magnitude smaller than raw discovery) feeds both
        # the new-host robots lookup and the robots vet below
        st.new_keys = st.cache(
            new_urls(discovered.dropDuplicates(["url_hash"]), st.seen)
        )

    def _robots(self, st: _Round) -> None:
        """The round's robots cache table: rules are fetched only for
        hosts seen for the first time (cache misses ride the robots
        write as an Observation), plus — production path — bounded
        re-fetches of unreachable hosts whose cached DISALLOW_ALL
        sentinel must not stick forever (round-3 ADVICE; RFC 9309
        scopes complete-disallow to while the file is unreachable).
        Hosts whose every discovered link is already seen need no
        rules: nothing of theirs can enter the frontier this round,
        and the pre-vet covers first contact."""
        robots_prev = st.robots_prev
        if self.robots_stage is not None:
            new_sites = (
                st.new_keys.groupBy("host_id")
                .agg(F.min("url").alias("url"))
                .join(robots_prev.select("host_id"), "host_id", "left_anti")
            )
            # a host the pre-vet just fetched is not retried again
            # within the same round
            retry_sites = robots_prev.filter(
                (F.col("fetch_fails") > 0)
                & (F.col("fetch_fails") <= F.lit(self.max_fetch_retries))
            ).select("host_id", "url").join(
                st.miss_sites.select("host_id"), "host_id", "left_anti"
            )
            sites = new_sites.unionByName(retry_sites)
            new_rules = st.cache(self._robots_fetch(sites, robots_prev))
            robots_kept = robots_prev.join(
                retry_sites.select("host_id"), "host_id", "left_anti"
            )
        else:
            new_hosts = (
                st.new_keys.select("host_id")
                .distinct()
                .join(robots_prev.select("host_id"), "host_id", "left_anti")
            )
            new_rules = st.cache(fetch_robots_rules(new_hosts))
            robots_kept = robots_prev
        new_rules, st.robots_obs = _with_count(new_rules, "n_new_rules")
        st.robots = robots_kept.unionByName(new_rules)

    def _next_frontier(self, st: _Round) -> None:
        """Robots-vet the new set into ``fresh``, then the next
        frontier (pending - fetched - robots-denied + fresh) and the
        post-spend token balances."""
        # robots vetting AFTER the set-difference: per-URL allow/deny
        # commutes with dedup and anti-join, so it vets the (much
        # smaller) genuinely-new set instead of the full discovery
        # volume.  Denied URLs never reach seen or frontier — exactly
        # as when the filter ran first.
        if self.robots_stage is not None:
            allowed = robots_filter_stage(
                self._with_path(st.new_keys), st.robots
            ).drop("path")
        else:
            allowed = (
                st.new_keys.join(F.broadcast(st.robots), "host_id")
                # pmod: Spark's % is negative for a negative url_hash
                .filter(
                    F.pmod(F.col("url_hash"), F.col("disallow_mod"))
                    != F.col("disallow_rem")
                )
                .drop("disallow_mod", "disallow_rem")
            )
        fresh = st.cache(
            allowed.select(
                "url",
                "host_id",
                F.lit(st.r + 1).alias("priority"),
                "url_hash",
                F.lit(0).alias("fails"),
            )
        )
        # the new-URL count rides the seen write as an Observation
        # instead of paying a separate count job; fresh stays persisted
        # because two sinks consume it (seen, frontier)
        observed, st.n_new_obs = _with_count(fresh, "n_new")
        st.seen_delta = observed.select("url", "url_hash")

        # 6. next frontier = pending - fetched - robots-denied + fresh.
        #    The removal set is bounded by the round budget (cap x
        #    n_hosts, known a priori — fetched and denied are disjoint
        #    subsets of the candidate batch): broadcast only while that
        #    bound is small, else a plain anti-join (frontier_anti_join)
        round_budget = self.cap * self.n_hosts
        removal_keys = st.fetched.select("url_hash")
        if st.denied is not None:
            denied, st.denied_obs = _with_count(st.denied, "n_denied")
            removal_keys = removal_keys.unionByName(denied)
        kept = frontier_anti_join(st.frontier, removal_keys, round_budget)
        if st.has_err and st.n_errors > 0:
            # errored rows stay, with a bumped retry counter; rows past
            # the retry budget are dropped so a permanently failing URL
            # cannot occupy its host's top-k selection forever
            err_keys = st.fetched_all.filter(
                F.col("fetch_error").isNotNull()
            ).select(
                "url_hash", F.lit(1).alias("_errored")
            )
            if round_budget <= DEFAULT_BROADCAST_FETCHED_MAX:
                err_keys = F.broadcast(err_keys)
            kept = (
                kept.join(err_keys, "url_hash", "left")
                .withColumn(
                    "fails",
                    F.when(
                        F.col("_errored") == 1, F.col("fails") + 1
                    ).otherwise(F.col("fails")),
                )
                .drop("_errored")
                .filter(F.col("fails") <= F.lit(self.max_fetch_retries))
            )
        st.next_frontier = kept.unionByName(fresh)

        # 7. spend tokens
        spent = st.fetched.groupBy("host_id").agg(F.count("*").alias("used"))
        st.host_state_next = st.new_state.join(spent, "host_id", "left").select(
            "host_id",
            (F.col("tokens") - F.coalesce(F.col("used"), F.lit(0)))
            .cast("int")
            .alias("tokens"),
        )

    def _commit(self, st: _Round) -> None:
        """Commit the round's snapshots; marks ``seen_dedup`` after the
        seen write and ``commit`` at the end.

        The six tables are independent and their expensive inputs
        (fetched, fresh, new_rules) are persisted+materialized before
        their consumers race, so the writes are submitted CONCURRENTLY
        from driver threads — Spark schedules them as parallel jobs,
        collapsing commit latency from the sum of six jobs to
        roughly the slowest one.  (On a cluster this is the standard
        multi-sink pattern; atomicity stays at round granularity
        because the manifest is written only after every write
        completes.)  Tables whose inputs were ALL materialized by the
        stats job (docs, fetch_log, host_state read only
        fetched_all/new_state cache) start EARLY, overlapping the seen
        write's discovery pipeline; tables consuming `fresh`/`new_keys`
        (frontier, robots) wait for the seen write to populate
        those caches — racing them cold would recompute the dedup plan
        per consumer (caches are per-executor on a real cluster)."""
        nxt = st.r + 1
        early_writes = []
        if self.write_docs:
            docs = st.content.select(
                "url",
                F.lit(nxt).alias("round"),
                F.col("ex.title").alias("title"),
                F.col("ex.spans").alias("spans"),
            )
            # docs rows are wide (span arrays): smaller files keep the
            # parquet ENCODE parallel — at bench scale ~8 writer tasks,
            # not 1-2
            early_writes.append((
                _coalesce_for_write(docs, st.n_fetched, rows_per_file=8_192),
                "docs",
            ))
        log_cols = [
            F.lit(st.r).alias("round"),
            F.col("priority"),
            # the order key keeps the log's `seq` column name
            F.col("url_hash").alias("seq"),
            F.col("url"),
            F.col("host_id"),
            F.size("ex.links").alias("n_links"),
        ]
        if "status" in st.fetched.columns:  # 4xx/5xx in the log (ADVICE r2)
            log_cols.append(F.col("status"))
        early_writes.append(
            (_coalesce_for_write(st.fetched.select(*log_cols), st.n_fetched),
             "fetch_log")
        )
        last_full = max(self._seen_full_rounds())
        compacted = nxt - last_full >= self.compact_every
        if compacted:
            # compaction: every compact_every rounds, rewrite the FULL
            # seen set as ONE snapshot (hash-partitioned) so the delta
            # chain — file count and scan cost per round — is bounded
            # for arbitrarily long crawls
            wpar = self.spark.sparkContext.defaultParallelism
            full = st.seen.select("url", "url_hash").unionByName(st.seen_delta)
            seen_write = (full.repartition(wpar, "url_hash"), "seen")
        else:
            # delta volume is bounded by the round's discovery
            # amplification (~8 links/page)
            seen_write = (
                _coalesce_for_write(st.seen_delta, st.n_fetched * 8), "seen"
            )
        # the next round's sizes ride the frontier and per-host writes
        # as Observations
        next_frontier, frontier_obs = _with_count(st.next_frontier, "rows")
        # the pool spans every submission and the result loop, so an
        # exception anywhere (the main-thread seen write included)
        # still waits for the writes already in flight
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [
                pool.submit(self._write, df, table, nxt)
                for df, table in early_writes
            ]
            host_state = pool.submit(
                self._write_per_host, st.host_state_next, "host_state", nxt
            )
            futures.append(host_state)
            # the seen write pulls `fresh` through its persist (and
            # fires the n_new observation) on the MAIN thread while the
            # early cache-only writes run beside it
            self._write(*seen_write, nxt)
            st.mark("seen_dedup")
            frontier_est = self._sizes()["frontier_rows"] + 8 * st.n_fetched
            futures.append(
                pool.submit(
                    self._write,
                    _coalesce_for_write(next_frontier, frontier_est),
                    "frontier",
                    nxt,
                )
            )
            # robots is per-host (write_small fast path) but consumes
            # new_rules -> new_keys, so it belongs to the late batch
            robots = pool.submit(
                self._write_per_host, st.robots, "robots", nxt
            )
            futures.append(robots)
            for fut in futures:
                fut.result()
        if compacted:
            # record the full snapshot only AFTER its write succeeded —
            # marking it earlier would let a failed-then-retried round
            # treat a mere delta as the entire seen set
            self.manifest.setdefault("seen_full_rounds", [0]).append(nxt)
        st.sizes = {
            "frontier_rows": _obs_count(frontier_obs, "rows"),
            "host_rows": max(host_state.result(), robots.result()),
        }
        st.release()
        st.mark("commit")

    def _record(self, st: _Round) -> dict:
        """The committed round's metrics, appended to the manifest,
        which is saved last: the round's atomic commit point."""
        nxt = st.r + 1
        cache_misses = _obs_count(st.robots_obs, "n_new_rules")
        if st.prefetch_obs is not None:
            cache_misses += _obs_count(st.prefetch_obs, "n_prefetch")
        metrics = {
            "round": nxt,
            "fetched": st.n_fetched,
            "discovered_new": _obs_count(st.n_new_obs, "n_new"),
            "fetch_errors": st.n_errors,
            "robots_cache_misses": cache_misses,
            "wall_sec": round(time.time() - st.t0, 3),
            "sections": st.sections,
            "lineage": st.lineage,
            **st.sizes,
        }
        if st.denied_obs is not None:
            metrics["robots_denied"] = _obs_count(st.denied_obs, "n_denied")
        self.manifest["rounds"].append(metrics)
        self.storage.save_manifest(self.manifest)
        return metrics

    def run(self, rounds: int):
        out = []
        for _ in range(rounds):
            m = self.run_round()
            if m.get("stopped"):
                break
            if m.get("committed", True):  # skip retried outage rounds
                out.append(m)
        return out

    # --- readers ------------------------------------------------------------

    def fetch_log(self) -> DataFrame:
        return self.storage.read_union(
            "fetch_log", range(1, self.round + 1)
        )

    def seen(self) -> DataFrame:
        return self._seen_union(self.round)

    def docs(self) -> DataFrame:
        return self.storage.read_union("docs", range(1, self.round + 1))
