"""Physical-plan shape gates: the properties that make queries hold up
at 100 TB must be visible in `.explain`, not just assumed.

Each test pins one plan property the engine's docs claim:

* parquet scans PUSH filters down and PRUNE columns (a scan reading
  all columns for a 2-column projection is wrong);
* the politeness top-k join broadcasts the per-host side, never the
  frontier;
* the bloom split-union sends only bloom-positive rows through the
  exact anti-join exchange;
* the crawl engine's seen check shuffles its candidates once, and runs
  no Python;
* the per-row-k top-k bounds hot groups with a map-side partial group
  limit beneath its one exchange;
* whole-stage codegen spans the JVM-side text analytics (no Python in
  the hot path).

These complement (not replace) the value-level oracle gates: a plan
can be correct and still be the wrong plan.
"""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _tbl(spark, name):
    return spark.read.parquet(os.path.join(SF, f"{name}.parquet"))


def test_parquet_filter_pushdown_and_column_pruning(spark):
    docs = _tbl(spark, "documents")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = _formatted(q)
    # the filter reaches the scan...
    assert "PushedFilters" in plan
    assert "IsNotNull(lang)" in plan and "EqualTo(lang,en)" in plan
    # ...and the scan reads ONLY the referenced columns
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "doc_id" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema and "source" not in read_schema


def test_events_scan_prunes_to_aggregation_inputs(spark):
    events = _tbl(spark, "events")
    q = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    read_schema = next(
        line for line in _formatted(q).splitlines() if "ReadSchema" in line
    )
    assert "event_type" in read_schema
    for unused in ("user_id", "value", "ts"):
        assert unused not in read_schema


def test_budget_join_broadcasts_host_state_not_frontier(spark):
    # plans/frontier.py step 2: host_state (per-host) broadcasts; the
    # per-URL frontier must never be the built/broadcast side
    frontier = _tbl(spark, "documents").select(
        (F.col("doc_id") % 7).alias("host_id"),
        F.col("doc_id").alias("seq"),
    )
    host_state = frontier.select("host_id").distinct().withColumn(
        "tokens", F.lit(8)
    )
    joined = frontier.join(F.broadcast(host_state), "host_id")
    plan = _formatted(joined)
    assert "BroadcastHashJoin" in plan and "BuildRight" in plan
    # the broadcast (build) side is the NARROW per-host relation:
    # its exchange input is host_id alone — the frontier's payload
    # (seq) never enters a broadcast
    bc_section = plan[plan.index("(10) BroadcastExchange"):] if (
        "(10) BroadcastExchange" in plan
    ) else plan[plan.index("BroadcastExchange"):]
    first_input = bc_section.split("Input")[1][:80]
    assert "host_id" in first_input and "seq" not in first_input


def test_bloom_split_sends_only_suspects_to_antijoin(spark):
    from scalpel_ts_spark.operators.seen import Bloom, build_filter, new_urls

    orders = _tbl(spark, "orders")
    cand = orders.select(F.col("o_custkey").alias("key")).distinct()
    seen = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_custkey").alias("key")
    )
    blooms = build_filter(seen, Bloom, hash_col="key", n_buckets=8)
    out = new_urls(cand, seen, blooms, Bloom, hash_col="key", n_buckets=8)
    plan = _formatted(out)
    # exactly one anti-join node...
    assert plan.count("Join type: LeftAnti") == 1
    # ...fed by the maybe_seen = 1 (suspect) branch, while the
    # maybe_seen = 0 (bloom-negative) branch unions around it without
    # touching the exchange
    assert "(maybe_seen" in plan
    assert "= 1)" in plan and "= 0)" in plan
    assert "Union" in plan


def _nodes(plan):
    """Every node of a JVM physical plan, depth-first."""
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def test_engine_seen_dedup_exchanges_candidates_once(spark):
    """The crawl engine's seen check, ``new_urls`` with no filters over
    candidates deduped by url_hash: the dropDuplicates and the left-anti
    join share ONE hashpartitioning(url_hash) exchange of the
    candidates, and no Python stage (no bloom cogroup) runs.  Broadcast
    is off so the shape is the one a seen set too big to broadcast
    gets."""
    from scalpel_ts_spark.functions.url import canonicalize_url, host_id, url_hash
    from scalpel_ts_spark.operators.seen import new_urls

    def urls(df):
        raw = F.concat(
            F.lit("http://h"), (F.col("o_custkey") % 7).cast("string"),
            F.lit(".test/p/"), F.col("o_custkey").cast("string"),
        )
        return df.select(canonicalize_url(raw).alias("url")).select(
            "url",
            host_id(F.col("url")).alias("host_id"),
            url_hash(F.col("url")).alias("url_hash"),
        )

    orders = _tbl(spark, "orders")
    discovered = urls(orders)
    seen = urls(orders.filter(F.col("o_orderkey") % 3 == 0))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = new_urls(
            discovered.dropDuplicates(["url_hash"]),
            seen.select("url", "url_hash"),
        )
        plan = out._jdf.queryExecution().executedPlan().executedPlan()
    finally:
        spark.conf.set(key, old)
    nodes = list(_nodes(plan))
    join = next(n for n in nodes if "LeftAnti" in n.simpleStringWithNodeId())
    cand_side = list(_nodes(join.children().apply(0)))
    exchanges = [n for n in cand_side if n.nodeName() == "Exchange"]
    assert len(exchanges) == 1
    assert "hashpartitioning(url_hash" in exchanges[0].toString()
    # the dedup aggregate sits on top of that exchange and feeds the
    # join without another one (the seen side has its own)
    assert sum(n.nodeName() == "Exchange" for n in nodes) == 2
    names = {n.nodeName() for n in nodes}
    assert "FlatMapCoGroupsInPandas" not in names
    assert not any("Python" in n or "Pandas" in n for n in names)


@pytest.mark.parametrize("prune_k", [8, 4256])
def test_per_row_k_topk_limits_hot_groups_below_the_exchange(spark, prune_k):
    """The politeness top-k's skew guard: with a per-row k (the token
    quota) bounded by the literal ``prune_k``, the one window gets a
    map-side ``WindowGroupLimit`` in Partial mode beneath its single
    Exchange, so a hot host's reducer input is at most prune_k rows
    per map partition — no salt column, no second window.  4256 is
    ``tools/scaling_bench.py``'s token cap: above Spark's default
    ``windowGroupLimitThreshold`` (1000), under the session's."""
    from scalpel_ts_spark.operators.topk import topk_per_group

    frontier = _tbl(spark, "documents").select(
        (F.col("doc_id") % 7).alias("host_id"),
        (F.col("doc_id") % 3).alias("priority"),
        F.col("doc_id").alias("seq"),
        ((F.col("doc_id") % 5) + 1).cast("int").alias("tokens"),
    )
    out = topk_per_group(
        frontier,
        group_cols=["host_id"],
        order_cols=[F.col("priority"), F.col("seq")],
        k=F.col("tokens"),
        prune_k=prune_k,
    )
    plan = out._jdf.queryExecution().executedPlan().executedPlan()
    nodes = list(_nodes(plan))
    exchanges = [n for n in nodes if n.nodeName() == "Exchange"]
    assert len(exchanges) == 1
    assert "hashpartitioning(host_id" in exchanges[0].toString()
    below = [
        n.simpleString(100) for n in _nodes(exchanges[0].children().apply(0))
        if n.nodeName() == "WindowGroupLimit"
    ]
    assert len(below) == 1 and "Partial" in below[0]
    assert sum(n.nodeName() == "Window" for n in nodes) == 1
    assert "_salt" not in plan.toString()


def test_winnow_dedup_plan_is_equijoin_and_jvm_only(spark):
    """The winnowing near-dup plan must be (a) pure JVM — the md5 /
    window-min pipeline is higher-order functions, never a Python UDF
    — and (b) equi-joins throughout: candidate generation joins on the
    fingerprint VALUE; nothing may degrade to a cartesian/BNLJ (the
    all-pairs shape winnowing exists to avoid)."""
    import __spark_entry__ as E

    q = E.q_dedup_winnow(spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    for python_marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert python_marker not in plan
    for allpairs_marker in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert allpairs_marker not in plan


def test_text_stats_stays_in_wholestage_codegen(spark):
    import __spark_entry__ as E

    q = E.q_text_stats(spark, SF)
    # executedPlan prefixes codegen stages with '*(n)' — formatted
    # explain of an un-executed AQE plan hides them
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in plan  # at least one whole-stage codegen span
    for python_marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert python_marker not in plan


def test_dataset_split_is_shuffle_free_codegen_map(spark):
    """Split assignment must fuse into the scan: one codegen span, no
    Exchange, no Python — a pure projection even at 100 TB."""
    import __spark_entry__ as E

    plan = (
        E.q_dataset_split(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert "*(1)" in plan and "*(2)" not in plan  # ONE codegen span
    assert "Exchange" not in plan
    for python_marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert python_marker not in plan
    # sampling adds only a pushable filter on top of the same shape
    plan2 = (
        E.q_sample_stratified(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan2
    assert "ArrowEvalPython" not in plan2 and "BatchEvalPython" not in plan2


def test_quality_gopher_is_shuffle_free_codegen_map(spark):
    """The Gopher gate is a pure projection: one codegen span, no
    Exchange, no Python — it must fuse into the scan at 100 TB so
    quality filtering costs one pass and prunes to (id, text)."""
    import __spark_entry__ as E

    q = E.q_quality_gopher(spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in plan and "*(2)" not in plan
    assert "Exchange" not in plan
    for python_marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert python_marker not in plan
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "text" in read_schema and "source" not in read_schema


def test_repetition_topgram_is_two_partial_aggs(spark):
    """Frequency needs (doc, gram) counts: the right 100-TB shape is
    explode -> hash-agg -> hash-agg, each with a map-side partial
    (4 HashAggregate nodes), exactly two exchanges, and no Python.
    A per-row HOF frequency scan would be O(len^2) per doc; a missing
    partial agg would shuffle the full exploded gram stream."""
    import __spark_entry__ as E

    plan = (
        E.q_repetition_topgram(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Exchange count depends on the spread_small size gate
    # (operators/spread.py): when it fires (small input), the
    # repartition is keyed by doc_id — a prefix of BOTH grouping keys
    # — so the two aggregations reuse that single exchange and run
    # partition-locally (1 Exchange total); at scale the gate is a
    # no-op and the classic two aggregation exchanges appear.  Either
    # way both aggregates keep their map-side partials and no third
    # shape is acceptable.
    assert 1 <= plan.count("Exchange") <= 2
    assert plan.count("HashAggregate") == 4  # partial+final, twice
    assert "Generate explode" in plan
    for python_marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert python_marker not in plan


def test_decontamination_broadcasts_benchmark_grams(spark):
    """The benchmark gram set is the small side by construction
    (benchmarks are MBs; training corpora are TBs): it must ride a
    BroadcastExchange into a broadcast hash join — a sort-merge join
    here would shuffle the full exploded training-gram stream."""
    import __spark_entry__ as E

    plan = (
        E.q_decontamination(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for python_marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert python_marker not in plan
