"""Driver contract: entry / queries / oracle_sql.

Every implemented operator family from SURVEY.md §2 (extraction
combinators through the Spark UDF path, frontier primitives, and the
training-data pipeline ops) gets a ``queries()`` entry plus a DuckDB
``oracle_sql()`` mirror.  Column names and arithmetic are kept
IDENTICAL on both sides (exact-integer ratios, md5 fingerprints,
double-precision cosine with the same operation order) so the
driver's order-insensitive value-hash matches bit-for-bit.

Non-SQL-expressible entries (the crawl round loop) omit the oracle —
their authority is tests/test_frontier.py's simulator-equality gate.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scalpel_ts_spark.functions import split as SP
from scalpel_ts_spark.functions import text as T
from scalpel_ts_spark.functions.url import (
    canonicalize_url,
    canonicalize_url_sql_duckdb,
)
from scalpel_ts_spark.operators.cuckoo import CuckooTable
from scalpel_ts_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    winnow_duplicates,
)
from scalpel_ts_spark.operators.extract import extract_spans_udf, scrape_udf
from scalpel_ts_spark.operators.quality import (
    decontaminate,
    decontaminate_sql,
    quality_stats,
    quality_stats_sql,
    top_ngram_repetition,
    top_ngram_repetition_sql,
)
from scalpel_ts_spark.operators.seen import (
    Bloom,
    build_filter,
    new_urls,
    update_filter,
)
from scalpel_ts_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    ivf_topk,
    lsh_topk,
)
from scalpel_ts_spark.operators.spread import spread_small
from scalpel_ts_spark.operators.topk import topk_per_group

SF0001 = "/root/testdata/sf0.001"


#: parquet schema cache — METADATA only (column names/types from the
#: file footer), never data or results: every query still computes
#: from the parquet bytes.  Passing an explicit schema skips the
#: per-read schema-inference job (one task + a driver hop that showed
#: up as 25-50 ms at the head of every timed query rep, r6 profile);
#: on a real deployment this is the catalog's job.  Keyed by the
#: path's ``(st_mtime_ns, st_size)`` too: a parquet rewritten at the
#: same path with a new schema must not be read with the old one.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


# --------------------------------------------------------------------------
# HTML fixtures built IN the query from the documents table, so the
# extraction UDF path (tokenizer -> tag forest -> selector DFS ->
# scraper) is exercised end-to-end while the oracle stays pure SQL.
# --------------------------------------------------------------------------

def _D() -> F.Column:
    return F.col("doc_id").cast("string")


def _spans_html() -> F.Column:
    img = F.when(
        F.col("n_chars") % 3 == 0,
        F.concat(F.lit('<img src="media://doc/'), _D(), F.lit('" />')),
    ).otherwise(F.lit(""))
    return F.concat(
        F.lit("<html><head><title>doc "),
        _D(),
        F.lit("</title></head><body><h1>"),
        F.col("source"),
        F.lit("</h1>"),
        img,
        F.lit("<p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tbl(spark, sf_dir, "documents")
    # parquet scans partition by bytes; extraction cost is per row —
    # spread the Python stage across all cores (size-gated no-op at
    # scale; operators/spread.py)
    html = spread_small(docs, "doc_id").select(
        "doc_id", _spans_html().alias("html")
    )
    spans = html.select(
        "doc_id", F.explode(extract_spans_udf()(F.col("html"))).alias("s")
    )
    return spans.select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("span_text"),
        F.col("s.media_ref").alias("media_ref"),
    )


_EXTRACT_SPANS_SQL = """
SELECT doc_id, 0 AS offset, 'text' AS kind,
       'doc ' || doc_id AS span_text, CAST(NULL AS VARCHAR) AS media_ref
FROM documents
UNION ALL
SELECT doc_id, 1, 'text', source, NULL FROM documents
UNION ALL
SELECT doc_id, 2, 'image', NULL, 'media://doc/' || doc_id
FROM documents WHERE n_chars % 3 = 0
UNION ALL
SELECT doc_id, CASE WHEN n_chars % 3 = 0 THEN 3 ELSE 2 END, 'text', text, NULL
FROM documents
"""


def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scalpel_ts_spark.operators.extract import crawl_extract_udf

    docs = _tbl(spark, sf_dir, "documents")
    base = F.concat(F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
                    F.lit(".test/p/"), _D())
    html = F.concat(
        F.lit('<html><body><a href="'), base, F.lit('">x</a>'),
        F.lit('<a href="/rel/'), _D(), F.lit('">y</a></body></html>'),
    )
    df = docs.select("doc_id", base.alias("url"), html.alias("html"))
    ex = df.withColumn("ex", crawl_extract_udf()(F.col("url"), F.col("html")))
    return ex.select(
        "doc_id", F.posexplode("ex.links").alias("pos", "link")
    )


_EXTRACT_LINKS_SQL = """
SELECT doc_id, 0 AS pos,
       'http://h' || (doc_id % 7) || '.test/p/' || doc_id AS link
FROM documents
UNION ALL
SELECT doc_id, 1, 'http://h' || (doc_id % 7) || '.test/rel/' || doc_id
FROM documents
"""


def q_extract_title_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    import scalpel_ts_spark.core.scraper as S
    import scalpel_ts_spark.core.select as Sel
    from pyspark.sql.types import StringType

    docs = _tbl(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>T "), _D(),
        F.lit('</title></head><body><p class="c'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('">'), F.col("source"), F.lit("</p></body></html>"),
    )
    df = docs.select("doc_id", html.alias("html"))
    title_udf = scrape_udf(S.text(Sel.tag("title")), StringType())
    cls_udf = scrape_udf(S.attr("class", Sel.tag("p")), StringType())
    return df.select(
        "doc_id",
        title_udf(F.col("html")).alias("title"),
        cls_udf(F.col("html")).alias("cls"),
    )


_EXTRACT_TITLE_ATTR_SQL = """
SELECT doc_id, 'T ' || doc_id AS title, 'c' || (doc_id % 5) AS cls
FROM documents
"""


def q_extract_texts_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    import scalpel_ts_spark.core.scraper as S
    import scalpel_ts_spark.core.select as Sel
    from pyspark.sql.types import ArrayType, StringType

    docs = _tbl(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<ul><li>"), F.col("source"), F.lit("</li><li>"),
        F.col("lang"), F.lit("</li></ul>"),
    )
    df = docs.select("doc_id", html.alias("html"))
    texts_udf = scrape_udf(S.texts(Sel.tag("li")), ArrayType(StringType()))
    return df.select(
        "doc_id", F.posexplode(texts_udf(F.col("html"))).alias("pos", "item")
    )


_EXTRACT_TEXTS_POS_SQL = """
SELECT doc_id, 0 AS pos, source AS item FROM documents
UNION ALL
SELECT doc_id, 1, lang FROM documents
"""


def q_extract_nested_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    import scalpel_ts_spark.core.scraper as S
    import scalpel_ts_spark.core.select as Sel
    from pyspark.sql.types import StringType

    docs = _tbl(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<div><span>s"), _D(), F.lit("</span><b><span>t"), _D(),
        F.lit("</span></b></div>"),
    )
    df = docs.select("doc_id", html.alias("html"))
    shallow_udf = scrape_udf(
        S.text(Sel.at_depth(Sel.tag("span"), 1)), StringType()
    )
    inner_udf = scrape_udf(
        S.text(Sel.nested(Sel.tag("b"), Sel.tag("span"))), StringType()
    )
    return df.select(
        "doc_id",
        shallow_udf(F.col("html")).alias("shallow"),
        inner_udf(F.col("html")).alias("inner"),
    )


_EXTRACT_NESTED_DEPTH_SQL = """
SELECT doc_id, 's' || doc_id AS shallow, 't' || doc_id AS inner
FROM documents
"""


def q_extract_serial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial scraper (zipper over siblings) through the Spark path."""
    import scalpel_ts_spark.core.scraper as S
    import scalpel_ts_spark.core.select as Sel
    import scalpel_ts_spark.core.serial as Z
    from pyspark.sql.types import ArrayType, StringType

    docs = _tbl(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<seq><a>"), F.col("source"), F.lit("</a><b>"),
        F.col("lang"), F.lit("</b><a>x"), _D(), F.lit("</a></seq>"),
    )
    df = docs.select("doc_id", html.alias("html"))
    scraper = S.chroot(
        Sel.tag("seq"),
        Z.in_serial(Z.repeat(Z.step_next(S.text(Sel.any_node)))),
    )
    udf = scrape_udf(scraper, ArrayType(StringType()))
    return df.select(
        "doc_id", F.posexplode(udf(F.col("html"))).alias("pos", "item")
    )


_EXTRACT_SERIAL_SQL = """
SELECT doc_id, 0 AS pos, source AS item FROM documents
UNION ALL SELECT doc_id, 1, lang FROM documents
UNION ALL SELECT doc_id, 2, 'x' || doc_id FROM documents
"""


def q_extract_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """html/innerHTML re-serialization through the Spark path."""
    import scalpel_ts_spark.core.scraper as S
    import scalpel_ts_spark.core.select as Sel
    from pyspark.sql.types import StringType

    docs = _tbl(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<div id="d'), (F.col("doc_id") % 9).cast("string"),
        F.lit('"><b>'), F.col("source"), F.lit("</b></div>"),
    )
    df = docs.select("doc_id", html.alias("html"))
    outer_udf = scrape_udf(S.html(Sel.tag("div")), StringType())
    inner_udf = scrape_udf(S.inner_html(Sel.tag("div")), StringType())
    return df.select(
        "doc_id",
        outer_udf(F.col("html")).alias("outer"),
        inner_udf(F.col("html")).alias("inner"),
    )


_EXTRACT_HTML_SQL = """
SELECT doc_id,
       '<div id="d' || (doc_id % 9) || '"><b>' || source || '</b></div>'
         AS outer,
       '<b>' || source || '</b>' AS inner
FROM documents
"""


# --------------------------------------------------------------------------
# Frontier / relational primitives
# --------------------------------------------------------------------------

def _messy_url() -> F.Column:
    return F.concat(
        F.lit("HTTP://Host"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM:80/Path/"), _D(), F.lit("?b=2&a=1#frag"), _D(),
    )
_MESSY_URL_SQL = (
    "('HTTP://Host' || (doc_id % 7) || '.Example.COM:80/Path/' || doc_id"
    " || '?b=2&a=1#frag' || doc_id)"
)


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tbl(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", canonicalize_url(_messy_url()).alias("url")
    )


def _url_canonicalize_sql() -> str:
    canon = canonicalize_url_sql_duckdb(_MESSY_URL_SQL)
    return f"SELECT doc_id, {canon} AS url FROM documents"


def q_frontier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness priority queue: top-k per host (k=4)."""
    docs = _tbl(spark, sf_dir, "documents")
    frontier = docs.select(
        (F.col("doc_id") % 7).alias("host_id"),
        F.concat(F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".test/p/"), _D()).alias("url"),
        (F.col("doc_id") % 3).alias("priority"),
        F.col("doc_id").alias("seq"),
    )
    # k as a Column bounded by the literal prune_k: the shape the crawl
    # engine runs for its per-host token quotas
    return topk_per_group(
        frontier,
        group_cols=["host_id"],
        order_cols=[F.col("priority"), F.col("seq")],
        k=F.lit(4),
        prune_k=4,
    ).select("host_id", "url", "priority", "seq")


_FRONTIER_TOPK_SQL = """
WITH frontier AS (
  SELECT doc_id % 7 AS host_id,
         'http://h' || (doc_id % 7) || '.test/p/' || doc_id AS url,
         doc_id % 3 AS priority, doc_id AS seq
  FROM documents
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host_id
                               ORDER BY priority, seq) AS rk
  FROM frontier
)
SELECT host_id, url, priority, seq FROM ranked WHERE rk <= 4
"""


def q_seen_antijoin_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom prefilter + exact anti-join == plain NOT EXISTS."""
    orders = _tbl(spark, sf_dir, "orders")
    customer = _tbl(spark, sf_dir, "customer")
    cand = orders.select(F.col("o_custkey").alias("key")).distinct()
    seen = customer.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("key")
    )
    blooms = build_filter(seen, Bloom, hash_col="key", n_buckets=8)
    return new_urls(cand, seen, blooms, Bloom, hash_col="key", n_buckets=8)


_SEEN_ANTIJOIN_SQL = """
SELECT DISTINCT o_custkey AS key FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 3 = 0)
"""


def q_seen_cuckoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuckoo prefilter (deletable variant) + exact anti-join, after
    an insert+delete update — must equal plain NOT EXISTS on the
    post-update seen set."""
    orders = _tbl(spark, sf_dir, "orders")
    customer = _tbl(spark, sf_dir, "customer")
    cand = orders.select(F.col("o_custkey").alias("key")).distinct()
    seen0 = customer.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("key")
    )
    adds = customer.filter(F.col("c_custkey") % 7 == 1).select(
        F.col("c_custkey").alias("key")
    )
    dels = customer.filter(F.col("c_custkey") % 6 == 0).select(
        F.col("c_custkey").alias("key")
    )
    # filter state follows the exact seen set through insert+delete
    tables = update_filter(
        build_filter(seen0, CuckooTable, hash_col="key", n_buckets=8),
        CuckooTable, inserts=adds, deletes=dels, hash_col="key", n_buckets=8,
    )
    seen = seen0.unionByName(adds).subtract(dels)  # EXCEPT DISTINCT
    return new_urls(cand, seen, tables, CuckooTable, hash_col="key", n_buckets=8)


_SEEN_CUCKOO_SQL = """
WITH seen AS (
  SELECT c_custkey AS key FROM customer
  WHERE (c_custkey % 3 = 0 OR c_custkey % 7 = 1) AND c_custkey % 6 <> 0)
SELECT DISTINCT o_custkey AS key FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.key = o.o_custkey)
"""


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (streaming-shaped)."""
    events = _tbl(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour")
    return events.groupBy(
        w["start"].alias("win_start"), F.col("event_type")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


_EVENTS_WINDOW_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def q_host_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate with partial map-side combine (round metrics)."""
    events = _tbl(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("users"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


_HOST_METRICS_SQL = """
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""


def q_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _tbl(spark, sf_dir, "nation")
    region = _tbl(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_nations"))
    )


_BROADCAST_DIM_JOIN_SQL = """
SELECT r_name, count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_seen_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seen-set compaction: distinct union of append-only deltas."""
    orders = _tbl(spark, sf_dir, "orders")
    d1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("key")
    )
    d2 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("key")
    )
    return d1.unionByName(d2).dropDuplicates(["key"])


_SEEN_COMPACTION_SQL = """
SELECT DISTINCT o_orderkey AS key FROM orders
WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
"""


def q_topk_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k on a real fact table (top-3 items per supplier):
    the literal k gives the window its map-side partial group limit.

    The small single-row-group lineitem file scans as ~3 tasks and the
    window's map-side partial rank runs at scan parallelism — the
    size-gated spread moves the per-row ranking onto all cores, keyed
    by the window's own partition column so no extra exchange appears
    (no-op at scale; operators/spread.py).
    """
    li = _tbl(spark, sf_dir, "lineitem")
    return topk_per_group(
        spread_small(li, "l_suppkey")
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"),
        group_cols=["l_suppkey"],
        order_cols=[
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        k=3,
    )


_TOPK_LINEITEM_SQL = """
WITH ranked AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_suppkey
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
  FROM lineitem)
SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
FROM ranked WHERE rk <= 3
"""


# --------------------------------------------------------------------------
# Text analysis / training-data pipeline
# --------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tbl(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(t).alias("n_tokens"),
        T.bpe_token_count(t).alias("bpe_tokens"),
        T.stopword_ratio(t).alias("stop_ratio"),
        T.punct_ratio(t).alias("punct_ratio"),
        T.mean_token_len(t).alias("mean_token_len"),
        T.lang_id(t).alias("lang_pred"),
        T.fingerprint(t).alias("fp"),
        F.size(T.word_shingles(t, 3)).alias("n_shingles"),
    )


def _text_stats_sql() -> str:
    return f"""
SELECT doc_id,
       {T.token_count_sql('text')} AS n_tokens,
       {T.bpe_token_count_sql('text')} AS bpe_tokens,
       {T.stopword_ratio_sql('text')} AS stop_ratio,
       {T.punct_ratio_sql('text')} AS punct_ratio,
       {T.mean_token_len_sql('text')} AS mean_token_len,
       {T.lang_id_sql('text')} AS lang_pred,
       {T.fingerprint_sql('text')} AS fp,
       len({T.word_shingles_sql('text', 3)}) AS n_shingles
FROM documents
"""


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tbl(spark, sf_dir, "documents")
    return docs.groupBy(T.lang_id(F.col("text")).alias("lang_pred")).agg(
        F.count("*").alias("n")
    )


def _lang_distribution_sql() -> str:
    return (
        f"SELECT {T.lang_id_sql('text')} AS lang_pred, count(*) AS n "
        f"FROM documents GROUP BY 1"
    )


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document quality columns + combined keep gate.

    Pure map stage (one codegen span, no shuffle, no Python); the
    plan-shape gate in tests/test_plan_shapes.py pins that.
    """
    return quality_stats(_tbl(spark, sf_dir, "documents"))


def q_repetition_topgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top word-2-gram count/fraction per document (Gopher repetition
    rule) as explode -> two map-side-combining hash aggregates."""
    return top_ngram_repetition(_tbl(spark, sf_dir, "documents"), n=2)


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 20th document stands in for
    the held-out eval set; training docs sharing any word 3-gram with
    it are flagged.  Benchmark gram set is broadcast (plan-gated)."""
    docs = _tbl(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    return decontaminate(docs, benchmark, n=3)


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data funnel as ONE row: how many documents survive
    each curation stage (total -> Gopher quality gate -> exact-dedup
    uniques -> decontaminated uniques).  Composes the quality gate,
    md5 fingerprint dedup, and benchmark decontamination in a single
    plan — the integration row for the pipeline ops.

    Shape: one map stage (gate + fingerprint), one broadcast gram
    semi-join (decontamination), one final hash-aggregate; the
    distinct counts ride count(DISTINCT CASE ...) so all four funnel
    numbers come out of a single aggregation pass.
    """
    docs = _tbl(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    flagged = decontaminate(docs, benchmark, n=3).select(
        "doc_id", "contaminated"
    )
    staged = docs.join(flagged, "doc_id").select(
        T.gopher_pass(F.col("text")).alias("q"),
        T.fingerprint(F.col("text")).alias("fp"),
        F.col("contaminated").alias("c"),
    )
    return staged.agg(
        F.count("*").alias("n_total"),
        F.sum("q").alias("n_quality"),
        F.count_distinct(F.when(F.col("q") == 1, F.col("fp"))).alias(
            "n_unique"
        ),
        F.count_distinct(
            F.when((F.col("q") == 1) & (F.col("c") == 0), F.col("fp"))
        ).alias("n_clean"),
    )


def _corpus_funnel_sql() -> str:
    return f"""
WITH flagged AS ({decontaminate_sql(n=3)}),
staged AS (
  SELECT {T.gopher_pass_sql('text')} AS q,
         {T.fingerprint_sql('text')} AS fp,
         f.contaminated AS c
  FROM documents d JOIN flagged f ON d.doc_id = f.doc_id
)
SELECT count(*) AS n_total,
       CAST(sum(q) AS BIGINT) AS n_quality,
       count(DISTINCT CASE WHEN q = 1 THEN fp END) AS n_unique,
       count(DISTINCT CASE WHEN q = 1 AND c = 0 THEN fp END) AS n_clean
FROM staged
"""


_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
_SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25}


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment keyed on doc_id.

    Pure map stage (md5 bucket + integer CASE, whole-stage codegen):
    at 100 TB this fuses into the scan with zero shuffle, and a
    document's split never changes as the corpus grows.
    """
    docs = _tbl(spark, sf_dir, "documents")
    key = F.col("doc_id")
    return docs.select(
        "doc_id",
        SP.hash_bucket(key, salt="split").alias("bucket"),
        SP.split_assign(key, _SPLIT_WEIGHTS).alias("split"),
    )


def _dataset_split_sql() -> str:
    return f"""
SELECT doc_id,
       {SP.hash_bucket_sql('doc_id', salt='split')} AS bucket,
       {SP.split_assign_sql('doc_id', _SPLIT_WEIGHTS)} AS split
FROM documents
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsample (en 50%, de 25%, other
    10%) — the rebalancing step of a training-mixture pipeline.

    The keep decision salts its buckets differently from the split
    above, so sampling is independent of split assignment.
    """
    docs = _tbl(spark, sf_dir, "documents")
    lang = T.lang_id(F.col("text"))
    keep = SP.stratified_keep(
        F.col("doc_id"), lang, _SAMPLE_FRACTIONS, default=0.1
    )
    return docs.filter(keep).select("doc_id", lang.alias("lang_pred"))


def _sample_stratified_sql() -> str:
    lang = T.lang_id_sql("text")
    keep = SP.stratified_keep_sql("doc_id", lang, _SAMPLE_FRACTIONS, default=0.1)
    return f"SELECT doc_id, {lang} AS lang_pred FROM documents WHERE {keep}"


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_tbl(spark, sf_dir, "documents"))


def _dedup_exact_sql() -> str:
    return f"""
SELECT {T.fingerprint_sql('text')} AS fp, min(doc_id) AS canonical_id,
       count(*) AS n_dupes
FROM documents WHERE text IS NOT NULL GROUP BY 1
"""


# near-dup corpus: originals plus first-token-dropped copies of every
# 5th doc (planted near-duplicates, Jaccard ~0.98 on word trigrams)
_NEARDUP_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, substr(text, instr(text, ' ') + 1)
  FROM documents WHERE doc_id % 5 = 0
)
"""


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tbl(spark, sf_dir, "documents")
    copies = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(copies)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates verified by exact Jaccard >= 0.8."""
    return minhash_near_duplicates(
        _neardup_corpus(spark, sf_dir), threshold=0.8
    )


def _dedup_minhash_sql() -> str:
    sh = T.word_shingles_sql("text", 3)
    return f"""
WITH {_NEARDUP_CORPUS_SQL.strip()},
sh AS (SELECT doc_id, {sh} AS s FROM corpus),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) AS inter,
         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, inter, uni FROM pairs
WHERE inter * 10000 >= uni * 8000
"""


def q_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint per document (Schleimer et al., SIGMOD
    2003): sorted distinct window-minimum k-gram hashes, computed as a
    pure JVM higher-order-function pipeline (no Python in the path).

    The driver row exposes the set as scalars — count + md5 digest of
    the sorted elements (exact value coverage; the sort makes the
    concatenation deterministic) — because every other oracle query
    compares scalar columns and an array column would ride an
    untested path of the driver's value-hasher.  The raw arrays are
    compared cross-engine in tests/test_winnow.py.
    """
    docs = _tbl(spark, sf_dir, "documents")
    # two projections on purpose: fps is used twice below, and
    # CollapseProject keeps non-cheap multi-use producer expressions
    # un-inlined, so the fingerprint pipeline evaluates once per row
    return docs.select(
        "doc_id", T.winnow_fingerprints(F.col("text")).alias("fps")
    ).select(
        "doc_id",
        F.size("fps").alias("n_fp"),
        F.md5(F.concat_ws("", "fps")).alias("fp_digest"),
    )


def _fingerprint_winnow_sql() -> str:
    return f"""
SELECT doc_id, len(fps) AS n_fp,
       md5(array_to_string(fps, '')) AS fp_digest
FROM (SELECT doc_id, {T.winnow_fingerprints_sql('text')} AS fps
      FROM documents)
"""


def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup pairs: lossless fingerprint equi-join
    candidates, verified by exact fingerprint-set Jaccard >= 0.5.
    The oracle is the FULL all-pairs computation, so a green row also
    proves the candidate join loses nothing at this scale.
    """
    return winnow_duplicates(_tbl(spark, sf_dir, "documents"), threshold=0.5)


def _dedup_winnow_sql() -> str:
    fps = T.winnow_fingerprints_sql("text")
    return f"""
WITH fp AS (
  SELECT doc_id, {fps} AS fps
  FROM documents WHERE text IS NOT NULL),
nz AS (SELECT * FROM fp WHERE len(fps) > 0),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.fps, b.fps)) AS inter,
         len(a.fps) + len(b.fps) - len(list_intersect(a.fps, b.fps)) AS uni
  FROM nz a, nz b WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, inter, uni FROM pairs
WHERE inter * 10000 >= uni * 5000
"""


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------

from scalpel_ts_spark.functions.vector import cosine_sql  # noqa: E402


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return brute_force_topk(queries, emb, k=5)


def _ann_bruteforce_sql() -> str:
    cos = cosine_sql("q.embedding", "c.embedding")
    return f"""
WITH s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS sim
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
r AS (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""


_EMB_CORPUS_SQL = """
ecorpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> x * CAST(1.0001 AS FLOAT))
  FROM embeddings WHERE vec_id % 5 = 0
)
"""


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _tbl(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(1.0001).cast("float")
        ).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(copies)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup pairs, exact-cosine verified (>= 0.95)."""
    return embedding_near_duplicates(
        _emb_corpus(spark, sf_dir), dim=64, threshold=0.95
    )


def _embedding_neardup_sql() -> str:
    cos = cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH {_EMB_CORPUS_SQL.strip()}
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM ecorpus a, ecorpus b
WHERE a.vec_id < b.vec_id AND {cos} >= 0.95
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN: scaled-copy queries must retrieve their original as
    top-1 (scaling preserves every hyperplane sign -> guaranteed
    bucket collision; exact-cosine re-rank makes top-1 the original).
    """
    emb = _tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(1.0001).cast("float")
        ).alias("embedding"),
    )
    top = lsh_topk(queries, emb, dim=64, k=1)
    return top.filter(F.col("rank") == 1).select("query_id", "neighbor_id")


_ANN_LSH_SQL = """
SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id
FROM embeddings WHERE vec_id % 7 = 0
"""


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with query-side multi-probe (Hamming radius 1 — the
    recall knob, operators/similarity.py): the scaled-copy invariant
    holds a fortiori (radius-1 candidates are a superset of the exact
    bucket's, and the re-rank is exact), so the same closed-form
    oracle covers the multi-probe path end-to-end.  Recall lift is
    measured separately (tools/recall_bench.py, BASELINE.md)."""
    emb = _tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(1.0001).cast("float")
        ).alias("embedding"),
    )
    top = lsh_topk(queries, emb, dim=64, k=1, probe_radius=1)
    return top.filter(F.col("rank") == 1).select("query_id", "neighbor_id")


_ANN_LSH_MULTIPROBE_SQL = """
SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id
FROM embeddings WHERE vec_id % 9 = 0
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: scaled-copy queries must retrieve their original as
    top-1.  Scaling by 1.0001 preserves every centroid cosine, so the
    copy probes the original's cell; the exact-cosine re-rank then
    puts the original (cos ~ 1) first — end-to-end coverage of
    assignment, probing, and re-rank with a closed-form oracle.
    """
    emb = _tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(1.0001).cast("float")
        ).alias("embedding"),
    )
    top = ivf_topk(queries, emb, k=1, n_cells=16, nprobe=4)
    return top.filter(F.col("rank") == 1).select("query_id", "neighbor_id")


_ANN_IVF_SQL = """
SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id
FROM embeddings WHERE vec_id % 11 = 0
"""


def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with LEARNED centroids: spherical k-means (Lloyd's as
    DataFrame aggregations) fits the cell centroids, then the same
    broadcast-matrix assignment/probe path answers the queries.  The
    scaled-copy-retrieves-original invariant is centroid-independent
    (cosine is scale-invariant and the re-rank is exact), so the
    closed-form oracle covers the full learned path end-to-end.
    """
    from scalpel_ts_spark.operators.similarity import ivf_topk, kmeans_fit

    emb = _tbl(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, n_cells=8, n_iter=3)
    queries = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(1.0001).cast("float")
        ).alias("embedding"),
    )
    top = ivf_topk(queries, emb, k=1, nprobe=2, centroids=cents)
    return top.filter(F.col("rank") == 1).select("query_id", "neighbor_id")


_ANN_IVF_KMEANS_SQL = """
SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id
FROM embeddings WHERE vec_id % 13 = 0
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding end-to-end with a closed-form oracle: every
    doc_id % 3 == 0 document gets a CASE-CHANGED copy — identical
    whitespace tokens, therefore an identical simhash (hamming 0) —
    and the banded search must recover exactly those (orig, copy)
    pairs.  (The signature's SipHash token hash has no DuckDB mirror,
    so incidental same-corpus near-dups are filtered out and the
    invariant pairs ARE the oracle — the same pattern as ann_lsh /
    ann_ivf.)
    """
    from scalpel_ts_spark.operators.dedup import simhash_near_duplicates

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
    )
    pairs = simhash_near_duplicates(
        docs.unionByName(copies), max_hamming=3
    )
    return pairs.filter(
        F.col("id_b") == F.col("id_a") + 1000000
    ).select("id_a", "id_b", "hamming")


_DEDUP_SIMHASH_SQL = """
SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, 0 AS hamming
FROM documents WHERE doc_id % 3 = 0
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> components (keep-one-per-cluster primitive):
    min-label propagation over the verified MinHash pairs.  The oracle
    is a DuckDB recursive CTE computing min-reachable-id over the same
    pairs."""
    from scalpel_ts_spark.operators.dedup import connected_components

    pairs = minhash_near_duplicates(
        _neardup_corpus(spark, sf_dir), threshold=0.8
    )
    return connected_components(pairs).select(
        F.col("v").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering, forced through the large-star/small-star path
    (the O(log^2 n) variant for diameter-heavy dup graphs) by a zero
    propagation budget — must produce byte-identical labels to plain
    propagation, checked against the same recursive-CTE oracle."""
    from scalpel_ts_spark.operators.dedup import connected_components

    pairs = minhash_near_duplicates(
        _neardup_corpus(spark, sf_dir), threshold=0.8
    )
    return connected_components(pairs, max_iter=0).select(
        F.col("v").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE {_NEARDUP_CORPUS_SQL.strip()},
sh AS (SELECT doc_id, {T.word_shingles_sql('text', 3)} AS s FROM corpus),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a, sh b WHERE a.doc_id < b.doc_id
    AND len(list_intersect(a.s, b.s)) * 10000 >=
        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 8000),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs),
reach(v, c) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.c FROM edges e JOIN reach r ON e.dst = r.v)
SELECT v AS doc_id, min(c) AS cluster_id FROM reach GROUP BY v
"""


# --------------------------------------------------------------------------
# Stateful streaming (politeness budget through the state store)
# --------------------------------------------------------------------------


def q_streaming_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host token-bucket decisions computed by the
    applyInPandasWithState streaming operator (one AvailableNow
    trigger over candidates derived from the documents table), read
    back from the streaming sink.  The oracle is the closed batch
    form of one trigger: rank candidates per host by seq; the first
    ``cap`` get fetched.
    """
    from scalpel_ts_spark.streaming.politeness import stream_host_budget

    docs = _tbl(spark, sf_dir, "documents")
    cand = docs.select(
        (F.col("doc_id") % 9).cast("long").alias("host_id"),
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % 9).cast("string"),
            F.lit(".test/p/"), _D(),
        ).alias("url"),
        F.col("doc_id").cast("long").alias("seq"),
    )
    base = tempfile.mkdtemp(prefix="q_stream_budget_")
    src = os.path.join(base, "cand")
    out = os.path.join(base, "decisions")
    ckpt = os.path.join(base, "ckpt")
    cand.write.mode("overwrite").parquet(src)
    q = stream_host_budget(spark, src, out, ckpt, cap=16, refill=8)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_budget did not drain within 300s")
    return spark.read.parquet(out)


def q_streaming_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window counts through the Structured
    Streaming state store (complete-mode foreachBatch refresh, one
    AvailableNow trigger over the events table) — the streaming twin
    of the batch events_window query; the oracle is the closed batch
    GROUP BY.  Watermarked append-mode eviction/late-drop semantics
    are pinned separately in tests/test_streaming_packaging.py."""
    from scalpel_ts_spark.streaming.windows import stream_windowed_counts

    events = _tbl(spark, sf_dir, "events").select("ts", "event_type")
    base = tempfile.mkdtemp(prefix="q_stream_win_")
    src = os.path.join(base, "events")
    out = os.path.join(base, "win")
    ckpt = os.path.join(base, "ckpt")
    events.write.mode("overwrite").parquet(src)
    q = stream_windowed_counts(spark, src, out, ckpt, events.schema)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_events_window did not drain in 300s")
    return spark.read.parquet(out)


_STREAMING_EVENTS_WINDOW_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
       count(*) AS n
FROM events GROUP BY 1, 2
"""


_STREAMING_BUDGET_SQL = """
WITH ranked AS (
  SELECT (doc_id % 9)::BIGINT AS host_id,
         'http://h' || (doc_id % 9) || '.test/p/' || doc_id AS url,
         doc_id::BIGINT AS seq,
         row_number() OVER (PARTITION BY doc_id % 9 ORDER BY doc_id) AS rn
  FROM documents)
SELECT host_id, url, seq,
       CASE WHEN rn <= 16 THEN 'fetch' ELSE 'defer' END AS decision,
       CAST(greatest(16 - rn, 0) AS INT) AS tokens_after
FROM ranked
"""


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scalpel_ts_spark.multimodal import attach_media_blob, media_features

    docs = _tbl(spark, sf_dir, "documents")
    refs = docs.select(
        F.concat(F.lit("media://doc/"), _D()).alias("media_ref")
    )
    feats = media_features(attach_media_blob(refs))
    # width/height come from a blake2b fake-decode (pytest-verified);
    # the SQL-checkable fields are byte-count derived
    return feats.select("media_ref", "mime", "n_bytes", "n_frames")


_MEDIA_METADATA_SQL = """
WITH refs AS (SELECT 'media://doc/' || doc_id AS media_ref FROM documents),
b AS (SELECT media_ref,
             32 * ((ascii(substr(md5(media_ref), 1, 1)) % 8) + 4) AS n_bytes
      FROM refs)
SELECT media_ref, 'image/x-fake' AS mime, n_bytes,
       CAST(1 + (n_bytes % 7) AS INT) AS n_frames
FROM b
"""


# --------------------------------------------------------------------------
# Crawl round loop (non-SQL-expressible: authority = simulator
# equality gate in tests/test_frontier.py)
# --------------------------------------------------------------------------


def q_crawl_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scalpel_ts_spark.plans.frontier import CrawlEngine
    from scalpel_ts_spark.sources.synthetic import make_url

    workdir = tempfile.mkdtemp(prefix="crawl_entry_")
    eng = CrawlEngine(
        spark, workdir, n_hosts=5, cap=4, refill=2, write_docs=False,
    )
    eng.init([make_url(h, 0) for h in range(3)])
    eng.run(2)
    # resume from the committed snapshot mid-crawl (north rule:
    # resumable from checkpoint) and finish the third round
    eng2 = CrawlEngine.resume(spark, workdir)
    eng2.run(1)
    return eng2.fetch_log().select("round", "url", "host_id", "n_links")


def q_crawl_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked invariants over the flagship crawl's fetch_log
    (round-4 verdict "what's missing" #2): per-round budget
    conformance (per-host fetches <= cap), active-host counts, and
    zero URLs fetched twice across the whole crawl.  The crawl is
    fully deterministic under a pinned (seeds, cap, refill) config —
    the oracle is the constant row set the pure-Python executable
    spec (plans/simulator.py, the same authority the pytest
    simulator-equality gates compare against) derives for this exact
    config.  DuckDB cannot run the stateful round loop itself, so the
    SQL pins its *output invariants*; any drift in scheduling,
    politeness accounting, dedup, or resume shows up as a hash
    mismatch here in the driver's hard correctness loop."""
    from scalpel_ts_spark.plans.frontier import CrawlEngine
    from scalpel_ts_spark.sources.synthetic import make_url

    workdir = tempfile.mkdtemp(prefix="crawl_inv_")
    eng = CrawlEngine(
        spark, workdir, n_hosts=8, cap=4, refill=2, write_docs=False,
    )
    eng.init([make_url(h, 0) for h in range(6)])
    eng.run(3)
    log = eng.fetch_log()
    per_host = log.groupBy("round", "host_id").agg(F.count("*").alias("n"))
    per_round = per_host.groupBy("round").agg(
        F.sum("n").alias("fetched"),
        F.count("*").alias("hosts_active"),
        F.max("n").alias("max_host_fetched"),
    )
    dup = log.agg(
        (F.count("*") - F.countDistinct("url")).alias("dup_urls_total")
    )
    return per_round.crossJoin(dup).select(
        "round", "fetched", "hosts_active", "max_host_fetched",
        "dup_urls_total",
    )


# executable-spec constants: derived by plans/simulator.simulate_crawl
# (seeds=[make_url(h,0) for h in range(6)], rounds=3, cap=4, refill=2,
# n_hosts=8) — rounds 1-2 saturate the per-host cap (max_host_fetched
# = cap = 4), and dup_urls_total = 0 is the no-URL-fetched-twice
# invariant the seen set guarantees
_CRAWL_INVARIANTS_SQL = """
SELECT * FROM (VALUES
  (0,  6, 6, 1, 0),
  (1, 20, 6, 4, 0),
  (2, 16, 6, 4, 0)
) AS t(round, fetched, hosts_active, max_host_fetched, dup_urls_total)
"""


# --------------------------------------------------------------------------
# Driver contract
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved span extraction through the full
    tokenizer -> tag-forest -> scraper UDF path at sf0.001."""
    return q_extract_spans(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_spans": q_extract_spans,
        "extract_links": q_extract_links,
        "extract_title_attr": q_extract_title_attr,
        "extract_texts_pos": q_extract_texts_pos,
        "extract_nested_depth": q_extract_nested_depth,
        "extract_serial": q_extract_serial,
        "extract_html": q_extract_html,
        "url_canonicalize": q_url_canonicalize,
        "frontier_topk": q_frontier_topk,
        "seen_antijoin_bloom": q_seen_antijoin_bloom,
        "seen_cuckoo_deletes": q_seen_cuckoo,
        "events_window": q_events_window,
        "host_metrics": q_host_metrics,
        "broadcast_dim_join": q_broadcast_dim_join,
        "seen_compaction": q_seen_compaction,
        "topk_lineitem": q_topk_lineitem,
        "text_stats": q_text_stats,
        "lang_distribution": q_lang_distribution,
        "quality_gopher": q_quality_gopher,
        "repetition_topgram": q_repetition_topgram,
        "decontamination": q_decontamination,
        "corpus_funnel": q_corpus_funnel,
        "dataset_split": q_dataset_split,
        "sample_stratified": q_sample_stratified,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "fingerprint_winnow": q_fingerprint_winnow,
        "dedup_winnow": q_dedup_winnow,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_star": q_dedup_clusters_star,
        "ann_bruteforce": q_ann_bruteforce,
        "embedding_neardup": q_embedding_neardup,
        "ann_lsh": q_ann_lsh,
        "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_kmeans": q_ann_ivf_kmeans,
        "streaming_budget": q_streaming_budget,
        "streaming_events_window": q_streaming_events_window,
        "media_metadata": q_media_metadata,
        "crawl_rounds": q_crawl_rounds,
        "crawl_invariants": q_crawl_invariants,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extract_spans": _EXTRACT_SPANS_SQL,
        "extract_links": _EXTRACT_LINKS_SQL,
        "extract_title_attr": _EXTRACT_TITLE_ATTR_SQL,
        "extract_texts_pos": _EXTRACT_TEXTS_POS_SQL,
        "extract_nested_depth": _EXTRACT_NESTED_DEPTH_SQL,
        "extract_serial": _EXTRACT_SERIAL_SQL,
        "extract_html": _EXTRACT_HTML_SQL,
        "url_canonicalize": _url_canonicalize_sql(),
        "frontier_topk": _FRONTIER_TOPK_SQL,
        "seen_antijoin_bloom": _SEEN_ANTIJOIN_SQL,
        "seen_cuckoo_deletes": _SEEN_CUCKOO_SQL,
        "events_window": _EVENTS_WINDOW_SQL,
        "host_metrics": _HOST_METRICS_SQL,
        "broadcast_dim_join": _BROADCAST_DIM_JOIN_SQL,
        "seen_compaction": _SEEN_COMPACTION_SQL,
        "topk_lineitem": _TOPK_LINEITEM_SQL,
        "text_stats": _text_stats_sql(),
        "lang_distribution": _lang_distribution_sql(),
        "quality_gopher": quality_stats_sql(),
        "repetition_topgram": top_ngram_repetition_sql(n=2),
        "decontamination": decontaminate_sql(n=3),
        "corpus_funnel": _corpus_funnel_sql(),
        "dataset_split": _dataset_split_sql(),
        "sample_stratified": _sample_stratified_sql(),
        "dedup_exact": _dedup_exact_sql(),
        "dedup_minhash": _dedup_minhash_sql(),
        "fingerprint_winnow": _fingerprint_winnow_sql(),
        "dedup_winnow": _dedup_winnow_sql(),
        "ann_bruteforce": _ann_bruteforce_sql(),
        "embedding_neardup": _embedding_neardup_sql(),
        "ann_lsh": _ANN_LSH_SQL,
        "ann_lsh_multiprobe": _ANN_LSH_MULTIPROBE_SQL,
        "ann_ivf": _ANN_IVF_SQL,
        "ann_ivf_kmeans": _ANN_IVF_KMEANS_SQL,
        "dedup_simhash": _DEDUP_SIMHASH_SQL,
        "dedup_clusters": _dedup_clusters_sql(),
        "dedup_clusters_star": _dedup_clusters_sql(),
        "streaming_budget": _STREAMING_BUDGET_SQL,
        "streaming_events_window": _STREAMING_EVENTS_WINDOW_SQL,
        "media_metadata": _MEDIA_METADATA_SQL,
        # crawl_rounds: intentionally no oracle (stateful round loop);
        # correctness authority is the simulator-equality pytest gate
        # crawl_invariants: the flagship path's oracle-checked row —
        # fetch_log invariants vs executable-spec constants
        "crawl_invariants": _CRAWL_INVARIANTS_SQL,
    }
