"""Corpus-quality operators for the training-data pipeline.

Two surfaces:

* :func:`quality_stats` — per-document Gopher-style quality columns.
  A pure map stage (one whole-stage-codegen span, no shuffle, no
  Python), so at 100 TB it costs exactly one pass over the text
  column and composes with parquet column pruning (only ``text`` and
  the id are read).
* :func:`top_ngram_repetition` — the most-frequent word n-gram's
  share of each document (the Gopher "top n-gram fraction" repetition
  rule, Rae et al. 2021 §A1.1).  Frequency needs a count per
  (doc, gram); a per-row higher-order-function scan would be
  O(len^2) per document, so this is deliberately the distributed
  shape instead: explode -> hash-aggregate on (id, gram) ->
  hash-aggregate on id.  Both aggregates map-side partial-combine,
  the shuffled rows are (id, gram-hash-partitioned) counts — narrow
  and pre-reduced — and nothing touches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from scalpel_ts_spark.functions import text as T
from scalpel_ts_spark.operators.spread import spread_small


def quality_stats(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", **gopher_overrides) -> DataFrame:
    """Per-document quality columns + the combined Gopher gate.

    Every ratio is one IEEE-754 division of two exact integers, so the
    DuckDB oracle mirror (``quality_stats_sql``) is bit-identical.
    """
    t = F.col(text_col)
    return docs.select(
        id_col,
        T.token_count(t).alias("n_tokens"),
        T.mean_token_len(t).alias("mean_token_len"),
        T.frac_alpha_tokens(t).alias("frac_alpha"),
        T.dup_token_ratio(t).alias("dup_token_ratio"),
        T.gopher_pass(t, **gopher_overrides).alias("gopher_pass"),
    )


def quality_stats_sql(table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text", **gopher_overrides) -> str:
    return f"""
SELECT {id_col},
       {T.token_count_sql(text_col)} AS n_tokens,
       {T.mean_token_len_sql(text_col)} AS mean_token_len,
       {T.frac_alpha_tokens_sql(text_col)} AS frac_alpha,
       {T.dup_token_ratio_sql(text_col)} AS dup_token_ratio,
       {T.gopher_pass_sql(text_col, **gopher_overrides)} AS gopher_pass
FROM {table}
"""


def top_ngram_repetition(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", n: int = 2) -> DataFrame:
    """Most-frequent word ``n``-gram count and fraction per document.

    Output: ``(id, top_gram_count, n_grams, top_gram_frac)`` — counts
    only, never the winning gram string, so ties are unambiguous.
    Documents with fewer than ``n`` tokens emit no grams and are
    absent (explode, not explode_outer), matching the SQL mirror's
    ``unnest``.

    100-TB shape: the exploded (id, gram) stream is immediately
    hash-aggregated (map-side partial combine shrinks it to distinct
    grams per partition before the exchange); the second aggregate
    reduces to one row per document.  Skew bound: a document's grams
    land in one reducer only per (id, gram) pair, so a pathological
    document bounds a task at its *distinct-gram* count, not its
    length.
    """
    # the n-gram explode + partial aggregate cost per ROW, but a small
    # single-row-group scan is one task — spread it (size-gated no-op
    # at scale; operators/spread.py)
    grams = spread_small(docs, id_col).select(
        F.col(id_col),
        F.explode(T.word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    counts = grams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    return counts.groupBy(id_col).agg(
        F.max("cnt").alias("top_gram_count"),
        F.sum("cnt").alias("n_grams"),
        (F.max("cnt").cast("double") / F.sum("cnt")).alias("top_gram_frac"),
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3) -> DataFrame:
    """Benchmark decontamination: per training document, how many of
    its distinct word ``n``-grams appear anywhere in the benchmark
    corpus, and a 0/1 ``contaminated`` flag (any overlap).

    The n-gram-overlap decontamination rule used for LLM training
    sets (Brown et al. 2020 appendix C uses 13-grams; ``n`` is the
    knob — the small synthetic corpus tests use 3).

    100-TB shape: benchmark corpora are tiny next to training data
    (MBs vs TBs), so the benchmark's distinct gram set is broadcast
    and the training side stays a map + broadcast-hash-join + count —
    no shuffle of the exploded training grams except the final
    per-doc count, which map-side partial-combines.  Every document
    is kept (left join): zero-hit docs report ``n_hit_grams = 0``,
    so the output is a decision column, not a filtered subset.
    """
    bench_grams = F.broadcast(
        benchmark.select(
            F.explode(T.word_shingles(F.col(text_col), n)).alias("gram")
        ).distinct()
    )
    # NOT spread: unlike top_ngram_repetition, the gram stream here is
    # immediately reduced by the broadcast join + per-doc count, and a
    # pre-explode repartition measurably LOST (0.21 -> 0.29 s at
    # sf0.1: it ships document text where the status quo ships
    # post-join counts)
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(T.word_shingles(F.col(text_col), n)).alias("gram"),
    )
    hits = doc_grams.join(bench_grams, "gram").groupBy(id_col).agg(
        F.count("*").alias("n_hits")
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias(
                "n_hit_grams"
            ),
            (F.coalesce(F.col("n_hits"), F.lit(0).cast("long")) > 0)
            .cast("int")
            .alias("contaminated"),
        )
    )


def decontaminate_sql(table: str = "documents",
                      benchmark_where: str = "doc_id % 20 = 0",
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3) -> str:
    """DuckDB mirror; the benchmark is a WHERE-selected subset of the
    same table (the driver has no second corpus registered)."""
    sh = T.word_shingles_sql(text_col, n)
    return f"""
WITH b AS (
  SELECT DISTINCT unnest({sh}) AS gram FROM {table}
  WHERE {benchmark_where}
),
d AS (
  SELECT {id_col}, unnest({sh}) AS gram FROM {table}
),
h AS (
  SELECT {id_col}, count(*) AS n_hits
  FROM d JOIN b USING (gram) GROUP BY {id_col}
)
SELECT t.{id_col},
       coalesce(h.n_hits, 0) AS n_hit_grams,
       CAST(coalesce(h.n_hits, 0) > 0 AS INT) AS contaminated
FROM {table} t LEFT JOIN h ON t.{id_col} = h.{id_col}
"""


def top_ngram_repetition_sql(table: str = "documents",
                             id_col: str = "doc_id",
                             text_col: str = "text", n: int = 2) -> str:
    # CAST(sum AS BIGINT): DuckDB widens sum(BIGINT) to HUGEINT, which
    # would break both the schema match and the division's operand
    # types vs Spark's bigint sum.
    return f"""
WITH g AS (
  SELECT {id_col}, unnest({T.word_ngrams_sql(text_col, n)}) AS gram
  FROM {table}
),
c AS (
  SELECT {id_col}, gram, count(*) AS cnt FROM g GROUP BY {id_col}, gram
)
SELECT {id_col},
       max(cnt) AS top_gram_count,
       CAST(sum(cnt) AS BIGINT) AS n_grams,
       (max(cnt)::DOUBLE / CAST(sum(cnt) AS BIGINT)) AS top_gram_frac
FROM c GROUP BY {id_col}
"""
