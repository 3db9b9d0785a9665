"""topk_per_group with a per-row k.

The window's rank filter carries the literal ``prune_k``, so Catalyst
puts a map-side partial group limit below the exchange, which keeps
only the top ``prune_k`` rows of each group per map partition.  That
is lossless only under ``k <= prune_k``; a violating caller must fail
loudly — silently dropping qualifying rows is the failure mode the
in-plan assert exists to prevent.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from scalpel_ts_spark.operators.topk import topk_per_group


def _frontier(spark):
    return spark.range(0, 400).select(
        (F.col("id") % 4).alias("host_id"),
        F.col("id").alias("seq"),
        (F.col("id") % 7).alias("priority"),
    )


def _topk(df):
    return topk_per_group(
        df,
        group_cols=["host_id"],
        order_cols=[F.col("priority"), F.col("seq")],
        k=F.col("quota"),
        prune_k=8,
    )


def test_per_row_k_exceeding_prune_k_fails_loudly(spark):
    df = _frontier(spark)
    oversized = [
        # every row of host 0
        F.col("host_id") == 0,
        # only host 0's worst-priority rows, each ranked past prune_k:
        # the partial group limit drops them before a check above the
        # window could see them
        (F.col("host_id") == 0) & (F.col("priority") == 6),
    ]
    for cond in oversized:
        out = _topk(df.withColumn("quota", F.when(cond, 300).otherwise(4)))
        with pytest.raises(Exception, match="exceeds prune_k"):
            out.collect()


def test_per_row_k_within_prune_k_matches_unsalted(spark):
    # a plain window filtered on rank <= quota is the reference,
    # including NULL quotas, which keep no rows of their host
    df = _frontier(spark).withColumn(
        "quota",
        F.when(F.col("host_id") == 0, F.lit(None).cast("int")).otherwise(
            (F.col("host_id") + 2).cast("int")
        ),
    )
    got = sorted((r.host_id, r.seq) for r in _topk(df).collect())
    w = Window.partitionBy("host_id").orderBy("priority", "seq")
    expect = sorted(
        (r.host_id, r.seq)
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.col("quota"))
        .collect()
    )
    assert got == expect
    assert {h for h, _ in got} == {1, 2, 3}


def test_null_per_row_k_drops_rows_without_failing(spark):
    df = _frontier(spark).withColumn(
        "quota",
        F.when(F.col("host_id") == 0, F.lit(None).cast("int")).otherwise(4),
    )
    rows = _topk(df).collect()
    assert {r.host_id for r in rows} == {1, 2, 3}
