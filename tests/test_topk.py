"""topk_per_group: the salted per-row-k path.

The salt-local prune is lossless only under ``k <= prune_k``
(operators/topk.py phase 1); a violating caller must fail loudly —
silently dropping qualifying rows is the failure mode the in-plan
assert exists to prevent.
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


def test_per_row_k_exceeding_prune_k_fails_loudly(spark):
    df = _frontier(spark).withColumn(
        "quota", F.when(F.col("host_id") == 0, 300).otherwise(4)
    )
    out = topk_per_group(
        df,
        group_cols=["host_id"],
        order_cols=[F.col("priority"), F.col("seq")],
        k=F.col("quota"),
        prune_k=8,
    )
    with pytest.raises(Exception, match="exceeds prune_k"):
        out.collect()


def test_per_row_k_within_prune_k_matches_unsalted(spark):
    df = _frontier(spark).withColumn(
        "quota", (F.col("host_id") + 2).cast("int")
    )
    got = sorted(
        (r.host_id, r.seq)
        for r in topk_per_group(
            df,
            group_cols=["host_id"],
            order_cols=[F.col("priority"), F.col("seq")],
            k=F.col("quota"),
            prune_k=8,
            salt_buckets=4,
        ).collect()
    )
    w = Window.partitionBy("host_id").orderBy("priority", "seq")
    expect = sorted(
        (r.host_id, r.seq)
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.col("quota"))
        .collect()
    )
    assert got == expect


def test_null_per_row_k_drops_rows_without_failing(spark):
    df = _frontier(spark).withColumn(
        "quota",
        F.when(F.col("host_id") == 0, F.lit(None).cast("int")).otherwise(4),
    )
    rows = topk_per_group(
        df,
        group_cols=["host_id"],
        order_cols=[F.col("priority"), F.col("seq")],
        k=F.col("quota"),
        prune_k=8,
    ).collect()
    assert {r.host_id for r in rows} == {1, 2, 3}


def test_single_phase_gate_matches_salted(spark):
    # single_phase=True's one-window shape must be row-identical to the
    # default salted two-phase shape (the prune is lossless), including
    # on NULL quotas
    df = _frontier(spark).withColumn(
        "quota",
        F.when(F.col("host_id") == 0, F.lit(None).cast("int")).otherwise(
            (F.col("host_id") + 2).cast("int")
        ),
    )
    kw = dict(
        group_cols=["host_id"],
        order_cols=[F.col("priority"), F.col("seq")],
        k=F.col("quota"),
        prune_k=8,
    )
    one_window = sorted(
        (r.host_id, r.seq)
        for r in topk_per_group(df, **kw, single_phase=True).collect()
    )
    salted = sorted(
        (r.host_id, r.seq) for r in topk_per_group(df, **kw).collect()
    )
    assert one_window == salted
    assert {h for h, _ in salted} == {1, 2, 3}
