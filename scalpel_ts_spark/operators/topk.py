"""Per-group top-k — the politeness priority queue.

``BASELINE.json`` north rule: "a priority queue realized as salted
host-hash partitioning plus secondary sort, ... explicit skew
mitigation on hot hosts".

One strategy for every ``k``: a single exact window whose rank filter
carries a literal bound.  Catalyst turns ``rank <= literal`` into a
``WindowGroupLimit``, a map-side partial top-k placed BELOW the
window's exchange, so a hot group's reducer input is bounded by
``limit x map partitions`` however skewed the input is.  That is the
skew mitigation; no salt column is needed.  It measured faster than
explicit two-phase salting at every shape tried (BASELINE.md).

* literal ``k`` — the literal is the bound.
* per-row ``k`` Column (the politeness token quota) — ``rank <= k``
  alone would not be a literal, so the filter also carries
  ``rank <= prune_k``, the caller's literal upper bound on any ``k``
  (the crawl engine passes its token ``cap``).

``prune_k`` must stay under ``spark.sql.optimizer.
windowGroupLimitThreshold`` for Catalyst to insert the partial limit;
above it the window is still exact, only unguarded.  Spark's default
is 1000; ``sources.session.get_spark`` raises it to 8192, above the
largest token cap any crawl here runs (4256 in
``tools/scaling_bench.py``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: Column | int,
    prune_k: int | None = None,
    rank_col: str = "_rank",
    keep_rank: bool = False,
) -> DataFrame:
    """Keep the top-``k`` rows per group under ``order_cols``.

    ``k`` may be a per-row Column (e.g. the host's politeness token
    count, joined on beforehand) bounded by the literal ``prune_k``
    (default 256), or a literal, which is its own bound.  NULL ``k``
    keeps no rows of its group.
    """
    if isinstance(k, int):
        prune_k, k = k, F.lit(k)
    elif prune_k is None:
        prune_k = 256  # upper bound for any sane per-round host quota
    # The partial group limit keeps only the top prune_k rows of each
    # group and map partition, which is lossless ONLY under k <=
    # prune_k.  Check every input row in-plan, BELOW the window: the
    # partial limit drops rows before a filter above the window could
    # see them.  NULL k is exempt (`rank <= NULL` keeps no rows).  A
    # literal k folds the check away.
    checked = df.filter(
        F.assert_true(
            F.coalesce(k <= F.lit(prune_k), F.lit(True)),
            F.lit(
                f"topk_per_group: per-row k exceeds prune_k={prune_k}; "
                "raise prune_k to at least max(k) or the partial group "
                "limit would silently drop qualifying rows"
            ),
        ).isNull()
    )
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    rank = F.col(rank_col)
    out = checked.withColumn(rank_col, F.row_number().over(w)).filter(
        (rank <= F.lit(prune_k)) & (rank <= k)
    )
    return out if keep_rank else out.drop(rank_col)
