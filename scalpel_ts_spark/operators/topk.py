"""Salted per-group top-k — the politeness priority queue.

``BASELINE.json`` north rule: "a priority queue realized as salted
host-hash partitioning plus secondary sort, ... explicit skew
mitigation on hot hosts".

Two strategies, chosen by the type of ``k``:

* literal ``k`` — a single window: Catalyst's WindowGroupLimit
  performs a map-side partial top-k, so a hot group's reducer input
  is already bounded by k x map partitions (measured faster than
  explicit salting; see BASELINE.md).
* per-row ``k`` Column (the politeness token quota) — the rank filter
  is not a literal, WindowGroupLimit cannot apply, and a naive
  ``Window.partitionBy(host)`` would send EVERY pending URL of a hot
  host to one task.  Here we do the north rule's two-phase salted
  exact top-k:

  phase 1 (salted): rank within (group, salt) — parallelism = salt
           count even for a single monster host — and keep only the
           top ``prune_k`` rows per salt bucket.  Any row outside a
           salt-local top-k cannot be in the group's global top-k
           (k <= prune_k), so this prune is lossless.
  phase 2 (exact): rank the surviving <= salt*prune_k rows per group
           and keep the true top rows.

Both phases are plain window functions — Catalyst/AQE handle the
physical shuffles, and phase 2's input is bounded regardless of how
skewed the frontier is.
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
    salt_buckets: int = 16,
    prune_k: int | None = None,
    rank_col: str = "_rank",
    keep_rank: bool = False,
    single_phase: bool = False,
) -> DataFrame:
    """Keep the top-``k`` rows per group under ``order_cols``.

    ``k`` may be a per-row Column (e.g. the host's politeness token
    count, joined on beforehand) or a literal.  The salt is a
    deterministic hash of the input row — never random, so plans are
    reproducible.

    ``single_phase=True`` skips the two-phase salted prune (an extra
    exchange + window pass, there to bound a monster group's reducer
    input) for ONE exact window — for callers that KNOW their input's
    row volume is small, e.g. the crawl engine, which tracks its
    frontier row count arithmetically (the selection pipeline spent 2
    of its ~10 per-round jobs on the salt exchange at bench scale,
    r6).  The two strategies are row-identical (the salt prune is
    lossless), so the flag can never change results.
    """
    k_col = F.lit(k) if isinstance(k, int) else k

    def exact_topk(frame: DataFrame) -> DataFrame:
        w = Window.partitionBy(*group_cols).orderBy(*order_cols)
        out = frame.withColumn(rank_col, F.row_number().over(w)).filter(
            F.col(rank_col) <= k_col
        )
        return out if keep_rank else out.drop(rank_col)

    if isinstance(k, int) or single_phase:
        # literal limit: Catalyst inserts WindowGroupLimit, a map-side
        # partial top-k that already bounds a hot group's reducer input
        # to k x num_map_partitions — measured faster than explicit
        # two-phase salting (2.4s vs 6.4s on a 2M-row frontier with one
        # host holding 50%).  Salting below is reserved for per-row k
        # (politeness token quotas), where the rank filter is not a
        # literal and WindowGroupLimit cannot apply, unless the caller
        # vouches for a small input with single_phase.
        return exact_topk(df)

    if prune_k is None:
        prune_k = 256  # upper bound for any sane per-round host quota

    # The salt-local prune is lossless ONLY under k <= prune_k; a row
    # whose quota exceeds prune_k could deserve a global rank beyond
    # the per-bucket cut and be silently discarded.  Enforce the
    # precondition in-plan (assert_true costs one comparison per row,
    # no extra job) so a violating caller fails loudly; fusing it into
    # the filter keeps Catalyst from pruning the check away.  NULL k
    # is exempt (phase 2's `rank <= NULL` drops those rows anyway).
    k_bound_ok = F.assert_true(
        F.coalesce(k_col <= F.lit(prune_k), F.lit(True)),
        F.lit(
            f"topk_per_group: per-row k exceeds prune_k={prune_k}; "
            "raise prune_k to at least max(k) or the salted prune "
            "would silently drop qualifying rows"
        ),
    ).isNull()
    # hash every input column (order_cols may be SortOrder
    # expressions, which can't be hashed) — deterministic and
    # data-derived, never random / scheduling-dependent
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets)
    )
    salted = df.withColumn("_salt", salt)
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*order_cols)
    pruned = (
        salted.withColumn("_srank", F.row_number().over(w1))
        .filter((F.col("_srank") <= F.lit(prune_k)) & k_bound_ok)
        .drop("_srank", "_salt")
    )
    return exact_topk(pruned)
