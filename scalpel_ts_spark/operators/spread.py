"""Row-count parallelism for per-row-expensive stages over small scans.

Parquet scans split by BYTES (``spark.sql.files.maxPartitionBytes``),
and a file is further divisible only at row-group boundaries — a
single-row-group file is one task no matter what, so a stage whose
cost is per ROW (vectorized UDF, window rank, explode) can end up on
1-3 tasks while 30 cores idle (measured: the whole ann_ivf pipeline on
ONE task, 0.76 s of a 1.5 s query — r6 profile).  This helper is the
package's one SIZE-GATED rule for that case, used by the dedup,
similarity, quality and extraction entry points:

* small input (Catalyst optimized-plan estimate under
  ``SPREAD_MAX_BYTES``): one cheap exchange buys full-core parallelism
  for the expensive stage — strictly dominant, the exchange moves MBs.
* large input (the 100-TB shape): the scan has thousands of natural
  splits and an extra full-data exchange would be pure waste — the
  frame passes through untouched.  An UNKNOWN estimate reads as huge
  and degrades to untouched (see :func:`_plan_size_bytes`).

The explicit partition count pins the exchange against AQE coalescing
(an advisory-size coalesce would fold a tiny-byte/expensive-row stage
straight back onto one task); hash keys keep the placement
deterministic under retries (guide §2.5 — never round-robin a frame
whose downstream consumers assume stable row placement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: below this optimizer size estimate, an exchange is trivially cheap
#: and per-row parallelism dominates; above it, trust scan parallelism
SPREAD_MAX_BYTES = 256 << 20


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate — driver-side metadata, no job.
    ``_jdf``/``queryExecution`` are private Spark internals: if a Spark
    version moves them the estimate reads as huge, which leaves the
    frame untouched instead of crashing (round-3 verdict finding #3)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return 1 << 62

def spread_small(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition ``df`` across all cores by ``key_cols`` iff its
    estimated size is small enough that the exchange is trivial."""
    if _plan_size_bytes(df) >= SPREAD_MAX_BYTES:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, *key_cols)
