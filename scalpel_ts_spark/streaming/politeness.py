"""Stateful streaming politeness: a per-host token bucket as an
``applyInPandasWithState`` operator.

The batch engine enforces per-host budgets with the per-host top-k +
host_state table (plans/frontier.py steps 1-2).  This module is the
same policy as a *continuous* operator: candidate URLs stream in, the
per-host token balance lives in the Spark state store (checkpointed,
exactly-once, survives restarts), and every candidate is emitted with
a ``fetch`` / ``defer`` decision.  One trigger == one crawl round:
the bucket refills by ``refill`` (capped at ``cap``) per trigger,
mirroring CrawlEngine's round refill, and decisions within a trigger
follow the engine's deterministic (priority, seq) order — never
arrival order, which task scheduling could reorder.

State shape note for 100 TB operation: state is ONE ROW PER HOST
(two ints), partitioned by the state store on host_id — hot hosts cost
no more state than idle ones, and the state store scales with host
count (~10^7) not URL count (~10^10).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

BUDGET_OUT_SCHEMA = StructType(
    [
        StructField("host_id", LongType()),
        StructField("url", StringType()),
        StructField("seq", LongType()),
        StructField("decision", StringType()),
        StructField("tokens_after", IntegerType()),
    ]
)

BUDGET_STATE_SCHEMA = StructType(
    [
        StructField("tokens", IntegerType()),
        # fractional refill carry-over: a host whose per-trigger refill
        # is below 1 (Crawl-delay longer than the trigger period)
        # accumulates credit instead of starving on int truncation
        StructField("credit", DoubleType()),
    ]
)


def host_budget_fn(cap: int, refill: int):
    """Build the grouped stateful function (key, batches, state) ->
    iterator of output frames.

    Memory shape (round-3 verdict finding #2): the group arrives as an
    iterator of Arrow-sized chunks, and the round-2 implementation
    ``pd.concat``-ed the WHOLE backlog before its sort — a hot host
    with a 10^7-row trigger backlog materialized in one task.  The
    rewrite exploits the decision structure: only the globally-best
    ``tokens <= cap`` rows can be "fetch", and every other row is
    "defer" with ``tokens_after = 0`` regardless of its exact rank.
    So the task keeps a BOUNDED buffer of the best ``cap`` rows seen
    so far (stable merge per chunk), emits everything that falls out
    of the buffer as "defer" immediately, and decides fetch/defer for
    the buffer only once the whole group (and therefore the
    backlog-minimum ``refill`` declaration) has streamed past —
    peak memory O(cap + one Arrow chunk), identical decisions.
    """

    def _fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (host_id,) = key

        def _defer_frame(pdf: pd.DataFrame) -> pd.DataFrame:
            n = len(pdf)
            return pd.DataFrame(
                {
                    "host_id": np.full(n, host_id, dtype=np.int64),
                    "url": pdf["url"].to_numpy(),
                    "seq": pdf["seq"].to_numpy(dtype=np.int64),
                    "decision": np.full(n, "defer", dtype=object),
                    "tokens_after": np.zeros(n, dtype=np.int32),
                }
            )

        # per-host politeness override: a 'refill' column (e.g.
        # round_seconds / crawl_delay joined from
        # functions.robots.host_crawl_delays) replaces the global
        # per-trigger refill for this host.  The MINIMUM declared value
        # over the WHOLE backlog wins when rows disagree (a robots
        # change mid-backlog) — deterministic and politeness-
        # conservative, never arrival-order dependent.  Fractional
        # refills (Crawl-delay longer than the trigger period)
        # accumulate as credit in the state store rather than
        # truncating to a starved 0.
        min_refill: float | None = None
        buf: pd.DataFrame | None = None
        for chunk in pdfs:
            if "refill" in chunk.columns:
                declared = chunk["refill"].dropna()
                if len(declared):
                    m = float(declared.min())
                    min_refill = m if min_refill is None else min(
                        min_refill, m
                    )
            order = (
                ["priority", "seq"] if "priority" in chunk.columns else ["seq"]
            )
            merged = (
                chunk
                if buf is None
                else pd.concat([buf, chunk], ignore_index=True)
            )
            # stable: ties keep arrival order, exactly like the
            # whole-group stable sort would
            merged = merged.sort_values(
                order, kind="stable", ignore_index=True
            )
            buf = merged.iloc[:cap]
            overflow = merged.iloc[cap:]
            if len(overflow):
                yield _defer_frame(overflow)
        group_refill = (
            float(refill) if min_refill is None else max(0.0, min_refill)
        )
        if state.exists:
            # defensive unpack: checkpoints written before the 'credit'
            # field carry single-element state (round-3 ADVICE) — treat
            # missing credit as 0 instead of failing the resume.  (If
            # the state STORE itself rejects the widened schema, the
            # checkpoint predates this version and must be discarded.)
            vals = state.get
            tokens = int(vals[0])
            credit = float(vals[1]) if len(vals) > 1 else 0.0
            total = credit + group_refill
            gain = int(total)
            credit = total - gain
            tokens = min(cap, tokens + gain)
        else:
            tokens, credit = cap, 0.0
        # the buffer holds the globally best min(n, cap) rows in order;
        # rank i (1-based) fetches iff i <= tokens, with the balance
        # after the i-th row = max(tokens - i, 0) — one numpy pass
        n = 0 if buf is None else len(buf)
        i = np.arange(1, n + 1, dtype=np.int64)
        decisions = np.where(i <= tokens, "fetch", "defer")
        after = np.maximum(tokens - i, 0).astype(np.int32)
        state.update((int(after[-1]) if n else tokens, float(credit)))
        yield pd.DataFrame(
            {
                "host_id": np.full(n, host_id, dtype=np.int64),
                "url": (
                    buf["url"].to_numpy() if n else np.array([], dtype=object)
                ),
                "seq": (
                    buf["seq"].to_numpy(dtype=np.int64)
                    if n
                    else np.array([], dtype=np.int64)
                ),
                "decision": decisions,
                "tokens_after": after,
            }
        )

    return _fn


def stream_host_budget(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cap: int = 8,
    refill: int = 4,
    schema: StructType | None = None,
):
    """Continuously budget a stream of candidate URLs per host.

    Input: append-only parquet/Iceberg dir with at least
    (host_id long, url string, seq long); an optional ``refill`` int
    column (pass a custom ``schema``) overrides the global per-trigger
    refill per host — the robots Crawl-delay integration point
    (functions.robots.host_crawl_delays).  Output: every candidate
    annotated with the fetch/defer decision and the post-decision
    balance.  ``Trigger.AvailableNow`` + the checkpoint make each
    invocation drain exactly the new files, with host balances carried
    across invocations in the state store — restart-safe politeness.
    """
    in_schema = schema or StructType(
        [
            StructField("host_id", LongType()),
            StructField("url", StringType()),
            StructField("seq", LongType()),
        ]
    )
    # no maxFilesPerTrigger: with AvailableNow it would split one
    # invocation into several micro-batches, and since the bucket
    # refills per trigger, a >64-file backlog would exceed the
    # documented one-round budget within a single invocation
    stream = spark.readStream.schema(in_schema).parquet(input_dir)
    budgeted = stream.groupBy("host_id").applyInPandasWithState(
        host_budget_fn(cap, refill),
        outputStructType=BUDGET_OUT_SCHEMA,
        stateStructType=BUDGET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        budgeted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
