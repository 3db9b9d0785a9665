"""SparkSession factory with scale-oriented defaults.

Local runs model a multi-executor cluster via ``local[N]``; the knobs
here are the ones that matter at the 100 TB design point:

* AQE on (runtime coalescing, skew-join splitting)
* shuffle partitions scaled with cores (locally) — on a real cluster
  this is set to 2-3x total executor cores by the submitter
* Arrow batches sized so parse/extract pandas UDFs amortize the
  Python<->JVM hop without blowing executor memory on wide HTML rows
* a codegen cache large enough for the engine's generated classes, so
  a repeated crawl round or query compiles nothing new
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "scalpel-ts-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 1x cores locally; a real cluster submit would use 2-3x total cores
        shuffle_partitions = max(cores, 8)
    # Respect spark-submit: programmatic conf has the HIGHEST
    # precedence, so unconditionally setting master/shuffle-partitions
    # here would silently turn a `spark-submit --master yarn --conf
    # spark.sql.shuffle.partitions=...` cluster job (the tools/
    # package.py launch recipe) into a driver-local local[N] run.
    # Detection is by LAUNCH CONTEXT, not SparkConf.contains():
    # pyspark-shell's own launcher defaults spark.master=local[*], so
    # once the gateway is up the property is ALWAYS present and a
    # contains() probe would also stop plain-local callers from
    # getting exactly `cores` slots (which the scaling bench's
    # local[1]-vs-local[4] children depend on).
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ  # real spark-submit driver
    external_master = under_submit or "--master" in submit_args
    external_shuffle = "spark.sql.shuffle.partitions" in submit_args
    if under_submit and not external_shuffle:
        from pyspark import SparkConf

        # the submit JVM is already up: its system properties are
        # visible, so honor a --conf/spark-defaults shuffle setting
        external_shuffle = SparkConf().contains(
            "spark.sql.shuffle.partitions"
        )
    builder = SparkSession.builder.appName(app_name)
    if not external_master:
        builder = builder.master(f"local[{cores}]")
    if not external_shuffle:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # topk_per_group's skew guard (the partial WindowGroupLimit) is
        # planned only for rank bounds under this threshold (default
        # 1000); the crawl engine's bound is its token cap
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "8192")
        # Janino-compiled classes live in an LRU of this many entries
        # (static conf, default 100).  A crawl_deep pass cycles through
        # 144 distinct classes and a corpus pass through 220; a cyclic
        # working set larger than an LRU misses on every access, so at
        # 100 every pass recompiled its classes.  1024 holds the larger
        # one about 4.6 times over.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.ui.enabled", "false")
    )
    # shuffle/spill scratch stays on Spark's DISK default: spilling
    # exists to relieve memory pressure, and redirecting it to tmpfs
    # puts spill back into RAM — in common environments /dev/shm is
    # tiny (Docker defaults 64 MB) and a real spill would die with
    # ENOSPC (round-4 ADVICE, medium).  The bench tools opt into
    # tmpfs explicitly (see tmpfs_local_dir below) because this
    # sandbox's lone shared virtio disk injects non-scaling writeback
    # noise that a per-executor-SSD cluster does not have
    # (BASELINE.md measurement protocol).  SPARK_GRAFT_LOCAL_DIR
    # overrides either way.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # applied AFTER extra_conf: the env var must override a
    # caller-supplied spark.local.dir too (builder is last-write-wins,
    # and both this comment block and tmpfs_local_dir promise the env
    # override wins "either way")
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()


def tmpfs_local_dir(min_free_gib: int = 16) -> str | None:
    """tmpfs scratch path for the BENCH TOOLS — or None if unsafe.

    Measurement-protocol opt-in, not a library default: benchmarks on
    this sandbox redirect shuffle/spill scratch to ``/dev/shm`` so the
    one shared virtio disk's writeback stalls (a non-scaling,
    data-volume-dependent ~50s drag on a 2M-URL crawl round's dedup
    shuffle — BASELINE.md r4) don't pollute scaling/throughput
    readings; a production cluster spills to per-executor local SSDs,
    a resource that scales with the cluster, so the disk path here
    models nothing real.  Sizing assumption: tmpfs spill competes with
    executor heaps for the SAME DRAM, so this returns None unless
    /dev/shm has ``min_free_gib`` free — a spill-heavy run must
    degrade to disk, not OOM.  Callers pass the result via
    ``extra_conf={"spark.local.dir": ...}``; SPARK_GRAFT_LOCAL_DIR
    still overrides everything.
    """
    if os.environ.get("SPARK_GRAFT_LOCAL_DIR"):
        return None  # explicit override wins; get_spark applies it
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return None
    if st.f_bavail * st.f_frsize < min_free_gib * (1 << 30):
        return None
    return "/dev/shm/spark-local"
