"""Snapshot storage seam for the crawl engine.

The engine versions every table by round (``frontier r0, r1, ...``)
and needs atomic-at-round commits plus resume-from-any-round.  This
module makes the storage layout a small interface so the production
mapping is code, not comments:

* :class:`ParquetSnapshotStorage` — the sandbox implementation: one
  parquet directory per (table, round) under a workdir, manifest as a
  JSON file.  Atomicity granularity is the round (the manifest is
  written only after every table of the round committed).
* :class:`IcebergSnapshotStorage` — the cluster implementation: one
  Iceberg table per logical table, partitioned by a ``round`` column
  (plus the ``BUCKET_SPECS`` sub-partitioning, e.g. ``bucket(64, host_id)``,
  declared at table-creation time), written via
  ``writeTo(...).overwrite(round == N)`` so each round commit is one
  atomic Iceberg snapshot that replaces the whole round; the manifest
  lives in a single-row-per-round table.  Construction fails fast with a clear message when no Iceberg
  catalog is configured (the sandbox has no Iceberg jars), but every
  code path is the real production call sequence.

Both implement the same five required methods the engine uses —
``write / read / read_union / save_manifest / load_manifest`` — plus
the OPTIONAL ``write_small`` fast path for tiny per-host tables (the
engine probes for it with getattr and falls back to ``write``).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Protocol, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotStorage(Protocol):
    """Structural storage contract.

    REQUIRED method stubs raise: a class that explicitly subclasses
    this Protocol but misses one must fail LOUDLY at the call site —
    the inherited default would otherwise be a silent None-returning
    no-op at the commit seam (a save_manifest that writes nothing
    makes every round unresumable with no error).  Duck-typed
    implementations never inherit these bodies.  ``write_small`` is
    the one OPTIONAL method: its stub stays inert because the engine's
    ``resolve_write_small`` probe filters it by identity and falls
    back to plain ``write``.
    """

    def write(self, df: DataFrame, table: str, rnd: int) -> None:
        raise NotImplementedError("SnapshotStorage.write")

    def write_small(self, df: DataFrame, table: str, rnd: int) -> None:
        """OPTIONAL: write a small (driver-collectable) table —
        implementations may skip the distributed write path entirely.
        The engine probes for a real override and otherwise uses
        ``write``."""
        ...

    def read(self, table: str, rnd: int) -> DataFrame:
        raise NotImplementedError("SnapshotStorage.read")

    def read_union(self, table: str, rounds: Sequence[int]) -> DataFrame:
        raise NotImplementedError("SnapshotStorage.read_union")

    def save_manifest(self, manifest: dict) -> None:
        raise NotImplementedError("SnapshotStorage.save_manifest")

    def load_manifest(self) -> dict:
        raise NotImplementedError("SnapshotStorage.load_manifest")

    def reset(self) -> None:
        """Drop all state (fresh-crawl initialization)."""
        raise NotImplementedError("SnapshotStorage.reset")


class ParquetSnapshotStorage:
    """Iceberg-shaped snapshot layout on plain parquet:
    ``workdir/<table>/r<N>`` per round, ``workdir/manifest.json``."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        #: per-(table, round) schema cache — METADATA only (the engine
        #: writes these tables itself, so the schema of round N's read
        #: is the schema of the round-N write).  Passing it explicitly
        #: on read skips parquet schema inference, which cost one
        #: footer-read job per table per round (~6 extra tiny jobs a
        #: round on a 43-job round loop, r6 profile).  Keyed per
        #: ROUND, not per table: a table whose schema legitimately
        #: changes between rounds (fetch_log gaining a status column)
        #: must still read each older round with that round's schema.
        self._schemas: dict = {}

    def _path(self, table: str, rnd: int) -> str:
        return os.path.join(self.workdir, table, f"r{rnd}")

    def write(self, df: DataFrame, table: str, rnd: int) -> None:
        df.write.mode("overwrite").parquet(self._path(table, rnd))
        self._schemas[table, rnd] = df.schema

    def write_small(self, df: DataFrame, table: str, rnd: int) -> None:
        """Collect-to-driver + single pyarrow parquet file.

        For per-host tables (one short row per host) the dominant cost
        of ``df.write.parquet`` is the distributed commit protocol
        (task files + renames on a shared disk), not the bytes; an
        Arrow collect plus one local file write skips all of it.  Any
        Observation riding ``df`` still fires (the collect is a job).
        Caller owns the smallness bound (CrawlEngine:
        DRIVER_WRITE_MAX_ROWS)."""
        import pyarrow.parquet as pq

        tbl = df.toArrow()
        path = self._path(table, rnd)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))
        self._schemas[table, rnd] = df.schema

    def read(self, table: str, rnd: int) -> DataFrame:
        return self.read_union(table, [rnd])

    def read_union(self, table: str, rounds: Sequence[int]) -> DataFrame:
        """A cached schema is passed only when every requested round
        has that same one; otherwise parquet merges the rounds'
        schemas (columns a round lacks read as null)."""
        schemas = {self._schemas.get((table, r)) for r in rounds}
        schema = schemas.pop() if len(schemas) == 1 else None
        reader = (
            self.spark.read.schema(schema)
            if schema is not None
            else self.spark.read.option("mergeSchema", "true")
        )
        return reader.parquet(*[self._path(table, r) for r in rounds])

    def save_manifest(self, manifest: dict) -> None:
        # The manifest IS the round-commit record: a crash mid-write
        # must leave the previous round's manifest intact, so write to
        # a temp file and publish with an atomic rename.
        path = os.path.join(self.workdir, "manifest.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, path)

    def load_manifest(self) -> dict:
        with open(os.path.join(self.workdir, "manifest.json")) as f:
            return json.load(f)

    def reset(self) -> None:
        if os.path.exists(self.workdir):
            shutil.rmtree(self.workdir)
        os.makedirs(self.workdir)


class IcebergSnapshotStorage:
    """Production storage: one Iceberg table per logical table with an
    identity ``round`` partition; a round commit is one atomic
    ``overwrite(round == N)`` snapshot (replacing every row of that
    round, whatever buckets a crashed prior attempt touched), and
    resume reads any committed round by partition-pruned scan.

    Table DDL (issued lazily on first write) also declares the north
    rule's hash bucketing, e.g.::

        CREATE TABLE <ns>.seen (url string, url_hash bigint, round int)
        USING iceberg PARTITIONED BY (round, bucket(512, url_hash))

    so the seen anti-join and the table layout co-partition on
    ``url_hash``.
    """

    #: per-table extra bucket spec appended to `round` partitioning
    BUCKET_SPECS = {
        "seen": "bucket(512, url_hash)",
        "frontier": "bucket(512, url_hash)",
        "host_state": "bucket(64, host_id)",
    }

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if impl is None:
            raise RuntimeError(
                f"no Iceberg catalog configured: set spark.sql.catalog."
                f"{catalog}=org.apache.iceberg.spark.SparkCatalog (plus "
                f"warehouse/type confs) and add the iceberg-spark-runtime "
                f"jar; the sandbox has neither, use ParquetSnapshotStorage"
            )
        self._known: set[str] = set()

    #: reserved snapshot-version partition column — distinct from any
    #: engine data column (fetch_log/docs carry their own ``round``)
    VERSION_COL = "_snapshot_round"

    #: every table the engine writes (storage must not depend on the
    #: engine module, so the list is owned here; reset() drops them all).
    #: ``bloom`` is no longer written, but a crawl from before the engine
    #: dropped its bloom left one in the namespace, and reset() must
    #: still drop it so a fresh crawl starts clean.
    ENGINE_TABLES = (
        "frontier", "seen", "host_state", "docs", "fetch_log", "bloom",
        "robots", "manifest",
    )

    def _name(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def _ensure(self, df: DataFrame, table: str) -> None:
        if table in self._known:
            return
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        extra = self.BUCKET_SPECS.get(table)
        part = f"{self.VERSION_COL}{', ' + extra if extra else ''}"
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self._name(table)} ({cols}) "
            f"USING iceberg PARTITIONED BY ({part})"
        )
        self._known.add(table)

    def write(self, df: DataFrame, table: str, rnd: int) -> None:
        out = df.withColumn(self.VERSION_COL, F.lit(rnd).cast("int"))
        self._ensure(out, table)
        # Atomic snapshot commit replacing the WHOLE round by predicate.
        # (Not overwritePartitions: that replaces only the (round,
        # bucket) partitions present in the new data, so a re-run of a
        # crashed round whose retry produces no rows in some hash
        # bucket would leave the previous attempt's rows alive there.)
        out.writeTo(self._name(table)).overwrite(
            F.col(self.VERSION_COL) == F.lit(rnd).cast("int")
        )

    def write_small(self, df: DataFrame, table: str, rnd: int) -> None:
        # Iceberg commits are already metadata-atomic and cheap for
        # small tables; no driver-side shortcut needed
        self.write(df, table, rnd)

    def read(self, table: str, rnd: int) -> DataFrame:
        return (
            self.spark.table(self._name(table))
            .where(F.col(self.VERSION_COL) == rnd)
            .drop(self.VERSION_COL)
        )

    def read_union(self, table: str, rounds: Sequence[int]) -> DataFrame:
        return (
            self.spark.table(self._name(table))
            .where(F.col(self.VERSION_COL).isin(list(rounds)))
            .drop(self.VERSION_COL)
        )

    def save_manifest(self, manifest: dict) -> None:
        # single-row unpartitioned table, atomically replaced per round
        df = self.spark.createDataFrame(
            [(json.dumps(manifest),)], "manifest string"
        )
        df.writeTo(self._name("manifest")).createOrReplace()
        self._known.add("manifest")

    def load_manifest(self) -> dict:
        row = self.spark.table(self._name("manifest")).head()
        return json.loads(row["manifest"])

    def reset(self) -> None:
        # drop EVERY engine table (not just the ones this instance has
        # touched) so a fresh crawl never resumes against a previous
        # crawl's leftover docs/fetch_log/manifest
        for t in set(self.ENGINE_TABLES) | self._known:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._name(t)}")
        self._known.clear()
