"""URL-seen set: one partitioned prefilter path + exact anti-join.

North rule: "partitioned bloom-filter (cuckoo fallback for deletes)
URL-seen set keyed by canonicalized-URL hash" AND "URL-seen set
exactly".  A prefilter alone would false-positive-drop real URLs, so
the architecture is:

    candidates --prefilter--> probably-seen? --exact anti-join--> new

The prefilter is partition-owned: one serialized filter per
``pmod(url_hash, n_buckets)`` bucket, built with a grouped pandas
UDF, maintained with a cogroup, and probed with a cogroup that tags
``maybe_seen``.  It cheaply removes the bulk of already-seen URLs
*before* the expensive exact anti-join shuffle; the anti-join remains
the authority, so correctness never depends on the filter's FP rate.

One pipeline, two filter kinds, over one interface (``from_bytes``,
``to_bytes``, ``insert_many``, ``contains_many``):

* :class:`Bloom` — a bitmap whose geometry is its own byte length; it
  never rejects a key.
* :class:`~scalpel_ts_spark.operators.cuckoo.CuckooTable` — the
  deletable fallback: it also has ``delete_many``, and its
  ``insert_many`` can fail when its table is full, which raises
  :class:`~scalpel_ts_spark.operators.cuckoo.CuckooSaturationError`.

At the 10^10-URL design point: 10 bits/key => ~12 GiB of bloom bits
across >= 512 buckets of ~24 MiB — each bucket fits comfortably in an
executor; buckets co-partition with the candidate side so the probe is
a map-side operation after one hash-partition exchange.

The crawl engine does not run a prefilter: it calls ``new_urls`` with
no filters.  The ``left_anti`` join builds on the seen side, which is
exchanged in full either way, so a prefilter only pays when the seen
side is never shuffled (BASELINE.md r7).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from scalpel_ts_spark.operators.cuckoo import (
    CuckooDeleteError,
    CuckooSaturationError,
)

#: one row per bucket: the bucket's serialized filter
FILTER_SCHEMA = "bucket int, bits binary"

#: candidate rows per bucket a probe is sized for (one bucket = one
#: cogroup task's pandas heap; the probe raises above 4x)
BLOOM_ROWS_PER_BUCKET = 1_000_000
#: hash functions per key; build, update and probe must agree
BLOOM_HASH_FUNCS = 5


def _positions(hashes: np.ndarray, m_bits: int):
    """k derived hash positions per key (double hashing on xxhash64)."""
    h1 = hashes.astype(np.uint64)
    h2 = (h1 >> np.uint64(17)) | np.uint64(1)  # odd => full-period stride
    for i in range(BLOOM_HASH_FUNCS):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.int64)


class Bloom:
    """One bucket's bloom bitmap; ``n_bits`` sizes a new, empty one.

    The geometry is SELF-DESCRIBING (derived from the stored bytes,
    not a config param): buckets built at different sizes can share
    one filter table, and a probe tests each against its actual
    size."""

    __slots__ = ("bits",)

    def __init__(self, n_bits: int = 1 << 17, bits: np.ndarray | None = None):
        self.bits = (
            bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "Bloom":
        # a read-only view: a probe never copies the stored bitmap
        return cls(bits=np.frombuffer(data, dtype=np.uint8))

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    def insert_many(self, hashes: np.ndarray) -> int:
        """Set the keys' bits; a bloom never rejects a key (returns 0)."""
        if not self.bits.flags.writeable:
            self.bits = self.bits.copy()
        for pos in _positions(hashes, len(self.bits) * 8):
            np.bitwise_or.at(
                self.bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8)
            )
        return 0

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership test of ``hashes`` against the bitmap."""
        bits = self.bits
        hit = np.ones(len(hashes), dtype=bool)
        for pos in _positions(hashes, len(bits) * 8):
            hit &= ((bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).astype(bool)
        return hit


def _bucketed(df: DataFrame, hash_col: str, n_buckets: int) -> DataFrame:
    return df.select(
        F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int").alias("bucket"),
        F.col(hash_col).alias("url_hash"),
    )


def _insert(filt, hashes: pd.Series, bucket: int) -> None:
    # a dropped key would be a silent FALSE NEGATIVE downstream
    failed = filt.insert_many(hashes.to_numpy(dtype=np.int64))
    if failed:
        raise CuckooSaturationError(
            f"filter bucket {bucket} saturated: {failed}/{len(hashes)} keys "
            f"dropped; raise the table geometry or n_buckets"
        )


def build_filter(
    seen: DataFrame,
    kind,
    *geometry,
    hash_col: str = "url_hash",
    n_buckets: int = 32,
) -> DataFrame:
    """Build one ``kind(*geometry)`` filter per bucket from the seen set.

    One output row per bucket: (bucket, bits).  Persisted alongside
    the seen snapshot so incremental rounds insert only new hashes.
    """

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"bucket": [], "bits": []})
        bucket = int(pdf["bucket"].iloc[0])
        filt = kind(*geometry)
        _insert(filt, pdf["url_hash"], bucket)
        return pd.DataFrame({"bucket": [bucket], "bits": [filt.to_bytes()]})

    return (
        _bucketed(seen, hash_col, n_buckets)
        .groupBy("bucket")
        .applyInPandas(_build, FILTER_SCHEMA)
    )


def update_filter(
    filters: DataFrame,
    kind,
    *geometry,
    inserts: DataFrame | None = None,
    deletes: DataFrame | None = None,
    hash_col: str = "url_hash",
    n_buckets: int = 32,
) -> DataFrame:
    """Apply inserts then deletes bucket-locally — incremental; never
    rescans the historical seen set.  Existing filters keep their
    stored geometry; ``geometry`` sizes only brand-new buckets.  Only
    a filter kind with ``delete_many`` takes ``deletes``."""
    delta = None if inserts is None else _bucketed(inserts, hash_col, n_buckets)
    if deletes is not None:
        dels = _bucketed(deletes, hash_col, n_buckets).withColumn("op", F.lit(-1))
        delta = (
            dels
            if delta is None
            else delta.withColumn("op", F.lit(1)).unionByName(dels)
        )

    def _apply(delta_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(filt_pdf) > 0:
            filt = kind.from_bytes(filt_pdf["bits"].iloc[0])
            bucket = int(filt_pdf["bucket"].iloc[0])
        else:
            filt = kind(*geometry)
            bucket = int(delta_pdf["bucket"].iloc[0])
        ops = delta_pdf.get("op", pd.Series(1, index=delta_pdf.index))
        _insert(filt, delta_pdf["url_hash"][ops == 1], bucket)
        dels = delta_pdf["url_hash"][ops == -1]
        if len(dels):
            misses = filt.delete_many(dels.to_numpy(dtype=np.int64))
            if misses:
                raise CuckooDeleteError(
                    f"filter bucket {bucket}: {misses}/{len(dels)} deletes "
                    f"targeted keys never inserted"
                )
        return pd.DataFrame({"bucket": [bucket], "bits": [filt.to_bytes()]})

    cg = delta.groupBy("bucket").cogroup(filters.groupBy("bucket"))
    return cg.applyInPandas(_apply, FILTER_SCHEMA)


def prefilter(
    candidates: DataFrame,
    filters: DataFrame,
    kind,
    hash_col: str = "url_hash",
    n_buckets: int = 32,
) -> DataFrame:
    """Tag candidates with ``maybe_seen``; definite-new rows (filter
    miss) skip the exact anti-join entirely.

    There is no filter-size parameter: each bucket's geometry comes
    from its stored bytes.  ``n_buckets`` MUST match the count the
    filters were built with: a bucket with no filter row means "no
    seen key hashes here", which is only true under the build-time
    bucketing.

    Cogroup by bucket: each task holds ONE filter and probes its whole
    candidate group in a few numpy passes — the filter is never
    duplicated per row, which is what lets 10^10-URL filter state
    (GiBs of bits) stay partition-owned instead of broadcast.

    A bucket holding more than 4x ``BLOOM_ROWS_PER_BUCKET`` candidate
    rows raises instead of loading them into one task's heap.
    """
    max_rows = 4 * BLOOM_ROWS_PER_BUCKET

    with_bucket = candidates.withColumn(
        "_bucket", F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int")
    )
    out_schema = StructType(
        with_bucket.schema.fields + [StructField("maybe_seen", IntegerType())]
    )

    def _probe(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(cand_pdf) > max_rows:
            # one bucket = one task's pandas heap; a silent 100x config
            # mismatch (huge discovery volume, tiny n_buckets) must
            # fail loudly, not OOM an executor (round-4 verdict #3)
            raise ValueError(
                f"filter bucket overflow: {len(cand_pdf)} candidate rows in "
                f"one bucket exceed {max_rows}; raise n_buckets to about "
                f"candidate rows / BLOOM_ROWS_PER_BUCKET"
            )
        if len(cand_pdf) == 0:
            return cand_pdf.assign(maybe_seen=pd.array([], dtype="int32"))
        if len(filt_pdf) == 0:
            return cand_pdf.assign(
                maybe_seen=np.zeros(len(cand_pdf), dtype=np.int32)
            )
        filt = kind.from_bytes(filt_pdf["bits"].iloc[0])
        hit = filt.contains_many(cand_pdf[hash_col].to_numpy(dtype=np.int64))
        return cand_pdf.assign(maybe_seen=hit.astype(np.int32))

    cg = with_bucket.groupBy("_bucket").cogroup(
        filters.withColumnRenamed("bucket", "_bucket").groupBy("_bucket")
    )
    return cg.applyInPandas(_probe, out_schema).drop("_bucket")


def new_urls(
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame | None = None,
    kind=Bloom,
    hash_col: str = "url_hash",
    n_buckets: int = 32,
) -> DataFrame:
    """candidates ∖ seen — exact, with an optional ``kind`` prefilter
    (``filters`` built with the same ``n_buckets``).

    The exact ``left_anti`` join is the authority; when filters are
    supplied, ONLY filter-positive rows pay for it.  At 10^10 URLs the
    point of the prefilter is that genuinely-new URLs (~all of the
    discovery volume) never enter the anti-join exchange at all:
    the tagged frame is persisted once, ``maybe_seen = 0`` rows pass
    straight to the union, and the anti-join shuffles just the suspect
    subset (filter-positive: true seen + the small FP fraction).
    A single conditional anti-join (``ON hash = seen AND maybe_seen =
    1``) would be wrong-shaped — anti-join semantics force every tagged
    row through the exchange since non-matching rows must be kept.
    The tagged frame's cache lives as long as the session.
    """
    if filters is None:
        return candidates.join(seen.select(hash_col), hash_col, "left_anti")
    tagged = prefilter(candidates, filters, kind, hash_col, n_buckets).persist()
    definite_new = tagged.filter(F.col("maybe_seen") == 0).drop("maybe_seen")
    suspects = tagged.filter(F.col("maybe_seen") == 1).drop("maybe_seen")
    checked = suspects.join(seen.select(hash_col), hash_col, "left_anti")
    return definite_new.unionByName(checked)
