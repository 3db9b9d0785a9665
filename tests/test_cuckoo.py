"""Cuckoo filter: the deletable URL-seen prefilter (north rule)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from scalpel_ts_spark.operators.cuckoo import CuckooTable
from scalpel_ts_spark.operators.seen import (
    build_filter,
    prefilter,
    update_filter,
)


def test_table_insert_lookup_delete():
    t = CuckooTable(n_buckets=1 << 10)
    keys = np.arange(1000, dtype=np.int64) * 7919 + 13
    assert t.insert_many(keys) == 0
    assert t.contains_many(keys).all()  # no false negatives, ever
    absent = np.arange(50_000, 52_000, dtype=np.int64)
    fp_rate = t.contains_many(absent).mean()
    assert fp_rate < 0.05
    # delete half; deleted keys drop out, the rest stay
    assert t.delete_many(keys[:500]) == 0
    assert t.contains_many(keys[500:]).all()
    assert t.contains_many(keys[:500]).mean() < 0.05


def test_table_roundtrip_bytes():
    t = CuckooTable(n_buckets=1 << 8)
    keys = np.arange(100, dtype=np.int64) * 31 + 5
    t.insert_many(keys)
    t2 = CuckooTable.from_bytes(t.to_bytes(), n_buckets=1 << 8)
    assert t2.contains_many(keys).all()


@pytest.fixture(scope="module")
def seen_df(spark):
    return spark.range(0, 5000).select(F.xxhash64("id").alias("url_hash"))


def test_build_and_prefilter(spark, seen_df):
    tables = build_filter(seen_df, CuckooTable, 1 << 12, n_buckets=8)
    tables.persist().count()
    cand = spark.range(2500, 7500).select(F.xxhash64("id").alias("url_hash"))
    tagged = prefilter(cand, tables, CuckooTable, n_buckets=8)
    seen_keys = {r["url_hash"] for r in seen_df.collect()}
    rows = tagged.collect()
    # zero false negatives: every truly-seen candidate is flagged
    for r in rows:
        if r["url_hash"] in seen_keys:
            assert r["maybe_seen"] == 1
    fp = sum(
        1 for r in rows
        if r["maybe_seen"] == 1 and r["url_hash"] not in seen_keys
    )
    assert fp / len(rows) < 0.05
    tables.unpersist()


def test_update_with_deletes(spark, seen_df):
    tables = build_filter(seen_df, CuckooTable, 1 << 12, n_buckets=8)
    ins = spark.range(5000, 6000).select(F.xxhash64("id").alias("url_hash"))
    dels = spark.range(0, 1000).select(F.xxhash64("id").alias("url_hash"))
    updated = update_filter(
        tables, CuckooTable, 1 << 12, inserts=ins, deletes=dels, n_buckets=8
    )
    updated.persist().count()
    probe = spark.range(0, 6000).select(F.xxhash64("id").alias("url_hash"))
    tagged = {
        r["url_hash"]: r["maybe_seen"]
        for r in prefilter(probe, updated, CuckooTable, n_buckets=8).collect()
    }
    kept = spark.range(1000, 6000).select(F.xxhash64("id").alias("url_hash"))
    for r in kept.collect():  # still-present keys: no false negatives
        assert tagged[r["url_hash"]] == 1
    deleted = spark.range(0, 1000).select(F.xxhash64("id").alias("url_hash"))
    del_hits = sum(tagged[r["url_hash"]] for r in deleted.collect())
    assert del_hits / 1000 < 0.05  # deletes actually took effect
    updated.unpersist()


def test_build_raises_on_saturation(spark):
    from scalpel_ts_spark.operators.cuckoo import CuckooSaturationError

    # 4000 keys into one partition of 256*4 = 1024 slots must not
    # silently drop fingerprints (dropped = false negatives downstream)
    seen = spark.range(0, 4000).select(F.xxhash64("id").alias("url_hash"))
    with pytest.raises(Exception) as exc_info:
        build_filter(seen, CuckooTable, 1 << 8, n_buckets=1).collect()
    assert "CuckooSaturationError" in str(exc_info.value) or isinstance(
        exc_info.value, CuckooSaturationError
    )


def test_update_raises_on_delete_of_never_inserted_key(spark):
    from scalpel_ts_spark.operators.cuckoo import CuckooDeleteError

    seen = spark.range(0, 100).select(F.xxhash64("id").alias("url_hash"))
    tables = build_filter(seen, CuckooTable, 1 << 10, n_buckets=1)
    bogus = spark.range(10_000, 10_050).select(
        F.xxhash64("id").alias("url_hash")
    )
    with pytest.raises(Exception) as exc_info:
        update_filter(
            tables, CuckooTable, 1 << 10, deletes=bogus, n_buckets=1
        ).collect()
    assert "CuckooDeleteError" in str(exc_info.value) or isinstance(
        exc_info.value, CuckooDeleteError
    )


def test_from_bytes_rejects_geometry_mismatch():
    """The blob carries its own geometry header: probing with a
    mismatched (n_buckets, bucket_size) whose product matches must
    raise — a silent reshape would compute different bucket indices
    and produce FALSE NEGATIVES."""
    t = CuckooTable(n_buckets=1 << 8, bucket_size=4)
    keys = np.arange(100, dtype=np.int64) * 31 + 5
    t.insert_many(keys)
    blob = t.to_bytes()
    with pytest.raises(ValueError, match="geometry mismatch"):
        CuckooTable.from_bytes(blob, n_buckets=1 << 9, bucket_size=2)
    with pytest.raises(ValueError, match="header"):
        CuckooTable.from_bytes(blob[16:])  # raw slots, header stripped
    # header-borne geometry needs no caller args at all
    t2 = CuckooTable.from_bytes(blob)
    assert (t2.n_buckets, t2.bucket_size) == (1 << 8, 4)
    assert t2.contains_many(keys).all()


def test_insert_reuses_scattered_deleted_slots():
    """Deletes leave holes at arbitrary slot positions; the vectorized
    bulk placement must fill them (not just tail slots), keeping the
    no-false-negative contract through delete/insert churn."""
    t = CuckooTable(n_buckets=1 << 6, bucket_size=4)
    keys = np.arange(200, dtype=np.int64) * 7919 + 13
    assert t.insert_many(keys) == 0
    assert t.delete_many(keys[::2]) == 0
    more = np.arange(100, dtype=np.int64) * 104_729 + 7
    assert t.insert_many(more) == 0
    assert t.contains_many(keys[1::2]).all()
    assert t.contains_many(more).all()
