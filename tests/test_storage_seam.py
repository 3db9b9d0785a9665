"""Storage-seam contracts that are not Iceberg call-sequence tests:
the parquet manifest's crash-safe publish, the Protocol's required
method stubs, and the driver entry's parquet schema cache.
"""

import json
import os

from scalpel_ts_spark.plans.storage import (
    ParquetSnapshotStorage,
    SnapshotStorage,
)


def test_save_manifest_is_atomic_publish(tmp_path):
    """The manifest is the round-commit record: it must be written to
    a temp file and renamed, so a crash mid-write can never leave a
    truncated manifest where a good previous one stood."""
    st = ParquetSnapshotStorage(None, str(tmp_path))
    st.save_manifest({"rounds": [{"round": 0}]})
    st.save_manifest({"rounds": [{"round": 0}, {"round": 1}]})
    assert st.load_manifest() == {"rounds": [{"round": 0}, {"round": 1}]}
    assert not os.path.exists(tmp_path / "manifest.json.tmp")
    # a crashed writer's leftover tmp must not poison the next save
    (tmp_path / "manifest.json.tmp").write_text("{trunca")
    st.save_manifest({"rounds": []})
    assert st.load_manifest() == {"rounds": []}
    with open(tmp_path / "manifest.json") as f:
        assert json.load(f) == {"rounds": []}


def test_protocol_required_stubs_raise():
    """An explicit Protocol subclass that forgot a REQUIRED method
    must fail loudly when the engine calls it — the old inherited
    `...` body returned None, silently committing nothing."""
    import pytest

    class Missing(SnapshotStorage):
        def write(self, df, table, rnd):
            pass

    with pytest.raises(NotImplementedError, match="save_manifest"):
        Missing().save_manifest({})
    with pytest.raises(NotImplementedError, match="reset"):
        Missing().reset()
    with pytest.raises(NotImplementedError, match="write_small"):
        Missing().write_small(None, "t", 0)


def test_schema_cache_is_per_round(spark, tmp_path):
    """A table whose schema gains a column in round 2 must still read
    round 1 with round 1's schema, and a union over both rounds must
    show the new column (null for round 1)."""
    st = ParquetSnapshotStorage(spark, str(tmp_path))
    st.write(spark.createDataFrame([(1,)], "a long"), "t", 1)
    st.write(spark.createDataFrame([(2, "x")], "a long, c string"), "t", 2)
    assert st.read("t", 1).columns == ["a"]
    both = st.read_union("t", [1, 2])
    assert "c" in both.columns
    assert sorted((r.a, r.c) for r in both.collect()) == [(1, None), (2, "x")]


def test_entry_schema_cache_sees_rewritten_parquet(spark, tmp_path):
    """``__spark_entry__._tbl`` caches each parquet's schema; a file
    rewritten at the same path with an extra column must be read with
    the new schema, not the cached one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2]}), path)
    assert E._tbl(spark, str(tmp_path), "documents").columns == ["doc_id"]
    pq.write_table(pa.table({"doc_id": [1, 2], "lang": ["en", "de"]}), path)
    df = E._tbl(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "lang"]
    assert sorted(r.lang for r in df.collect()) == ["de", "en"]
