"""The traced crawl must run the same program as the untraced one.

    python3 -m pytest perfbench/test_timed_storage.py -q

Wrapping the storage seam in ``TimedStorage`` keeps the engine on the
``write_small`` fast path and changes no output.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.inputs import crawl_seeds  # noqa: E402
from perfbench.trace import TimedStorage  # noqa: E402
from scalpel_ts_spark.plans.frontier import (  # noqa: E402
    TABLES,
    CrawlEngine,
    resolve_write_small,
)
from scalpel_ts_spark.plans.storage import ParquetSnapshotStorage  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from scalpel_ts_spark.sources.session import get_spark

    s = get_spark("perfbench-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


def test_wrapper_keeps_write_small_fast_path():
    inner = ParquetSnapshotStorage(None, "/nonexistent")
    wrapped = resolve_write_small(TimedStorage(inner))
    assert wrapped is not None
    assert wrapped.__func__ is TimedStorage.write_small


def _crawl(spark, workdir, storage=None):
    eng = CrawlEngine(
        spark, workdir, n_hosts=16, cap=8, refill=4, compact_every=2,
        storage=storage,
    )
    eng.init(crawl_seeds(7, 16, 2))
    eng.run(3)
    log = sorted(tuple(r) for r in eng.fetch_log().collect())
    seen = {r.url for r in eng.seen().collect()}
    return log, seen


def test_wrapped_and_plain_crawls_agree(spark, tmp_path):
    plain = _crawl(spark, str(tmp_path / "plain"))
    wd = str(tmp_path / "wrapped")
    timed = TimedStorage(ParquetSnapshotStorage(spark, wd))
    assert _crawl(spark, wd, timed) == plain
    assert plain[0], "the crawl fetched nothing"
    # every table was written through the wrapper, per-host ones too
    assert set(timed.write_s) == set(TABLES)
    assert timed.manifest_s > 0
