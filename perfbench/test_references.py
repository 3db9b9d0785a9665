"""The corpus references must equal the repository's oracles.

    python3 -m pytest perfbench/test_references.py -q

``references`` replaces the two all-pairs Jaccard oracles with a
prefix-filtered search; on a corpus small enough for the all-pairs SQL
both must return the same rows.
"""

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from perfbench.corpus import references  # noqa: E402
from perfbench.inputs import write_corpus  # noqa: E402


def test_prefix_filtered_pairs_equal_all_pairs_oracles(tmp_path):
    sf_dir = write_corpus(str(tmp_path), seed=5, n_docs=300, n_vecs=50)
    got = references(sf_dir)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet')}'"
    )
    for q in ("dedup_minhash", "dedup_winnow"):
        rel = con.execute(E.oracle_sql()[q])
        cols = [d[0] for d in rel.description]
        want = sorted(rel.fetchall())
        rows, got_cols = got[q]
        assert got_cols == cols
        assert sorted(rows) == want
        assert want, f"{q}: the corpus planted no pairs"
