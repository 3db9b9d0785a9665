"""Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD 2003).

Pins the three things that make the operator trustworthy:
* the paper's detection guarantee (shared substring >= w+k-1 => shared
  fingerprint), which is what makes the dedup equi-join LOSSLESS;
* edge-case parity with the DuckDB oracle mirror (NULL / empty /
  shorter-than-k / fewer-grams-than-one-window / \\x0B whitespace);
* candidate-join == all-pairs equivalence for the dedup operator.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from scalpel_ts_spark.functions import text as T
from scalpel_ts_spark.operators.dedup import winnow_duplicates


def _py_winnow(text: str | None, k: int = 8, w: int = 16):
    """Independent reference implementation (plain Python)."""
    if text is None:
        return None
    import re

    s = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.strip().lower())
    grams = [s[i : i + k] for i in range(len(s) - k + 1)]
    hashes = [hashlib.md5(g.encode()).hexdigest() for g in grams]
    if not hashes:
        return []
    n_win = max(len(hashes) - w + 1, 1)
    sels = {min(hashes[j : j + w]) for j in range(n_win)}
    return sorted(sels)


def _spark_winnow(spark, samples, k=8, w=16):
    rows = (
        spark.createDataFrame(
            [(i, s) for i, s in enumerate(samples)], "doc_id int, text string"
        )
        .select(
            "doc_id", T.winnow_fingerprints(F.col("text"), k, w).alias("fps")
        )
        .collect()
    )
    return {r["doc_id"]: r["fps"] for r in rows}


EDGE_SAMPLES = [
    None,  # NULL in -> empty fingerprint set (both engines)
    "",  # no grams
    "short",  # len < k: no grams
    "exactly8c",  # one gram -> one window
    "a\x0bb c d e f g h i j",  # \x0B: Java \s has it, RE2 doesn't
    "the quick brown fox jumps over the lazy dog " * 3,
    "word " * 40,  # heavy repetition -> distinct collapses hard
]


def test_winnow_matches_python_reference(spark):
    got = _spark_winnow(spark, EDGE_SAMPLES)
    for i, s in enumerate(EDGE_SAMPLES):
        expect = _py_winnow(s)
        if s is None:
            # Spark's when() guard turns the NULL chain into []
            assert got[i] == []
        else:
            assert got[i] == expect, repr(s)


def test_winnow_sql_mirror_agrees(spark):
    import duckdb

    got = _spark_winnow(spark, EDGE_SAMPLES)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id INT, text VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(i, s) for i, s in enumerate(EDGE_SAMPLES)],
    )
    oracle = dict(
        con.execute(
            f"SELECT doc_id, {T.winnow_fingerprints_sql('text')} FROM t"
        ).fetchall()
    )
    for i in range(len(EDGE_SAMPLES)):
        assert got[i] == oracle[i], repr(EDGE_SAMPLES[i])


def test_winnow_detection_guarantee(spark):
    """Any shared substring of length >= w + k - 1 must contribute a
    SHARED selected fingerprint — the property that makes the exploded
    equi-join a lossless candidate generator (paper, Theorem in §2).
    """
    k, w = 4, 4  # guarantee threshold t = 7 chars
    shared = "zqxjkvwp"  # 8 > t, unlikely n-grams elsewhere
    a = "left padding text " + shared + " tail one"
    b = "other document entirely " + shared + " different end"
    got = _spark_winnow(spark, [a, b], k=k, w=w)
    assert set(got[0]) & set(got[1]), "guarantee violated: no shared fp"


def test_winnow_dedup_matches_allpairs(spark):
    """The candidate equi-join must find exactly the pairs the full
    all-pairs Jaccard scan finds (threshold > 0 => losslessness)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = [
        (0, base),
        (1, base + " with a small suffix change"),  # near-dup of 0
        (2, "completely unrelated content about spark shuffles"),
        (3, base),  # exact dup of 0
        (4, None),
        (5, "xy"),  # shorter than k
    ]
    df = spark.createDataFrame(corpus, "doc_id bigint, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["uni"])
        for r in winnow_duplicates(df, threshold=0.5).collect()
    }
    # all-pairs reference in plain Python
    fps = {i: _py_winnow(t) for i, t in corpus}
    expect = {}
    ids = [i for i, f in fps.items() if f]
    for x in ids:
        for y in ids:
            if x >= y:
                continue
            inter = len(set(fps[x]) & set(fps[y]))
            uni = len(set(fps[x]) | set(fps[y]))
            if inter * 10000 >= uni * 5000:
                expect[(x, y)] = (inter, uni)
    assert got == expect
    assert (0, 3) in got and got[(0, 3)][0] == got[(0, 3)][1]  # exact dup
    assert (0, 1) in got  # near-dup survives threshold


def test_winnow_pairs_feed_component_clustering(spark):
    """Composability: winnow pairs are (id_a, id_b) edges, so the
    keep-one-per-cluster primitive consumes them directly — an exact
    dup + its near-dup + the original must land in ONE component."""
    from scalpel_ts_spark.operators.dedup import connected_components

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = [
        (0, base),
        (1, base + " with a small suffix change"),
        (2, "completely unrelated content about spark shuffles"),
        (3, base),
    ]
    df = spark.createDataFrame(corpus, "doc_id bigint, text string")
    pairs = winnow_duplicates(df, threshold=0.5)
    comp = {
        r["v"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert comp[0] == comp[1] == comp[3] == 0
    assert 2 not in comp  # no edges -> not part of any dup cluster


def test_winnow_short_doc_single_window(spark):
    """k <= len < k+w-1: one window over all grams -> exactly the
    minimum hash survives."""
    s = "abcdefghij"  # 10 chars, k=8 -> 3 grams < w=16
    got = _spark_winnow(spark, [s])[0]
    grams = [s[i : i + 8] for i in range(3)]
    assert got == [min(hashlib.md5(g.encode()).hexdigest() for g in grams)]
