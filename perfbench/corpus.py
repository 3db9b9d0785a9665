"""The corpus workload: the curation queries of ``__spark_entry__``
over a seeded corpus, checked against DuckDB references."""

from __future__ import annotations

import os
import time
from collections import Counter, defaultdict

from perfbench.inputs import write_corpus
from perfbench.trace import stage_totals

QUERIES = (
    "extract_spans", "text_stats", "quality_gopher", "repetition_topgram",
    "decontamination", "dedup_exact", "dedup_minhash", "dedup_simhash",
    "dedup_winnow", "embedding_neardup", "ann_lsh", "ann_ivf",
)


class _Collected:
    """The two attributes ``tools.oracle_check.compare`` reads from a
    Spark DataFrame, over rows collected inside the timed pass."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


class Corpus:
    """One pass = every query in ``QUERIES``, each collected to the
    driver (so every column is computed) before the next starts."""

    def __init__(self, work_dir, seed, *, n_docs, n_vecs, warm_docs,
                 warm_vecs):
        self.sf_dir = write_corpus(
            os.path.join(work_dir, "corpus"), seed, n_docs, n_vecs
        )
        self.warm_dir = write_corpus(
            os.path.join(work_dir, "corpus_warm"), seed + 1_000_003,
            warm_docs, warm_vecs,
        )
        self.n_docs = n_docs
        self.outputs: list = []

    def warmup(self, spark) -> None:
        """Every query over a smaller corpus from another seed."""
        import __spark_entry__ as E

        qs = E.queries()
        for q in QUERIES:
            qs[q](spark, self.warm_dir).collect()

    def run_pass(self, spark, rest=None) -> dict:
        import __spark_entry__ as E

        qs = E.queries()
        step_s, results, layers = [], {}, {}
        stages_all = []
        t_pass = time.perf_counter()
        for q in QUERIES:
            before = rest.snapshot() if rest else None
            t0 = time.perf_counter()
            df = qs[q](spark, self.sf_dir)
            rows = df.collect()
            step_s.append(time.perf_counter() - t0)
            results[q] = _Collected(df.columns, rows)
            if rest:
                _, stages = rest.since(before)
                stages_all += stages
                tot = stage_totals(stages)
                layers[f"query_s.{q}"] = step_s[-1]
                layers[f"query.exec_s.{q}"] = tot["exec_s"]
                layers[f"query.shuffle_write_records.{q}"] = (
                    tot["shuffle_write_records"]
                )
        pass_s = time.perf_counter() - t_pass
        self.outputs.append(results)
        out = {"pass_s": pass_s, "items": self.n_docs, "steps": step_s}
        if rest:
            tot = stage_totals(stages_all)
            layers["spark.exec_cpu_s"] = tot["exec_cpu_s"]
            layers["spark.shuffle_write_bytes"] = tot["shuffle_write_bytes"]
            layers["spark.spill_bytes"] = tot["spill_bytes"]
            out["layers"] = layers
        return out

    def check(self) -> tuple[int, int, list[str]]:
        """Compares every pass's query results with the DuckDB
        references.  Returns (attempted, failed, messages)."""
        from tools.oracle_check import compare

        refs = references(self.sf_dir)
        attempted = failed = 0
        notes = []
        for i, results in enumerate(self.outputs):
            for q in QUERIES:
                attempted += 2  # the query and its comparison
                rows, cols = refs[q]
                verdict = compare(results[q], rows, cols)
                if not verdict.startswith("OK"):
                    failed += 1
                    notes.append(f"pass {i}: {q}: {verdict}")
        return attempted, failed, notes


def _pairs_over(sets: dict, num: int, den: int = 10_000,
                empty_pairs: bool = False) -> list[tuple]:
    """Every ``(id_a, id_b, inter, uni)`` with ``id_a < id_b`` and
    ``inter * den >= uni * num`` — the all-pairs predicate of the
    Jaccard oracles — found through a lossless prefix filter: a pair
    over the threshold shares at least ``ceil(num/den * |x|)`` items,
    so under one global item order the first ``|x| - that + 1`` items
    of both sets intersect.  ``empty_pairs`` keeps the pairs of two
    empty sets, which the predicate accepts (0 >= 0)."""
    freq = Counter(g for s in sets.values() for g in s)
    index = defaultdict(list)
    for doc, s in sets.items():
        ordered = sorted(s, key=lambda g: (freq[g], g))
        need = -(-num * len(ordered) // den)
        for g in ordered[: len(ordered) - need + 1]:
            index[g].append(doc)
    cand = {
        (min(a, b), max(a, b))
        for docs in index.values()
        for i, a in enumerate(docs)
        for b in docs[i + 1:]
    }
    if empty_pairs:
        empty = sorted(d for d, s in sets.items() if not s)
        cand |= {(a, b) for i, a in enumerate(empty) for b in empty[i + 1:]}
    out = []
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        uni = len(sets[a]) + len(sets[b]) - inter
        if inter * den >= uni * num:
            out.append((a, b, inter, uni))
    return out


def references(sf_dir: str) -> dict:
    """``{query: (rows, columns)}``.  Each query's ``oracle_sql()``
    mirror runs as is on DuckDB, except the two all-pairs Jaccard
    oracles: their shingle and fingerprint sets come from the oracle's
    own SQL and from the repository's plain-Python winnowing
    reference, and the pairs from :func:`_pairs_over`, which returns
    exactly the rows of the all-pairs query without visiting every
    pair."""
    import duckdb

    import __spark_entry__ as E
    from scalpel_ts_spark.functions import text as T
    from tests.test_winnow import _py_winnow

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(sf_dir, t + '.parquet')}'"
        )
    oracles = E.oracle_sql()
    refs = {}
    for q in QUERIES:
        if q in ("dedup_minhash", "dedup_winnow"):
            continue
        rel = con.execute(oracles[q])
        refs[q] = (rel.fetchall(), [d[0] for d in rel.description])
    shingles = {
        doc: frozenset(s)
        for doc, s in con.execute(
            f"WITH {E._NEARDUP_CORPUS_SQL.strip()} "
            f"SELECT doc_id, {T.word_shingles_sql('text', 3)} FROM corpus"
        ).fetchall()
    }
    cols = ["id_a", "id_b", "inter", "uni"]
    refs["dedup_minhash"] = (
        _pairs_over(shingles, 8_000, empty_pairs=True), cols
    )
    fps = {}
    for doc, text in con.execute(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL"
    ).fetchall():
        fp = frozenset(_py_winnow(text))
        if fp:
            fps[doc] = fp
    refs["dedup_winnow"] = (_pairs_over(fps, 5_000), cols)
    con.close()
    return refs
