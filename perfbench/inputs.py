"""Seeded input generators.

Everything the program receives is derived from the workload seed
here: the crawl seed lists and the corpus tables.  The same seed gives
the same inputs byte for byte.
"""

from __future__ import annotations

import math
import os
import random

#: the word list, length range and language mix of the sf0.1
#: ``documents`` table (30 words, 10-100 words per document, en ~41%)
WORDS = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast "
    "row the agg key query a scan batch"
).split()
LANGS = (("en", 2059), ("zh", 753), ("de", 702), ("es", 744), ("fr", 742))
N_SOURCES = 20
#: share of documents planted as near-duplicates (an earlier document's
#: text plus a trailing marker word) and as exact duplicates — the
#: shingle and fingerprint share across documents that the dedup
#: operators' candidate volume depends on
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016
DIM = 64
N_LABELS = 10


def crawl_seeds(seed: int, n_hosts: int, per_host: int) -> list[str]:
    """``per_host`` distinct seed pages per host, page ids drawn from
    the synthetic web's page space."""
    from scalpel_ts_spark.sources.synthetic import make_url

    rng = random.Random(f"crawl:{seed}")
    return [
        make_url(h, p)
        for h in range(n_hosts)
        for p in sorted(rng.sample(range(100_000), per_host))
    ]


def _documents(rng: random.Random, n_docs: int):
    langs = [lang for lang, _ in LANGS]
    weights = [w for _, w in LANGS]
    texts: list[str] = []
    for i in range(n_docs):
        roll = rng.random()
        if i > 0 and roll < EXACT_DUP_SHARE:
            text = texts[rng.randrange(i)]
        elif i > 0 and roll < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            text = texts[rng.randrange(i)] + " dup"
        else:
            text = " ".join(rng.choices(WORDS, k=rng.randint(10, 100)))
        texts.append(text)
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": rng.choices(langs, weights, k=n_docs),
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def _embeddings(rng: random.Random, n_vecs: int):
    """Unit vectors scattered around one random direction per label."""
    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(N_LABELS)]
    vecs, labels = [], []
    for _ in range(n_vecs):
        label = rng.randrange(N_LABELS)
        v = [c + rng.gauss(0, 1.5) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    return {"vec_id": list(range(n_vecs)), "embedding": vecs, "label": labels}


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """Write ``documents`` and ``embeddings`` parquet tables with the
    sf0.1 schemas under ``out_dir``; returns ``out_dir`` (the queries'
    ``sf_dir`` argument)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table(
        _documents(rng, n_docs),
        schema=pa.schema([
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]),
    )
    emb = pa.table(
        _embeddings(rng, n_vecs),
        schema=pa.schema([
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]),
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return out_dir


def synthetic_pages(seed: int, n_pages: int, n_hosts: int = 64) -> list[str]:
    """Bodies of seeded synthetic-web pages, for the single-thread
    parse and extract rates."""
    from scalpel_ts_spark.sources.synthetic import html_for_url, make_url

    rng = random.Random(f"pages:{seed}")
    return [
        html_for_url(
            make_url(rng.randrange(n_hosts), rng.randrange(100_000)), n_hosts
        )
        for _ in range(n_pages)
    ]
