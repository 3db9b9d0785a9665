"""Similarity search over embedding columns (``array<float>``).

* :func:`brute_force_topk` — exact cosine top-k.  The query set is
  broadcast (it's the small side by construction), so the scan over
  the candidate corpus is a single map stage + the partial-limit
  top-k reduction from operators/topk.py: no all-to-all shuffle, scales
  linearly in corpus size.
* :func:`lsh_topk` — random-hyperplane LSH: both sides get
  ``n_tables`` sign-bucket keys; candidates are generated by an
  equi-join on (table, bucket) and re-ranked by EXACT cosine.  The
  probe cost drops from |Q|x|C| to the collision volume; recall is
  tunable via tables x bits.  (IVF with learned centroids slots into
  the same shape: bucket = nearest-centroid id.)
* :func:`embedding_near_duplicates` — near-dup pairs by cosine >=
  threshold, LSH-bucketed candidate generation, exact verification
  (same prefilter-then-authority pattern as operators/dedup.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalpel_ts_spark.functions.vector import (
    cosine_with_norms,
    hyperplanes,
    lsh_buckets_udf,
    norm,
)
from scalpel_ts_spark.operators.spread import spread_small
from scalpel_ts_spark.operators.topk import topk_per_group


def _rerank_topk(cand: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, sim) -> each query's top ``k`` neighbors by
    exact cosine, ties to the lower neighbor id, with their rank."""
    return topk_per_group(
        cand,
        group_cols=["query_id"],
        order_cols=[F.col("sim").desc(), F.col("neighbor_id")],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select("query_id", "neighbor_id", "rank")


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.  Self-matches (same
    id on both sides) are always EXCLUDED — a query vector present in
    the corpus never returns itself; ties broken by neighbor id.

    Output: (query_id, neighbor_id, rank) — rank 1..k.
    """
    # norms attached per SIDE, not per pair: the |Q| x |C| scored frame
    # evaluates each cosine once per pair, and the two sqrt(dot(v,v))
    # norms are 2/3 of its lambda volume — computing them here costs
    # O(|Q| + |C|) instead of O(|Q| x |C|), bit-identically (r6).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("_qn"),
    )
    # the corpus-side scan of a small single-row-group file is 1-2
    # tasks; the cosine scoring below costs per ROW — spread it
    # (size-gated no-op at scale; operators/spread.py)
    c = spread_small(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("_cn"),
    )
    # Null-safe self-exclusion: a plain `!=` evaluates to NULL when
    # either id is NULL and would silently drop that row from every
    # top-k; NULL ids are treated as distinct entities instead.
    not_self = (
        F.col("query_id").isNull()
        | F.col("neighbor_id").isNull()
        | (F.col("query_id") != F.col("neighbor_id"))
    )
    scored = (
        c.join(F.broadcast(q), not_self)
        .withColumn(
            "sim",
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("_qn"), F.col("_cn")
            ),
        )
        .select("query_id", "neighbor_id", "sim")
    )
    return _rerank_topk(scored, k)


def _with_probe_flips(df, n_bits: int, probe_radius: int):
    """Query-side multi-probe (Lv et al. 2007, "Multi-Probe LSH"):
    besides its own sign-bucket, a query also probes every bucket at
    Hamming distance <= ``probe_radius`` of its signature — buckets a
    TRUE near neighbor most plausibly fell into when one hyperplane
    sign flipped.  Recall rises steeply for the cost of
    ``n_bits x`` more probe keys per table, with NO extra index state
    on the corpus side (the classical alternative — more tables —
    multiplies corpus index size instead).  Measured on the sandbox
    embeddings (BASELINE.md): recall@10 0.21 -> 0.82 at identical
    n_tables=16/n_bits=8.  Radius 1 only: radius 2 at n_bits=8 costs
    37 probes/table, which approaches brute-force candidate volume.
    """
    if probe_radius == 0:
        return df
    if probe_radius != 1:
        raise ValueError("probe_radius: only 0 or 1 supported")
    variants = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_bits)],
    )
    return df.withColumn("bucket", F.explode(variants))


def lsh_candidates(
    left: DataFrame,
    right: DataFrame,
    dim: int,
    n_tables: int = 16,
    n_bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    left_probe_radius: int = 0,
) -> DataFrame:
    """Distinct (id_a, vec_a, _na, id_b, vec_b, _nb) pairs colliding
    in >= 1 hyperplane table ("_na"/"_nb" are the sides' pre-computed
    L2 norms, so downstream exact-cosine verification costs one dot
    per pair instead of dot + two norms).

    ``left_probe_radius=1`` additionally probes, for each LEFT row,
    every bucket one sign-flip away (multi-probe; see
    :func:`_with_probe_flips`) — the recall knob for query/corpus
    top-k search.  Symmetric near-dup generation keeps radius 0:
    flipping both sides squares the probe volume for the same recall
    one-sided probing buys.

    The embeddings ride through the (table, bucket) equi-join and the
    pair-distinct, so the output needs no re-join onto the vectors
    (measured 2.26 s against 5.69 s for an id-only join plus two
    vector re-joins, BASELINE.md round 3).  AQE skew-split handles
    dense buckets.
    """
    planes = hyperplanes(dim, n_tables, n_bits, seed)
    udf = lsh_buckets_udf(planes, n_tables, n_bits)

    # the hyperplane-signature UDF and the band explode cost per ROW,
    # but a small parquet scan is 1-2 tasks (single row group) — the
    # r6 profile showed the whole bucketing stage of embedding_neardup
    # on 2 tasks, 0.7 s of a 1.5 s query.  Size-gated: no-op at scale.
    # Each side carries its per-row norm so the exact-cosine
    # verification/re-rank downstream is dot/(na*nb) — computed once
    # per ROW here instead of once per candidate PAIR there
    # (bit-identical; see functions.vector.cosine_with_norms).
    def bucketed(df: DataFrame) -> DataFrame:
        return spread_small(df, id_col).select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            norm(F.col(vec_col)).alias("_n"),
            F.posexplode(udf(F.col(vec_col))).alias("table", "bucket"),
        )

    def side(bk: DataFrame, s: str) -> DataFrame:
        return bk.select(
            F.col("_id").alias(f"id_{s}"),
            F.col("_vec").alias(f"vec_{s}"),
            F.col("_n").alias(f"_n{s}"),
            "table",
            "bucket",
        )

    bk_a = bucketed(left)
    if right is left:
        # symmetric near-dup generation: the bucketed corpus frame
        # feeds BOTH join sides — persist it so the signature UDF and
        # the norm run once over the corpus, not once per side
        # (measured: the whole scan+UDF pipeline was recomputed per
        # side, r6).  Session-lifetime cache, same contract as
        # minhash_near_duplicates' signature persist.
        bk_a = bk_b = bk_a.persist()
    else:
        bk_b = bucketed(right)
    a = _with_probe_flips(side(bk_a, "a"), n_bits, left_probe_radius)
    return (
        a.join(side(bk_b, "b"), ["table", "bucket"])
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "vec_a", "_na", "id_b", "vec_b", "_nb")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_tables: int = 16,
    n_bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_radius: int = 0,
) -> DataFrame:
    """Approximate top-k: LSH candidate generation + exact cosine
    re-rank.  Output (query_id, neighbor_id, rank).

    ``probe_radius=1`` turns on query-side multi-probe — the recall
    knob that needs NO extra corpus index state (recall@10 0.21 ->
    0.82 on the sandbox embeddings at default n_tables/n_bits;
    BASELINE.md records the measured recall table, and
    tests/test_training_ops.py pins regression floors)."""
    cand = lsh_candidates(
        queries, corpus, dim, n_tables, n_bits, seed, id_col, vec_col,
        left_probe_radius=probe_radius,
    ).select(
        F.col("id_a").alias("query_id"),
        F.col("id_b").alias("neighbor_id"),
        cosine_with_norms(
            F.col("vec_a"), F.col("vec_b"), F.col("_na"), F.col("_nb")
        ).alias("sim"),
    )
    return _rerank_topk(cand, k)


def _collect_centroids(corpus, n_cells, id_col, vec_col):
    """Deterministic default centroids: the ``n_cells`` lowest-id
    corpus vectors (oracle-mirrorable; :func:`kmeans_fit` learns
    better ones in the same shape)."""
    rows = corpus.orderBy(id_col).limit(n_cells).collect()
    return np.array([list(r[vec_col]) for r in rows], dtype=np.float64)


def _normalized(cents):
    return cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-30
    )


def _cell_probe_udf(bc, nprobe: int):
    """embedding -> array<int> of the ``nprobe`` nearest centroid ids
    by cosine (ties -> lower cell id).  ``bc`` must hold the
    L2-NORMALIZED centroid matrix (normalize once at broadcast time —
    not per Arrow batch per task).

    The centroid matrix arrives as a Spark BROADCAST (one copy per
    executor) and the whole Arrow batch scores against every centroid
    in a single numpy matmul — O(batch x n_cells x dim) vectorized.
    This replaces the round-2 literal-centroid expressions, which
    folded n_cells x dim doubles into codegen and were re-evaluated
    per row per centroid: fine at 16 cells, a codegen/driver blowup at
    the 10^3-10^5 cells a 100-TB corpus needs (verdict finding #2).
    """
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def _probe(vecs: pd.Series) -> pd.Series:
        cn = bc.value  # already L2-normalized at broadcast time
        d = cn.shape[1]
        zero = [0.0] * d
        # NULL / wrong-dimension embeddings must not fail the task
        # (crawl-must-survive-bad-input): they score 0 everywhere and
        # land deterministically in cell 0
        rows = [
            v if (v is not None and len(v) == d) else zero for v in vecs
        ]
        # explicit (n, d) shape: np.array([]) is 1-D, and an EMPTY Arrow
        # batch would otherwise crash the axis=1 norm (round-3 ADVICE)
        mat = np.array(rows, dtype=np.float64).reshape(len(rows), d)
        mn = mat / np.maximum(
            np.linalg.norm(mat, axis=1, keepdims=True), 1e-30
        )
        sims = mn @ cn.T
        # stable argsort of -sims == (sim DESC, cell_id ASC) on ties
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    # asNondeterministic: the function IS pure, but the marker stops
    # the optimizer from duplicating it around pushed-down filters —
    # the equi-join on the assigned cell infers isnotnull(cell) and
    # pushing that below the assignment Project re-evaluated the whole
    # matmul UDF a second time over the corpus (two ArrowEvalPython
    # nodes in the r6 before-plan; guide §4.4's exact pattern)
    return _probe.asNondeterministic()


def kmeans_fit(
    corpus: DataFrame,
    n_cells: int,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means (Lloyd's) for IVF centroids, as DataFrame
    aggregations: assignment is the broadcast-centroid argmax UDF
    (exactly what :func:`ivf_topk` uses at query time), the update is
    one ``posexplode`` hash-aggregate keyed ``(cell, idx)`` — one
    shuffle per iteration on NARROW rows (two ints + a double), with
    map-side partial aggregation, regardless of embedding
    dimensionality.  (The round-3 shape — ``F.avg(v[i])`` for every
    ``i in range(dim)`` — generated thousands of aggregate expressions
    per groupBy at real embedding dims, falling off whole-stage
    codegen and ballooning planning cost; verdict r3 finding #1.)

    Driver transfer per iteration is the (n_cells x dim) mean matrix
    itself — the algorithm's irreducible state, since the next
    iteration broadcasts exactly that matrix — moved as ONE Arrow
    batch (``toArrow``), never as per-dimension Row objects.  At the
    10^5-cell x 4096-dim extreme that is ~3 GiB: the same broadcast
    the query path already requires, and the documented ceiling for
    driver memory sizing.

    Deterministic: init = lowest-id vectors, ties in assignment break
    to the lower cell id.  Returns the centroid ndarray to pass to
    ``ivf_topk(centroids=...)``.
    """
    spark = corpus.sparkSession
    cents = _collect_centroids(corpus, n_cells, id_col, vec_col)
    if cents.size == 0:
        raise ValueError("kmeans_fit: empty corpus")
    dim = cents.shape[1]
    # every Lloyd's iteration runs the assignment UDF + posexplode over
    # the corpus — per-row cost, so spread a small scan once up front
    corpus = spread_small(corpus, id_col)
    for _ in range(n_iter):
        bc = spark.sparkContext.broadcast(_normalized(cents))
        assign = _cell_probe_udf(bc, 1)
        means = (
            corpus.select(
                assign(F.col(vec_col))[0].alias("cell"),
                F.posexplode(F.col(vec_col)).alias("idx", "val"),
            )
            .groupBy("cell", "idx")
            .agg(F.avg("val").alias("m"))
            .toArrow()
        )
        cell = means["cell"].to_numpy()
        idx = means["idx"].to_numpy()
        val = means["m"].to_numpy()
        new = cents.copy()
        if len(cell):
            m = np.zeros((n_cells, dim), dtype=np.float64)
            m[cell, idx] = val
            norms = np.linalg.norm(m, axis=1)
            nonzero = np.unique(cell[norms[cell] > 0])
            # empty cells (and all-zero means) keep their previous
            # centroid; spherical: project means back onto the sphere
            new[nonzero] = m[nonzero] / norms[nonzero, None]
        bc.unpersist()
        if np.allclose(new, cents, atol=1e-12):
            break
        cents = new
    return cents


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """IVF approximate top-k: corpus rows are assigned to their
    nearest-centroid cell (disjoint partition), queries probe their
    ``nprobe`` nearest cells, candidates re-rank by EXACT cosine.

    The 100-TB shape: assignment is a pure map over the corpus (no
    shuffle — the centroid matrix is an executor-side broadcast scored
    by one vectorized numpy matmul per Arrow batch), the only exchange
    is the (cell) equi-join whose probe volume is ``nprobe / n_cells``
    of the corpus, and cells are disjoint so no candidate dedup is
    needed.  ``centroids``: an optional learned (n_cells x dim) matrix
    from :func:`kmeans_fit`; the default is the ``n_cells`` lowest-id
    corpus vectors — deterministic and oracle-mirrorable.

    Output: (query_id, neighbor_id, rank) — rank 1..k.
    """
    if centroids is None:
        centroids = _collect_centroids(corpus, n_cells, id_col, vec_col)
    # one normalized broadcast serves both assignment and probing;
    # repeated fits should reuse it by passing centroids= explicitly
    bc = corpus.sparkSession.sparkContext.broadcast(_normalized(centroids))
    # assignment/probing matmul UDFs cost per ROW; small scans are 1-2
    # tasks (see operators/spread.py) — size-gated no-op at scale
    corpus = spread_small(corpus, id_col)
    queries = spread_small(queries, id_col)
    # norms per side (not per candidate pair): the (cell) join fans a
    # corpus row out to every probing query, so computing sqrt(dot(v,v))
    # here is O(rows) where the old per-pair cosine was O(candidates) —
    # 2/3 of the re-rank's lambda volume removed, bit-identically (r6)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("_cn"),
        _cell_probe_udf(bc, 1)(F.col(vec_col))[0].alias("cell"),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("_qn"),
        F.explode(_cell_probe_udf(bc, nprobe)(F.col(vec_col))).alias("cell"),
    )
    cand = (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("_qn"), F.col("_cn")
            ).alias("sim"),
        )
    )
    return _rerank_topk(cand, k)


def embedding_near_duplicates(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_tables: int = 16,
    n_bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs (id_a < id_b) with exact cosine >= threshold,
    generated via LSH buckets, verified exactly."""
    cand = lsh_candidates(df, df, dim, n_tables, n_bits, seed, id_col, vec_col)
    return (
        cand.filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            cosine_with_norms(
                F.col("vec_a"), F.col("vec_b"), F.col("_na"), F.col("_nb")
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b")
    )
