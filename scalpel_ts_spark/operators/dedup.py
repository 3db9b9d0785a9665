"""Document deduplication operators for the training-data pipeline.

Four families, all shuffle-conscious:

* **exact** — groupBy on a content fingerprint (md5 of normalized
  text).  One hash-aggregate shuffle; partial aggregation map-side.
* **n-gram Jaccard** — exact pairwise similarity on word-shingle sets.
  O(n²) pairs, so only ever run on a *candidate* pair set (below) or a
  bounded scope; kept as the verification authority.
* **MinHash + LSH** — signature per doc (vectorized pandas UDF, one
  numpy pass per Arrow batch), banded into bucket keys, self-join on
  bucket → candidate pairs → exact-Jaccard verification.  This is the
  scale path: the only all-to-all operation is the bucket self-join,
  whose fan-out is controlled by band width, and verification touches
  candidate pairs only (LSH is a prefilter exactly like the bloom in
  operators/seen.py — never the authority).
* **SimHash** — 64-bit signature; near-dup pairs share one of four
  16-bit bands (pigeonhole: hamming <= 3 guarantees a shared band), so
  candidate generation is again an equi-join, verified by exact
  hamming distance.

Base hashes use pandas' SipHash with its fixed default key (stable
across processes/machines — never Python's seeded ``hash``) and
universal hashing ``(a*h + b) mod p`` for the permutations.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from scalpel_ts_spark.functions.text import (
    fingerprint,
    winnow_fingerprints,
    word_shingles,
)
from scalpel_ts_spark.operators.spread import spread_small


def _hash_strings(flat: np.ndarray) -> np.ndarray:
    """Vectorized stable 64-bit hash of a string array.

    pandas' SipHash with its fixed default key — deterministic across
    processes/machines (never Python's seeded ``hash``), and ~50x the
    throughput of a per-string hashlib loop.
    """
    return pd.util.hash_array(flat, categorize=False)


def _flatten_batch(series: pd.Series):
    """Flatten a Series of string-arrays into (flat, starts, row_len).

    starts are reduceat boundaries for rows with len > 0.
    """
    arrs, lens = [], np.zeros(len(series), dtype=np.int64)
    for i, s in enumerate(series):
        if s is None or len(s) == 0:
            continue
        a = np.asarray(s, dtype=object)
        lens[i] = len(a)
        arrs.append(a)
    if not arrs:
        return None, None, lens
    flat = np.concatenate(arrs)
    starts = np.concatenate(([0], np.cumsum(lens[lens > 0])[:-1]))
    return flat, starts, lens


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: (fingerprint, canonical_id, n_dupes).

    canonical = min id per group; map-side partial agg keeps the
    shuffle proportional to distinct fingerprints, not rows.  NULL
    text is excluded: its fingerprint is NULL and grouping would
    collapse every unknown-content row into one bogus dup group.
    """
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_dupes"),
        )
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per distinct normalized content.

    NULL-text rows have UNKNOWN content, not equal content — every
    one of them is kept (they are no-ops for content dedup)."""
    w = exact_duplicates(df, text_col, id_col)
    kept = df.join(
        w.select(F.col("canonical_id").alias(id_col)), id_col, "left_semi"
    )
    return kept.unionByName(df.filter(F.col(text_col).isNull()))


def jaccard_pairs(
    shingled: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
) -> DataFrame:
    """Exact Jaccard >= threshold over ALL pairs (verification scope
    only — the LSH path below feeds this a candidate set instead).

    Output: (id_a, id_b, inter, uni) with id_a < id_b; similarity is
    exposed as exact integer set sizes so oracles never compare
    floats.
    """
    a = shingled.select(
        F.col(id_col).alias("id_a"), F.col(shingle_col).alias("sh_a")
    )
    b = shingled.select(
        F.col(id_col).alias("id_b"), F.col(shingle_col).alias("sh_b")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return _verify_jaccard(pairs, threshold)


def _verify_jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    uni = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    num, den = _ratio_as_ints(threshold)
    return (
        pairs.select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            uni.alias("uni"),
        )
        # integer cross-multiplication: inter/uni >= num/den, float-free.
        # The long cast matters at scale: set sizes are int32, and a
        # multi-million-element set times den=10_000 overflows int32 —
        # ANSI mode (Spark 4 default) turns that into a job-killing
        # ARITHMETIC_OVERFLOW instead of a wrong answer
        .filter(
            F.col("inter").cast("long") * den
            >= F.col("uni").cast("long") * num
        )
    )


def _ratio_as_ints(threshold: float, den: int = 10_000) -> tuple[int, int]:
    return int(round(threshold * den)), den


_MERSENNE31 = (1 << 31) - 1


def minhash_signature_udf(n_perm: int = 128, seed: int = 42):
    """shingles(array<string>) -> minhash signature (array<long>).

    Universal hashing (a*h + b) mod 2^31-1 over 31-bit folds of
    blake2b base hashes — a, b, h < 2^31 so a*h + b fits uint64 and
    the whole (n_perm x n_shingles) reduction stays vectorized.
    """
    rng = np.random.default_rng(seed)
    A = rng.integers(1, _MERSENNE31, size=n_perm, dtype=np.uint64)[:, None]
    B = rng.integers(0, _MERSENNE31, size=n_perm, dtype=np.uint64)[:, None]

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(shingles: pd.Series) -> pd.Series:
        m31 = np.uint64(_MERSENNE31)
        flat, starts, lens = _flatten_batch(shingles)
        if flat is None:
            return pd.Series([None] * len(shingles))
        h64 = _hash_strings(flat)
        h = ((h64 ^ (h64 >> np.uint64(32))) & m31)[None, :]
        # one (n_perm x total_shingles) pass per batch, min-reduced at
        # document boundaries — no per-document Python loop
        H = (A * h + B) % m31
        sigs = np.minimum.reduceat(H, starts, axis=1).astype(np.int64)
        out, col = [], 0
        for n in lens:
            if n == 0:
                out.append(None)
            else:
                out.append(sigs[:, col])
                col += 1
        return pd.Series(out)

    return _udf


def band_keys(sig_col: str, n_bands: int, rows_per_band: int) -> Column:
    """Fold each band of the signature column ``sig_col`` into one
    64-bit bucket key.

    key = xxhash64(band_idx, band values...) via a rolling polynomial
    inside higher-order functions — JVM-side, no Python.

    Built as ONE ``F.expr`` string: composing the 32 per-band
    ``F.aggregate`` lambdas through the Python API cost ~0.4 s of
    py4j round-trips per query CONSTRUCTION (~13 ms per higher-order
    function, measured r6) — a single SQL parse builds the identical
    expression tree in one hop.  The column name is backtick-quoted,
    so any name (keywords, dashes, backticks) is a plain reference.
    """
    sig_sql = "`" + sig_col.replace("`", "``") + "`"

    def one_band(b: int) -> str:
        # acc stays < 2^31 so acc*1000003 + v fits a long (ANSI-safe);
        # 31-bit keys are only a prefilter — verification is exact
        band = f"slice({sig_sql}, {b * rows_per_band + 1}, {rows_per_band})"
        return (
            f"aggregate({band}, CAST({b + 1} AS BIGINT), "
            f"(acc, v) -> pmod(acc * 1000003 + pmod(v, {1 << 31}), "
            f"{(1 << 31) - 1}))"
        )

    return F.expr(
        "array(" + ", ".join(one_band(b) for b in range(n_bands)) + ")"
    )


def lsh_candidate_pairs(
    with_sig: DataFrame,
    n_bands: int = 32,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
) -> DataFrame:
    """Distinct candidate pairs sharing >= 1 LSH band bucket.

    posexplode keeps the band index in the key so different bands
    never collide; the self-equi-join on (band, key) is the single
    shuffle, and AQE's skew-join splitting handles megabuckets.

    The signature must hold ``n_bands * rows_per_band`` values: a
    band sliced past the end would fold an EMPTY array to its
    constant init value, giving every document the same key — LSH
    silently degrading to an all-pairs cross join.  Enforced in-plan
    (a NULL signature fails the assert too: NULL is not true).
    """
    required = n_bands * rows_per_band
    sig_ok = F.assert_true(
        F.size(F.col(sig_col)) >= F.lit(required),
        F.lit(
            f"lsh_candidate_pairs: signature shorter than n_bands*"
            f"rows_per_band={required}; lower n_bands/rows_per_band or "
            "raise n_perm"
        ),
    ).isNull()
    with_sig = with_sig.filter(sig_ok)
    bands = with_sig.select(
        F.col(id_col),
        F.posexplode(band_keys(sig_col, n_bands, rows_per_band)).alias(
            "band", "key"
        ),
    )
    left = bands.select("band", "key", F.col(id_col).alias("id_a"))
    right = bands.select("band", "key", F.col(id_col).alias("id_b"))
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_near_duplicates(
    df: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    n_perm: int = 128,
    n_bands: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """Near-dup pairs: shingle -> minhash -> LSH bands -> candidate
    self-join -> exact-Jaccard verification (the authority).

    Output (id_a, id_b, inter, uni), id_a < id_b.

    The signature frame (shingles + minhash) is persisted: it feeds
    both sides of the band self-join AND both verification joins, so
    without the cache the shingle stage would run three times and the
    signature UDF up to four (each join side re-evaluated it, plus the
    optimizer duplicated it around the pushed-down band-key null
    filter — two ArrowEvalPython nodes per side in the r6 before-plan).
    Caching *with_sig* instead of the bare shingles (r6) makes every
    consumer read one materialization: one shingle pass, ONE signature
    UDF pass.  The cache lives as long as the session.
    """
    if n_bands * rows_per_band > n_perm:
        raise ValueError(
            f"n_bands({n_bands}) * rows_per_band({rows_per_band}) exceeds "
            f"n_perm({n_perm}): bands past the signature end would give "
            "every document an identical key (all-pairs blowup)"
        )
    # row-count spread first: the shingle/minhash stages cost per ROW,
    # but an upstream parquet scan partitions by bytes (one small file
    # => one task) — size-gated no-op at scale (operators/spread.py)
    shingled = (
        spread_small(df, id_col)
        .select(
            F.col(id_col),
            word_shingles(F.col(text_col), shingle_n).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
    )
    with_sig = shingled.withColumn(
        "minhash", minhash_signature_udf(n_perm)(F.col("shingles"))
    ).persist()
    cand = lsh_candidate_pairs(
        with_sig, n_bands, rows_per_band, id_col=id_col, sig_col="minhash"
    )
    sh = with_sig.select(F.col(id_col), F.col("shingles"))
    pairs = (
        cand.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        ).join(
            sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
    )
    return _verify_jaccard(pairs, threshold)


def _star_components(sym: DataFrame, max_iter: int = 50) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.
    2014, "Connected Components in MapReduce and Beyond").

    Alternates two edge rewrites until fixpoint — large-star hangs
    every bigger-id neighbor of a node onto the node's minimum
    neighbor; small-star does the same for the smaller-id side — which
    provably converges to one star per component, centered at the
    component's minimum id, in O(log^2 n) rounds (O(log n) observed)
    REGARDLESS of graph diameter.  This is the 10^10-vertex path for
    adversarial chain-shaped dup graphs (template-induced near-dup
    chains), where plain min-label propagation needs O(diameter)
    shuffles.  Every step is a JVM-side join + hash aggregate on
    (src, dst) pairs; nothing is collected.

    Input: the symmetric (src, dst) edge frame, already checkpointed
    by :func:`connected_components`; both the vertex set (which must
    keep vertices whose only edge is a self-loop) and the
    canonically-oriented working edges derive from it.  Output:
    (v, component).

    Each alternation references the previous edge set several times
    (both orientations, the min-aggregate, the join-back, the fixpoint
    subtract), so the logical plan would grow geometrically across
    iterations — caching alone does not truncate plans, only data.
    Every round therefore ends in ``localCheckpoint`` (lineage cut,
    blocks on executors); a production run on a real cluster would use
    a reliable checkpoint dir / the Iceberg scratch table instead, same
    shape.
    """
    # canonical orientation big -> small (drops self-loops); every
    # rewrite below preserves src > dst, so 'distinct' is a true
    # edge-set dedup
    e = (
        sym.filter(F.col("src") > F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        s = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # large-star: m(u) = min(N(u) ∪ {u}); emit (v, m) for v > u
        mins = (
            s.groupBy("src")
            .agg(F.min("dst").alias("mnd"))
            .select("src", F.least(F.col("mnd"), F.col("src")).alias("m"))
        )
        lg = (
            s.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") > F.col("dst"))
            .distinct()
        )
        # small-star on the big->small edges: m(u) = min of u's smaller
        # neighbors; emit (u, m) and (w, m) for every smaller neighbor w
        mins2 = lg.groupBy("src").agg(F.min("dst").alias("m"))
        sm = (
            lg.join(mins2, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") > F.col("dst"))
            .unionByName(mins2.select("src", F.col("m").alias("dst")))
            .distinct()
            .localCheckpoint()
        )
        # fixpoint check as ONE symmetric-difference job (two subtract
        # jobs halved, round-3 verdict finding #4): both sides are
        # distinct edge sets, so any row missing a marker after the
        # full-outer join proves inequality — and limit(1) lets the
        # scan stop at the first difference
        changed = (
            e.withColumn("_l", F.lit(1))
            .join(
                sm.withColumn("_r", F.lit(1)),
                ["src", "dst"],
                "full_outer",
            )
            .filter(F.col("_l").isNull() | F.col("_r").isNull())
            .limit(1)
            .count()
        )
        e = sm
        if changed == 0:
            converged = True
            break
    if not converged:  # pragma: no cover - O(log^2 n) bound
        raise RuntimeError(
            f"star connected components did not reach fixpoint in "
            f"{max_iter} alternations"
        )
    verts = sym.select(F.col("src").alias("v")).distinct()
    return (
        verts.join(
            e.select(F.col("src").alias("v"), F.col("dst").alias("c")),
            "v",
            "left",
        )
        .groupBy("v")
        .agg(F.min(F.coalesce(F.col("c"), F.col("v"))).alias("component"))
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster duplicate pairs into components: (vertex, component)
    where component = the smallest vertex id reachable — the standard
    keep-one-representative primitive after near-dup pair generation.

    Min-label propagation: every vertex repeatedly takes the minimum of
    its own and its neighbors' labels; converges in graph-diameter
    iterations (each is one shuffle-join + one hash aggregate, all
    JVM-side).  Dup clusters are near-cliques, so the diameter — and
    the iteration count — is tiny in practice.  If the labels have not
    converged after ``max_iter`` rounds, the graph's diameter exceeds
    the budget and the same checkpointed edges go to the O(log^2 n)
    large-star/small-star algorithm (:func:`_star_components`), which
    is correct on any graph, just costlier per round;
    ``max_iter=0`` goes straight to it.  Both are deterministic (labels
    are data — min ids — never scheduling order) and give identical
    output.

    The symmetric edges are checkpointed once, and every propagation
    round ends in an eager ``localCheckpoint`` — exactly like the star
    path — because a lazily-``persist``-ed label frame is a trap: the
    convergence probe's ``limit(1).count()`` may materialize only a
    slice of the cache, so unpersisting the predecessor re-opens the
    whole join chain for recompute, and the un-truncated logical plan
    grows by one join per iteration until Catalyst analysis dominates
    wall time (measured: 60-vertex graph, 194 s and a driver OOM under
    heap pressure; checkpointed, ~10 s).  The checkpoint is one
    bounded job per iteration over (v, c) pairs — the iteration's
    required materialization, not an extra one.  Checkpoint blocks
    are freed by the ContextCleaner once their frames are unreferenced.
    """
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .localCheckpoint()
    )
    labels = sym.select(F.col("src").alias("v")).distinct().withColumn(
        "c", F.col("v")
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("v").alias("dst"), F.col("c").alias("dst_c")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_c").alias("nbr_c"))
        )
        # one eager checkpoint carries BOTH the new labels and the
        # per-vertex moved flag, so the convergence probe below is a
        # bounded scan of checkpointed blocks — no second evaluation
        # of the join, no lineage growth
        stepped = (
            labels.join(nbr_min.withColumnRenamed("src", "v"), "v", "left")
            .select(
                "v",
                F.least(
                    F.col("c"), F.coalesce(F.col("nbr_c"), F.col("c"))
                ).alias("c"),
                (
                    F.col("nbr_c").isNotNull()
                    & (F.col("nbr_c") < F.col("c"))
                ).alias("moved"),
            )
            .localCheckpoint()
        )
        labels = stepped.select("v", "c")
        if stepped.filter("moved").limit(1).count() == 0:
            return labels.select(F.col("v"), F.col("c").alias("component"))
    return _star_components(sym)


def winnow_duplicates(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 8,
    w: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by winnowing-fingerprint overlap (the MOSS
    pipeline: Schleimer/Wilkerson/Aiken, SIGMOD 2003 §5).

    Candidate generation is an equi-join on exploded selected
    fingerprints — winnowing guarantees any shared substring of
    length >= ``w + k - 1`` shares a fingerprint, so for overlap
    thresholds > 0 the equi-join is a LOSSLESS prefilter of the
    all-pairs scope (same role the LSH band join plays for minhash,
    but with a hard guarantee instead of a probabilistic one).
    Verification recomputes exact fingerprint-set Jaccard on the
    candidate pairs only, by COUNTING joined rows per pair (distinct
    per-doc sets make count == intersection; union follows from
    per-doc sizes), which needs no array set-ops (measured 11x at
    sf0.1 vs re-joining the arrays).

    Scale shape: per-doc fingerprinting is a pure JVM map stage; the
    only shuffles are the fingerprint equi-join (fan-out bounded by
    winnowing's ~2/(w+1) selection density) and the per-pair
    partial-aggregated count.  No all-pairs anywhere.

    Output: (id_a, id_b, inter, uni) with id_a < id_b — integer set
    sizes, float-free like :func:`jaccard_pairs`.

    The fingerprint frame is persisted (it feeds the explode and both
    verification joins); the cache lives as long as the session.
    """
    fps = (
        spread_small(df, id_col)
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            winnow_fingerprints(F.col(text_col), k, w).alias("fps"),
        )
        # a doc with no grams (shorter than k) has no fingerprints and
        # can never share one; drop it before the explode
        .filter(F.size("fps") > 0)
    )
    fps.persist()
    exploded = fps.select(F.col(id_col), F.explode("fps").alias("fp"))
    # per-doc fingerprint sets are DISTINCT, so each shared
    # fingerprint contributes exactly one joined row per pair —
    # count(*) per (id_a, id_b) IS |intersection|, and |union| =
    # n_a + n_b - inter from a per-doc size table small enough to
    # broadcast.  This replaces the wide array re-joins
    # + array_intersect/array_union verification with one
    # partial-aggregated count shuffle: measured 7.9s -> ~1s on
    # the verification stage at sf0.1 (8.2M candidate pairs).
    sizes = fps.select(F.col(id_col), F.size("fps").alias("_n"))
    pair_inter = (
        exploded.select("fp", F.col(id_col).alias("id_a"))
        .join(exploded.select("fp", F.col(id_col).alias("id_b")), "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("int").alias("inter"))
    )
    num, den = _ratio_as_ints(threshold)
    return (
        pair_inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("_na") + F.col("_nb") - F.col("inter")).alias("uni"),
        )
        # long cast: see _verify_jaccard (int32 * den overflows on
        # multi-million-fingerprint documents; ANSI mode throws)
        .filter(
            F.col("inter").cast("long") * den
            >= F.col("uni").cast("long") * num
        )
    )


# --- SimHash ---------------------------------------------------------------

SIMHASH_BANDS = 4  # equal bit-bands of the 64-bit simhash


def simhash_udf():
    """tokens(array<string>) -> 64-bit simhash (long).

    Majority vote per bit over stable token hashes, token multiplicity
    counted (classic Charikar simhash).
    """

    @F.pandas_udf(LongType())
    def _udf(tokens: pd.Series) -> pd.Series:
        bitw = 1 << np.arange(64, dtype=np.uint64)
        out = np.zeros(len(tokens), dtype=np.int64)
        flat, starts, lens = _flatten_batch(tokens)
        if flat is None:
            return pd.Series(out)
        h = _hash_strings(flat)
        signs = np.where(
            (h[:, None] & bitw[None, :]) != 0, np.int32(1), np.int32(-1)
        )
        votes = np.add.reduceat(signs, starts, axis=0)  # (n_nonempty, 64)
        words = ((votes > 0).astype(np.uint64) * bitw).sum(axis=1)
        out[lens > 0] = words.astype(np.int64)  # two's-complement view
        return pd.Series(out)

    return _udf


def simhash_bands(sim: Column) -> Column:
    """Split the 64-bit simhash into ``SIMHASH_BANDS`` equal bit-bands.

    Pigeonhole: two hashes within hamming distance ``SIMHASH_BANDS - 1``
    share at least one identical band, so banding is a lossless
    candidate filter for that radius.
    """
    width = 64 // SIMHASH_BANDS
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftrightunsigned(sim, b * width).bitwiseAND(F.lit(mask))
            for b in range(SIMHASH_BANDS)
        ]
    )


def simhash_near_duplicates(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs with simhash hamming distance <= max_hamming (exact,
    verified after banded candidate generation).  Requires
    ``max_hamming < SIMHASH_BANDS`` for losslessness.

    The (id, simhash) frame is persisted — it feeds BOTH sides of the
    band self-join, and without the cache each side re-ran the
    tokenize + signature pipeline, with the optimizer additionally
    duplicating the UDF around pushed-down isnotnull filters: the r6
    before-plan evaluated the simhash UDF SIX times per query where
    one pass suffices.  The cached frame is two longs per document —
    negligible at any scale next to the corpus it indexes.  The cache
    lives as long as the session.
    """
    assert max_hamming < SIMHASH_BANDS, "banding is lossless only below SIMHASH_BANDS"
    from scalpel_ts_spark.functions.text import tokens as tokens_col

    with_sim = (
        spread_small(df, id_col)
        .select(F.col(id_col), tokens_col(F.col(text_col)).alias("_toks"))
        # NULL-token docs all hash to simhash 0 and would pair with
        # EACH OTHER at hamming 0 (one megabucket of contentless
        # "near-dups") — exclude them, like the minhash path's
        # size(shingles) > 0 guard (NULL tokens fail the predicate)
        .filter(F.size("_toks") > 0)
        .select(F.col(id_col), simhash_udf()(F.col("_toks")).alias("simhash"))
        .persist()
    )
    bands = with_sim.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(simhash_bands(F.col("simhash"))).alias("band", "key"),
    )
    left = bands.select("band", "key", F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"))
    right = bands.select("band", "key", F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"))
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
