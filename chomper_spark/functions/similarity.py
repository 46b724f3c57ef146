"""Similarity search over the ``embeddings`` table (array<float> column).

Two paths, as a 100 TB pipeline needs:
  * brute-force cosine top-k — the exactness baseline.  The (small)
    query set is broadcast, so the scan side never shuffles; cosine is
    a codegen'd explicit double sum (no Python, no UDF).
  * banded LSH ANN — the scale path: B bands of R deterministic
    random hyperplanes each (2^R buckets per band); candidates come
    from an equi-join on (band, bucket) — small int keys, membership
    capped per bucket — and cosine is verified only on candidates.
    Hyperplanes are derived from md5 so the DuckDB oracle reproduces
    the exact same buckets, melt, cap, and candidates.

Floating-point determinism: every dot product is an EXPLICIT
left-associated sum of float→double products, generated identically
for Spark SQL and DuckDB — bit-identical results, so rank outputs are
hash-stable.  Only integer columns (ids, ranks, buckets) are exported.

Physical split (round 4): the literal-embedded projections stay ONLY
on the DuckDB-oracle side (`*_sql`).  The Spark side computes every
plane/centroid projection and candidate-pair cosine in an
Arrow-batched numpy pandas_udf that accumulates in the SAME
left-associated element order as the SQL — float32→float64 casts are
exact and IEEE-754 mult/add are deterministic, so the two engines stay
bit-identical while Spark's hot stages remain inside whole-stage
codegen (the 3072-double-literal trees previously overflowed the JVM
64KB method limit → "Failed to compile" → interpreted fallback, 3-5×
slower; see tests/test_plans.py::test_similarity_* for the guards).
"""

from __future__ import annotations

import hashlib
import operator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from chomper_spark.functions.bands import (
    band_pairs,
    batch_wins,
    bucket_stats,
    cap_per_bucket,
    incremental_candidates,
    incremental_candidates_sql,
    index_events,
)
from chomper_spark.functions.text import stable6, stable6_sql

DIM = 64
N_QUERIES = 8
TOP_K = 5
LSH_TOP_K = 3
# Banded random-hyperplane LSH (the MinHash-banding shape applied to
# cosine space): B bands × R planes each → 2^R buckets per band, a pair
# is a candidate if ANY band agrees on all R bits.  R=8 gives 256
# buckets per band — at 10^10 vectors each band-bucket holds ~n/256
# (not n/16), and the union-over-bands recovers the recall a single
# high-R signature loses: P(candidate) = 1 - (1 - p^R)^B for per-plane
# agreement p = 1 - θ/π.  For a 0.95-cosine near-dup pair: p≈0.90,
# one 8-plane band hits 43%, six bands 97%.
LSH_BANDS = 4
LSH_ROWS = 8  # planes per band → 2^8 = 256 buckets per band
NEARDUP_BANDS = 6  # near-dup wants higher recall at high cosine
# Per-(band, bucket) member cap: a degenerate bucket (mass duplicates,
# zero vectors) would otherwise go quadratic.  Members beyond the cap
# (deterministic: lowest vec_ids kept) emit no candidates from that
# band; lsh_candidate_stats() reports what was dropped.
BUCKET_CAP = 10_000
BAND_COLS = ["band_idx", "bucket"]  # band melt / index bucket key


def _dot_sql(a_elem: str, b_elem: str, dim: int = DIM) -> str:
    """Explicit left-associated sum of products (bit-exact everywhere)."""
    return " + ".join(a_elem.format(d=d) + " * " + b_elem.format(d=d) for d in range(1, dim + 1))


_SP = "CAST(element_at({col}, {{d}}) AS DOUBLE)"
_DK = "{col}[{{d}}]::DOUBLE"


def _cosine_sql(a: str, b: str, elem: str, dim: int = DIM) -> str:
    dot = _dot_sql(elem.format(col=a), elem.format(col=b), dim)
    na = _dot_sql(elem.format(col=a), elem.format(col=a), dim)
    nb = _dot_sql(elem.format(col=b), elem.format(col=b), dim)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


# ------------------------------------------------------------ brute force


def ann_bruteforce_topk(
    emb: DataFrame, n_queries: int = N_QUERIES, top_k: int = TOP_K, dim: int = DIM
) -> DataFrame:
    """Exact cosine top-k for the first ``n_queries`` vectors vs all.

    Plan shape: broadcast(queries) ⨯ scan(embeddings) → windowed
    row_number per query.  No shuffle of the big side except the final
    per-query topk (k·q rows)."""
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    n = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb"))
    sim = F.expr(_cosine_sql("q_emb", "n_emb", _SP, dim))
    scored = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "rank")
    )


def ann_bruteforce_sql(
    n_queries: int = N_QUERIES, top_k: int = TOP_K, dim: int = DIM
) -> str:
    cos = _cosine_sql("q_emb", "n_emb", _DK, dim)
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {n_queries}),
n AS (SELECT vec_id AS neighbor_id, embedding AS n_emb FROM embeddings),
s AS (
  SELECT query_id, neighbor_id, {cos} AS sim
  FROM q, n WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s)
WHERE rank <= {top_k}
"""


# ----------------------------- Arrow-vectorized projections (Spark side)
#
# Every helper below reproduces its literal-SQL twin EXACTLY: the dot
# products accumulate left-associated over the element index (acc
# starts at the d=1 product, then adds d=2..dim in order), so each
# row's double arithmetic is the same IEEE operation sequence the
# DuckDB oracle executes.  numpy only vectorizes ACROSS rows.


def _mat(s: pd.Series, dim: int) -> np.ndarray:
    """(n, dim) float64 matrix from an Arrow array<float> series —
    the float32→float64 widening is exact, mirroring the SQL CAST."""
    if len(s) == 0:
        return np.empty((0, dim), dtype=np.float64)
    return np.vstack(s.to_numpy()).astype(np.float64)


def _band_buckets_udf(bands: int, rows: int, dim: int):
    """pandas_udf: embedding → array<int> of per-band bucket ids (the
    vectorized twin of ``_band_bucket_sql`` for every band at once)."""
    planes = np.asarray(_planes(bands * rows, dim), dtype=np.float64)  # (B·R, dim)
    weights = np.tile(1 << np.arange(rows, dtype=np.int64), bands)

    @pandas_udf("array<int>")
    def buckets(emb: pd.Series) -> pd.Series:
        m = _mat(emb, dim)
        acc = m[:, 0:1] * planes[:, 0]  # (n, B·R): row i, plane p
        for d in range(1, dim):
            acc = acc + m[:, d : d + 1] * planes[:, d]
        bits = (acc >= 0.0).astype(np.int64) * weights
        out = bits.reshape(len(m), bands, rows).sum(axis=2).astype(np.int32)
        return pd.Series(out.tolist())

    return buckets


def _cosine_udf(dim: int):
    """pandas_udf: (a, b) → cosine, accumulated exactly like
    ``_cosine_sql`` (dot / (sqrt(na) * sqrt(nb)), left-associated)."""

    @pandas_udf("double")
    def cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        ma, mb = _mat(a, dim), _mat(b, dim)
        dot = ma[:, 0] * mb[:, 0]
        na = ma[:, 0] * ma[:, 0]
        nb = mb[:, 0] * mb[:, 0]
        for d in range(1, dim):
            dot = dot + ma[:, d] * mb[:, d]
            na = na + ma[:, d] * ma[:, d]
            nb = nb + mb[:, d] * mb[:, d]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    return cosine


def _cosine_pairs(cand: DataFrame, vecs: DataFrame, a: str, b: str, dim: int) -> DataFrame:
    """(a, b, sim): each candidate pair joined back by id to both
    embeddings of ``vecs`` (vec_id, embedding) and verified with the
    exact cosine — the one verify under every LSH family; the 64-float
    payload never rides the candidate shuffle."""
    a_emb = vecs.select(F.col("vec_id").alias(a), F.col("embedding").alias("a_emb"))
    b_emb = vecs.select(F.col("vec_id").alias(b), F.col("embedding").alias("n_emb"))
    return (
        cand.join(a_emb, a)
        .join(b_emb, b)
        .select(a, b, _cosine_udf(dim)("a_emb", "n_emb").alias("sim"))
    )


def _centroid_dots(m: np.ndarray, cents: np.ndarray, dim: int) -> np.ndarray:
    """(n, C) per-centroid dot matrix, left-associated over d."""
    acc = m[:, 0:1] * cents[:, 0]
    for d in range(1, dim):
        acc = acc + m[:, d : d + 1] * cents[:, d]
    return acc


def _ivf_cell_udf(cents: np.ndarray, dim: int):
    """pandas_udf: embedding → nearest-cell id.  Ties go to the lowest
    cell exactly as the SQL CASE's first-match arm does (numpy argmax
    over ``dots == max`` returns the first hit)."""

    @pandas_udf("int")
    def cell(emb: pd.Series) -> pd.Series:
        m = _mat(emb, dim)
        if len(m) == 0:
            return pd.Series([], dtype="int32")
        dots = _centroid_dots(m, cents, dim)
        mx = dots.max(axis=1)
        return pd.Series((dots == mx[:, None]).argmax(axis=1).astype(np.int32))

    return cell


def _ivf_dots_udf(cents: np.ndarray, dim: int):
    """pandas_udf: embedding → array<double> of per-centroid dots (the
    probe-side melt input; posexplode supplies the cell index)."""

    @pandas_udf("array<double>")
    def dots(emb: pd.Series) -> pd.Series:
        m = _mat(emb, dim)
        return pd.Series(_centroid_dots(m, cents, dim).tolist())

    return dots


# --------------------------------------------- banded random-hyperplane LSH


def _planes(n_planes: int, dim: int = DIM, salt: str = "") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, d) =
    hex60(md5(f"{salt}{p}_{d}")) / 2^59 - 1  ∈ [-1, 1).  Computed in
    Python (hashlib md5 == Spark/DuckDB md5) and embedded as double
    literals in both engines — shortest-roundtrip repr parses
    identically."""
    return [
        [
            int(hashlib.md5(f"{salt}{p}_{d}".encode()).hexdigest()[:15], 16) / 2**59 - 1.0
            for d in range(1, dim + 1)
        ]
        for p in range(n_planes)
    ]


def _band_bucket_sql(
    elem: str, col: str, band: int, rows: int, dim: int = DIM
) -> str:
    """Bucket id for one band: R sign bits of plane dot products.
    Planes are indexed globally (band*R + r) so bands are independent."""
    planes = _planes((band + 1) * rows, dim)
    e = elem.format(col=col)
    bits = []
    for r in range(rows):
        p = band * rows + r
        dot = " + ".join(
            f"{e.format(d=d)} * {planes[p][d - 1]!r}" for d in range(1, dim + 1)
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0.0 THEN {1 << r} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def embedding_bands(
    emb: DataFrame, bands: int = NEARDUP_BANDS, rows: int = LSH_ROWS, dim: int = DIM
) -> DataFrame:
    """One (vec_id, band_idx, bucket) row per vector per band — the
    candidate-generation key, the occupancy-stats input AND the row
    shape of the persistent vector index (see
    ``incremental_emb_neardup``); the embedding twin of
    ``docdedup.minhash_bands``.  All band signatures come from ONE
    Arrow-batched projection (``_band_buckets_udf``), bit-identical to
    the SQL oracle's ``melted`` CTE (pinned by
    ``test_embedding_melt_equals_duckdb_melted_cte``)."""
    b_udf = _band_buckets_udf(bands, rows, dim)
    return emb.select(
        "vec_id", F.posexplode(b_udf("embedding")).alias("band_idx", "bucket")
    )


def _banded(emb: DataFrame, bands: int, rows: int, dim: int, cap: int) -> DataFrame:
    """The band melt capped at ``cap`` lowest vec_ids per (band, bucket):
    only the id + two small ints ride the candidate shuffle."""
    return cap_per_bucket(embedding_bands(emb, bands, rows, dim), BAND_COLS, "vec_id", cap)


def _melt_sql(elem: str, bands: int, rows: int, dim: int) -> str:
    """DuckDB twin of ``embedding_bands``: the ``sig`` CTE (one
    literal-embedded bucket column per band) and the UNION ALL
    ``melted`` CTE."""
    band_cols = ", ".join(
        f"{_band_bucket_sql(elem, 'embedding', b, rows, dim)}::INT AS band{b}"
        for b in range(bands)
    )
    melt = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_idx, band{b} AS bucket FROM sig"
        for b in range(bands)
    )
    return f"sig AS (SELECT vec_id, {band_cols} FROM embeddings),\nmelted AS ({melt})"


def _banded_sql(elem: str, bands: int, rows: int, dim: int, cap: int) -> str:
    """The DuckDB twin of ``_banded``: the melt CTEs + the cap."""
    return f"""
{_melt_sql(elem, bands, rows, dim)},
capped AS (
  SELECT vec_id, band_idx, bucket FROM (
    SELECT vec_id, band_idx, bucket,
           row_number() OVER (PARTITION BY band_idx, bucket ORDER BY vec_id) AS _rn
    FROM melted)
  WHERE _rn <= {cap}
)"""


def lsh_candidate_stats(
    emb: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS, dim: int = DIM,
    cap: int = BUCKET_CAP,
) -> DataFrame:
    """Per-(band, bucket) occupancy + what the cap drops, over the same
    melt the candidate generation caps."""
    return bucket_stats(embedding_bands(emb, bands, rows, dim), BAND_COLS, cap)


def lsh_bucketed_ann(
    emb: DataFrame,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    top_k: int = LSH_TOP_K,
    dim: int = DIM,
    cap: int = BUCKET_CAP,
) -> DataFrame:
    """ANN via banded hyperplane LSH: candidates = pairs agreeing on
    ALL R bits of at least one band (union over bands, 2^R buckets per
    band), exact cosine verified on candidates only, top-k per vector.

    Scale shape: the self-join key is (band_idx, bucket) — 2^R ≥ 256
    buckets per band, per-bucket membership capped — so candidate
    generation is bounded and never all-pairs; the embedding payload
    joins back by vec_id only for the verify step."""
    capped = _banded(emb, bands, rows, dim, cap)
    cand = band_pairs(
        capped, capped, BAND_COLS, "vec_id", operator.ne, ("vec_id", "neighbor_id")
    ).distinct()
    scored = _cosine_pairs(cand, emb, "vec_id", "neighbor_id", dim)
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("vec_id", "neighbor_id", "rank")
    )


def lsh_bucketed_ann_sql(
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    top_k: int = LSH_TOP_K,
    dim: int = DIM,
    cap: int = BUCKET_CAP,
) -> str:
    cos = _cosine_sql("ea.embedding", "eb.embedding", _DK, dim)
    return f"""
WITH {_banded_sql(_DK, bands, rows, dim, cap)},
cand AS (
  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id
  FROM capped a JOIN capped b
    ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
s AS (
  SELECT c.vec_id, c.neighbor_id, {cos} AS sim
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_id
  JOIN embeddings eb ON eb.vec_id = c.neighbor_id
)
SELECT vec_id, neighbor_id, rank FROM (
  SELECT vec_id, neighbor_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s)
WHERE rank <= {top_k}
"""


# --------------------------------------------------------------- IVF top-k


IVF_CENTROIDS = 16
IVF_PROBES = 2


def _centroids(n: int, dim: int = DIM) -> list[list[float]]:
    """Deterministic pseudo-random coarse-quantizer centroids (same
    md5-derived construction as the LSH hyperplanes, different salt) —
    the default that keeps the DuckDB oracle reproducible.  A production
    deployment trains centroids with k-means over a corpus sample and
    passes them via ``ivf_topk(centroids=...)``; sizing rule: C ≈ √n
    cells keeps both the probe fan-out (n_probes/C of the corpus) and
    the per-cell list length (n/C) at ~√n — the standard IVF balance
    point.  The assignment/probe/verify plumbing is identical either
    way: centroids are inlined into the projection (broadcast-by-
    literal), never shuffled."""
    return _planes(n, dim, salt="ivf_")


def _cell_dots_sql(elem: str, col: str, n_centroids: int, dim: int) -> list[str]:
    cents = _centroids(n_centroids, dim)
    e = elem.format(col=col)
    return [
        " + ".join(f"{e.format(d=d)} * {cents[c][d - 1]!r}" for d in range(1, dim + 1))
        for c in range(n_centroids)
    ]


def _cell_case_sql(dots: list[str]) -> str:
    """argmin-distance (= argmax-dot for our synthetic centroids) as a
    first-match CASE over the per-centroid dots — ties go to the lowest
    cell, identically in both engines (bit-identical double sums)."""
    mx = "greatest(" + ", ".join(f"({d})" for d in dots) + ")"
    arms = " ".join(
        f"WHEN ({d}) = _mx THEN {c}" for c, d in enumerate(dots[:-1])
    )
    return f"(CASE {arms} ELSE {len(dots) - 1} END)", mx


def ivf_topk(
    emb: DataFrame,
    n_centroids: int = IVF_CENTROIDS,
    n_probes: int = IVF_PROBES,
    n_queries: int = N_QUERIES,
    top_k: int = TOP_K,
    dim: int = DIM,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: every vector is assigned to its nearest
    coarse-quantizer centroid with ONE argmax projection (C·dim mults
    per row — no explode, no shuffle, the 64-float payload is never
    replicated); each query probes its ``n_probes`` nearest cells and
    brute-forces only those inverted lists.

    Scale shape: the corpus side carries just (id, embedding, cell) and
    joins the broadcast-sized probe side on the small int cell id —
    expected candidate volume per query is n_probes/C of the corpus,
    the standard recall/cost dial (FAISS IVF-Flat's layout, rebuilt
    relationally).

    ``centroids`` — caller-trained coarse quantizer (k-means over a
    corpus sample); defaults to the deterministic md5 construction the
    DuckDB oracle mirrors.  Size C ≈ √n in production (see
    ``_centroids``); pass L2-normalized centroids (spherical k-means)
    so the argmax-dot assignment is the argmin-angle cell.  Centroids
    ride to executors inside the Arrow-projection closure (a C×dim
    float64 array — broadcast-by-closure, never shuffled), so C can
    grow into the thousands with no plan-size blowup."""
    cents = np.asarray(
        centroids if centroids is not None else _centroids(n_centroids, dim),
        dtype=np.float64,
    )
    if cents.shape != (n_centroids, dim):
        raise ValueError(f"centroids must be {n_centroids} rows of dim {dim}")
    cell_udf = _ivf_cell_udf(cents, dim)
    data = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        cell_udf("embedding").alias("cell"),
    )
    # probe side: melt ONLY the n_queries query vectors (tiny)
    dots_udf = _ivf_dots_udf(cents, dim)
    q_melted = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding", dots_udf("embedding").alias("_dots"))
        .select(
            "vec_id", "embedding", F.posexplode(F.col("_dots")).alias("cell", "cdot")
        )
    )
    wp = Window.partitionBy("vec_id").orderBy(F.col("cdot").desc(), F.col("cell"))
    probes = (
        q_melted.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= n_probes)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), "cell")
    )
    cos = _cosine_udf(dim)
    scored = (
        data.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos("q_emb", "n_emb").alias("sim"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_topk_sql(
    n_centroids: int = IVF_CENTROIDS,
    n_probes: int = IVF_PROBES,
    n_queries: int = N_QUERIES,
    top_k: int = TOP_K,
    dim: int = DIM,
) -> str:
    dots = _cell_dots_sql(_DK, "embedding", n_centroids, dim)
    case, mx = _cell_case_sql(dots)
    melt = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {c} AS cell, ({d})::DOUBLE AS cdot "
        f"FROM embeddings WHERE vec_id < {n_queries}"
        for c, d in enumerate(dots)
    )
    cos = _cosine_sql("p.embedding", "dt.embedding", _DK, dim)
    return f"""
WITH wm AS (SELECT vec_id, embedding, {mx} AS _mx FROM embeddings),
dt AS (SELECT vec_id AS neighbor_id, embedding, {case}::INT AS cell FROM wm),
qm AS ({melt}),
p AS (SELECT vec_id AS query_id, embedding, cell FROM (
  SELECT vec_id, embedding, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, cell) AS _rn
  FROM qm) WHERE _rn <= {n_probes}),
s AS (
  SELECT p.query_id, dt.neighbor_id, {cos} AS sim
  FROM dt JOIN p ON dt.cell = p.cell AND p.query_id <> dt.neighbor_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM s)
WHERE rank <= {top_k}
"""


# ------------------------------------------------- embedding near-dup pairs


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    bands: int = NEARDUP_BANDS,
    rows: int = LSH_ROWS,
    dim: int = DIM,
    cap: int = BUCKET_CAP,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded-LSH candidates →
    exact cosine ≥ threshold.  Six 8-plane bands: a 0.95-cosine pair is
    recalled with P ≈ 0.97 (see module constants), while candidate
    volume stays O(n · B / 2^R) per bucket — never all-pairs."""
    capped = _banded(emb, bands, rows, dim, cap)
    cand = band_pairs(
        capped, capped, BAND_COLS, "vec_id", operator.lt, ("vec_a", "vec_b")
    ).distinct()
    return (
        _cosine_pairs(cand, emb, "vec_a", "vec_b", dim)
        .select("vec_a", "vec_b", stable6(F.col("sim")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_sql(
    threshold: float = 0.4,
    bands: int = NEARDUP_BANDS,
    rows: int = LSH_ROWS,
    dim: int = DIM,
    cap: int = BUCKET_CAP,
) -> str:
    cos = _cosine_sql("ea.embedding", "eb.embedding", _DK, dim)
    return f"""
WITH {_banded_sql(_DK, bands, rows, dim, cap)},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM capped a JOIN capped b
    ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, {stable6_sql(cos)} AS cosine
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.vec_a
JOIN embeddings eb ON eb.vec_id = c.vec_b
WHERE {stable6_sql(cos)} >= {threshold}
"""


# ---------------------------------- incremental embedding near-dup (X42)

EMB_INDEX_BUCKET_CAP = 256  # lowest vec_ids considered per band bucket


def emb_band_index_events(
    new_emb: DataFrame,
    batch_seq: int,
    bands: int = NEARDUP_BANDS,
    rows: int = LSH_ROWS,
    dim: int = DIM,
) -> DataFrame:
    """Insert events for the persistent vector-LSH index, keyed
    (band_idx, bucket, vec_id) — the embedding twin of
    ``docdedup.band_index_events``."""
    return index_events(embedding_bands(new_emb, bands, rows, dim), batch_seq, BAND_COLS, "vec_id")


def incremental_emb_neardup(
    index: DataFrame,
    new_emb: DataFrame,
    corpus_emb: DataFrame,
    threshold: float = 0.4,
    bands: int = NEARDUP_BANDS,
    rows: int = LSH_ROWS,
    dim: int = DIM,
    batch_bands: DataFrame | None = None,
    index_bucket_cap: int = EMB_INDEX_BUCKET_CAP,
    cache_registry: list | None = None,
) -> DataFrame:
    """Classify a NEW batch of embeddings for near-duplicates against a
    persistent vector-LSH bucket index — O(batch) signatures + a
    capped band-join against the pruned index
    (``bands.incremental_candidates``) + exact cosine on candidate ids
    only.  The embedding twin of ``docdedup.incremental_neardup``.

    Returns (vec_id, dup_of, cosine): ``vec_id`` is a batch vector,
    ``dup_of`` a corpus vector or an earlier (lower-id) batch vector;
    a re-ingested vec_id never matches itself, and its just-arrived
    embedding wins the verify."""
    if batch_bands is None:
        batch_bands = embedding_bands(new_emb, bands, rows, dim)
    cand = incremental_candidates(
        index, batch_bands, BAND_COLS, "vec_id", index_bucket_cap,
        ("vec_a", "vec_b"), cache_registry,
    )
    vecs = batch_wins(new_emb, corpus_emb, "vec_id", "embedding")
    return (
        _cosine_pairs(cand, vecs, "vec_a", "vec_b", dim)
        .select(
            F.col("vec_a").alias("vec_id"),
            F.col("vec_b").alias("dup_of"),
            stable6(F.col("sim")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def incremental_emb_neardup_sql(
    threshold: float = 0.4,
    bands: int = NEARDUP_BANDS,
    rows: int = LSH_ROWS,
    dim: int = DIM,
    index_bucket_cap: int = EMB_INDEX_BUCKET_CAP,
) -> str:
    """DuckDB twin: index = band rows of even vec_ids (the ingested
    corpus, capped per bucket), new batch = odd vec_ids — the same
    split convention as ``docdedup.incremental_neardup_sql``."""
    cand = incremental_candidates_sql(
        "melted", BAND_COLS, "vec_id", index_bucket_cap, ("vec_a", "vec_b")
    )
    cos = _cosine_sql("ea.embedding", "eb.embedding", _DK, dim)
    return f"""
WITH {_melt_sql(_DK, bands, rows, dim)},
{cand}
SELECT c.vec_a AS vec_id, c.vec_b AS dup_of, {stable6_sql(cos)} AS cosine
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.vec_a
JOIN embeddings eb ON eb.vec_id = c.vec_b
WHERE {stable6_sql(cos)} >= {threshold}
"""
