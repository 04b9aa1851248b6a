"""Embedding similarity search, as Catalyst expressions only.

- cosine_topk: exact brute-force top-k for a broadcast query set —
  the correctness baseline.  Every (vector, query) pair of a
  broadcast nested-loop join takes `cosine_expr`, dot products summed
  in element order (the DuckDB oracle's `list_sum` order).
- hyperplane_bucket: SimHash-for-vectors LSH — sign bits against B
  fixed random hyperplanes (deterministic seed), as a pure Catalyst
  expression; near-dup pairs are found within equal buckets only
  (candidate generation), then exact-cosine-verified.
- ivf_topk: nearest-centroid inverted lists (a Catalyst argmin over
  the squared distances) probed per query.  Only the k-means codebook
  and the probe choice run on the driver, over collected rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BANDS, ROWS = 2, 8  # neardup_pairs' LSH: 2 bands of 8 sign bits
NPROBE = 4  # inverted lists ivf_topk searches per query


def hyperplanes(n: int, seed: int = 42) -> np.ndarray:
    """``n`` deterministic pseudo-random hyperplanes in 64 dimensions
    (fixed literal values — shared verbatim by engine and oracle)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n, 64)).round(6)


def dot_expr(a: Column, b: Column) -> Column:
    """<a, b> of two array columns, summed in element order.  A constant
    vector is ``F.array(*[F.lit(float(x)) for x in w])``."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine_expr(a: Column, b: Column, norm_a: Column,
                norm_b: Column) -> Column:
    """cos(a, b) = <a, b> / (|a| |b|) given both norms (computed once
    per vector, not once per pair); null when a norm is 0."""
    return F.try_divide(dot_expr(a, b), norm_a * norm_b)


def _normed(vectors: DataFrame, *keep: Column) -> DataFrame:
    """(vec_id, _v, _n, *keep): the embedding as array<double> (a float
    element would otherwise multiply in single precision) and its norm
    sqrt(<v, v>)."""
    v = F.col("embedding").cast("array<double>")
    return vectors.select("vec_id", v.alias("_v"),
                          F.sqrt(dot_expr(v, v)).alias("_n"), *keep)


def _const_matrix(mat: np.ndarray) -> Column:
    """A constant array<array<double>> parsed from one SQL string: one
    JVM call, not one per element (1,024 elements took ~0.5 s to
    build).  `repr` + `D` reads back as the same double."""
    rows = (", ".join(f"{x!r}D" for x in row) for row in mat.tolist())
    return F.expr("array(" + ", ".join(f"array({r})" for r in rows) + ")")


def _rows_expr(vec: Column, mat: np.ndarray, term) -> Column:
    """[sum_j term(vec[j], mat[k][j]) for each row k] in ONE traversal
    of the array: the constant matrix is embedded TRANSPOSED, so each
    vector element folds into every row's partial sum as it streams by
    (vs one aggregate pass per row).  Per-row summation order is
    element order, as in dot_expr."""
    mat = np.asarray(mat, dtype=np.float64)
    terms = F.zip_with(vec, _const_matrix(mat.T),
                       lambda x, ws: F.transform(ws, lambda w: term(x, w)))
    zero = F.array_repeat(F.lit(0.0), len(mat))
    return F.aggregate(
        terms, zero, lambda a, t: F.zip_with(a, t, lambda s, p: s + p))


def dots_expr(vec: Column, planes: np.ndarray) -> Column:
    """All <vec, plane_k> dot products, bit-equal to dot_expr per
    plane."""
    return _rows_expr(vec, planes, lambda x, w: x * w)


def nearest_centroid_expr(vec: Column, centroids: np.ndarray) -> Column:
    """Nearest-centroid id (int): argmin of the squared euclidean
    distances, first minimum on ties (the oracle's ORDER BY dist, cid).

    The distances are bound once through a one-element transform, and
    the id is never null (-1, in no list, for a null vector), so
    Catalyst neither repeats the fold for `array_min` nor re-runs it
    in an inferred `isnotnull` join filter."""
    d = _rows_expr(vec, centroids, lambda x, c: (x - c) * (x - c))
    argmin = F.element_at(F.transform(
        F.array(d), lambda ds: F.array_position(ds, F.array_min(ds)) - 1), 1)
    return F.coalesce(argmin, F.lit(-1)).cast("int")


def _sign_bits(dots: Column, start: int) -> Column:
    acc = F.lit(0)
    for k in range(ROWS):
        acc = acc + F.when(F.element_at(dots, start + k + 1) > 0,
                           F.lit(1 << k)).otherwise(F.lit(0))
    return acc


def banded_buckets_expr(vec: Column) -> Column:
    """array<int> of per-band bucket ids from ONE dot-product pass over
    the embedding (BANDS*ROWS planes), binding the dots array once."""
    planes = hyperplanes(n=BANDS * ROWS)
    return F.element_at(
        F.transform(F.array(dots_expr(vec, planes)),
                    lambda d: F.array(*[_sign_bits(d, b * ROWS)
                                        for b in range(BANDS)])),
        1)


def _top_k(sims: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, vec_id, sim): the k best of each query, ranked
    on the ROUNDED similarity, then id, so the result is invariant to
    FP summation order."""
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("sim").desc(), F.col("vec_id").asc()))
    return (sims.withColumn("rank", F.row_number().over(w).cast("long"))
                .where(F.col("rank") <= k)
                .select("query_id", "rank", "vec_id", "sim"))


def _queries(v: DataFrame, query_ids: list[int]) -> DataFrame:
    """(query_id long, _q, _qn): the query rows of a `_normed` frame."""
    return (v.where(F.col("vec_id").isin(list(query_ids)))
             .select(F.col("vec_id").cast("long").alias("query_id"),
                     F.col("_v").alias("_q"), F.col("_n").alias("_qn")))


def _cos_sim() -> Column:
    """`sim`: the cosine of vector (_v, norm _n) against vector (_q,
    norm _qn), rounded to 9 places."""
    return F.round(cosine_expr(F.col("_v"), F.col("_q"), F.col("_n"),
                               F.col("_qn")), 9).alias("sim")


def cosine_topk(vectors: DataFrame, query_ids: list[int],
                k: int) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding
    self): the query rows are broadcast against every vector."""
    v = _normed(vectors)
    q = _queries(v, query_ids)
    sims = (v.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
             .select("query_id", "vec_id", _cos_sim()))
    return _top_k(sims, k)


def neardup_pairs(vectors: DataFrame, threshold: float = 0.9,
                  max_bucket: int = 2000) -> DataFrame:
    """Near-duplicate pairs via BANDED sign-hyperplane LSH with exact
    cosine verification.

    ``BANDS`` independent 2^ROWS-bucket partitions: a pair is a
    candidate if it collides in ANY band (union -> higher recall than
    a single partition), and every (band, bucket) with more than
    ``max_bucket`` members is dropped before the self-join — one hot
    bucket (near-constant embeddings, zero vectors) would otherwise
    contribute O(m^2) pairs at web scale.  The windowed count shuffles
    on the same (band, bucket) key the join needs."""
    band_buckets = banded_buckets_expr(F.col("embedding"))
    b = _normed(vectors, F.posexplode(band_buckets).alias("band", "bucket"))
    bucket_n = F.count("*").over(Window.partitionBy("band", "bucket"))
    b = (b.withColumn("_bn", bucket_n)
          .where(F.col("_bn") <= max_bucket).drop("_bn"))
    a, c = b.alias("a"), b.alias("b")
    pairs = (a.join(c, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")))
              .select(F.col("a.vec_id").alias("vec_a"),
                      F.col("b.vec_id").alias("vec_b"),
                      "a._v", "a._n", F.col("b._v").alias("_q"),
                      F.col("b._n").alias("_qn"))
              .dropDuplicates(["vec_a", "vec_b"]))
    return (pairs.select("vec_a", "vec_b", _cos_sim())
                 .where(F.col("sim") >= threshold))


# ------------------------------------------------------------------- IVF

def kmeans_centroids(vectors: DataFrame, n_centroids: int = 16,
                     sample_n: int = 2048) -> np.ndarray:
    """Deterministic Lloyd k-means (8 iterations) on an id-ordered
    sample, run driver-side — the coarse quantizer of an IVF index.
    At 10^12 rows the sample is a tiny bounded collect; the expensive
    step (assignment) runs distributed in ivf_topk."""
    rows = (vectors.orderBy("vec_id").limit(sample_n)
                   .select("embedding").collect())
    X = np.array([r[0] for r in rows], dtype=np.float64)
    C = X[:n_centroids].copy()
    for _ in range(8):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for j in range(n_centroids):
            m = a == j
            if m.any():
                C[j] = X[m].mean(0)
    return C


def ivf_topk(vectors: DataFrame, query_ids: list[int], k: int,
             centroids: np.ndarray) -> DataFrame:
    """IVF-style ANN top-k: assign every vector to its nearest
    centroid (inverted lists), probe only the NPROBE lists nearest
    each query, exact cosine + top-k inside the probed lists.

    The scan touches ~NPROBE/n_centroids of the data per query — the
    sub-linear 100 TB path; cosine_topk remains the exact baseline.
    The probe choice runs on the driver over the collected query
    vectors, which ride in the broadcast probe rows to the candidates.
    Returns (query_id, rank, vec_id, sim)."""
    C = np.asarray(centroids, dtype=np.float64)
    v = _normed(vectors)
    probe_rows = []
    for r in _queries(v, query_ids).collect():
        d = ((C - np.array(r["_q"], dtype=np.float64)) ** 2).sum(axis=1)
        for cid in np.argsort(d, kind="stable")[:NPROBE]:
            probe_rows.append((r["query_id"], int(cid), r["_q"], r["_qn"]))
    probes = vectors.sparkSession.createDataFrame(
        probe_rows, "query_id long, cid int, _q array<double>, _qn double")

    assigned = v.withColumn("cid", nearest_centroid_expr(F.col("_v"), C))
    sims = (assigned.join(F.broadcast(probes), "cid")
                    .where(F.col("query_id") != F.col("vec_id"))
                    .select("query_id", "vec_id", _cos_sim()))
    return _top_k(sims, k)
