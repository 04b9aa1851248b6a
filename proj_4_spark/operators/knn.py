"""kNN over the point table.

Two strategies (SURVEY.md §2.5):

- ``knn_broadcast``: exact — broadcast the (small) query set against
  the full point table, compute the distance as a Catalyst expression,
  and take ``row_number() <= k`` per query.  The big side is scanned
  once with no shuffle before the top-k aggregation; at 10^12 rows the
  window runs on a `query_id`-partitioned shuffle whose cardinality is
  #queries × k only after a map-side partial top-k (Spark rewrites
  rank-filter windows with a TopK sort — limit pushdown via
  WindowGroupLimit).

- ``knn_cell_pruned``: scale path — candidates restricted to the grid
  cells within a Chebyshev ring of each query's cell (broadcast
  equi-join on the cell key), widening the ring until every query has
  k candidates inside the guaranteed in-ring radius.  EXACT: the tests
  assert equality with the brute-force oracle, including a
  cell-boundary query where single-cell pruning is provably wrong.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def sq_degree_dist(lon1, lat1, lon2, lat2):
    """Squared euclidean distance in degree space — pure Catalyst,
    bit-deterministic (only IEEE * and +), used as the tie-safe
    ranking key for oracle-exact kNN."""
    dx = lon1 - lon2
    dy = lat1 - lat2
    return dx * dx + dy * dy


GRID_DEG = 2.0  # knn_cell_pruned's lon/lat grid step


def knn_broadcast(points: DataFrame, queries: DataFrame,
                  k: int) -> DataFrame:
    """Exact kNN: (query_id, rank, doc_id, dist2)."""
    q = broadcast(queries.select(
        F.col("query_id"), F.col("q_lon"), F.col("q_lat")))
    d2 = sq_degree_dist(F.col("lon"), F.col("lat"),
                        F.col("q_lon"), F.col("q_lat")).alias("dist2")
    pairs = points.crossJoin(q).select("query_id", "doc_id", d2)
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(),
                                              F.col("doc_id").asc())
    return (pairs.withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= k)
                 .select("query_id", "rank", "doc_id", "dist2"))


def knn_cell_pruned(points: DataFrame, queries: DataFrame,
                    k: int) -> DataFrame:
    """Scale path: EXACT kNN with cell-pruned candidates and a
    widening ring.

    Points are bucketed once onto a ``GRID_DEG`` lon/lat grid
    (longitude cells wrap modulo 360).  Per ring r the candidate set is
    the points in all grid cells within Chebyshev distance r of each
    query's cell — a broadcast equi-join on the cell key, so the big
    side never shuffles.  The ring widens until every query has >= k
    candidates whose k-th distance is within the guaranteed in-ring
    radius (the distance from the query to the covered-square
    boundary), which makes the result provably equal to brute force.
    The per-ring driver check collects only #queries rows.
    """
    g = GRID_DEG
    nx = max(int(round(360.0 / g)), 1)
    pts = (points.withColumn(
               "_ix", F.floor((F.col("lon") + 180.0) / g).cast("long") % nx)
                 .withColumn("_iy", F.floor((F.col("lat") + 90.0) / g)
                             .cast("long")))
    max_ring = int(180.0 / g) + 1

    # query cell + in-cell offsets, all Spark-side (no per-query driver
    # loop: thousands of queries x wide rings stay distributed)
    qx = F.pmod(F.floor((F.col("q_lon") + 180.0) / g).cast("long"),
                F.lit(nx))
    qy = F.floor((F.col("q_lat") + 90.0) / g).cast("long")
    qcells = (queries.select("query_id", "q_lon", "q_lat",
                             qx.alias("_qx"), qy.alias("_qy"))
                     .withColumn("_qlx", (F.col("q_lon") + 180.0)
                                 - F.col("_qx") * g)
                     .withColumn("_qly", (F.col("q_lat") + 90.0)
                                 - F.col("_qy") * g)
                     .persist())

    def cover_df(r: int):
        # (2r+1)^2 cells per query via two explodes of a sequence —
        # generated inside the engine, broadcast as a whole.  A ring
        # wider than the globe takes each longitude column once: a
        # repeated cell would repeat its points among the candidates.
        dx0, dx1 = (-r, r) if 2 * r + 1 <= nx else (0, nx - 1)
        return (qcells
                .select("query_id", "_qx", "_qy",
                        F.explode(F.sequence(F.lit(dx0), F.lit(dx1)))
                         .alias("_dx"))
                .select("query_id", "_qy", "_dx",
                        F.explode(F.sequence(F.lit(-r), F.lit(r)))
                         .alias("_dy"),
                        F.pmod(F.col("_qx") + F.col("_dx"), F.lit(nx))
                         .alias("_ix"))
                .select("query_id", "_ix",
                        (F.col("_qy") + F.col("_dy")).alias("_iy")))

    d2 = sq_degree_dist(F.col("lon"), F.col("lat"),
                        F.col("q_lon"), F.col("q_lat")).alias("dist2")
    qdf = queries.select("query_id", "q_lon", "q_lat")
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(),
                                              F.col("doc_id").asc())
    try:
        for r in range(1, max_ring + 1):
            cand = (pts.join(broadcast(cover_df(r)), ["_ix", "_iy"])
                       .join(broadcast(qdf), "query_id")
                       .select("query_id", "doc_id", d2))
            ranked = (cand.withColumn("rank", F.row_number().over(w))
                          .where(F.col("rank") <= k))
            if r == max_ring:
                break
            # exactness check, reduced to ONE driver scalar: every query
            # has >= k candidates and its k-th distance is inside the
            # guaranteed in-ring radius (distance to the covered-square
            # boundary)
            agg = ranked.groupBy("query_id").agg(
                F.count("*").alias("_n"), F.max("dist2").alias("_kd"))
            bound = F.least(F.col("_qlx") + r * g,
                            (r + 1) * g - F.col("_qlx"),
                            F.col("_qly") + r * g,
                            (r + 1) * g - F.col("_qly"))
            bad = (qcells.join(agg, "query_id", "left")
                         .where(F.col("_n").isNull() | (F.col("_n") < k)
                                | (F.col("_kd") > bound * bound))
                         .limit(1).count())
            if bad == 0:
                break
    finally:
        qcells.unpersist()
    return ranked.select("query_id", "rank", "doc_id", "dist2")
