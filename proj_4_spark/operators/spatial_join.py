"""Point-in-polygon spatial join.

Replaces PROJ's scalar quadtree + point-in-rect gating
(/root/reference/src/quadtree.hpp:60+, src/trans.cpp:44-173) with the
Spark-native plan from SURVEY.md §2.5, one broadcast-hash join and one
pandas UDF:

  1. key each point on its S2 cell at the join level: encode lon/lat,
     or take the Catalyst parent of an existing finer cell column;
  2. before the join, cover every polygon's vertex bbox with
     join-level cells in one vectorised face-i/j call
     (index/s2.py::cover_bboxes) and hand the (cell, polygon_id, bbox)
     table to Spark as one Arrow table;
  3. broadcast-hash join the points to that table on the cell id, with
     the closed bbox test in the join condition, so the big side is
     never shuffled;
  4. exact even-odd ray casting of the surviving pairs, gathering
     edge k of every row's ring from one edge table per step.

The bbox test drops no match.  Even-odd ray casting can only accept a
point with min y <= y < max y and x < max x, and left of every edge a
horizontal line crosses the ring an even number of times, so x >= min
x too.  Last-bit rounding of a crossing abscissa can only make the ray
cast accept a point just outside the bbox, which is outside the
polygon.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.geo import kernel_udf, s2_cell_udf, s2_parent
from ..index import s2 as s2idx

_BBOX = ("lon_min", "lat_min", "lon_max", "lat_max")


def polygon_cover_df(spark, polygon_rows: list[dict], level: int) -> DataFrame:
    """(cell, polygon_id, lon_min, lat_min, lon_max, lat_max) cover
    table: each polygon's vertex bbox covered with the same cell math
    the points use, passed to Spark as one Arrow table."""
    pid = np.array([r["polygon_id"] for r in polygon_rows], dtype=np.int64)
    box = [np.array([f(r[ring]) for r in polygon_rows], dtype=np.float64)
           for f, ring in ((min, "ring_lon"), (min, "ring_lat"),
                           (max, "ring_lon"), (max, "ring_lat"))]
    idx, cells = s2idx.cover_bboxes(*box, level)
    cols = {"cell": cells, "polygon_id": pid[idx]}
    cols.update((name, b[idx]) for name, b in zip(_BBOX, box))
    return spark.createDataFrame(pa.table(cols))


def ray_cast_udf(polygon_rows: list[dict]):
    """pandas UDF (lon, lat, polygon_id) -> boolean strict-inside via
    vectorized even-odd ray casting (the exact test; candidates come
    pre-filtered by the cell join).

    All rings' edges sit in one (x1, y1, x2, y2) table.  Each block
    sorts its rows longest ring first, so edge k of every row's ring is
    gathered for a prefix of the rows at once: the Python loop runs
    over edge slots, not polygons.  A polygon id not in
    ``polygon_rows`` contains nothing."""
    n = np.array([len(r["ring_lon"]) for r in polygon_rows], dtype=np.int64)
    x = np.array([v for r in polygon_rows for v in r["ring_lon"]], np.float64)
    y = np.array([v for r in polygon_rows for v in r["ring_lat"]], np.float64)
    start = np.cumsum(n) - n
    nxt = np.arange(1, len(x) + 1)
    nxt[start + n - 1] = start  # each ring closes on its first vertex
    edges = np.stack([x, y, x[nxt], y[nxt]])
    ids = np.array([r["polygon_id"] for r in polygon_rows], dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids, n, start = ids[order], n[order], start[order]
    width = int(n.max(initial=0))
    # small unsigned sort keys make the stable argsort a radix sort
    key = np.min_scalar_type(width)

    def kernel(px, py, pid):
        pos = np.minimum(np.searchsorted(ids, pid), len(ids) - 1)
        known = ids[pos] == pid
        srt = np.argsort((width - n[pos]).astype(key), kind="stable")
        pos = pos[srt]
        # rows[k]: how many sorted rows have a ring of more than k edges
        rows = np.searchsorted(-n[pos], -np.arange(width), side="left")
        qx, qy, first = px[srt], py[srt], start[pos]
        inside = np.zeros(len(px), dtype=bool)
        for k, m in enumerate(rows):
            x1, y1, x2, y2 = edges.take(first[:m] + k, axis=1)
            ys = qy[:m]
            crosses = (y1 > ys) != (y2 > ys)
            with np.errstate(invalid="ignore", divide="ignore"):
                xint = (x2 - x1) * (ys - y1) / (y2 - y1) + x1
            inside[:m] ^= crosses & (qx[:m] < xint)
        out = np.empty(len(px), dtype=bool)
        out[srt] = inside
        return out & known

    return kernel_udf("boolean", kernel, (np.float64, np.float64, np.int64))


def pip_join(points: DataFrame, polygon_rows: list[dict], level: int = 10,
             lon: str = "lon", lat: str = "lat",
             cell: str | None = None) -> DataFrame:
    """points × polygons -> (points.*, polygon_id) for every polygon
    strictly containing the point.  ``cell`` names an S2 cell column at
    ``level`` or finer to key on by parent instead of encoding lon/lat."""
    cover = polygon_cover_df(points.sparkSession, polygon_rows, level)
    cover = broadcast(cover.select(
        F.col("cell").alias("_cover_cell"), "polygon_id",
        *[F.col(c).alias("_" + c) for c in _BBOX]))
    key = (s2_cell_udf(level)(F.col(lon), F.col(lat)) if cell is None
           else s2_parent(F.col(cell), level))
    # 0 is no S2 id (the sentinel bit is always set), so a null cell
    # still matches nothing; a non-nullable key keeps Catalyst from
    # pushing an isnotnull(key) copy of the encode below the join
    pts = points.withColumn("_cell", F.coalesce(key, F.lit(0).cast("long")))
    in_bbox = (F.col(lon).between(F.col("_lon_min"), F.col("_lon_max"))
               & F.col(lat).between(F.col("_lat_min"), F.col("_lat_max")))
    cand = pts.join(cover, (F.col("_cell") == F.col("_cover_cell")) & in_bbox)
    inside = ray_cast_udf(polygon_rows)
    return (cand.where(inside(F.col(lon), F.col(lat), F.col("polygon_id")))
                .drop("_cell", "_cover_cell", *["_" + c for c in _BBOX]))
