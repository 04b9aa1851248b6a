"""Point-in-polygon spatial join.

Replaces PROJ's scalar quadtree + point-in-rect gating
(/root/reference/src/quadtree.hpp:60+, src/trans.cpp:44-173) with the
Spark-native plan from SURVEY.md §2.5:

  1. encode points to S2 cells at a join level, or take the parent of
     an existing finer cell column (narrow, no shuffle);
  2. driver-side: compute each polygon's conservative cell cover
     (bbox rasterization, a superset) and EXPLODE to (cell, polygon_id);
  3. broadcast-hash join points to candidate polygons on the cell id
     (small polygon sets) — no shuffle of the big side at all;
  4. exact ray-casting pandas UDF over the candidate pairs only.

At 100 TB the only wide operation is the optional final aggregation;
the join itself is broadcast so the 10^12-row side streams through
map tasks.  For polygon sets too big to broadcast, `pip_join` falls
back to a shuffled hash join on the cell id; hot cells (CBD
megacities — the Zipf head of the page distribution) are handled by
AQE skew-join splitting plus optional explicit salting
(plans/salting.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf

from ..functions.geo import s2_cell_udf, s2_parent
from ..index import s2 as s2idx


def polygon_cover_df(spark, polygon_rows: list[dict], level: int) -> DataFrame:
    """(cell, polygon_id) cover table, computed driver-side with the
    same cell math the points use (then broadcast)."""
    pairs = []
    for r in polygon_rows:
        cells = s2idx.cover_bbox(r["lon_min"], r["lat_min"],
                                 r["lon_max"], r["lat_max"], level)
        for c in cells.tolist():
            pairs.append((int(c), int(r["polygon_id"])))
    return spark.createDataFrame(pairs, "cell long, polygon_id long")


def ray_cast_udf(polygon_rows: list[dict]):
    """pandas UDF (lon, lat, polygon_id) -> boolean strict-inside via
    vectorized even-odd ray casting over the polygon's ring (the exact
    test; candidates come pre-filtered by the cell join)."""
    rings = {int(r["polygon_id"]): (np.asarray(r["ring_lon"], dtype=np.float64),
                                    np.asarray(r["ring_lat"], dtype=np.float64))
             for r in polygon_rows}

    @pandas_udf("boolean")
    def _inside(lon: pd.Series, lat: pd.Series, pid: pd.Series) -> pd.Series:
        px = lon.to_numpy(np.float64)
        py = lat.to_numpy(np.float64)
        ids = pid.to_numpy(np.int64)
        # group rows by polygon via one argsort, then test each
        # contiguous slice — O(edges) passes over each row instead of
        # O(polygons) full-batch masked passes (memory-bandwidth wins
        # at scale)
        order = np.argsort(ids, kind="stable")
        sx = px[order]
        sy = py[order]
        sids = ids[order]
        out_sorted = np.zeros(len(px), dtype=bool)
        bounds = np.flatnonzero(np.diff(sids)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(sids)]))
        for s, e in zip(starts, ends):
            if s == e:
                continue
            rx, ry = rings[int(sids[s])]
            x = sx[s:e]
            y = sy[s:e]
            inside = np.zeros(e - s, dtype=bool)
            n = len(rx)
            for i in range(n):
                j = (i + 1) % n
                x1, y1, x2, y2 = rx[i], ry[i], rx[j], ry[j]
                crosses = (y1 > y) != (y2 > y)
                with np.errstate(invalid="ignore", divide="ignore"):
                    xint = (x2 - x1) * (y - y1) / (y2 - y1) + x1
                inside ^= crosses & (x < xint)
            out_sorted[s:e] = inside
        out = np.zeros(len(px), dtype=bool)
        out[order] = out_sorted
        return pd.Series(out)

    return _inside


def pip_join(points: DataFrame, polygon_rows: list[dict], level: int = 10,
             lon: str = "lon", lat: str = "lat", cell: str | None = None,
             broadcast_cover: bool = True) -> DataFrame:
    """points × polygons -> (points.*, polygon_id) for every polygon
    strictly containing the point.  ``cell`` names an S2 cell column at
    ``level`` or finer to key on by parent instead of encoding lon/lat."""
    spark = points.sparkSession
    cover = (polygon_cover_df(spark, polygon_rows, level)
             .withColumnRenamed("cell", "_cover_cell"))
    key = (s2_cell_udf(level)(F.col(lon), F.col(lat)) if cell is None
           else s2_parent(F.col(cell), level))
    pts = points.withColumn("_cell", key)
    cov = broadcast(cover) if broadcast_cover else cover
    cand = (pts.join(cov, pts["_cell"] == cov["_cover_cell"], "inner")
               .drop("_cover_cell"))
    inside = ray_cast_udf(polygon_rows)
    out = (cand.where(inside(F.col(lon), F.col(lat), F.col("polygon_id")))
               .drop("_cell"))
    return out
