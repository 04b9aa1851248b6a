"""Point-in-polygon spatial join.

Replaces PROJ's scalar quadtree + point-in-rect gating
(/root/reference/src/quadtree.hpp:60+, src/trans.cpp:44-173) with the
Spark-native plan from SURVEY.md §2.5, one Arrow UDF per point and a
Catalyst ``explode``:

  1. on the driver, cover every polygon's vertex bbox with
     join-level cells in one vectorised face-i/j call
     (index/s2.py::cover_bboxes) and sort the (cell, polygon, bbox)
     rows by cell; the table rides in the UDF's closure;
  2. per point, in the UDF: encode lon/lat at the join level, find its
     cover rows with two ``np.searchsorted`` calls, keep the rows whose
     closed bbox holds the point, and ray-cast those pairs exactly
     (even-odd, gathering edge k of every pair's ring from one edge
     table per step);
  3. the UDF returns each point's polygon ids as an ``array<long>``,
     built from offsets at the Arrow boundary, and Catalyst explodes it.

No join, no shuffle, and each point crosses into Python once.

The bbox test drops no match.  Even-odd ray casting can only accept a
point with min y <= y < max y and x < max x, and left of every edge a
horizontal line crosses the ring an even number of times, so x >= min
x too.  Last-bit rounding of a crossing abscissa can only make the ray
cast accept a point just outside the bbox, which is outside the
polygon.  A NaN or infinite coordinate fails the closed bbox test, so
it matches nothing.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import kernel_udf
from ..index import s2 as s2idx

_BBOX = ("lon_min", "lat_min", "lon_max", "lat_max")


def _ids(polygon_rows: list[dict]) -> np.ndarray:
    return np.array([r["polygon_id"] for r in polygon_rows], dtype=np.int64)


def _cover(polygon_rows: list[dict], level: int):
    """(row index, cell, [lon_min, lat_min, lon_max, lat_max]) arrays:
    each polygon's vertex bbox covered with the same cell math the
    points use, one entry per (polygon, cell)."""
    box = [np.array([f(r[ring]) for r in polygon_rows], dtype=np.float64)
           for f, ring in ((min, "ring_lon"), (min, "ring_lat"),
                           (max, "ring_lon"), (max, "ring_lat"))]
    idx, cells = s2idx.cover_bboxes(*box, level)
    return idx, cells, [b[idx] for b in box]


def polygon_cover_df(spark, polygon_rows: list[dict], level: int) -> DataFrame:
    """(cell, polygon_id, lon_min, lat_min, lon_max, lat_max) cover
    table, passed to Spark as one Arrow table (the UDF of
    :func:`pip_udf` holds the same rows sorted by cell)."""
    idx, cells, box = _cover(polygon_rows, level)
    cols = {"cell": cells, "polygon_id": _ids(polygon_rows)[idx]}
    cols.update(zip(_BBOX, box))
    return spark.createDataFrame(pa.table(cols))


def _edge_table(polygon_rows: list[dict]):
    """All rings' edges in one (x1, y1, x2, y2) table, plus each
    polygon's edge count and first edge, in row order."""
    n = np.array([len(r["ring_lon"]) for r in polygon_rows], dtype=np.int64)
    x = np.array([v for r in polygon_rows for v in r["ring_lon"]], np.float64)
    y = np.array([v for r in polygon_rows for v in r["ring_lat"]], np.float64)
    start = np.cumsum(n) - n
    nxt = np.arange(1, len(x) + 1)
    nxt[start + n - 1] = start  # each ring closes on its first vertex
    return np.stack([x, y, x[nxt], y[nxt]]), n, start


def _ray_cast(edges, px, py, n, first):
    """Even-odd ray cast of point k against the ring of ``n[k]`` edges
    starting at edge ``first[k]`` -> bool inside.

    The pairs are sorted longest ring first, so edge k of every pair's
    ring is gathered for a prefix of the pairs at once: the Python loop
    runs over edge slots, not polygons."""
    width = int(n.max(initial=0))
    # small unsigned sort keys make the stable argsort a radix sort
    srt = np.argsort((width - n).astype(np.min_scalar_type(width)),
                     kind="stable")
    n = n[srt]
    # rows[k]: how many sorted pairs have a ring of more than k edges
    rows = np.searchsorted(-n, -np.arange(width), side="left")
    qx, qy, first = px[srt], py[srt], first[srt]
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
    return out


def ray_cast_udf(polygon_rows: list[dict]):
    """Arrow UDF (lon, lat, polygon_id) -> boolean strict-inside via
    vectorized even-odd ray casting (the exact test of :func:`pip_udf`
    for given pairs).  A polygon id not in ``polygon_rows`` contains
    nothing."""
    edges, n, start = _edge_table(polygon_rows)
    ids = _ids(polygon_rows)
    order = np.argsort(ids, kind="stable")
    ids, n, start = ids[order], n[order], start[order]

    def kernel(px, py, pid):
        if not len(ids):
            return np.zeros(len(px), dtype=bool)
        pos = np.minimum(np.searchsorted(ids, pid), len(ids) - 1)
        known = ids[pos] == pid
        return _ray_cast(edges, px, py, n[pos], start[pos]) & known

    return kernel_udf("boolean", kernel, (np.float64, np.float64, np.int64))


def pip_udf(polygon_rows: list[dict], level: int):
    """Arrow UDF (lon, lat) -> array<long>: the id of every polygon
    strictly containing the point (null for a NaN, infinite or null
    coordinate).  Candidates are the cover rows of the point's
    ``level`` cell whose closed bbox holds it; :func:`_ray_cast`
    decides."""
    edges, n, start = _edge_table(polygon_rows)
    idx, cells, box = _cover(polygon_rows, level)
    order = np.argsort(cells, kind="stable")
    cells, idx = cells[order], idx[order]
    lo0, la0, lo1, la1 = (b[order] for b in box)
    pid, n, start = _ids(polygon_rows)[idx], n[idx], start[idx]

    def kernel(lon, lat):
        key = s2idx.cell_id(lon, lat, level)
        first = np.searchsorted(cells, key, side="left")
        cnt = np.searchsorted(cells, key, side="right") - first
        # candidate pairs: point p against cover rows first[p] + 0..cnt[p]-1
        pt = np.repeat(np.arange(len(lon)), cnt)
        c = np.arange(len(pt)) + np.repeat(first - (np.cumsum(cnt) - cnt),
                                           cnt)
        x, y = lon[pt], lat[pt]
        ok = (lo0[c] <= x) & (x <= lo1[c]) & (la0[c] <= y) & (y <= la1[c])
        pt, c = pt[ok], c[ok]
        hit = _ray_cast(edges, x[ok], y[ok], n[c], start[c])
        return np.bincount(pt[hit], minlength=len(lon)), pid[c[hit]]

    return kernel_udf("array<long>", kernel)


def pip_join(points: DataFrame, polygon_rows: list[dict],
             level: int) -> DataFrame:
    """points × polygons -> (points.*, polygon_id) for every polygon
    strictly containing the point's (``lon``, ``lat``): one Arrow UDF
    and an ``explode``."""
    ids = pip_udf(polygon_rows, level)(F.col("lon"), F.col("lat"))
    return points.select("*", F.explode(ids).alias("polygon_id"))
