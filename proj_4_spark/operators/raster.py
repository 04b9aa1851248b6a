"""Raster <-> vector aggregation.

- vector -> raster: `groupBy(cell)` hash aggregation (Catalyst native,
  map-side partial + final — the scalable direction at 10^12 rows).
- raster -> vector: bilinear sampling of a broadcast grid, the
  vectorized restatement of PROJ's 4-corner grid interpolation
  (/root/reference/src/grids.cpp:3322-3393).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import kernel_udf


def grid_cell(lon, lat, dlon: float = 1.0, dlat: float = 1.0):
    """Integer raster cell indices (Catalyst expressions)."""
    ix = F.floor((lon + F.lit(180.0)) / F.lit(dlon)).cast("long")
    iy = F.floor((lat + F.lit(90.0)) / F.lit(dlat)).cast("long")
    return ix, iy


def rasterize(points: DataFrame, value_col: str | None = None,
              lon: str = "lon", lat: str = "lat",
              dlon: float = 1.0, dlat: float = 1.0) -> DataFrame:
    ix, iy = grid_cell(F.col(lon), F.col(lat), dlon, dlat)
    g = points.groupBy(ix.alias("ix"), iy.alias("iy"))
    aggs = [F.count("*").alias("n_pts")]
    if value_col:
        aggs.append(F.avg(value_col).alias("avg_val"))
    return g.agg(*aggs)


def analytic_grid(width: int = 360, height: int = 180) -> np.ndarray:
    """Deterministic smooth test field; value(ix,iy)=sin(.7ix)cos(.3iy)."""
    ix = np.arange(width, dtype=np.float64)
    iy = np.arange(height, dtype=np.float64)
    return np.sin(0.7 * ix)[None, :] * np.cos(0.3 * iy[:, None])


def bilinear_udf(grid: np.ndarray, lon0: float = -180.0, lat0: float = -90.0,
                 dlon: float = 1.0, dlat: float = 1.0):
    """Arrow UDF (lon, lat) -> double: 4-corner bilinear interpolation
    with node (ix,iy) at (lon0+ix*dlon, lat0+iy*dlat); clamped to the
    grid edge (grids.cpp:3322-3393 weight formula)."""
    g = np.asarray(grid, dtype=np.float64)
    h, w = g.shape

    def k(lon, lat):
        fx = (lon - lon0) / dlon
        fy = (lat - lat0) / dlat
        ix = np.clip(np.floor(fx).astype(np.int64), 0, w - 2)
        iy = np.clip(np.floor(fy).astype(np.int64), 0, h - 2)
        tx = fx - ix
        ty = fy - iy
        v00 = g[iy, ix]
        v10 = g[iy, ix + 1]
        v01 = g[iy + 1, ix]
        v11 = g[iy + 1, ix + 1]
        return ((1.0 - tx) * (1.0 - ty) * v00 + tx * (1.0 - ty) * v10
                + (1.0 - tx) * ty * v01 + tx * ty * v11)

    return kernel_udf("double", k)
