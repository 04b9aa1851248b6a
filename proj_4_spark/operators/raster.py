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


def rasterize(points: DataFrame) -> DataFrame:
    """Point count per 1-degree cell (ix, iy) of ``lon, lat``, counted
    from (-180, -90) (Catalyst expressions)."""
    ix = F.floor(F.col("lon") + F.lit(180.0)).cast("long")
    iy = F.floor(F.col("lat") + F.lit(90.0)).cast("long")
    return (points.groupBy(ix.alias("ix"), iy.alias("iy"))
                  .agg(F.count("*").alias("n_pts")))


def analytic_grid() -> np.ndarray:
    """Deterministic smooth 1-degree 360x180 test field;
    value(ix,iy)=sin(.7ix)cos(.3iy)."""
    ix = np.arange(360, dtype=np.float64)
    iy = np.arange(180, dtype=np.float64)
    return np.sin(0.7 * ix)[None, :] * np.cos(0.3 * iy[:, None])


def bilinear_udf(grid: np.ndarray):
    """Arrow UDF (lon, lat) -> double: 4-corner bilinear interpolation
    of a 1-degree grid with node (ix,iy) at (ix - 180, iy - 90);
    clamped to the grid edge (grids.cpp:3322-3393 weight formula)."""
    g = np.asarray(grid, dtype=np.float64)
    h, w = g.shape

    def k(lon, lat):
        fx = lon + 180.0
        fy = lat + 90.0
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
