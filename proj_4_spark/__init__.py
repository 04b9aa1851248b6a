"""proj_4_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the query/data-processing
capabilities of PROJ (proj4-bot/proj.4, studied read-only at
/root/reference) re-expressed Spark-first:

- ``kernels``  — pure-NumPy cartographic projection kernels
  (Transverse Mercator Poder/Engsager + Evenden/Snyder, Lambert
  Conformal Conic, Mercator/WebMercator, geodetic<->geocentric,
  Helmert, Karney geodesics), vectorized over the point axis.
- ``proj``     — proj-string parser + pipeline compiler producing a
  fused, immutable, broadcastable transform closure (the analogue of
  an instantiated ``PJ``; cf. /root/reference/src/init.cpp,
  src/pipeline.cpp).
- ``spark``    — Arrow UDF bindings, coordinate mining,
  Spark session helpers.
- ``index``    — S2 / H3 discrete-global-grid cell encoders
  (vectorized NumPy; cf. src/projections/s2.cpp for the cube-face
  math present in the reference).
- ``ops``      — spatial join (point-in-polygon), kNN,
  raster<->vector aggregation, dedup, similarity, text analysis.
"""

__version__ = "0.1.0"
