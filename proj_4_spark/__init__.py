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
- ``functions`` — Arrow UDF and Catalyst column bindings of the
  kernels (projection, geodesic, S2 / hex cells).
- ``index``    — S2 and aperture-7 hexagonal discrete-global-grid cell
  encoders (vectorized NumPy; cf. src/projections/s2.cpp for the
  cube-face math present in the reference).  The hex index is
  H3-style but not H3-bit-compatible.
- ``operators`` — spatial join (point-in-polygon), kNN,
  raster<->vector aggregation, dedup, similarity, text analysis.
- ``sources``  — page synthesis and coordinate mining, polygon
  fixtures, grid/init/gie file readers and the NKG operation registry.
- ``plans``    — checkpointed stages, salting, candidate selection and
  the DuckDB oracles of the query registry (``queries``).
- ``streaming`` — Structured Streaming tile rollups, event windows and
  a custom stateful per-user operator.
- ``jobs``     — spark-submit jobs (tiling, cct/cs2cs, geod).
"""

__version__ = "0.1.0"
