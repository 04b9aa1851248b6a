"""cct-style batch coordinate transform as a spark-submit job.

The reference's primary batch UX is the ``cct`` filter app
(src/apps/cct.cpp:63-198: read coordinate tuples, apply a proj-string
pipeline, emit transformed tuples with per-line error reporting).
This job is its cluster-scale equivalent: read a parquet table of
coordinate columns, run the compiled pipeline as a chunked Arrow UDF,
and write projected parquet with a per-row ``errno`` column (0 = ok;
``coord_transfm_outside_grid``-style failures surface as the NaN
in-band signal, recorded as errno 2049 like
PROJ_ERR_COORD_TRANSFM_OUTSIDE_GRID's class).  The single transform
stage runs under the checkpoint/metrics machinery, so a killed job
resumes without recomputation.

    python -m proj_4_spark.jobs.cct_job \
        --in coords.parquet --out /tmp/cct_out \
        --projstr "+proj=utm +zone=32" --direction fwd
"""

from __future__ import annotations

import argparse
import json

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proj_4_spark.jobs.tiling_job import build_session

# per-row error codes (mirroring the PROJ_ERR_COORD_TRANSFM class,
# proj.h: 2048 + n; a NaN produced by any kernel is the in-band signal)
ERRNO_OK = 0
ERRNO_COORD_TRANSFM = 2049


def transform_udf(projstr, direction: str = "fwd"):
    """Arrow UDF (x, y, z, t) -> struct<x, y, z double> running the
    compiled pipeline (a proj-string or a Transform)."""
    from proj_4_spark.functions.geo import kernel_udf
    from proj_4_spark.proj import compile_projstring

    tr = compile_projstring(projstr)

    def k(x, y, z, t):
        return tr.transform_deg(x, y, z=z, t=t, direction=direction)[:3]

    return kernel_udf("struct<x: double, y: double, z: double>", k,
                      (np.float64,) * 4)


def transform_frame(df: DataFrame, projstr, direction: str = "fwd",
                    x_col: str = "x", y_col: str = "y",
                    z_col: str | None = None,
                    t_col: str | None = None) -> DataFrame:
    """Append x_out/y_out/z_out/errno to ``df`` by running the
    compiled pipeline over (x, y[, z[, t]]) columns.  ``projstr`` may
    be a proj-string or an already-built Transform (the cs2cs path
    passes crs.crs_to_crs output)."""
    zc = F.col(z_col) if z_col else F.lit(0.0)
    tc = F.col(t_col) if t_col else F.lit(float("inf"))
    st = transform_udf(projstr, direction)(
        F.col(x_col).cast("double"), F.col(y_col).cast("double"),
        zc.cast("double"), tc.cast("double"))
    out = (df.withColumn("_o", st)
             .withColumn("x_out", F.col("_o.x"))
             .withColumn("y_out", F.col("_o.y"))
             .withColumn("z_out", F.col("_o.z"))
             .drop("_o"))
    def _bad(c):
        # NaN produced inside the Arrow UDF arrives as NULL through
        # Arrow; inputs may carry literal NaN — treat both as missing
        return F.isnull(c) | F.isnan(c)

    had_input = (~_bad(F.col(x_col).cast("double"))
                 & ~_bad(F.col(y_col).cast("double")))
    failed = _bad(F.col("x_out")) | _bad(F.col("y_out"))
    return out.withColumn(
        "errno",
        F.when(had_input & failed, F.lit(ERRNO_COORD_TRANSFM))
         .otherwise(F.lit(ERRNO_OK)))


def run(spark: SparkSession, in_path: str, out_dir: str,
        projstr: str | None = None, direction: str = "fwd",
        x_col: str = "x", y_col: str = "y",
        z_col: str | None = None, t_col: str | None = None,
        s_srs: str | None = None, t_srs: str | None = None,
        always_xy: bool = True) -> dict:
    """Either ``projstr`` (cct UX) or ``s_srs``+``t_srs`` (cs2cs UX,
    src/apps/cs2cs.cpp:369: source and target CRS in any form
    proj_create accepts — proj-string, EPSG:n, WKT, PROJJSON — planned
    through crs.crs_to_crs)."""
    from proj_4_spark.plans.checkpoint import CheckpointedPipeline

    if (projstr is None) == (s_srs is None):
        raise ValueError("pass exactly one of projstr or s_srs/t_srs")
    if s_srs is not None:
        if t_srs is None:
            raise ValueError("--t_srs is required with --s_srs")
        from proj_4_spark.crs import crs_to_crs

        tr = crs_to_crs(s_srs, t_srs, always_xy=always_xy)
        desc = tr.definition
    else:
        tr, desc = projstr, projstr

    cp = CheckpointedPipeline(spark, out_dir)
    result = cp.stage(
        "transformed",
        lambda: transform_frame(spark.read.parquet(in_path), tr,
                                direction, x_col, y_col, z_col, t_col))
    stages = cp.metrics()
    n_rows = next(m["rows"] for m in stages if m["stage"] == "transformed")
    n_err = result.where(F.col("errno") != ERRNO_OK).count()
    return {"stages": stages,
            "rows": n_rows, "errors": n_err,
            "projstr": desc, "direction": direction}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--in", dest="in_path", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--projstr", default=None,
                    help="pipeline proj-string (cct UX)")
    ap.add_argument("--s_srs", default=None,
                    help="source CRS: proj-string / EPSG:n / WKT / "
                         "PROJJSON (cs2cs UX; requires --t_srs)")
    ap.add_argument("--t_srs", default=None, help="target CRS")
    ap.add_argument("--no-always-xy", action="store_true",
                    help="authority axis order (EPSG geographic codes "
                         "take lat,lon) instead of GIS lon,lat")
    ap.add_argument("--direction", default="fwd", choices=["fwd", "inv"])
    ap.add_argument("--x-col", default="x")
    ap.add_argument("--y-col", default="y")
    ap.add_argument("--z-col", default=None)
    ap.add_argument("--t-col", default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    spark = build_session(args.master)
    try:
        summary = run(spark, args.in_path, args.out, args.projstr,
                      args.direction, args.x_col, args.y_col,
                      args.z_col, args.t_col, s_srs=args.s_srs,
                      t_srs=args.t_srs,
                      always_xy=not args.no_always_xy)
        print(json.dumps(summary))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
