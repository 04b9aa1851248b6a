"""geod-style batch geodesic calculator as a spark-submit job.

The reference ships ``geod`` (src/apps/geod.cpp, man page geod(1)): a
filter app solving the direct or inverse geodesic problem per input
line on a chosen ellipsoid.  This job is its cluster-scale
equivalent: read a parquet table of point rows, solve the requested
problem with the Karney solver (kernels/geodesic.py,
src/geodesic.c:686 direct / :1080 inverse) as a chunked Arrow UDF,
and write the augmented table back as parquet under the
checkpoint/metrics machinery.

    python -m proj_4_spark.jobs.geod_job \
        --in pairs.parquet --out /tmp/geod_out --mode inverse
    python -m proj_4_spark.jobs.geod_job \
        --in starts.parquet --out /tmp/geod_out --mode direct \
        --ellps-a 6378388 --ellps-rf 297
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proj_4_spark.jobs.tiling_job import build_session

WGS84_A = 6378137.0
WGS84_RF = 298.257223563


def solve_frame(df: DataFrame, mode: str = "inverse",
                a: float = WGS84_A, rf: float = WGS84_RF) -> DataFrame:
    """Append the geodesic solution columns to ``df``.

    inverse: (lat1,lon1,lat2,lon2) -> s12 (m), azi1, azi2 (deg)
    direct:  (lat1,lon1,azi1,s12)  -> lat2, lon2, azi2 (deg)
    """
    from proj_4_spark.functions import geo as G

    f = 1.0 / rf
    if mode == "inverse":
        u = G.geodesic_inverse_udf(a, f)
        st = u(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"))
        return (df.withColumn("_g", st)
                  .withColumn("s12", F.col("_g.s12"))
                  .withColumn("azi1", F.col("_g.azi1"))
                  .withColumn("azi2", F.col("_g.azi2"))
                  .drop("_g"))
    if mode == "direct":
        u = G.geodesic_direct_udf(a, f)
        st = u(F.col("lat1"), F.col("lon1"), F.col("azi1"), F.col("s12"))
        return (df.withColumn("_g", st)
                  .withColumn("lat2", F.col("_g.lat2"))
                  .withColumn("lon2", F.col("_g.lon2"))
                  .withColumn("azi2", F.col("_g.azi2"))
                  .drop("_g"))
    raise ValueError(f"mode must be 'inverse' or 'direct', got {mode!r}")


def run(spark: SparkSession, in_path: str, out_dir: str,
        mode: str = "inverse", a: float = WGS84_A,
        rf: float = WGS84_RF) -> dict:
    from proj_4_spark.plans.checkpoint import CheckpointedPipeline

    cp = CheckpointedPipeline(spark, out_dir)
    cp.stage(
        "solved",
        lambda: solve_frame(spark.read.parquet(in_path), mode, a, rf))
    stages = cp.metrics()
    n_rows = next(m["rows"] for m in stages if m["stage"] == "solved")
    return {"stages": stages, "rows": n_rows,
            "mode": mode, "a": a, "rf": rf}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--in", dest="in_path", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--mode", default="inverse",
                    choices=["inverse", "direct"])
    ap.add_argument("--ellps-a", type=float, default=WGS84_A)
    ap.add_argument("--ellps-rf", type=float, default=WGS84_RF)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    spark = build_session(args.master)
    try:
        summary = run(spark, args.in_path, args.out, args.mode,
                      args.ellps_a, args.ellps_rf)
        print(json.dumps(summary))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
