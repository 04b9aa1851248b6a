"""The flagship end-to-end job: pages -> mined coords -> projected ->
S2 cells -> PIP tile assignments -> per-polygon/per-cell aggregates.

Every stage is checkpointed (plans/checkpoint.py — parquet snapshot +
completion marker + lineage metrics; Iceberg snapshots on a real
deployment), so a killed job resumes from the last complete stage.
Each point is S2-encoded once; the join key and the roll-up are its
Catalyst parent.  Hot cells (Zipf head) need no salting: the counts
partially aggregate map-side before the shuffle, plus AQE.

Run under spark-submit (scripts/run_tiling_job.sh packages the
module with --py-files) or directly:

    python -m proj_4_spark.jobs.tiling_job \
        --sf-dir /root/testdata/sf0.001 --out /tmp/tiling_out
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_session(master: str | None = None, shuffle_partitions: int = 32):
    b = (SparkSession.builder.appName("proj4spark-tiling")
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1048576"))
    if master:
        b = b.master(master)
    return b.getOrCreate()


CELL_LEVEL = 12  # the per-point S2 encode
COVER_LEVEL = 8  # PIP join key and cell-count roll-up; <= CELL_LEVEL


def run(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    from proj_4_spark.functions.geo import (s2_cell_udf, s2_parent,
                                            utm_all_zones_udf)
    from proj_4_spark.operators.spatial_join import pip_join
    from proj_4_spark.plans.checkpoint import CheckpointedPipeline
    from proj_4_spark.sources.pages import mine_coords, synthesize_pages
    from proj_4_spark.sources.polygons import polygon_rows

    cp = CheckpointedPipeline(spark, out_dir)

    # 1. pages (input contract shape) -> mined coordinate mentions
    mined = cp.stage(
        "mined",
        lambda: mine_coords(synthesize_pages(spark, sf_dir))
        .select("url", "doc_id", "mention_idx", "lon", "lat"))

    # 2. projection enrichment: per-point UTM (vectorized auto-zone)
    def _project():
        u = utm_all_zones_udf(approx=True)
        st = u(F.col("lon"), F.col("lat"))
        return (mined.withColumn("_u", st)
                     .select("url", "doc_id", "mention_idx", "lon", "lat",
                             F.col("_u.zone").alias("utm_zone"),
                             F.col("_u.easting").alias("easting"),
                             F.col("_u.northing").alias("northing")))

    projected = cp.stage("projected", _project)

    # 3. S2 cell encode (narrow)
    def _encode():
        cell = s2_cell_udf(CELL_LEVEL)(F.col("lon"), F.col("lat"))
        return projected.withColumn("cell", cell)

    encoded = cp.stage("encoded", _encode)

    # 4. PIP tile assignments (broadcast cover + exact ray cast)
    tiles = cp.stage(
        "tile_assignments",
        lambda: pip_join(encoded, polygon_rows(), level=COVER_LEVEL,
                         cell="cell")
        .select("url", "doc_id", "mention_idx", "cell", "polygon_id"))

    # 5a. per-polygon counts
    cp.stage(
        "polygon_counts",
        lambda: tiles.groupBy("polygon_id").agg(F.count("*").alias("n_docs")))

    # 5b. per-cell histogram at the coarser roll-up level
    cp.stage(
        "cell_counts",
        lambda: encoded.groupBy(
            s2_parent(F.col("cell"), COVER_LEVEL).alias("cell8"))
        .agg(F.count("*").alias("n_mentions")))

    stages = cp.metrics()
    return {"stages": stages, "rows": {m["stage"]: m["rows"] for m in stages}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    spark = build_session(args.master)
    try:
        summary = run(spark, args.sf_dir, args.out)
        print(json.dumps(summary))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
