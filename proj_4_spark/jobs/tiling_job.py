"""The flagship end-to-end job: pages -> mined coords -> S2 cells ->
PIP tile assignments -> per-polygon/per-cell aggregates, plus the
mined coords projected to UTM.

Every stage is checkpointed (plans/checkpoint.py — parquet snapshot +
completion marker + lineage metrics; Iceberg snapshots on a real
deployment), and a stage's build reads only the stage outputs it uses:

    mined -> encoded -> {tile_assignments, polygon_counts,
                         cell_counts, projected}

`mined` (page synthesis + the regex miner, Catalyst only) runs in one
task per core: `synthesize_pages` hash-partitions the documents over
`defaultParallelism`.  `encoded` reads `mined` coalesced to one
partition, because every Python task pays a fixed worker start-up
cost that outweighs the UDF work of a share of the points.  It is
`mined` plus its S2 cell, UTM projection and the ids of the polygons
containing it: the three Arrow UDFs sit in one projection, so Spark
evaluates them in one Arrow pass and each point crosses into Python
once.

The four outputs are Catalyst selections and counts of `encoded` alone
(`polygon_counts` counts its exploded polygon ids), so they start no
Python worker and run at once, one pool thread each.  `run` waits for
all four and re-raises the first failure.  A rerun on the same output
directory reruns every stage without a completion marker and reads the
others back.

Each point is S2-encoded at the cell level and, inside the PIP UDF, at
the cover level; the roll-up is the cell's Catalyst parent.  Hot cells
(Zipf head) need no salting: the counts partially aggregate map-side
before the shuffle, plus AQE.

Run under spark-submit (scripts/run_tiling_job.sh packages the
module with --py-files) or directly:

    python -m proj_4_spark.jobs.tiling_job \
        --sf-dir /root/testdata/sf0.001 --out /tmp/tiling_out
"""

from __future__ import annotations

import argparse
import json
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


SHUFFLE_PARTITIONS = 32


def build_session(master: str | None = None):
    b = (SparkSession.builder.appName("proj4spark-tiling")
         .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1048576"))
    if master:
        b = b.master(master)
    return b.getOrCreate()


CELL_LEVEL = 12  # the per-point S2 encode
COVER_LEVEL = 8  # PIP cover and cell-count roll-up; <= CELL_LEVEL


def run(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    from proj_4_spark.functions.geo import (s2_cell_udf, s2_parent,
                                            utm_all_zones_udf)
    from proj_4_spark.operators.spatial_join import pip_udf
    from proj_4_spark.plans.checkpoint import CheckpointedPipeline
    from proj_4_spark.sources.pages import mine_coords, synthesize_pages
    from proj_4_spark.sources.polygons import polygon_rows

    cp = CheckpointedPipeline(spark, out_dir)

    # 1. pages (input contract shape) -> mined coordinate mentions
    mined = cp.stage(
        "mined",
        lambda: mine_coords(synthesize_pages(spark, sf_dir))
        .select("url", "doc_id", "mention_idx", "lon", "lat"))

    # 2. S2 cell encode, UTM projection (auto-zone) and the ids of the
    # polygons holding each point (cover lookup + exact ray cast): one
    # projection, so one ArrowEvalPython node evaluates the three UDFs,
    # over `mined` coalesced to one partition, so one Python worker
    lon, lat = F.col("lon"), F.col("lat")
    encoded = cp.stage(
        "encoded",
        lambda: mined.coalesce(1).select(
            "*",
            s2_cell_udf(CELL_LEVEL)(lon, lat).alias("cell"),
            utm_all_zones_udf(approx=True)(lon, lat).alias("_u"),
            pip_udf(polygon_rows(), COVER_LEVEL)(lon, lat)
            .alias("polygon_ids"))
        .select(*mined.columns, "cell",
                F.col("_u.zone").alias("utm_zone"),
                F.col("_u.easting").alias("easting"),
                F.col("_u.northing").alias("northing"),
                "polygon_ids"))

    # 3. the outputs: Catalyst selections and counts of `encoded`
    polygon_id = F.explode("polygon_ids").alias("polygon_id")
    outputs = {
        # PIP tile assignments: one row per (point, polygon)
        "tile_assignments": lambda: encoded.select(
            "url", "doc_id", "mention_idx", "cell", polygon_id),
        "polygon_counts": lambda: encoded.select(polygon_id)
        .groupBy("polygon_id").agg(F.count("*").alias("n_docs")),
        # per-cell histogram at the coarser roll-up level
        "cell_counts": lambda: encoded.groupBy(
            s2_parent(F.col("cell"), COVER_LEVEL).alias("cell8"))
        .agg(F.count("*").alias("n_mentions")),
        # projection enrichment: per-point UTM
        "projected": lambda: encoded.select(
            "url", "doc_id", "mention_idx", "lon", "lat",
            "utm_zone", "easting", "northing"),
    }
    # The wrapper hands its thread the caller's job group, description
    # and tags.  One wrapper per stage: each one clones the local
    # properties, so a stage that sets its own job group does not set
    # it for the others.  With unpinned threads (PYSPARK_PIN_THREAD=
    # false) there is nothing to inherit, and pyspark returns the
    # session itself.
    with ThreadPoolExecutor(max_workers=len(outputs)) as pool:
        futures = []
        for name, build in outputs.items():
            wrap = inheritable_thread_target(spark)
            target = cp.stage if wrap is spark else wrap(cp.stage)
            futures.append(pool.submit(target, name, build))
    # every stage has finished; the first failure raises
    for f in futures:
        f.result()

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
