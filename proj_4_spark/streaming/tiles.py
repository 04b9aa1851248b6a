"""Structured Streaming tile rollup: S2-cell occupancy over a
document/page stream.

The streaming counterpart of queries.q_s2_cell_counts_l8 — the
north-star tiling aggregation as readStream -> Arrow-UDF cell encode
-> groupBy(cell) -> writeStream.  The S2 encode is the same
Arrow-batched UDF the batch path uses (functions/geo.py), so a
production deployment can point the same code at a Kafka/files source
and an Iceberg sink; tests replay the parquet dir with
maxFilesPerTrigger and drain into a memory sink to prove exact
batch/stream parity of tile assignments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo as G
from ..sources.coords import lonlat_sql

DOCS_SCHEMA = ("doc_id long, text string, lang string, "
               "source string, n_chars long")


def cell_counts_stream(spark: SparkSession, docs_dir: str,
                       level: int = 8) -> DataFrame:
    """readStream over the documents parquet dir -> deterministic
    per-doc coordinates -> S2 cell encode -> per-cell counts."""
    src = (spark.readStream.schema(DOCS_SCHEMA)
           .option("maxFilesPerTrigger", 1)
           .parquet(docs_dir))
    lon, lat = lonlat_sql("doc_id")
    pts = src.select("doc_id", F.expr(lon).alias("lon"),
                     F.expr(lat).alias("lat"))
    cell = G.s2_cell_udf(level)(F.col("lon"), F.col("lat")).alias("cell")
    return (pts.withColumn("cell", cell)
               .groupBy("cell")
               .agg(F.count("*").alias("n_docs")))


def run_to_memory(spark: SparkSession, docs_dir: str, level: int = 8,
                  name: str = "cell_counts_stream",
                  timeout_s: float = 120.0) -> DataFrame:
    q = (cell_counts_stream(spark, docs_dir, level)
         .writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(timeout_s)
    q.stop()
    return spark.table(name)
