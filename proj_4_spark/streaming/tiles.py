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
from .drain import drain

DOCS_SCHEMA = ("doc_id long, text string, lang string, "
               "source string, n_chars long")


def cell_counts_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """readStream over the documents parquet dir -> deterministic
    per-doc coordinates -> level-8 S2 cell encode -> per-cell
    counts."""
    src = (spark.readStream.schema(DOCS_SCHEMA)
           .option("maxFilesPerTrigger", 1)
           .parquet(docs_dir))
    lon, lat = lonlat_sql("doc_id")
    pts = src.select("doc_id", F.expr(lon).alias("lon"),
                     F.expr(lat).alias("lat"))
    cell = G.s2_cell_udf(8)(F.col("lon"), F.col("lat")).alias("cell")
    return (pts.withColumn("cell", cell)
               .groupBy("cell")
               .agg(F.count("*").alias("n_docs")))


def run_to_memory(spark: SparkSession, docs_dir: str,
                  name: str = "cell_counts_stream") -> DataFrame:
    return drain(cell_counts_stream(spark, docs_dir), name, "complete")
