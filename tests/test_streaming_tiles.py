"""Streaming S2 tile rollup: exact batch/stream parity of tile
assignments (the north-rule 'matches tile assignments exactly'
requirement, streaming edition)."""


def test_stream_cell_counts_match_batch(spark, sf_dir, tmp_path):
    import shutil

    from proj_4_spark.streaming import tiles

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet",
                docs_dir / "part-0.parquet")
    got = tiles.run_to_memory(spark, str(docs_dir))
    # batch counterpart over the same deterministic coordinates
    from pyspark.sql import functions as F

    from proj_4_spark.functions import geo as G
    from proj_4_spark.sources.coords import lonlat_sql

    lon, lat = lonlat_sql("doc_id")
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", F.expr(lon).alias("lon"),
                 F.expr(lat).alias("lat")))
    cell = G.s2_cell_udf(8)(F.col("lon"), F.col("lat")).alias("cell")
    batch = (d.withColumn("cell", cell).groupBy("cell")
              .agg(F.count("*").alias("n_docs")))
    g = {r["cell"]: r["n_docs"] for r in got.collect()}
    b = {r["cell"]: r["n_docs"] for r in batch.collect()}
    assert g == b and len(g) > 10


def test_stream_gate_query_leaves_no_staging_dir(spark, sf_dir, tmp_path,
                                                 monkeypatch):
    """The streaming gate query stages documents.parquet in a temp dir
    for the file-stream source; it must remove it once drained, and its
    result must still be readable afterwards (the memory sink holds it)."""
    import tempfile

    from proj_4_spark import queries as Q

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = Q.queries()["stream_tile_rollup_batchpar"](spark, sf_dir).collect()
    assert len(rows) > 10
    assert not list(tmp_path.glob("stream_tiles_*"))
