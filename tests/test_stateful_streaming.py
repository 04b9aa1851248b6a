"""applyInPandasWithState operator: final state equals batch totals."""

import shutil

from pyspark.sql import functions as F


def test_user_running_totals(spark, sf_dir, tmp_path):
    from proj_4_spark.streaming.stateful import run_to_memory

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-0.parquet")
    spark.conf.set("spark.sql.streaming.checkpointLocation",
                   str(tmp_path / "ck"))
    out = run_to_memory(spark, str(events_dir), name="t_user_totals")
    # update-mode sink may hold several versions per user; the LAST
    # update per user is the running total == batch aggregate
    final = (out.groupBy("user_id")
                .agg(F.max("n_events").alias("n_events"),
                     F.max("sum_value").alias("sum_value")))
    batch = (spark.read.parquet(f"{sf_dir}/events.parquet")
             .groupBy("user_id")
             .agg(F.count("*").alias("n_events"),
                  F.round(F.sum("value"), 4).alias("sum_value")))
    got = {r["user_id"]: (r["n_events"], r["sum_value"])
           for r in final.collect()}
    exp = {r["user_id"]: (r["n_events"], r["sum_value"])
           for r in batch.collect()}
    assert got == exp


def test_drain_timeout_raises_and_stops(spark, sf_dir, tmp_path, monkeypatch):
    """A drain that does not finish in time stops its query and raises,
    instead of returning the partial memory table."""
    import pytest

    from proj_4_spark.streaming import drain, events

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-0.parquet")
    spark.conf.set("spark.sql.streaming.checkpointLocation",
                   str(tmp_path / "ck"))
    monkeypatch.setattr(drain, "TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError):
        events.run_to_memory(spark, str(events_dir), name="t_drain_timeout")
    assert spark.streams.active == []
