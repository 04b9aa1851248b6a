"""Drain a finished-input stream into an in-memory table."""

from __future__ import annotations

from pyspark.sql import DataFrame

TIMEOUT_S = 120.0


def drain(stream: DataFrame, name: str, mode: str) -> DataFrame:
    """Run ``stream`` (an `availableNow` trigger) into the memory table
    ``name`` in output ``mode`` and return that table.  A drain still
    running after `TIMEOUT_S` is stopped and raises `TimeoutError`:
    its half-filled table must not pass for the result."""
    q = (stream.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    try:
        done = q.awaitTermination(TIMEOUT_S)
    finally:
        q.stop()
    if not done:
        raise TimeoutError(f"stream {name!r} not drained in {TIMEOUT_S} s")
    return stream.sparkSession.table(name)
