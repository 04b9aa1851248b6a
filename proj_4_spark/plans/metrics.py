"""Pipeline observability: row-count/latency metrics via df.observe
(Spark's native metric channel — no extra jobs).

SURVEY.md §2.5 / M5: row-count/latency metrics written alongside
outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed(df: DataFrame, name: str, *metrics) -> tuple[DataFrame, Observation]:
    """Attach an Observation with count + user metrics; read
    `obs.get` after the first action."""
    obs = Observation(name)
    base = [F.count(F.lit(1)).alias("rows")]
    return df.observe(obs, *base, *metrics), obs
