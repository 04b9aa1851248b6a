"""Driver contract for the spark-graft builder (PySpark target).

`entry` runs the flagship query (S2-cell tiling + PIP spatial join);
`queries`/`oracle_sql` expose every implemented operator from
SURVEY.md §2 with its DuckDB oracle (see proj_4_spark/queries.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from proj_4_spark import queries as _Q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-polygon spatial join (one Arrow UDF per point:
    S2 cell-cover lookup + exact ray casting, then an ``explode``) over
    the sf0.001 pages, aggregated per polygon."""
    return _Q.queries()["pip_polygon_counts"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _Q.queries()


def oracle_sql() -> dict[str, str]:
    return _Q.oracle_sql()
