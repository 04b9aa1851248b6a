"""Explicit skew handling: two-stage aggregation for hot cells.

The page distribution is Zipf over city cells (the top CBD cell holds
~20-26% of all points — sources/coords.py), so a naive
``groupBy(cell)`` puts a quarter of the data in one shuffle
partition.  `salted_agg` appends a salt in [0, n_salt), partially
aggregates on (key, salt), then finally aggregates on key: the first
shuffle spreads the hot key over n_salt reducers; the second handles
only n_salt rows per key.  Skewed joins are left to AQE
(`spark.sql.adaptive.skewJoin.enabled`).

Salts are derived from a hash of a stable id column, not rand(), so
the plan stays deterministic and resumable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def det_salt(id_col: Column, n_salt: int) -> Column:
    """Deterministic salt in [0, n_salt): hash of the stable id."""
    return F.pmod(F.hash(id_col), F.lit(n_salt))


def salted_agg(df: DataFrame, key_cols: list[str], id_col: str,
               n_salt: int = 16,
               count_alias: str = "n") -> DataFrame:
    """Two-stage count aggregation on possibly-skewed keys."""
    salted = df.withColumn("_salt", det_salt(F.col(id_col), n_salt))
    partial = (salted.groupBy(*key_cols, "_salt")
                     .agg(F.count("*").alias("_pc")))
    return (partial.groupBy(*key_cols)
                   .agg(F.sum("_pc").alias(count_alias)))
