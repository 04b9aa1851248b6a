"""DataFrame-level DGGS set operations over the a7hex index.

`compact` is the H3-compact analogue for the aperture-7 icosahedral
index (index/hexdggs.py — NOT canonical-H3-bit-compatible, hence the
a7hex name): replace a group of child cells sharing a parent with the
parent cell when the group is plausibly the parent's full child set.
Canonical H3 requires exactly the 7 children; aperture-7 approximate
containment (center re-encode) makes the child count per parent vary,
so the rule here is >= FULL_SET (7) distinct observed children —
documented engine semantics, pinned by the a7hex_compact oracle.

Plan shape: one Arrow-batched parent encode, one groupBy(parent) count
(hash agg, map-side combinable), one broadcast-or-shuffle join back —
no driver collect, no per-row Python outside the two chunked kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo as G

FULL_SET = 7  # observed children that compact to their parent


def compact(cells: DataFrame, parent_res: int) -> DataFrame:
    """cells: DataFrame with a distinct a7hex ``cell`` at one
    resolution.  Returns (cell, level) where level is ``parent_res``
    for compacted parents and the child resolution for passthrough
    cells."""
    d = cells.select("cell").distinct()
    child_level = (F.shiftrightunsigned(F.col("cell"), 59)
                   .cast("int"))
    d = d.withColumn(
        "parent", G.a7hex_parent_udf(parent_res)(F.col("cell")))
    grp = (d.groupBy("parent")
            .agg(F.count("*").alias("n_children")))
    joined = d.join(grp, "parent")
    parents = (joined.where(F.col("n_children") >= FULL_SET)
               .select(F.col("parent").alias("cell"))
               .distinct()
               .withColumn("level", F.lit(parent_res)))
    children = (joined.where(F.col("n_children") < FULL_SET)
                .select("cell")
                .withColumn("level", child_level))
    return parents.unionByName(children)
