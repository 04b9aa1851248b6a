"""Stage checkpointing + resume.

On a production cluster each stage writes an Iceberg snapshot and the
driver resumes by checking snapshot metadata.  In this sandbox (no
Iceberg catalog jars) the same contract is implemented over parquet
directories with an atomic `_GRAFT_DONE` marker written after a
successful `write`: a stage whose marker exists is skipped on resume
and its output is read back instead of recomputed — the
snapshot-completeness check maps 1:1 onto Iceberg's
`snapshot_id`/`summary` metadata on a real deployment.

Also records per-stage lineage/metrics rows (row counts, wall time,
partition count) in `<root>/_metrics/<stage>.json`.  `wall_s` is the
stage's own wall clock, from build to read-back.  Stages that run at
once (the tiling job's four outputs) overlap in it, so for them it is
not the stage's cost.

A stage that runs is one Spark job: the write.  Its row count is an
`Observation` filled in during that write, `partitions` is the number
of `part-*` files it wrote (at least one, even for an empty result),
and the output is read back with the schema already known, so no
footer-inference or `count()` job follows.  Parquet reads make every
field nullable and list `partition_by` columns last with their type
inferred from the directory names; the read-back passes only the data
columns, so it has the same schema as a plain `spark.read.parquet`.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DONE = "_GRAFT_DONE"


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "_metrics"), exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def is_done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._dir(stage), DONE))

    def stage(self, name: str, build: Callable[[], DataFrame],
              partition_by: list[str] | None = None) -> DataFrame:
        """Run (or resume) one stage: returns the stage output
        DataFrame, reading the checkpoint when already complete."""
        out_dir = self._dir(name)
        if self.is_done(name):
            return self.spark.read.parquet(out_dir)
        t0 = time.perf_counter()
        df = build()
        obs = Observation(f"cp_{name}")
        w = df.observe(obs, F.count(F.lit(1)).alias("rows")) \
            .write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out_dir)
        n = obs.get["rows"]
        data_schema = StructType([f for f in df.schema.fields
                                  if f.name not in (partition_by or ())])
        result = self.spark.read.schema(data_schema).parquet(out_dir)
        wall = time.perf_counter() - t0
        files = glob.glob(os.path.join(glob.escape(out_dir), "**", "part-*"),
                          recursive=True)
        meta = {
            "stage": name,
            "rows": n,
            "wall_s": round(wall, 3),
            "partitions": len(files),
            "ts": time.time(),
        }
        with open(os.path.join(self.root, "_metrics", f"{name}.json"),
                  "w") as f:
            json.dump(meta, f)
        # marker LAST: a crash before this line -> stage reruns cleanly
        with open(os.path.join(out_dir, DONE), "w") as f:
            f.write(json.dumps({"rows": n}))
        return result

    def metrics(self) -> list[dict]:
        mdir = os.path.join(self.root, "_metrics")
        out = []
        for fn in sorted(os.listdir(mdir)):
            if fn.endswith(".json"):
                with open(os.path.join(mdir, fn)) as f:
                    out.append(json.load(f))
        return out
