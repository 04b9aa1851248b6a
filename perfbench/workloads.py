"""The two workloads, driven through the engine's public entry points.

Each workload is used in three steps: attach a fresh SparkSession as
``spark`` and ``warm`` it (both part of set-up), then any number of
timed ``op`` calls, each followed by an untimed ``check`` against the
seed's oracle.  ``traced`` runs the per-layer measurements.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

import pandas as pd

from . import gen, oracle
from .trace import (CHECKPOINT_STAGES, SparkRest, Tracer, job_group, noop,
                    spark_window, task_skew)

PIP_LEVEL = 12        # cover level of the coords_join PIP join


def start_session(work: str, cores: int, ui: bool):
    """local[cores] session with the SQL settings of
    jobs.tiling_job.build_session, all scratch space inside ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    return (SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.driver.memory", "1g")
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir",
                    os.path.join(work, "warehouse"))
            .config("spark.ui.enabled", "true" if ui else "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(2 * cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1048576")
            .getOrCreate())


def _tree_bytes(root: str, pattern: str = "*.parquet") -> int:
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(root, "**", pattern), recursive=True))


class Workload:
    name = ""

    def __init__(self, d: str, work: str, cores: int, size: str, seed: int):
        self.d = d
        self.work = work
        self.cores = cores
        self.size = size
        self.seed = seed
        self.props = gen.load_props(d)
        self.spark = None

    def build_oracle(self) -> dict:
        raise NotImplementedError

    def warm(self) -> None:
        _, res = self.op(-1)
        for err in self.check(res):
            print(f"warm-up pass: {err}", file=sys.stderr)

    def op(self, i: int):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError


# ------------------------------------------------------------ pages_tiling

class PagesTiling(Workload):
    """jobs.tiling_job.run on a generated documents table into a fresh
    output directory: mining, UTM, S2, PIP, salted aggregation and six
    checkpoint writes."""

    name = "pages_tiling"

    def __init__(self, *a):
        super().__init__(*a)
        self.docs_dir = os.path.join(self.d, "docs")
        self.docs = self.props["docs"]
        self.out_root = os.path.join(self.work, "out", self.name)

    def build_oracle(self) -> dict:
        return oracle.build_pages(self.d)

    def _fresh_out(self, name: str) -> str:
        shutil.rmtree(self.out_root, ignore_errors=True)
        out = os.path.join(self.out_root, name)
        os.makedirs(self.out_root, exist_ok=True)
        return out

    def op(self, i: int):
        from proj_4_spark.jobs.tiling_job import run

        out = self._fresh_out(f"run-{i + 1}")
        t0 = time.perf_counter()
        summary = run(self.spark, self.docs_dir, out)
        return time.perf_counter() - t0, (out, summary)

    def check(self, result) -> list[str]:
        out, _ = result
        return oracle.check_pages(self.d, out)

    def traced(self, tr: Tracer, rest: SparkRest,
               m: dict) -> list[list[str]]:
        from pyspark.sql import functions as F
        from pyspark.sql.functions import broadcast

        from proj_4_spark.functions.geo import s2_cell_udf, utm_all_zones_udf
        from proj_4_spark.jobs.tiling_job import run
        from proj_4_spark.operators.spatial_join import (pip_join,
                                                         polygon_cover_df)
        from proj_4_spark.plans.checkpoint import DONE, CheckpointedPipeline
        from proj_4_spark.plans.salting import salted_agg
        from proj_4_spark.sources.pages import mine_coords, synthesize_pages
        from proj_4_spark.sources.polygons import polygon_rows

        spark = self.spark
        checks = []
        # the job itself: one span and one job group per checkpoint stage
        orig = CheckpointedPipeline.stage

        def traced_stage(cp, name, build, partition_by=None):
            with tr.span(f"plans.checkpoint.{name}"), \
                    job_group(spark, f"cp.{name}"):
                return orig(cp, name, build, partition_by)

        out = self._fresh_out("traced")
        groups = ["job"] + [f"cp.{s}" for s in CHECKPOINT_STAGES]
        CheckpointedPipeline.stage = traced_stage
        try:
            with spark_window(spark, rest, groups, m, self.cores), \
                    tr.span("jobs.tiling_job.run") as s, job_group(spark, "job"):
                run(spark, self.docs_dir, out)
        finally:
            CheckpointedPipeline.stage = orig
        m["traced_wall_s"] = s["end"] - s["start"]
        checks.append(oracle.check_pages(self.d, out))
        for st in CHECKPOINT_STAGES:
            with open(os.path.join(out, "_metrics", f"{st}.json")) as f:
                m[f"plans.checkpoint.{st}.wall_s"] = float(
                    json.load(f)["wall_s"])
        written = _tree_bytes(out)
        m["plans.checkpoint.bytes_written"] = written
        m["plans.checkpoint.write_amp"] = written / self.props["input_bytes"]
        m["plans.salting.task_skew"] = task_skew(rest, "cp.polygon_counts")

        # resume probe: drop the markers of the last two stages, re-run
        keep = {st: self._snapshot(out, st)
                for st in ("polygon_counts", "cell_counts")}
        for st in keep:
            os.remove(os.path.join(out, st, DONE))
        with tr.span("plans.checkpoint.resume") as s:
            run(spark, self.docs_dir, out)
        m["plans.checkpoint.resume_s"] = s["end"] - s["start"]
        bad = [f"resume: {st} output changed" for st, before in keep.items()
               if not before.equals(self._snapshot(out, st))]
        checks.append(bad + oracle.check_pages(self.d, out))

        # successive plan prefixes: scan -> mine -> project -> encode ->
        # join -> aggregate; the job run above is the write prefix
        def project(df):
            u = utm_all_zones_udf(approx=True)(F.col("lon"), F.col("lat"))
            return (df.withColumn("_u", u)
                      .select("url", "doc_id", "mention_idx", "lon", "lat",
                              F.col("_u.zone").alias("utm_zone"),
                              F.col("_u.easting").alias("easting"),
                              F.col("_u.northing").alias("northing")))

        scan = synthesize_pages(spark, self.docs_dir)
        mined = mine_coords(scan).select("url", "doc_id", "mention_idx",
                                         "lon", "lat")
        projected = project(mined)
        encoded = projected.withColumn(
            "cell", s2_cell_udf(12)(F.col("lon"), F.col("lat")))
        with tr.span("operators.pip_join.plan"):
            joined = (pip_join(encoded, polygon_rows(), level=8)
                      .select("url", "doc_id", "mention_idx", "cell",
                              "polygon_id"))
        agg = salted_agg(joined, ["polygon_id"], "doc_id", n_salt=16,
                         count_alias="n_docs")
        prefix = prefix_times(spark, tr, [
            ("scan", scan), ("mine", mined), ("project", projected),
            ("encode", encoded), ("join", joined), ("aggregate", agg)])
        m["sources.mine_coords.self_s"] = prefix["mine"] - prefix["scan"]
        m["functions.utm_all_zones_udf.self_s"] = (prefix["project"]
                                                   - prefix["mine"])
        m["functions.s2_cell_udf.self_s"] = (prefix["encode"]
                                             - prefix["project"])
        m["operators.pip_join.self_s"] = prefix["join"] - prefix["encode"]
        m["prefix.write_self_s"] = m["traced_wall_s"] - prefix["aggregate"]
        m["sources.mine_coords.mentions"] = mined.count()
        mine_s = m["sources.mine_coords.self_s"]
        m["sources.mine_coords.text_bytes_per_s"] = (
            self.props["text_bytes"] / mine_s if mine_s > 0 else 0.0)

        with tr.span("operators.pip_join.cover_build") as s:
            cover = polygon_cover_df(spark, polygon_rows(), 8)
        m["operators.pip_join.cover_build_s"] = s["end"] - s["start"]
        cell8 = s2_cell_udf(8)(F.col("lon"), F.col("lat"))
        cand = (mined.withColumn("_c", cell8)
                .join(broadcast(cover), F.col("_c") == F.col("cell")).count())
        m["operators.pip_join.candidates"] = cand
        m["operators.pip_join.matches"] = joined.count()
        return checks

    @staticmethod
    def _snapshot(out: str, stage: str) -> pd.DataFrame:
        import duckdb

        df = duckdb.sql(f"SELECT * FROM read_parquet('{out}/{stage}/*.parquet')"
                        ).df()
        return df.sort_values(list(df.columns)).reset_index(drop=True)


def prefix_times(spark, tr: Tracer, chain: list) -> dict:
    """Wall time of materialising each plan prefix (best of two)."""
    out = {}
    for name, df in chain:
        best = float("inf")
        for rep in range(2):
            with tr.span(f"prefix.{name}", rep=rep) as s, \
                    job_group(spark, f"prefix.{name}"):
                noop(df)
            best = min(best, s["end"] - s["start"])
        out[name] = best
    return out


# ------------------------------------------------------------- coords_join

class CoordsJoin(Workload):
    """Read-only batch over (doc_id, lon, lat): S2 level-12 encode with
    cell aggregation, then pip_join against the seeded polygon set."""

    name = "coords_join"

    def __init__(self, *a):
        super().__init__(*a)
        self.coords_dir = os.path.join(self.d, "coords")
        self.docs = self.props["points"]
        self.polys = gen.load_polygons(os.path.join(self.d, "polygons.json"))

    def build_oracle(self) -> dict:
        return oracle.build_coords(self.d, self.polys, PIP_LEVEL)

    def _plans(self):
        from pyspark.sql import functions as F

        from proj_4_spark.functions.geo import s2_cell_udf
        from proj_4_spark.operators.spatial_join import pip_join

        pts = self.spark.read.parquet(self.coords_dir)
        enc = pts.select(
            s2_cell_udf(PIP_LEVEL)(F.col("lon"), F.col("lat")).alias("cell"))
        cells = enc.groupBy("cell").agg(F.count("*").alias("n"))
        joined = pip_join(pts, self.polys, level=PIP_LEVEL)
        r = F.col("doc_id") % oracle.FP_MOD
        poly = joined.groupBy("polygon_id").agg(
            F.count("*").alias("n"), F.sum("doc_id").alias("s1"),
            F.sum(r * r).alias("s2"))
        return pts, enc, cells, joined, poly

    def op(self, i: int):
        t0 = time.perf_counter()
        _, _, cells, _, poly = self._plans()
        res = (cells.toPandas(), poly.toPandas())
        return time.perf_counter() - t0, res

    def check(self, result) -> list[str]:
        cells, poly = result
        return oracle.check_coords(self.d, cells, poly, PIP_LEVEL)

    def traced(self, tr: Tracer, rest: SparkRest,
               m: dict) -> list[list[str]]:
        from pyspark.sql import functions as F
        from pyspark.sql.functions import broadcast

        from proj_4_spark.functions.geo import s2_cell_udf
        from proj_4_spark.operators.spatial_join import polygon_cover_df

        spark = self.spark
        with spark_window(spark, rest, ["op"], m, self.cores), \
                tr.span("coords_join.op") as s, job_group(spark, "op"):
            res = self.op(0)
        m["traced_wall_s"] = s["end"] - s["start"]
        checks = [self.check(res[1])]
        pts, enc, cells, joined, poly = self._plans()
        prefix = prefix_times(spark, tr, [
            ("scan", pts), ("encode", enc), ("aggregate_cells", cells),
            ("join", joined), ("aggregate_polygons", poly)])
        m["functions.s2_cell_udf.self_s"] = prefix["encode"] - prefix["scan"]
        m["operators.pip_join.self_s"] = prefix["join"] - prefix["scan"]
        with tr.span("operators.pip_join.cover_build") as s:
            cover = polygon_cover_df(spark, self.polys, PIP_LEVEL)
        m["operators.pip_join.cover_build_s"] = s["end"] - s["start"]
        cell = s2_cell_udf(PIP_LEVEL)(F.col("lon"), F.col("lat"))
        m["operators.pip_join.candidates"] = (
            pts.withColumn("_c", cell)
               .join(broadcast(cover), F.col("_c") == F.col("cell")).count())
        m["operators.pip_join.matches"] = joined.count()
        return checks


WORKLOADS = {w.name: w for w in (PagesTiling, CoordsJoin)}
