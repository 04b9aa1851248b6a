"""Tracing for the per-layer run: spans, counters, Spark stage metrics.

Spans and counters are recorded from the benchmark's own files, around
the calls it makes into each layer; nothing inside the engine is
instrumented.  Spans stay in memory and are written once, at the end
of the run.  Spark stage metrics come from the driver's status REST
API (the UI is enabled only in the traced run) and are attributed to
a span through Spark job groups.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager

import numpy as np

from . import host

# per-layer metric -> the end-to-end metric (and workloads) it should move
LAYER_TARGETS = {
    "sources.mine_coords.self_s": ("docs_per_s", ["pages_tiling"]),
    "sources.mine_coords.text_bytes_per_s": ("docs_per_s", ["pages_tiling"]),
    "sources.mine_coords.mentions": ("docs_per_s", ["pages_tiling"]),
    "functions.utm_all_zones_udf.self_s": ("docs_per_s", ["pages_tiling"]),
    "functions.s2_cell_udf.self_s": ("docs_per_s",
                                     ["coords_join", "pages_tiling"]),
    "index.s2.cell_id.pts_per_s": ("docs_per_s", ["coords_join"]),
    "kernels.tmerc.fwd.pts_per_s": ("docs_per_s", ["pages_tiling"]),
    "operators.spatial_join.ray_cast.pts_per_s": ("docs_per_s",
                                                  ["coords_join"]),
    "operators.pip_join.self_s": ("docs_per_s", ["coords_join"]),
    "operators.pip_join.candidates": ("docs_per_s", ["coords_join"]),
    "operators.pip_join.matches": ("docs_per_s", ["coords_join"]),
    "operators.pip_join.match_ratio": ("docs_per_s", ["coords_join"]),
    "operators.pip_join.cover_build_s": ("docs_per_s", ["coords_join"]),
    "plans.checkpoint.bytes_written": ("docs_per_s", ["pages_tiling"]),
    "plans.checkpoint.write_amp": ("docs_per_s", ["pages_tiling"]),
    "plans.checkpoint.resume_s": ("docs_per_s", ["pages_tiling"]),
    "plans.salting.task_skew": ("docs_per_s", ["pages_tiling"]),
    # the point-query workload this targets is not built yet (its
    # figures did not hold steady), so no listed workload moves with it
    "crs.compile_crs.calls_per_s": ("none", []),
}
for _m in ("cpu_util", "shuffle_write_bytes", "spill_bytes", "gc_s", "jobs"):
    LAYER_TARGETS[f"spark.{_m}"] = ("headline", ["pages_tiling", "coords_join"])
CHECKPOINT_STAGES = ("mined", "projected", "encoded", "tile_assignments",
                     "polygon_counts", "cell_counts")
for _s in CHECKPOINT_STAGES:
    LAYER_TARGETS[f"plans.checkpoint.{_s}.wall_s"] = ("docs_per_s",
                                                      ["pages_tiling"])
# the tracing overhead moves no end-to-end metric: it is the price of
# the traced run itself
LAYER_TARGETS["trace.overhead_s"] = ("none", [])
# headline metric of each workload (what "headline" above refers to)
HEADLINE = {"pages_tiling": "docs_per_s", "coords_join": "docs_per_s"}


class Tracer:
    """In-memory spans (name, start, end, parent)."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, sid: int) -> float:
        """Span duration minus the time its direct children cover."""
        s = self.spans[sid]
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == sid)
        return (s["end"] - s["start"]) - kids

    def dump(self, path: str, counters: dict) -> None:
        """Write the spans and the run's counters, once, at the end."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0,
                      self_s=self.self_time(s["id"])) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": spans,
                       "counters": counters}, f, indent=1)


@contextmanager
def job_group(spark, group: str):
    """Tag every Spark job started inside the block with ``group``."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    prev_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        if prev is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev_desc or prev)


def noop(df) -> None:
    """Materialise a plan without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


class SparkRest:
    """Stage and executor metrics from the driver's status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = (f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read().decode())

    def jobs(self, groups: list[str], timeout: float = 30.0) -> list[dict]:
        """Finished jobs of ``groups``; waits for the UI listener to
        catch up with the status tracker."""
        tracker = self.sc.statusTracker()
        want = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        deadline = time.monotonic() + timeout
        while True:
            got = [j for j in self._get("/jobs") if j["jobId"] in want]
            done = [j for j in got if j["status"] != "RUNNING"]
            if len(done) == len(want) or time.monotonic() > deadline:
                return done
            time.sleep(0.2)

    def stages(self, jobs: list[dict]) -> list[dict]:
        ids = {s for j in jobs for s in j.get("stageIds", [])}
        return [s for s in self._get("/stages") if s["stageId"] in ids
                and s["status"] == "COMPLETE"]

    def task_durations(self, stage: dict) -> list[float]:
        tasks = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                          f"/taskList?length=100000")
        return [t["duration"] / 1000.0 for t in tasks if "duration" in t]

    def gc_s(self) -> float:
        return sum(e.get("totalGCTime", 0) for e in self._get("/executors")
                   ) / 1000.0


@contextmanager
def spark_window(spark, rest: SparkRest | None, groups: list[str],
                 out: dict, cores: int):
    """Spark-level metrics of the jobs of ``groups`` run in the block:
    CPU utilisation of the engine's processes, shuffle, spill, GC and
    job count."""
    cpu0 = host.tree_cpu_s()
    gc0 = rest.gc_s() if rest else 0.0
    t0 = time.perf_counter()
    yield
    wall = time.perf_counter() - t0
    cpu = host.tree_cpu_s() - cpu0
    out["spark.cpu_util"] = cpu / (wall * cores) if wall > 0 else 0.0
    tracker = spark.sparkContext.statusTracker()
    out["spark.jobs"] = sum(len(tracker.getJobIdsForGroup(g))
                            for g in groups)
    if rest is None:
        return
    jobs = rest.jobs(groups)
    st = rest.stages(jobs)
    out["spark.shuffle_write_bytes"] = sum(s.get("shuffleWriteBytes", 0)
                                           for s in st)
    out["spark.spill_bytes"] = sum(s.get("memoryBytesSpilled", 0)
                                   + s.get("diskBytesSpilled", 0) for s in st)
    out["spark.gc_s"] = rest.gc_s() - gc0


def task_skew(rest: SparkRest, group: str) -> float:
    """max / median task time of the first shuffle-reading stage of
    ``group`` (the salted partial aggregation)."""
    jobs = rest.jobs([group])
    readers = sorted((s for s in rest.stages(jobs)
                      if s.get("shuffleReadBytes", 0) > 0),
                     key=lambda s: s["stageId"])
    if not readers:
        return 0.0
    d = rest.task_durations(readers[0])
    med = float(np.median(d)) if d else 0.0
    return max(d) / med if med > 0 else 0.0


def rate(fn, n_items: int, min_s: float = 0.3, min_reps: int = 3) -> float:
    """Items per second of ``fn()`` (best of repeated calls)."""
    fn()
    best = float("inf")
    reps = 0
    t_end = time.perf_counter() + min_s
    while reps < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
        reps += 1
    return n_items / best


def kernel_rates(seed: int) -> dict:
    """Single-threaded direct NumPy calls on 64k-point blocks."""
    import pandas as pd

    from proj_4_spark.functions.geo import CHUNK
    from proj_4_spark.index import s2 as s2idx
    from proj_4_spark.kernels import tmerc as k_tmerc
    from proj_4_spark.kernels.ellipsoid import Ellipsoid
    from proj_4_spark.operators.spatial_join import ray_cast_udf
    from proj_4_spark.sources.coords import lonlat_numpy

    from .gen import POLY_RADIUS_KM, POLY_VERTICES, convex_polygons, rng_for

    rng = rng_for("coords_join", seed, stream=7)
    lon, lat = lonlat_numpy(rng.integers(0, 10**9, CHUNK))
    out = {"index.s2.cell_id.pts_per_s": rate(
        lambda: s2idx.cell_id(lon, lat, 12), CHUNK)}

    C = k_tmerc.setup({"approx": True}, Ellipsoid.from_name("GRS80"),
                      0.9996, 0.0)
    zone = np.floor((lon + 180.0) / 6.0) % 60 + 1
    lam = np.radians(lon) - np.radians(zone * 6 - 183)
    phi = np.radians(lat)
    out["kernels.tmerc.fwd.pts_per_s"] = rate(
        lambda: k_tmerc.fwd(lam, phi, C), CHUNK)

    polys = convex_polygons(rng, 64, POLY_RADIUS_KM, POLY_VERTICES)
    pid = pd.Series(rng.integers(0, len(polys), CHUNK))
    inside = ray_cast_udf(polys).func
    sl, sa = pd.Series(lon), pd.Series(lat)
    out["operators.spatial_join.ray_cast.pts_per_s"] = rate(
        lambda: inside(sl, sa, pid), CHUNK)
    return out


def compile_rate(seed: int) -> float:
    """crs.compile_crs calls per second over a seeded code sample."""
    from proj_4_spark.crs import compile_crs, registry_codes

    from .gen import rng_for

    codes = registry_codes()
    pick = rng_for("coords_join", seed, stream=8).choice(len(codes), 400)
    ok = []
    for i in pick:
        try:
            compile_crs(int(codes[i]))
            ok.append(int(codes[i]))
        except (KeyError, ValueError, NotImplementedError):
            pass

    def run():
        for c in ok:
            compile_crs(c)

    return rate(run, len(ok), min_s=0.2, min_reps=2)
