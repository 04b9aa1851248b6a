"""End-to-end flagship job: stage checkpointing, resume, lineage,
oracle parity of the aggregates and the shape of the stage plans."""

import json
import os
import re
import subprocess

import duckdb
import numpy as np
import pytest

from proj_4_spark import queries as Q
from proj_4_spark.index import s2
from proj_4_spark.jobs import tiling_job
from proj_4_spark.plans import oracles as O
from proj_4_spark.plans.checkpoint import CheckpointedPipeline

STAGES = ("mined", "projected", "encoded", "tile_assignments",
          "polygon_counts", "cell_counts")


def test_tiling_job_end_to_end_and_resume(spark, sf_dir, tmp_path):
    out = str(tmp_path / "job")
    summary = tiling_job.run(spark, sf_dir, out)
    assert summary["rows"]["mined"] == 500
    assert summary["rows"]["tile_assignments"] > 0
    stages = {m["stage"] for m in summary["stages"]}
    assert set(STAGES) <= stages
    # lineage metrics recorded per stage
    for m in summary["stages"]:
        assert m["rows"] >= 0 and m["wall_s"] >= 0 and m["partitions"] >= 1
    # the summary's row counts are the checkpoint layer's, and they are
    # the row counts of the written parquet
    assert set(summary["rows"]) == stages
    for st, n in summary["rows"].items():
        assert spark.read.parquet(os.path.join(out, st)).count() == n, st

    # resume: markers exist, a second run recomputes nothing (wall
    # times unchanged in the metrics files — they are only written on
    # actual computation)
    mtimes = {}
    for st in stages:
        p = os.path.join(out, "_metrics", f"{st}.json")
        mtimes[st] = os.path.getmtime(p)
    summary2 = tiling_job.run(spark, sf_dir, out)
    assert summary2["rows"] == summary["rows"]
    for st in stages:
        p = os.path.join(out, "_metrics", f"{st}.json")
        assert os.path.getmtime(p) == mtimes[st], f"stage {st} recomputed"


def test_tiling_job_partial_resume(spark, sf_dir, tmp_path):
    """Kill-after-stage-2 simulation: delete the marker of a later
    stage; only that stage (and nothing earlier) recomputes."""
    out = str(tmp_path / "job2")
    tiling_job.run(spark, sf_dir, out)
    # invalidate the tile_assignments checkpoint
    marker = os.path.join(out, "tile_assignments", "_GRAFT_DONE")
    os.remove(marker)
    m_before = os.path.getmtime(os.path.join(out, "_metrics", "mined.json"))
    summary = tiling_job.run(spark, sf_dir, out)
    assert os.path.exists(marker)
    assert summary["rows"]["tile_assignments"] > 0
    m_after = os.path.getmtime(os.path.join(out, "_metrics", "mined.json"))
    assert m_before == m_after  # early stages untouched


@pytest.fixture(scope="module")
def job(spark, sf_dir, tmp_path_factory):
    """One fresh run that also keeps the DataFrame each stage wrote."""
    out = str(tmp_path_factory.mktemp("job3"))
    built = {}
    orig = CheckpointedPipeline.stage

    def spy(cp, name, build, partition_by=None):
        return orig(cp, name, lambda: built.setdefault(name, build()),
                    partition_by)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(CheckpointedPipeline, "stage", spy)
        tiling_job.run(spark, sf_dir, out)
    return out, built


def _oracle_on_mined(sql, out):
    """Run a registered oracle over the job's own mined coordinates
    (the miner parses the '%.6f' text, so these are rounded)."""
    cte = O.coords_cte()
    assert cte in sql
    mined = f"SELECT doc_id, lon, lat FROM read_parquet('{out}/mined/*.parquet')"
    return duckdb.sql(sql.replace(cte, mined)).fetchall()


def _job_rows(out, stage, cols):
    return duckdb.sql(f"SELECT {cols} FROM "
                      f"read_parquet('{out}/{stage}/*.parquet')").fetchall()


def test_tiling_job_polygon_counts_match_oracle(job):
    out, _ = job
    want = _oracle_on_mined(Q.oracle_sql()["pip_polygon_counts"], out)
    got = _job_rows(out, "polygon_counts", "polygon_id, n_docs")
    assert want and sorted(got) == sorted(want)


def test_tiling_job_cell_counts_match_oracle(job):
    out, _ = job
    level = tiling_job.COVER_LEVEL
    want = _oracle_on_mined(
        f"WITH fij AS ({O.s2_face_ij_sql(level)}) "
        "SELECT face, i, j, count(*) FROM fij GROUP BY face, i, j", out)
    cell8, n = zip(*_job_rows(out, "cell_counts", "cell8, n_mentions"))
    face, i, j = s2.to_face_ij(np.array(cell8, dtype=np.int64))
    shift = s2.MAX_LEVEL - level
    got = zip(face.tolist(), (i >> shift).tolist(), (j >> shift).tolist(), n)
    assert want and sorted(got) == sorted(want)


def test_tiling_job_one_s2_crossing_per_point(job):
    """Each point crosses into Python once: `encoded` evaluates the S2,
    UTM and PIP UDFs in one ArrowEvalPython node.  Every later stage is
    Catalyst over checkpoints (the roll-up is a Catalyst parent, the
    tile assignments an explode of `encoded`'s polygon ids), so none
    has a Python UDF."""
    _, built = job

    def udf_nodes(stage):
        plan = built[stage]._jdf.queryExecution().optimizedPlan().toString()
        return [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]

    (enc,) = udf_nodes("encoded")
    assert len(set(re.findall(r"pythonUDF\d+", enc))) == 3, enc
    for stage in ("tile_assignments", "projected", "cell_counts",
                  "polygon_counts"):
        assert udf_nodes(stage) == [], stage


def test_tiling_job_projected_matches_utm_kernel(job):
    """`projected` is bit-identical to the UTM UDF's function applied
    to the mined lon/lat."""
    from proj_4_spark.functions.geo import utm_all_zones_udf

    out, _ = job
    keys = "url, doc_id, mention_idx, lon, lat"
    want = duckdb.sql(
        f"SELECT {keys} FROM read_parquet('{out}/mined/*.parquet')").df()
    utm = utm_all_zones_udf(approx=True).func(want["lon"], want["lat"])
    for col, f, dt in (("utm_zone", "zone", np.int32),
                       ("easting", "easting", np.float64),
                       ("northing", "northing", np.float64)):
        want[col] = utm.field(f).to_numpy(zero_copy_only=False).astype(dt)
    con = duckdb.connect()
    con.register("want", want)
    got = (f"SELECT {keys}, utm_zone, easting, northing "
           f"FROM read_parquet('{out}/projected/*.parquet')")
    n_got, n_diff = con.sql(
        f"SELECT (SELECT count(*) FROM ({got})), "
        f"(SELECT count(*) FROM (({got}) EXCEPT ALL (FROM want))) "
        f"+ (SELECT count(*) FROM ((FROM want) EXCEPT ALL ({got})))"
    ).fetchone()
    assert n_got == len(want) > 0 and n_diff == 0


@pytest.mark.parametrize("failing", ["projected", "tile_assignments"])
def test_tiling_job_output_stage_failure_raises_and_resumes(
        spark, sf_dir, tmp_path, monkeypatch, job, failing):
    """A failing output stage fails the run after the other three
    outputs are written and marked; the rerun recomputes that stage
    alone."""
    orig = CheckpointedPipeline.stage

    def stage(cp, name, build, partition_by=None):
        if name == failing:
            def build():
                raise RuntimeError(f"{name} down")
        return orig(cp, name, build, partition_by)

    out = str(tmp_path / "job4")
    monkeypatch.setattr(CheckpointedPipeline, "stage", stage)
    with pytest.raises(RuntimeError, match=f"{failing} down"):
        tiling_job.run(spark, sf_dir, out)
    monkeypatch.undo()

    done = {st: os.path.exists(os.path.join(out, st, "_GRAFT_DONE"))
            for st in STAGES}
    assert not done.pop(failing)
    assert all(done.values()), done
    mtimes = {st: os.path.getmtime(os.path.join(out, "_metrics", f"{st}.json"))
              for st in done}

    summary = tiling_job.run(spark, sf_dir, out)
    assert os.path.exists(os.path.join(out, failing, "_GRAFT_DONE"))
    for st, t in mtimes.items():
        assert os.path.getmtime(
            os.path.join(out, "_metrics", f"{st}.json")) == t, st
    clean = CheckpointedPipeline(spark, job[0]).metrics()
    assert summary["rows"] == {m["stage"]: m["rows"] for m in clean}


def test_tiling_job_utm_failure_fails_encoded(spark, sf_dir, tmp_path,
                                              monkeypatch):
    """UTM runs in `encoded` on the caller's thread: a broken UTM UDF
    fails the run and leaves `encoded` without its completion marker."""
    from proj_4_spark.functions import geo

    def broken(*a, **k):
        raise RuntimeError("utm down")

    out = str(tmp_path / "job7")
    monkeypatch.setattr(geo, "utm_all_zones_udf", broken)
    with pytest.raises(RuntimeError, match="utm down"):
        tiling_job.run(spark, sf_dir, out)
    assert os.path.exists(os.path.join(out, "mined", "_GRAFT_DONE"))
    assert not os.path.exists(os.path.join(out, "encoded", "_GRAFT_DONE"))


def test_tiling_job_side_jobs_inherit_job_group(spark, sf_dir, tmp_path):
    """The pool-thread stages run under the caller's job group: no job
    that `run` starts is left without one."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("tiling-g", "tiling job under a caller's group")
    try:
        tiling_job.run(spark, sf_dir, str(tmp_path / "job5"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    # one write job per stage at least, the pool stages' included
    assert len(tracker.getJobIdsForGroup("tiling-g")) >= 6
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped


def test_tiling_job_unpinned_threads(spark, sf_dir, tmp_path, monkeypatch,
                                     job):
    """Without pinned threads pyspark's `inheritable_thread_target`
    returns the session it was given; the pool stages still run."""
    monkeypatch.setattr(tiling_job, "inheritable_thread_target",
                        lambda session: session)
    summary = tiling_job.run(spark, sf_dir, str(tmp_path / "job6"))
    clean = CheckpointedPipeline(spark, job[0]).metrics()
    assert summary["rows"] == {m["stage"]: m["rows"] for m in clean}


def test_tiling_job_mined_fans_out_encoded_does_not(spark, job):
    """`mined` (synthesis + regex miner, Catalyst only) runs in one task
    per core; `encoded` reads it coalesced to one partition, so its
    Python UDFs run in one task and one worker."""
    out, _ = job
    with open(os.path.join(out, "_metrics", "mined.json")) as f:
        mined = json.load(f)
    assert mined["partitions"] == spark.sparkContext.defaultParallelism > 1
    parts = [f for f in os.listdir(os.path.join(out, "encoded"))
             if f.startswith("part-")]
    assert len(parts) == 1, parts


def test_tiling_job_stages_read_only_their_inputs(job):
    """`encoded` scans only the mined checkpoint, and each of the four
    outputs scans only the encoded one."""
    out, built = job
    reads = {st: ("mined" if st == "encoded" else "encoded")
             for st in STAGES if st != "mined"}
    for st, src in reads.items():
        files = built[st].inputFiles()
        prefix = "file://" + os.path.join(os.path.abspath(out), src) + "/"
        assert files and all(f.startswith(prefix) for f in files), (st, files)


def test_tiling_job_spark_submit_matches_in_process(sf_dir, tmp_path, job):
    """scripts/run_tiling_job.sh (spark-submit --py-files) exits 0 and
    writes the aggregates of the in-process run."""
    out = str(tmp_path / "submit")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        ["bash", os.path.join(repo, "scripts", "run_tiling_job.sh"),
         "local[2]", sf_dir, out],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    for stage, cols in (("polygon_counts", "polygon_id, n_docs"),
                        ("cell_counts", "cell8, n_mentions")):
        want = sorted(_job_rows(job[0], stage, cols))
        assert want and sorted(_job_rows(out, stage, cols)) == want, stage
