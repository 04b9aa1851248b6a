"""Unit tests for engine operators: salting, checkpoint/resume,
streaming batch-parity, multimodal plumbing, knn variants."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from proj_4_spark.plans.checkpoint import CheckpointedPipeline
from proj_4_spark.plans.salting import salted_agg
from proj_4_spark.sources.coords import coords_df
from proj_4_spark.functions.geo import s2_cell_udf


def test_salted_agg_matches_plain(spark, sf_dir):
    df = coords_df(spark, sf_dir)
    cell = s2_cell_udf(6)(F.col("lon"), F.col("lat")).alias("cell")
    pts = df.select("doc_id", cell)
    plain = {(r["cell"]): r["n"] for r in
             pts.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    salted = {(r["cell"]): r["n"] for r in
              salted_agg(pts, ["cell"], "doc_id", n_salt=8).collect()}
    assert plain == salted
    # the Zipf head of sources/coords.py: the top level-6 cell (Tokyo
    # CBD) holds ~26% of the points
    assert max(plain.values()) >= 0.05 * sum(plain.values())


def test_checkpoint_resume(spark, sf_dir, tmp_path):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return coords_df(spark, sf_dir).limit(50)

    cp = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    a = cp.stage("coords50", build)
    assert a.count() == 50 and calls["n"] == 1
    b = cp.stage("coords50", build)  # resume: no recompute
    assert b.count() == 50 and calls["n"] == 1
    m = cp.metrics()
    assert m and m[0]["stage"] == "coords50" and m[0]["rows"] == 50


def test_checkpoint_stage_is_one_job(spark, tmp_path):
    """The write is the stage's only Spark job: rows are observed during
    it and the read-back needs no footer-inference or count job."""
    cp = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    sc = spark.sparkContext
    sc.setJobGroup("test_checkpoint.narrow", "test_checkpoint.narrow")
    try:
        out = cp.stage("narrow", lambda: spark.range(1000))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test_checkpoint.narrow")
    assert len(jobs) == 1, jobs
    m = cp.metrics()[0]
    assert m["rows"] == 1000 and m["partitions"] >= 1
    assert set(m) == {"stage", "rows", "wall_s", "partitions", "ts"}
    with open(tmp_path / "ckpt" / "narrow" / "_GRAFT_DONE") as f:
        assert f.read() == '{"rows": 1000}'
    assert out.count() == 1000


def test_checkpoint_empty_stages(spark, tmp_path):
    """A 0-partition input and a filter-to-empty frame both finish with
    rows == 0 and at least one written file."""
    cp = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    no_parts = spark.createDataFrame(spark.sparkContext.emptyRDD(),
                                     "a long, b string")
    assert no_parts.rdd.getNumPartitions() == 0
    a = cp.stage("no_partitions", lambda: no_parts)
    b = cp.stage("filtered_empty", lambda: spark.range(100).where("id < 0"))
    m = {r["stage"]: r for r in cp.metrics()}
    for st in ("no_partitions", "filtered_empty"):
        assert m[st]["rows"] == 0 and m[st]["partitions"] >= 1, m[st]
    assert a.count() == 0 and b.count() == 0
    assert a.columns == ["a", "b"]


def test_checkpoint_readback_schema_is_inferred_schema(spark, tmp_path):
    """The schema-known read-back equals a plain footer-inferring read:
    nullable fields, and partition columns last with their inferred
    type."""
    cp = CheckpointedPipeline(spark, str(tmp_path / "ckpt"))
    rng = spark.range(1000)
    agg = cp.stage("agg", lambda: rng.groupBy((F.col("id") % 7).alias("k"))
                   .agg(F.count("*").alias("n")))
    parted = cp.stage(
        "parted",
        lambda: rng.select((F.col("id") % 3).alias("k"), "id",
                           F.lit("x").alias("s"),
                           (F.col("id") % 2 == 0).alias("even")),
        ["s", "k"])
    for name, df in (("agg", agg), ("parted", parted)):
        inferred = spark.read.parquet(str(tmp_path / "ckpt" / name)).schema
        assert df.schema == inferred, (name, df.schema, inferred)
    assert parted.columns == ["id", "even", "s", "k"]
    assert sorted(parted.collect()) == sorted(
        spark.read.parquet(str(tmp_path / "ckpt" / "parted")).collect())
    # part files are counted in the partition directories too
    m = {r["stage"]: r for r in cp.metrics()}
    assert m["parted"]["partitions"] >= 3 and m["parted"]["rows"] == 1000


def test_streaming_matches_batch(spark, sf_dir, tmp_path):
    from proj_4_spark.streaming.events import run_to_memory
    from proj_4_spark import queries as Q

    import shutil

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-0.parquet")
    spark.conf.set("spark.sql.streaming.checkpointLocation",
                   str(tmp_path / "sck"))
    stream = run_to_memory(spark, str(events_dir), name="t_hourly")
    batch = Q.queries()["events_hourly"](spark, sf_dir)
    s = {tuple(r) for r in stream.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_multimodal_frame_sample(spark, sf_dir):
    from proj_4_spark.operators.multimodal import frame_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    blobs = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    frames = frame_sample(blobs, every_n=4)
    rows = frames.collect()
    assert len(rows) == 20  # 5 docs x 4 frames
    assert all(isinstance(r["frame_bytes"], (bytes, bytearray)) for r in rows)


def test_multimodal_decode_probe_both_ways(monkeypatch):
    """extract_meta's codec probe: the stub path and a fake-PIL path
    must agree on non-image payloads, and a decodable payload must get
    its TRUE dimensions when the imaging stack is present (VERDICT r04
    ask #10 — runtime probe, not a hard dependency)."""
    import sys
    import types

    from proj_4_spark.operators import multimodal as MM

    payload = b"not an image at all"
    assert MM._pil_image_module() is None or True  # probe never raises
    stub = MM._decode_stub(payload)
    assert MM._decode_dims(payload, None) == stub

    class _FakeImage:
        width, height = 320, 200

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    class _FakeImageMod:
        @staticmethod
        def open(fp):
            if fp.read(4) == b"IMG!":
                return _FakeImage()
            raise OSError("cannot identify image file")

    # undecodable payload falls back to the stub even "with PIL"
    assert MM._decode_dims(payload, _FakeImageMod) == stub
    # decodable payload reports true dims
    assert MM._decode_dims(b"IMG!....", _FakeImageMod) == (320, 200)

    # and the probe picks up an installed PIL
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = _FakeImageMod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", _FakeImageMod)
    assert MM._pil_image_module() is _FakeImageMod


def test_knn_cell_pruned_exact(spark, sf_dir):
    """The widening-ring pruned kNN equals brute force exactly."""
    from proj_4_spark.operators.knn import knn_broadcast, knn_cell_pruned
    from proj_4_spark.sources.coords import CITIES

    pts = coords_df(spark, sf_dir)
    qs = spark.createDataFrame(
        [(i, c[1] + 0.05, c[2] - 0.05) for i, c in enumerate(CITIES[:5])],
        "query_id long, q_lon double, q_lat double")
    exact = knn_broadcast(pts, qs, k=3).collect()
    pruned = knn_cell_pruned(pts, qs, k=3).collect()
    ex = {(r["query_id"], r["rank"]): r["doc_id"] for r in exact}
    pr = {(r["query_id"], r["rank"]): r["doc_id"] for r in pruned}
    assert ex == pr


def test_knn_ring_boundary_query(spark):
    """A query on a cell corner whose true neighbors all sit in
    adjacent cells: single-cell pruning provably returns the wrong
    set; the ring search matches brute force."""
    from proj_4_spark.operators.knn import knn_broadcast, knn_cell_pruned

    # grid_deg=2 -> cell boundaries at even lon/lat (offset by 180/90)
    pts_rows = [(1, -0.05, 0.5), (2, -0.10, 0.5), (3, -0.15, 0.5),
                (4, 1.9, 1.9), (5, 1.8, 1.8)]  # 4,5 in the query cell
    pts = spark.createDataFrame(pts_rows, "doc_id long, lon double, lat double")
    qs = spark.createDataFrame([(0, 0.01, 0.5)],
                               "query_id long, q_lon double, q_lat double")
    exact = knn_broadcast(pts, qs, k=3).collect()
    pruned = knn_cell_pruned(pts, qs, k=3).collect()
    ex = {(r["query_id"], r["rank"]): r["doc_id"] for r in exact}
    pr = {(r["query_id"], r["rank"]): r["doc_id"] for r in pruned}
    assert ex == pr == {(0, 1): 1, (0, 2): 2, (0, 3): 3}


def test_lsh_hot_bucket_capped(spark):
    """A boilerplate bucket above max_bucket contributes no pairs; the
    remaining near-dup group is still found."""
    from proj_4_spark.operators.dedup import lsh_candidate_pairs

    boiler = "cookie banner accept all cookies to continue to this site"
    near_a = "the quick brown fox jumps over the lazy dog tonight"
    near_b = "the quick brown fox jumps over the lazy dog today"
    rows = [(i, boiler) for i in range(20)]
    rows += [(100, near_a), (101, near_b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = lsh_candidate_pairs(docs, max_bucket=10)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    # every boilerplate bucket has 20 > 10 members -> dropped entirely
    assert all(a >= 100 for a, b in got), got
    assert (100, 101) in got
    uncapped = lsh_candidate_pairs(docs, max_bucket=1000)
    n_uncapped = uncapped.count()
    assert n_uncapped >= 20 * 19 // 2  # boilerplate pairs present


def test_ivf_recall_vs_exact(spark, sf_dir):
    """IVF with a kmeans-trained codebook: recall@5 vs the exact
    brute-force baseline on the embeddings table."""
    from proj_4_spark.operators.similarity import (cosine_topk,
                                                   ivf_topk,
                                                   kmeans_centroids)

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = list(range(8))
    exact = cosine_topk(e, qids, 5).collect()
    C = kmeans_centroids(e, n_centroids=8, sample_n=512)
    approx = ivf_topk(e, qids, 5, centroids=C).collect()
    ex = {(r["query_id"], r["vec_id"]) for r in exact}
    ap = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.5, recall  # nprobe=4 of 8 lists


def test_neardup_hot_bucket_capped(spark):
    """A hot LSH bucket (many near-identical embeddings) above
    max_bucket contributes no pairs; a small distinct near-dup group
    elsewhere is still found."""
    import numpy as np

    from proj_4_spark.operators.similarity import neardup_pairs

    rng = np.random.RandomState(0)
    base = rng.standard_normal(64)
    other = rng.standard_normal(64)
    rows = [(i, (base + 1e-3 * rng.standard_normal(64)).tolist())
            for i in range(30)]
    rows += [(100, other.tolist()),
             (101, (other + 1e-3 * rng.standard_normal(64)).tolist())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = neardup_pairs(df, threshold=0.9, max_bucket=10)
    got = {(r["vec_a"], r["vec_b"]) for r in capped.collect()}
    assert all(a >= 100 for a, _ in got), got
    assert (100, 101) in got
    uncapped = neardup_pairs(df, threshold=0.9, max_bucket=1000)
    assert uncapped.count() >= 30 * 29 // 2


def _neardup_pairs(spark, sf_dir, monkeypatch):
    from proj_4_spark.operators.similarity import neardup_pairs

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return neardup_pairs(e, threshold=0.6)


def _lsh_candidate_pairs(spark, sf_dir, monkeypatch):
    from proj_4_spark.operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _knn_last_ring(spark, sf_dir, monkeypatch):
    """kNN asking for more neighbors than there are points: no ring
    passes the exactness check, so the search returns at its last ring
    (ring 3 on a 90-degree grid)."""
    from proj_4_spark.operators import knn

    monkeypatch.setattr(knn, "GRID_DEG", 90.0)
    pts = spark.createDataFrame([(1, 0.5, 0.5), (2, 100.0, -40.0)],
                                "doc_id long, lon double, lat double")
    qs = spark.createDataFrame([(0, 0.0, 0.0)],
                               "query_id long, q_lon double, q_lat double")
    got = knn.knn_cell_pruned(pts, qs, k=5)
    assert [r["doc_id"] for r in got.orderBy("rank").collect()] == [1, 2]
    return got


@pytest.mark.parametrize(
    "op", [_neardup_pairs, _lsh_candidate_pairs, _knn_last_ring],
    ids=["neardup_pairs", "lsh_candidate_pairs", "knn_cell_pruned"])
def test_operator_caches_nothing(spark, sf_dir, monkeypatch, op):
    """A call pins no cached copy of its input: Spark's cache manager
    is as empty after the result is collected as before."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    op(spark, sf_dir, monkeypatch).collect()
    assert cache.isEmpty()


def test_vector_math_and_dms_miner_plans_have_no_python_node(spark, sf_dir):
    """Cosine top-k, near-dup verification, IVF assignment + cosine and
    the DMS miner are Catalyst expressions: no Python node in their
    optimized plans."""
    from proj_4_spark.operators.similarity import (cosine_topk, hyperplanes,
                                                   ivf_topk, neardup_pairs)
    from proj_4_spark.sources.pages import mine_coords_dms

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pages = spark.createDataFrame([("u", "48°51'24.5\"N 2°21'03\"E")],
                                  "url string, text string")
    plans = {
        "cosine_topk": cosine_topk(e, [0, 1], 5),
        "neardup_pairs": neardup_pairs(e, threshold=0.6),
        "ivf_topk": ivf_topk(e, [0, 1], 5,
                             centroids=hyperplanes(n=16, seed=7)),
        "mine_coords_dms": mine_coords_dms(pages),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert node not in plan, (name, plan)
