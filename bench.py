#!/usr/bin/env python
"""Benchmark harness.

Default: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ...} plus docs/sec extras.

--scaling: runs the flagship tiling+PIP job at local[8] and local[32]
on the same input and reports throughput at both plus the scaling
efficiency  eff = T8/(4*T32)  (the sandbox protocol for the north
rule's N->4N criterion; see BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINE = [
    "s2_cell_counts_l8",      # S2 encode + cell aggregation
    "pip_polygon_counts",     # cell-cover broadcast PIP join
    "utm_snyder_fwd",         # vectorized TM projection
    "webmerc_fwd",            # catalyst+UDF projection
    "knn_top5",               # broadcast kNN window top-k
    "lsh_candidate_pairs",    # MinHash LSH dedup join
    "text_quality",           # catalyst text metrics
    "embed_cosine_top5",      # Catalyst cosine similarity
    "tpch_q1_pricing",        # relational agg baseline
    "ivf_cosine_top5",        # IVF ANN (inverted-list probe)
    "krovak_fwd",             # national-grid projection kernel
]

FLAGSHIP = ["s2_cell_counts_l8", "pip_polygon_counts"]


def _cpu_sample() -> list[int] | None:
    """Aggregate jiffy counters from /proc/stat: user nice sys idle
    iowait irq softirq steal [guest...]."""
    try:
        with open("/proc/stat") as f:
            first = f.readline().split()
        return [int(v) for v in first[1:]]
    except (OSError, ValueError):
        return None


def _loadavg() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None


def host_metrics(start: list[int] | None,
                 load_start: float | None) -> dict:
    """Contention self-documentation (VERDICT r03 What's-wrong #1):
    steal% shows hypervisor preemption, sys%/iowait% show kernel
    thrash, loadavg shows co-tenant pressure — so a slow driver-side
    run is distinguishable from a slow plan in-band."""
    end = _cpu_sample()
    out: dict = {"loadavg_start": load_start, "loadavg_end": _loadavg()}
    if start and end and len(end) >= 8 and len(start) >= 8:
        d = [e - s for e, s in zip(end, start)]
        tot = sum(d[:8]) or 1
        out.update({
            "user_pct": round(100.0 * (d[0] + d[1]) / tot, 2),
            "sys_pct": round(100.0 * d[2] / tot, 2),
            "iowait_pct": round(100.0 * d[4] / tot, 2),
            "steal_pct": round(100.0 * d[7] / tot, 2),
        })
    return out


def make_spark(cpus: int, cap_jvm_procs: bool = False):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{cpus}]")
            .appName("proj4spark-bench"))
    if cap_jvm_procs:
        # the sandbox reports an inconsistent CPU count (nproc 60 vs
        # /proc/cpuinfo 32); an affinity-pinned executor JVM must size
        # its GC/JIT/netty pools for ITS slice or 4 concurrent JVMs
        # thrash in kernel scheduling (measured: sys% 30+, us% 2)
        b = b.config("spark.driver.extraJavaOptions",
                     f"-XX:ActiveProcessorCount={cpus}")
    return (b
            .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1048576")
            .config("spark.driver.memory", os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "16g"))
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def run_queries(spark, sf_dir: str, names: list[str],
                timed_runs: int = 2) -> dict[str, float]:
    """Per-query best-of-N wall times from a WARMED session: every
    query gets one untimed warm pass (JVM/worker/Arrow spin-up, plan
    analysis, codegen JIT) so the timed numbers measure the plan, not
    session startup (r01's first query carried ~13 s of warm-up)."""
    from proj_4_spark import queries as Q

    reg = Q.queries()
    times: dict[str, float] = {}
    for name in names:
        # per-query warm run: plan analysis, codegen/JIT, worker pool
        reg[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(timed_runs):
            t0 = time.perf_counter()
            df = reg[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)
        # some operators persist() intermediates (LSH, near-dup, IVF);
        # drop them so later jobs keep their execution memory
        spark.catalog.clearCache()
    return times


def doc_count(sf_dir: str) -> int:
    import duckdb

    return duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'").fetchone()[0]


def synthetic_coords(spark, n_docs: int, partitions: int):
    """Deterministic pages-scale coordinate table: the exact coords
    derivation of sources/coords.py applied to spark.range — no data
    generation cost beyond the range source (FIXTURES.md bench tier:
    >= 10^6 rows, >= 256 partitions)."""
    from pyspark.sql import functions as F

    from proj_4_spark.sources.coords import lonlat_sql

    lon, lat = lonlat_sql("doc_id")
    return (spark.range(0, n_docs, 1, partitions)
                 .withColumnRenamed("id", "doc_id")
                 .select("doc_id", F.expr(lon).alias("lon"),
                         F.expr(lat).alias("lat")))


def materialize_coords(spark, n_docs: int, partitions: int) -> str:
    """Write the synthetic pages coordinates to parquet once (UNTIMED
    input prep — production jobs read Iceberg/parquet, so the timed
    pipeline starts at a columnar scan)."""
    import os

    path = f"/tmp/bench_pages_{n_docs}_{partitions}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (synthetic_coords(spark, n_docs, partitions)
         .write.mode("overwrite").parquet(path))
    return path


def flagship_pipeline(spark, n_docs: int, partitions: int,
                      input_path: str | None = None):
    """The headline job: scan -> S2 encode (level 12) + cell agg +
    cell-cover broadcast PIP join + per-polygon counts."""
    from pyspark.sql import functions as F

    from proj_4_spark.functions.geo import s2_cell_udf
    from proj_4_spark.operators.spatial_join import pip_join
    from proj_4_spark.sources.polygons import polygon_rows

    if input_path is None:
        pts = synthetic_coords(spark, n_docs, partitions)
    else:
        pts = spark.read.parquet(input_path)
    cell = s2_cell_udf(12)(F.col("lon"), F.col("lat")).alias("cell")
    enc = pts.withColumn("cell", cell)
    agg = enc.groupBy("cell").agg(F.count("*").alias("n"))
    agg.write.format("noop").mode("overwrite").save()
    out = pip_join(pts, polygon_rows(), level=8)
    (out.groupBy("polygon_id").agg(F.count("*").alias("n"))
        .write.format("noop").mode("overwrite").save())


def materialize_pages(spark, n_docs: int, partitions: int) -> str:
    """Write a deterministic pages-shaped table (url, html, text, lang)
    once (UNTIMED input prep).  Text carries a 'located at lat, lon'
    mention so the regex miner has real work; html wraps the text so
    the file has the input_hint shape (column pruning keeps it out of
    the scan)."""
    from pyspark.sql import functions as F

    from proj_4_spark.sources.coords import lonlat_sql

    path = f"/tmp/bench_e2e_pages_{n_docs}_{partitions}"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    lon, lat = lonlat_sql("doc_id")
    base = (spark.range(0, n_docs, 1, partitions)
                 .withColumnRenamed("id", "doc_id"))
    filler = F.concat(
        F.lit("the quick brown fox jumps over the lazy dog near the old "
              "market square where vendors sell maps and charts of the "
              "surrounding region with notes in the margin "),
        F.md5(F.col("doc_id").cast("string")))
    txt = F.concat(filler, F.lit(" located at "),
                   F.format_string("%.6f", F.expr(lat)), F.lit(", "),
                   F.format_string("%.6f", F.expr(lon)))
    (base.select(
        F.concat(F.lit("https://host"), (F.col("doc_id") % 10000)
                 .cast("string"), F.lit(".example/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.concat(F.lit("<html><body>"), txt,
                          F.lit("</body></html>")), "UTF-8").alias("html"),
        txt.alias("text"),
        (F.col("doc_id") % 5).cast("string").alias("lang"))
     .write.mode("overwrite").parquet(path))
    return path


def flagship_e2e_pipeline(spark, input_path: str,
                          persist_mined: bool = True):
    """The full north-star job on a pages table: scan -> vectorized
    regex coordinate mining -> webmerc projection -> S2 encode (l12) +
    cell agg -> cell-cover broadcast PIP join -> per-polygon counts.
    More FLOPs per scanned byte than the coords-only flagship — the
    shape of the actual 10^12-row production pipeline."""
    from pyspark.sql import functions as F

    from proj_4_spark.functions.geo import project_udf, s2_cell_udf
    from proj_4_spark.operators.spatial_join import pip_join
    from proj_4_spark.sources.pages import mine_coords
    from proj_4_spark.sources.polygons import polygon_rows

    from pyspark import StorageLevel

    pages = spark.read.parquet(input_path).select("url", "text")
    # mine ONCE and persist: both downstream aggregates (cell counts +
    # PIP polygon counts) read the mined table, and the regex mining
    # pass dominates the job — at 10^12 rows this materialization is
    # the checkpointed intermediate the production job would reuse
    mined = mine_coords(pages)
    if persist_mined:
        mined = mined.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        st = project_udf("+proj=webmerc")(F.col("lon"), F.col("lat"))
        cell = s2_cell_udf(12)(F.col("lon"), F.col("lat")).alias("cell")
        enc = (mined.withColumn("_p", st)
                    .select("url", "lon", "lat",
                            F.col("_p.x").alias("x"), F.col("_p.y").alias("y"))
                    .withColumn("cell", cell))
        (enc.groupBy("cell").agg(F.count("*").alias("n"))
            .write.format("noop").mode("overwrite").save())
        out = pip_join(mined.withColumn("doc_id", F.xxhash64("url")),
                       polygon_rows(), level=8)
        (out.groupBy("polygon_id").agg(F.count("*").alias("n"))
            .write.format("noop").mode("overwrite").save())
    finally:
        if persist_mined:
            mined.unpersist()


def e2e_seconds(cpus: int, n_docs: int, repeat: int | None = None,
                persist_mined: bool | None = None,
                runs_out: list | None = None) -> float:
    """Best-of-N wall time for the end-to-end pages flagship at one
    thread count (shared input parquet, warmed session).
    SPARK_GRAFT_E2E_PERSIST=0 switches to the mine-twice variant that
    is purely compute-bound (the CPU-scaling probe);
    SPARK_GRAFT_BENCH_REPEAT sets N (default 2).  All raw runs are
    appended to runs_out when given (published in BASELINE.md so the
    run-to-run VM variance is visible alongside the best)."""
    if repeat is None:
        repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2"))
    if persist_mined is None:
        persist_mined = os.environ.get("SPARK_GRAFT_E2E_PERSIST", "1") != "0"
    spark = make_spark(cpus)
    try:
        path = materialize_pages(spark, n_docs, 64)
        flagship_e2e_pipeline(spark, path, persist_mined)  # warm-up
        best = float("inf")
        for _ in range(repeat):
            t0 = time.perf_counter()
            flagship_e2e_pipeline(spark, path, persist_mined)
            dt = time.perf_counter() - t0
            if runs_out is not None:
                runs_out.append(round(dt, 3))
            best = min(best, dt)
        return best
    finally:
        spark.stop()


def flagship_seconds(cpus: int, n_docs: int, repeat: int = 3) -> float:
    """Best-of-N wall time for the flagship tiling+PIP pipeline at
    pages scale.  Partitions fixed at 64 for BOTH cluster sizes so the
    work split is identical: >= 2 full waves at local[32], ~125k
    rows/task so per-task pandas-UDF overhead amortizes (measured:
    4k-row tasks are ~7x slower per row than 60k-row tasks)."""
    spark = make_spark(cpus)
    try:
        path = materialize_coords(spark, n_docs, 64)
        flagship_pipeline(spark, n_docs // 10, 64)  # warm-up (gen path)
        flagship_pipeline(spark, n_docs, 64, path)  # warm-up (scan path)
        best = float("inf")
        for _ in range(repeat):
            t0 = time.perf_counter()
            flagship_pipeline(spark, n_docs, 64, path)
            best = min(best, time.perf_counter() - t0)
        return best
    finally:
        spark.stop()


def worker_run_e2e(cpus: int, n_docs: int, slot: int = 0) -> float:
    """One executor-JVM's end-to-end pages flagship run (pinned)."""
    try:
        os.sched_setaffinity(0, range(slot * cpus, (slot + 1) * cpus))
    except (AttributeError, OSError):
        pass
    spark = make_spark(cpus, cap_jvm_procs=True)
    try:
        path = materialize_pages(spark, n_docs, 64)
        flagship_e2e_pipeline(spark, path)  # warm-up
        t0 = time.perf_counter()
        flagship_e2e_pipeline(spark, path)
        return time.perf_counter() - t0
    finally:
        spark.stop()


def worker_run(cpus: int, n_docs: int, slot: int = 0) -> float:
    """One executor-JVM's flagship run (used by --scaling-multijvm).

    The process (and the JVM + python workers it spawns) is pinned to
    a disjoint `cpus`-core slice — exactly the isolation a cluster
    executor has.  Unpinned, each local JVM sizes its GC/netty/codegen
    pools for ALL cores and 4 concurrent JVMs thrash (measured 10x)."""
    try:
        os.sched_setaffinity(0, range(slot * cpus, (slot + 1) * cpus))
    except (AttributeError, OSError):
        pass
    spark = make_spark(cpus, cap_jvm_procs=True)
    try:
        path = materialize_coords(spark, n_docs, 64)
        flagship_pipeline(spark, n_docs, 64, path)  # warm-up
        t0 = time.perf_counter()
        flagship_pipeline(spark, n_docs, 64, path)
        return time.perf_counter() - t0
    finally:
        spark.stop()


def scaling_multijvm(n_docs: int, cpus_per_exec: int = 8,
                     e2e: bool = False) -> dict:
    """Cluster-faithful N -> 4N executor scaling: each 'executor' is
    its OWN JVM + python workers + memory arena (exactly the resource
    isolation real executors have; threads inside one local JVM share
    a single allocator/IPC substrate and mis-measure executor
    scaling).  Aggregate throughput = executors x docs / wall."""
    import subprocess
    import sys as _sys

    def run_n(n_exec: int) -> float:
        procs = [subprocess.Popen(
            [_sys.executable, __file__,
             "--worker-e2e" if e2e else "--worker",
             str(cpus_per_exec), str(n_docs), str(slot)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            cwd=os.path.dirname(os.path.abspath(__file__)))
            for slot in range(n_exec)]
        t0 = time.perf_counter()
        for p in procs:
            p.wait()
        # wall includes session startup; use the reported inner times
        times = []
        for p in procs:
            out = p.stdout.read().decode()
            for line in out.splitlines():
                if line.startswith("WORKER_SEC "):
                    times.append(float(line.split()[1]))
        return max(times) if times else float("nan")

    t1 = run_n(1)
    t4 = run_n(4)
    return {
        "metric": (("end-to-end mine+project+encode+PIP " if e2e else
                    "flagship ") +
                   f"scaling 1 -> 4 executor JVMs "
                   f"(local[{cpus_per_exec}] each) on deterministic "
                   "synthetic pages"),
        "docs_per_executor": n_docs,
        "t_1exec": round(t1, 3), "t_4exec": round(t4, 3),
        "agg_docs_per_sec_1": round(n_docs / t1, 1),
        "agg_docs_per_sec_4": round(4 * n_docs / t4, 1),
        "scaling_efficiency": round((4 * n_docs / t4) / (4 * n_docs / t1), 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpu0, load0 = _cpu_sample(), _loadavg()

    if "--worker" in sys.argv or "--worker-e2e" in sys.argv:
        e2e = "--worker-e2e" in sys.argv
        i = sys.argv.index("--worker-e2e" if e2e else "--worker")
        cpus_w = int(sys.argv[i + 1])
        docs_w = int(sys.argv[i + 2])
        slot = int(sys.argv[i + 3]) if len(sys.argv) > i + 3 else 0
        fn = worker_run_e2e if e2e else worker_run
        print(f"WORKER_SEC {fn(cpus_w, docs_w, slot):.3f}")
        return

    if "--scaling-e2e-threads" in sys.argv:
        # N -> 4N scaling of the end-to-end (compute-bound) pipeline
        # within one JVM: the faithful sandbox proxy on this VM, where
        # concurrent Spark JVMs collapse in kernel/hypervisor
        # contention that pure-CPU multiprocessing does not show
        # (see BASELINE.md)
        n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "8000000"))
        n_lo = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
        n_hi = 4 * n_lo
        runs_lo, runs_hi = [], []
        t_lo = e2e_seconds(n_lo, n_docs, runs_out=runs_lo)
        t_hi = e2e_seconds(n_hi, n_docs, runs_out=runs_hi)
        print(json.dumps({
            "metric": f"end-to-end mine+project+encode+PIP scaling "
                      f"local[{n_lo}] -> local[{n_hi}]",
            "docs": n_docs,
            f"t_{n_lo}": round(t_lo, 3), f"t_{n_hi}": round(t_hi, 3),
            f"runs_{n_lo}": runs_lo, f"runs_{n_hi}": runs_hi,
            f"docs_per_sec_{n_lo}": round(n_docs / t_lo, 1),
            f"docs_per_sec_{n_hi}": round(n_docs / t_hi, 1),
            "scaling_efficiency": round(t_lo / (4.0 * t_hi), 3),
            "host": host_metrics(cpu0, load0),
        }))
        return

    if "--scaling-e2e" in sys.argv:
        n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "2000000"))
        cpe = int(os.environ.get("SPARK_GRAFT_CPUS_PER_EXEC", "8"))
        out = scaling_multijvm(n_docs, cpe, e2e=True)
        out["host"] = host_metrics(cpu0, load0)
        print(json.dumps(out))
        return

    if "--scaling-multijvm" in sys.argv:
        n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "16000000"))
        out = scaling_multijvm(n_docs)
        out["host"] = host_metrics(cpu0, load0)
        print(json.dumps(out))
        return

    if "--scaling" in sys.argv:
        n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "8000000"))
        n_lo = int(os.environ.get("SPARK_GRAFT_SCALE_N", "8"))
        n_hi = 4 * n_lo
        t_lo = flagship_seconds(n_lo, n_docs)
        t_hi = flagship_seconds(n_hi, n_docs)
        out = {
            "metric": f"flagship S2-encode+PIP scaling local[{n_lo}] -> "
                      f"local[{n_hi}] on deterministic synthetic pages",
            "docs": n_docs,
            f"t_{n_lo}": round(t_lo, 3), f"t_{n_hi}": round(t_hi, 3),
            f"docs_per_sec_{n_lo}": round(n_docs / t_lo, 1),
            f"docs_per_sec_{n_hi}": round(n_docs / t_hi, 1),
            "scaling_efficiency": round(t_lo / (4.0 * t_hi), 3),
            "sf": sf,
            "host": host_metrics(cpu0, load0),
        }
        print(json.dumps(out))
        return

    spark = make_spark(cpus)
    try:
        times = run_queries(spark, sf_dir, HEADLINE)
        total = round(sum(times.values()), 3)
        n_docs = doc_count(sf_dir)
        # pages-scale throughput: flagship S2-encode+PIP on synthetic
        # coords (sf tables are small; this is the 100TB-shaped number)
        n_big = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "2000000"))
        path = materialize_coords(spark, n_big, 64)
        flagship_pipeline(spark, n_big, 64, path)  # warm-up
        t_big, flagship_runs = float("inf"), []
        for _ in range(3):
            t0 = time.perf_counter()
            flagship_pipeline(spark, n_big, 64, path)
            flagship_runs.append(round(time.perf_counter() - t0, 3))
            t_big = min(t_big, flagship_runs[-1])
        # end-to-end pages flagship (mine+project+encode+PIP)
        e2e_docs = int(os.environ.get("SPARK_GRAFT_E2E_DOCS", "2000000"))
        e2e_path = materialize_pages(spark, e2e_docs, 64)
        flagship_e2e_pipeline(spark, e2e_path)  # warm-up
        t_e2e, e2e_runs = float("inf"), []
        for _ in range(3):
            t0 = time.perf_counter()
            flagship_e2e_pipeline(spark, e2e_path)
            e2e_runs.append(round(time.perf_counter() - t0, 3))
            t_e2e = min(t_e2e, e2e_runs[-1])
        out = {
            "metric": "total wall seconds, headline queries "
                      "(S2 encode+agg, PIP join, projections, kNN, "
                      "LSH dedup, similarity, relational)",
            "value": total,
            "unit": "sec",
            "queries": times,
            "sf": sf,
            "docs": n_docs,
            "flagship_docs": n_big,
            "flagship_sec": round(t_big, 3),
            "flagship_runs": flagship_runs,
            "flagship_docs_per_sec": round(n_big / t_big, 1),
            "e2e_docs": e2e_docs,
            "e2e_sec": round(t_e2e, 3),
            "e2e_runs": e2e_runs,
            "e2e_docs_per_sec": round(e2e_docs / t_e2e, 1),
            "host": host_metrics(cpu0, load0),
        }
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
