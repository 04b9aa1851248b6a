#!/usr/bin/env python3
"""Seeded benchmark of the proj_4_spark tiling engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a source checkout.  The seed fixes every input.
Inputs and their oracles are generated on first use, in a child
process, and cached under ``.perfbench_work/``.  Workloads:

- ``pages_tiling``  jobs.tiling_job.run on a generated documents table
- ``coords_join``   S2 encode + cell counts + PIP join over coordinates

With ``--trace 0`` the run starts the engine from cold (JVM launch,
session and one warm pass: ``setup_s``), then repeats the workload's
operation for ``--seconds`` seconds, checks every output against the
oracle, and prints the end-to-end metrics.  One cold start costs
about 20 s on 4 cores, so a run times one set-up, not several; the
spread of ``setup_s`` comes from many runs.  With ``--trace 1`` it
prints the per-layer metrics of one traced pass instead, plus the
tracing overhead, and writes the spans to ``.perfbench_work/traces/``.

The last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the run's details (input traffic properties, operation times,
host contention, errors).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "sources.mine_coords.self_s": "s",
    "sources.mine_coords.text_bytes_per_s": "B/s",
    "sources.mine_coords.mentions": "count",
    "functions.utm_all_zones_udf.self_s": "s",
    "functions.s2_cell_udf.self_s": "s",
    "index.s2.cell_id.pts_per_s": "1/s",
    "kernels.tmerc.fwd.pts_per_s": "1/s",
    "operators.spatial_join.ray_cast.pts_per_s": "1/s",
    "operators.pip_join.self_s": "s",
    "operators.pip_join.candidates": "count",
    "operators.pip_join.matches": "count",
    "operators.pip_join.match_ratio": "ratio",
    "operators.pip_join.cover_build_s": "s",
    "plans.checkpoint.mined.wall_s": "s",
    "plans.checkpoint.projected.wall_s": "s",
    "plans.checkpoint.encoded.wall_s": "s",
    "plans.checkpoint.tile_assignments.wall_s": "s",
    "plans.checkpoint.polygon_counts.wall_s": "s",
    "plans.checkpoint.cell_counts.wall_s": "s",
    "plans.checkpoint.bytes_written": "B",
    "plans.checkpoint.write_amp": "ratio",
    "plans.checkpoint.resume_s": "s",
    "plans.salting.task_skew": "ratio",
    "crs.compile_crs.calls_per_s": "1/s",
    "spark.cpu_util": "ratio",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.jobs": "count",
    "trace.overhead_s": "s",
}

def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pages_tiling", "coords_join"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the smoke test")
    ap.add_argument("--prepare", action="store_true",
                    help="only generate the seed's inputs and oracle")
    return ap.parse_args(argv)


def prepare_env(work: str) -> int:
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    return cores


def stop_engine(spark) -> None:
    """Stop the session, the JVM behind it and its Python workers, and
    wait until they are gone."""
    from pyspark import SparkContext

    from perfbench import host

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure: kill it below
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    me = os.getpid()
    while True:
        left = [p for p in host.descendants() if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def prepare(work: str, workload: str, size: str, seed: int) -> None:
    """Generate the seed's inputs and oracle unless they are cached."""
    from perfbench import gen
    from perfbench.workloads import WORKLOADS

    d = gen.make_inputs(work, workload, size, seed)
    path = os.path.join(d, "oracle", "props.json")
    if os.path.exists(path):
        return
    props = WORKLOADS[workload](d, work, 1, size, seed).build_oracle()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(props, f)
    os.replace(path + ".tmp", path)


def setup(W, work: str, cores: int, ui: bool):
    """Start the engine from cold (JVM launch, session and one warm
    pass); returns (spark, set-up seconds)."""
    from perfbench.workloads import start_session

    t0 = time.perf_counter()
    W.spark = start_session(work, cores, ui)
    W.warm()
    return W.spark, time.perf_counter() - t0


def measure(W, seconds: float) -> dict:
    """Repeat the workload's operation for ``seconds``; every output is
    checked."""
    lat, errors = [], []
    attempted = failed = 0
    t_end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < t_end:
        attempted += 1
        try:
            dt, res = W.op(attempted - 1)
            lat.append(dt)
            bad = W.check(res)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            bad = [traceback.format_exc(limit=3)]
        if bad:
            failed += 1
            errors += bad
            log(f"op {attempted - 1} failed: {bad[:2]}")
    return {"lat": lat, "attempted": attempted, "failed": failed,
            "errors": errors}


def e2e_metrics(W, r: dict, setup_s: float, rss: float) -> tuple:
    lat = r["lat"]
    if not lat:
        return {}, {}
    med = statistics.median(lat)
    metrics = {
        "docs_per_s": W.docs / med,
        "peak_rss_mb": rss,
        "setup_s": setup_s,
    }
    detail = {"ops": len(lat), "op_median_s": round(med, 4),
              "latencies_s": [round(x, 4) for x in lat]}
    return metrics, detail


def traced_run(W, spark, work: str, seed: int) -> tuple:
    from perfbench import trace

    m: dict = {}
    # a fresh session's second pass is still slower than the steady
    # state: settle first, so the overhead compares like with like
    W.warm()
    dt, res = W.op(0)
    bad = W.check(res)
    tr = trace.Tracer(f"{W.name}-{seed}")
    rest = trace.SparkRest(spark)
    checks = [bad] + W.traced(tr, rest, m)
    errors = [e for c in checks for e in c]
    m["trace.overhead_s"] = m.pop("traced_wall_s") - dt
    with tr.span("kernels.microbench"):
        m.update(trace.kernel_rates(seed))
    m["crs.compile_crs.calls_per_s"] = trace.compile_rate(seed)
    cand = m.get("operators.pip_join.candidates", 0)
    m["operators.pip_join.match_ratio"] = (
        m.get("operators.pip_join.matches", 0) / cand if cand else 0.0)
    tr.dump(os.path.join(work, "traces", f"{W.name}-{W.size}-{seed}.json"),
            {k: v for k, v in m.items() if PER_LAYER.get(k, "count") == "count"})
    detail = {"untraced_wall_s": round(dt, 4),
              "prefix_s": {s["name"]: round(s["end"] - s["start"], 4)
                           for s in tr.spans if s["name"].startswith("prefix.")},
              "extra": {k: v for k, v in m.items() if k not in PER_LAYER},
              "layer_targets": trace.LAYER_TARGETS,
              "headline": trace.HEADLINE}
    metrics = {k: float(m.get(k, 0.0)) for k in PER_LAYER}
    return metrics, detail, len(checks), sum(1 for c in checks if c), errors


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "proj_4_spark", "__init__.py")):
        log(f"perfbench: no proj_4_spark package under {ROOT}")
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import proj_4_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the engine from {ROOT}: {e}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    cores = prepare_env(work)
    if args.prepare:
        prepare(work, args.workload, args.size, args.seed)
        return 0

    from perfbench import gen, host
    from perfbench.workloads import WORKLOADS

    # a child process, so input generation and oracle building never
    # count toward the engine's memory or time
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.abspath(__file__),
                    "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", "0", "--size", args.size, "--prepare"],
                   check=True, timeout=170)
    prep_s = time.perf_counter() - t0
    d = gen.input_dir(work, args.workload, args.size, args.seed)
    W = WORKLOADS[args.workload](d, work, cores, args.size, args.seed)
    with open(os.path.join(d, "oracle", "props.json")) as f:
        oprops = json.load(f)
    detail = {"workload": args.workload, "seed": args.seed,
              "size": args.size, "cores": cores, "trace": args.trace,
              "inputs": {**W.props, **oprops}, "input_prep_s": round(prep_s, 3)}

    spark = None
    try:
        spark, setup_s = setup(W, work, cores, ui=bool(args.trace))
        hw = host.HostWindow()
        if args.trace:
            metrics, extra, attempted, failed, errors = traced_run(
                W, spark, work, args.seed)
        else:
            r = measure(W, args.seconds)
            metrics, extra = e2e_metrics(W, r, setup_s, host.peak_rss_mb())
            attempted, failed, errors = r["attempted"], r["failed"], r["errors"]
        detail["host"] = hw.stop(cores)
        detail.update(extra)
    finally:
        stop_engine(spark)
    if detail["host"]["noisy"]:
        log(f"perfbench: noisy host during the run: {detail['host']}")
    detail["failed_frac"] = failed / max(attempted, 1)
    detail["errors"] = errors[:10]
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
