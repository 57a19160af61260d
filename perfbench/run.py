"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|serve|analytics|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The engine runs in this one process on
``local[nproc]``. Everything the run writes goes under ``.perfbench_work/``
in the checkout (state directories, derived stores, Spark scratch, trace
files). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A detail line (per-run facts, the workload's own named
metrics, tail percentiles and sample counts) is printed just before it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from datetime import datetime, timezone

T_PROC = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
STORES = os.path.join(WORK, "stores")
sys.path.insert(0, BENCH_DIR)

WORKLOADS = ("ingest", "serve", "analytics")
DRIVER_MEM = "3g"  # bounds the JVM heap; the engine's default (8g) is sized for sf0.1


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def configure_env() -> None:
    """Pin the engine's knobs for this run; all scratch stays in WORK."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_STORE_DIR"] = STORES
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tmp = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def prepare() -> int:
    """Build what every run reuses: the analytics stores and the seeded state."""
    import analytics
    import common

    from distribution_engine_smt_spark.session import get_spark

    spark = get_spark("perfbench-prepare")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if not analytics.stores_ready():
            analytics.build_stores(spark)
        if not common.state_ready(WORK):
            common.build_state(spark, WORK)
    finally:
        stop_spark(spark)
    return 0


def benchmark_layers(computed: dict) -> dict:
    """The per-layer metrics BENCHMARK.json lists (all of them without it)."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [m["name"] for m in json.load(f)["per_layer"]]
    except (OSError, ValueError, KeyError):
        return computed
    return {k: computed[k] for k in names if k in computed}


def run_workload(name: str, ctx) -> object:
    import analytics
    import ingest
    import serve

    return {"ingest": ingest, "serve": serve, "analytics": analytics}[name].run(ctx)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="build the reusable inputs (analytics stores, serve state) and exit")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import distribution_engine_smt_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    configure_env()

    import analytics
    import common
    if args.prepare:
        return prepare()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    if not (analytics.stores_ready() and common.state_ready(WORK)):
        # once per checkout, whichever run comes first, in its own process
        # and before anything is timed
        subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare"],
                       check=True, cwd=ROOT)

    import layers
    from spans import Tracer

    from distribution_engine_smt_spark.session import get_spark

    from common import tree_cpu_s
    c = tree_cpu_s()
    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    session_cpu_s = tree_cpu_s() - c
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)
    t0 = datetime.now(timezone.utc).replace(tzinfo=None, microsecond=0)

    results, report = {}, {}
    try:
        for name in names:
            tracer = None
            if args.trace:
                tracer = Tracer(spark.sparkContext)
                tracer.count_py4j()
                layers.install(tracer)
            ctx = common.Ctx(spark, args.seed, args.seconds, WORK, t0, tracer)
            try:
                res = run_workload(name, ctx)
            finally:
                if tracer:
                    tracer.unwrap_all()
            # set-up is billed in CPU seconds, like op_cpu_ms (README)
            res.metrics["setup_s"] += session_cpu_s if name == names[0] else 0.0
            res.peak_rss_mb = common.peak_rss_mb(jvm_pid)
            if tracer:
                res.layers = layers.metrics(tracer, res, session_s)
                tracer.dump(os.path.join(WORK, "traces", f"{name}-seed{args.seed}.jsonl"))
            results[name] = res
            report[name] = {
                "named": {k: {"value": v, "unit": u} for k, v, u in
                          ((k, *vu) for k, vu in res.named.items())},
                "attempted": res.attempted, "failed": res.failed,
                "peak_rss_mb": res.peak_rss_mb,
                "failed_frac": res.failed / max(1, res.attempted),
                "detail": res.detail,
            }
    finally:
        stop_spark(spark)

    report["_run"] = {
        "nproc": nproc(), "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "session_start_s": session_s, "session_cpu_s": session_cpu_s,
        "spark_conf": {"master": f"local[{nproc()}]",
                       "spark.sql.shuffle.partitions": str(nproc()),
                       "driver_memory": DRIVER_MEM},
        "sf": analytics.SF_NAME, "stores_prebuilt": analytics.stores_ready(),
        "state_reused": True,
        "wall_s": time.perf_counter() - T_PROC,
    }
    print(json.dumps(report, default=str))

    attempted = sum(r.attempted for r in results.values())
    failed = sum(r.failed for r in results.values())
    if args.workload == "all":
        metrics = {k: {"value": v, "unit": u}
                   for r in results.values() for k, (v, u) in r.named.items()}
        metrics["failed_frac"] = {"value": failed / max(1, attempted), "unit": "1"}
        metrics["setup_s"] = {"value": sum(r.metrics["setup_s"] for r in results.values()),
                              "unit": "s"}
        metrics["peak_rss_mb"] = {"value": max(r.peak_rss_mb for r in results.values()),
                                  "unit": "MB"}
    else:
        r = results[args.workload]
        metrics = benchmark_layers(r.layers) if args.trace else {
            k: {"value": v, "unit": layers.E2E_UNITS[k]} for k, v in r.metrics.items()
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
