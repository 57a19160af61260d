"""``analytics``: four of the watch-list driver queries over the bundled
sf0.01 TPC-H-shaped tables.

PASSES passes over the queries, in a fixed order, in a fresh JVM; each
run is ``release_caches`` and then a cache-cold run (build with
``QUERIES[name](spark, sf)``, then collect). ``op_cpu_ms`` is the CPU
time of the whole process tree (driver, JVM, Python workers) over every
run's build and collect, divided by the number of runs. It is taken over
all passes, the first one too: the JVM is still compiling through all of
them, and how much of that work lands in a given pass follows the host's
load, while the sum over the passes does much less (over five seeds on
four shared cores the spread of the sum over six passes was 0.035, that
over passes three to six alone 0.14). Four passes were kept: over ten
seeds the spread of the sum was 0.09 to 0.11 for any number of passes
from three to six, the host's drift between runs setting it, and each
pass costs about 1.7 s of wall-clock time. Wall-clock times (the first
pass, each query's median later run) are in the detail line. The work
is the same whatever ``--seconds`` says, and the inputs are the bundled tables, so
the seed does not change them either. The other 20 queries of
``bench.py``'s WATCH list and warm re-runs (memoized plans, tracked
persists) were left out: beside the ingest workload's cold dual-stream
cycle they did not fit the benchmark's time budget, and ``bench.py``
times all of them, cold and warm. Rows are checked by count and an
order-insensitive hash against ``expected_analytics.json``.

The one derived-artifact store the measured queries read (the k-means
fit, ``operators.storage.build_kmeans_fit_store``) is always reused: the
first run in a checkout builds it once (``run.py --prepare``, its own
process, before anything is timed) into the benchmark's work dir, and
every run's set-up then calls the builder, which finds it present. The
other stores ``ensure_stores`` builds are left out: building all of them
took about two minutes per checkout, which the time budget could not
spare.
"""

from __future__ import annotations

import json
import os
import time

from common import Ctx, Result, median, row_hash, tail, tree_cpu_s
from spans import op, span

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
SF_NAME = "sf0.01"
SF_DIR = os.path.join(BENCH_DIR, "data", SF_NAME)
EXPECTED = os.path.join(BENCH_DIR, "expected_analytics.json")

# four of bench.py's WATCH list: two reference paths, and two pipeline
# queries, one of them reading a derived store (the k-means fit); the
# other 20 are left out, see above
WATCH = (
    "discussions_by_hot", "feed_semijoin",
    "ann_ivf_kmeans_nprobe", "sampled_quantiles",
)
PASSES = 4


def _marker() -> str:
    from distribution_engine_smt_spark.operators.storage import store_root

    return os.path.join(store_root(), f"_perfbench_{SF_NAME}_kmeans_ready")


def stores_ready() -> bool:
    return os.path.isfile(_marker())


def build_stores(spark) -> None:
    """Build the store the measured queries read, then mark it ready."""
    from distribution_engine_smt_spark.operators.storage import build_kmeans_fit_store

    build_kmeans_fit_store(spark, SF_DIR)
    with open(_marker(), "w") as f:
        f.write(SF_DIR + "\n")


def _phases(df) -> dict:
    """Catalyst phase times (ms) recorded on the frame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def run(ctx: Ctx) -> Result:
    from distribution_engine_smt_spark import driver_queries
    import distribution_engine_smt_spark.pipeline  # noqa: F401  (registers queries)
    from distribution_engine_smt_spark.operators.storage import (
        build_kmeans_fit_store,
        store_root,
    )
    from distribution_engine_smt_spark.session import release_caches

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    # a query without a pin is a failed op, so a missing or truncated pin
    # file cannot switch the output check off
    try:
        with open(EXPECTED) as f:
            expected = json.load(f)
    except (OSError, ValueError) as e:
        expected = {}
        res.detail["pin_file_error"] = repr(e)

    c_setup = tree_cpu_s()
    t_setup = time.perf_counter()
    before = set(os.listdir(store_root()))
    store = build_kmeans_fit_store(spark, SF_DIR)
    setup_s = ensure_s = time.perf_counter() - t_setup
    setup_cpu_s = tree_cpu_s() - c_setup
    prebuilt = os.path.basename(store) in before

    runs: dict = {name: [] for name in WATCH}
    cpu: dict = {name: [] for name in WATCH}
    build_ms, exec_ms, phases, counts, hashes = [], [], [], [], {}
    start = time.perf_counter()
    for op_id in range(PASSES * len(WATCH)):
        name = WATCH[op_id % len(WATCH)]
        release_caches(spark)
        res.attempted += 1
        try:
            with op(tr, op_id) as cnt:
                c0 = tree_cpu_s()
                t = time.perf_counter()
                with span(tr, f"driver_queries.{name}"):
                    df = driver_queries.QUERIES[name](spark, SF_DIR)
                t_built = time.perf_counter()
                with span(tr, "pipeline.collect"):
                    rows = df.collect()
                t_end = time.perf_counter()
            runs[name].append(t_end - t)
            cpu[name].append(tree_cpu_s() - c0)
            if tr:
                counts.append(cnt)
                build_ms.append(1e3 * (t_built - t))
                exec_ms.append(1e3 * (t_end - t_built))
                phases.append(_phases(df))
            got = [len(rows), row_hash(rows)]
            hashes[name] = got
            if name not in expected:
                raise AssertionError(f"no pinned rows/hash for {name}; got {got}")
            if expected[name] != got:
                raise AssertionError(f"rows/hash {got} != pinned {expected[name]}")
        except Exception as e:
            res.failed += 1
            res.detail.setdefault("errors", []).append(f"{name}: {e!r}"[:300])
    elapsed = time.perf_counter() - start
    release_caches(spark)

    # wall clock, for the detail line: a query's warm time is the median
    # of its runs after the first
    per_query = {n: median(v[1:]) for n, v in runs.items() if v[1:]}
    op_cpu = [x for v in cpu.values() for x in v]
    samples = [x for v in runs.values() for x in v]
    tval, tq = tail(samples)
    res.metrics = {
        "setup_s": setup_cpu_s,
        "op_cpu_ms": 1e3 * sum(op_cpu) / len(op_cpu) if op_cpu else 0.0,
    }
    res.named = {
        "analytics_p50_ms": (1e3 * median(list(per_query.values())), "ms"),
        "analytics_warm_s": (sum(per_query.values()), "s"),
        "analytics_cold_s": (sum(v[0] for v in runs.values() if v), "s"),
    }
    res.detail.update({
        "setup_wall_s": setup_s,
        "sf": SF_NAME, "queries": len(WATCH), "passes": PASSES, "stores_prebuilt": prebuilt,
        "ensure_store_s": ensure_s, "tail_ms": 1e3 * tval, "tail_percentile": tq, "tail_samples": len(samples),
        "measure_s": elapsed, "runs_s": runs, "cpu_s": cpu, "hashes": hashes,
    })
    if tr:
        res.layers = {
            "_ensure_store_s": ensure_s, "_prebuilt": int(prebuilt),
            "_counts": counts, "_ops": PASSES * len(WATCH),
            "_driver_queries.build_ms": median(build_ms),
            "_driver_queries.exec_ms": median(exec_ms),
            **{f"_catalyst.{k}_ms": median([p[k] for p in phases])
               for k in ("analysis", "optimization", "planning")},
        }
    return res
