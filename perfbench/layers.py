"""Which engine calls the traced run wraps, and how its spans and counters
turn into the per-layer metrics of BENCHMARK.json.

Every workload computes every per-layer metric; a layer the workload
bypasses reads 0. The result line holds the ones BENCHMARK.json lists.
SHOULD_MOVE names the end-to-end metric and workload each layer metric
should move.
"""

from __future__ import annotations

import time

from common import median

E2E_UNITS = {"setup_s": "s", "op_cpu_ms": "ms"}

QUERY_FUNCS = {
    "discussions": ("get_discussions_by_created", "get_discussions_by_score",
                    "get_discussions_by_blog", "get_discussions_by_feed",
                    "get_discussions_by_comments", "get_discussions_by_replies"),
    "social": ("get_trending_tags", "get_follow_count", "get_following"),
    "thread": ("get_thread",),
    "accounts": ("get_account_history", "get_post_with_votes", "get_state_lag",
                 "get_token_config", "get_account_map"),
}
ENDPOINT_QUERIES = (
    "get_discussions_by_created", "get_discussions_by_score",
    "get_discussions_by_blog", "get_discussions_by_feed", "get_thread",
    "get_trending_tags", "get_post_with_votes", "get_account_history",
    "get_state_lag",
)

# layer metric -> (unit, end-to-end metric and workload it should move);
# ``serve`` is runnable by hand but not one of BENCHMARK.json's workloads
SHOULD_MOVE = {
    "session.start_s": ("s", "setup_s, every workload"),
    "storage.ensure_store_s": ("s", "setup_s on analytics"),
    "storage.prebuilt": ("count", "setup_s on analytics (1 = store reused)"),
    "runner.l1_batch_p50_s": ("s", "op_cpu_ms on ingest"),
    "runner.l2_batch_p50_s": ("s", "op_cpu_ms on ingest; ingest_cold_batch_s (detail line)"),
    "runner.save_state_self_s": ("s", "op_cpu_ms on ingest"),
    "runner.load_state_s": ("s", "op_cpu_ms on ingest; fresh_p50_s (detail line) on ingest"),
    "processors.apply_l1_s": ("s", "op_cpu_ms on ingest"),
    "processors.apply_l2_s": ("s", "op_cpu_ms on ingest"),
    "tables.bytes_written_per_op": ("bytes", "op_cpu_ms on ingest"),
    "tables.files_written_per_batch": ("count", "op_cpu_ms on ingest"),
    "tables.state_files": ("count", "fresh_p50_s (detail line) on ingest: small files slow the probe's scan"),
    "serving.hit_us": ("us", "op_cpu_ms on serve"),
    "serving.miss_ms": ("ms", "fresh_p50_s (detail line) on ingest; op_cpu_ms on serve"),
    "serving.cache_hit_ratio": ("1", "op_cpu_ms on serve"),
    "serving.collect_serialize_ms": ("ms", "fresh_p50_s (detail line) on ingest; op_cpu_ms on serve"),
    "queries.build_ms": ("ms", "fresh_p50_s (detail line) on ingest; op_cpu_ms on serve"),
    **{f"queries.build_ms.{q}": ("ms", "op_cpu_ms on serve") for q in ENDPOINT_QUERIES},
    "driver_queries.build_ms": ("ms", "op_cpu_ms on analytics"),
    "catalyst.analysis_ms": ("ms", "op_cpu_ms on analytics"),
    "catalyst.optimization_ms": ("ms", "op_cpu_ms on analytics"),
    "catalyst.planning_ms": ("ms", "op_cpu_ms on analytics"),
    "driver_queries.exec_ms": ("ms", "op_cpu_ms on analytics"),
    "spark.jobs_per_op": ("count", "op_cpu_ms of the workload"),
    "spark.tasks_per_op": ("count", "op_cpu_ms of the workload"),
    "py4j.calls_per_op": ("count", "op_cpu_ms of the workload"),
    "process.peak_rss_mb": ("MB", "none: memory, reported beside the end-to-end set"),
    "trace.spans_per_op": ("count", "tracing overhead"),
    "trace.overhead_ms_per_op": ("ms", "traced minus untraced op_cpu_ms"),
    "trace.traced_op_cpu_ms": ("ms", "op_cpu_ms of this traced run; minus the untraced op_cpu_ms = tracing overhead"),
}

def install(tracer) -> None:
    """Wrap the engine's public entry points of every layer (a layer the
    workload never calls simply records no spans)."""
    from distribution_engine_smt_spark import queries
    from distribution_engine_smt_spark import serving
    from distribution_engine_smt_spark.queries import accounts, discussions, social, thread
    from distribution_engine_smt_spark.streaming import runner

    for name in ("process_l1_batch", "process_l2_batch", "load_state", "save_state"):
        tracer.wrap(runner.DualStreamRunner, name, f"runner.{name}")
    tracer.wrap(runner, "apply_l1_batch", "processors.apply_l1")
    tracer.wrap(runner, "apply_l2_batch", "processors.apply_l2")
    tracer.wrap(serving.QueryServer, "handle_json", "serving.handle_json")
    mods = {"discussions": discussions, "social": social, "thread": thread,
            "accounts": accounts}
    for mod, funcs in QUERY_FUNCS.items():
        for fn in funcs:
            tracer.wrap(mods[mod], fn, f"queries.{fn}")
            if hasattr(queries, fn):
                tracer.wrap(queries, fn, f"queries.{fn}")


def shim_cost_s(tracer) -> float:
    """Seconds one span shim adds to a call, timed on a no-op."""

    class _Box:
        @staticmethod
        def noop():
            return None

    n = 5000
    t = time.perf_counter()
    for _ in range(n):
        _Box.noop()
    bare = time.perf_counter() - t
    saved = len(tracer.spans)
    tracer.wrap(_Box, "noop", "calibration")
    t = time.perf_counter()
    for _ in range(n):
        _Box.noop()
    wrapped = time.perf_counter() - t
    owner, attr, orig = tracer._patched.pop()
    setattr(owner, attr, orig)
    del tracer.spans[saved:]
    return max(0.0, (wrapped - bare) / n)


def metrics(tracer, res, session_s: float) -> dict:
    totals, selfs = tracer.totals(), tracer.self_times()
    lay = res.layers
    ops = max(1, lay.get("_ops", 1))

    def tot(name, scale=1.0):
        return scale * median(totals[name]) if totals.get(name) else 0.0

    out = {name: 0.0 for name in SHOULD_MOVE}
    out["session.start_s"] = session_s
    out["storage.ensure_store_s"] = lay.get("_ensure_store_s", 0.0)
    out["storage.prebuilt"] = lay.get("_prebuilt", 0)
    out["runner.l1_batch_p50_s"] = tot("runner.process_l1_batch")
    out["runner.l2_batch_p50_s"] = tot("runner.process_l2_batch")
    if selfs.get("runner.save_state"):
        out["runner.save_state_self_s"] = median(selfs["runner.save_state"])
    out["runner.load_state_s"] = tot("runner.load_state")
    out["processors.apply_l1_s"] = tot("processors.apply_l1")
    out["processors.apply_l2_s"] = tot("processors.apply_l2")
    if lay.get("_bytes_per_op"):
        out["tables.bytes_written_per_op"] = median(lay["_bytes_per_op"])
        out["tables.files_written_per_batch"] = median(lay["_files_written"])
    out["tables.state_files"] = lay.get("_state_files", 0)
    if lay.get("_hit_us"):
        out["serving.hit_us"] = median(lay["_hit_us"])
    if lay.get("_miss_ms"):
        out["serving.miss_ms"] = median(lay["_miss_ms"])
    out["serving.cache_hit_ratio"] = lay.get("_hit_ratio", 0.0)
    # a miss is a handle_json span with child spans (hits never reach the
    # handler); its self time is validation, collect and JSON encoding
    parents = {s["parent"] for s in tracer.spans if s["parent"] is not None}
    miss_self = [
        v for s, v in zip(tracer.spans, tracer.self_list())
        if s["name"] == "serving.handle_json" and s["id"] in parents
    ]
    if miss_self:
        out["serving.collect_serialize_ms"] = 1e3 * median(miss_self)
    qspans = [v for k, vs in totals.items() if k.startswith("queries.") for v in vs]
    if qspans:
        out["queries.build_ms"] = 1e3 * median(qspans)
    for q in ENDPOINT_QUERIES:
        out[f"queries.build_ms.{q}"] = tot(f"queries.{q}", 1e3)
    for k in ("driver_queries.build_ms", "catalyst.analysis_ms",
              "catalyst.optimization_ms", "catalyst.planning_ms",
              "driver_queries.exec_ms"):
        out[k] = lay.get("_" + k, 0.0)
    counts = lay.get("_counts") or []
    if counts:
        # means, not medians: on serve most ops are cache hits with zero jobs
        out["spark.jobs_per_op"] = sum(c["jobs"] for c in counts) / len(counts)
        out["spark.tasks_per_op"] = sum(c["tasks"] for c in counts) / len(counts)
        out["py4j.calls_per_op"] = sum(c["py4j_calls"] for c in counts) / len(counts)
    spans_per_op = sum(1 for s in tracer.spans if s["op"] is not None) / ops
    out["trace.spans_per_op"] = spans_per_op
    cost = shim_cost_s(tracer)
    py4j_per_op = out["py4j.calls_per_op"]
    out["trace.overhead_ms_per_op"] = 1e3 * cost * (spans_per_op + py4j_per_op)
    out["trace.traced_op_cpu_ms"] = res.metrics["op_cpu_ms"]
    out["process.peak_rss_mb"] = res.peak_rss_mb
    return {k: {"value": v, "unit": SHOULD_MOVE[k][0]} for k, v in out.items()}
