"""``serve``: a seeded request mix against the read API, back to back.

The state is generated once per checkout (generator seed 0) and written
through ``DualStreamRunner.save_state`` (the write path's layout: token
partitions, metadata hash buckets, sorted files); every run reuses it and
``--seed`` draws the request trace. Set-up loads the state with
``load_state``, wires ``build_state_server`` and, like a cache warmer,
requests every hot page once (each discussion ordering and trending tags,
for each of gen.HOT_TOKENS); it also sends each long-tail endpoint one
request under another token than the measured trace uses, so JIT warm-up
and the cold-cache transient are billed to set-up and the measurement
starts from a steady state: hot pages hit, the long tail misses at
warm-JVM cost.

The measured loop is closed with one client: it sends the trace's next
request as soon as the previous response is decoded, for exactly PASSES
passes of gen.ENDPOINT_CYCLE whatever ``--seconds`` says, so the request
count, the hit/miss mix and the tail percentile are the same on every
build and only the engine's speed moves the numbers. A request's latency
runs from the ``handle_json`` call to the decoded body. Parameters are
Zipf-drawn (gen.request_trace), so the cache hit ratio comes from the
traffic. ``serve_max_rps`` is requests completed per second of the passes.
The world and the request trace are generated before set-up starts:
they are the benchmark's own pure-Python work, which no engine change
can move. An open-loop schedule and more clients were left out: at
roughly half a second per cache miss a run of a few seconds holds too
few requests for a schedule below saturation to say anything steady, and
concurrent clients lowered throughput on four cores.
"""

from __future__ import annotations

import json
import os
import time

import gen
from common import Ctx, Result, median, state_dir, state_t0, tail, tree_cpu_s
from spans import op

from distribution_engine_smt_spark.serving import TTLCache

SAMPLE_CHECKS = 6    # served bodies compared against the handler's frame
PASSES = 2           # measured passes of gen.ENDPOINT_CYCLE per run
HOT_PAGES = ("get_discussions_by_trending", "get_discussions_by_hot",
             "get_discussions_by_created", "get_trending_tags")


class _Cache(TTLCache):
    """The server's TTL cache, remembering whether the last lookup hit, so
    each request is classified as hit or miss."""

    last_hit = False

    def get(self, key: str):
        value = super().get(key)
        self.last_hit = value is not None
        return value


def _expected(srv, name: str, params: dict):
    """The endpoint handler's DataFrame collected directly, put through the
    same JSON encoding the server uses."""
    from distribution_engine_smt_spark.serving import MAX_LIMIT, json_default

    ep = srv._endpoints[name]
    df = ep.handler(params)
    rows = [r.asDict(recursive=True) for r in
            df.limit(ep.row_cap if ep.row_cap is not None else 2 * MAX_LIMIT).collect()]
    single = ep.single_row(params) if callable(ep.single_row) else ep.single_row
    payload = (rows[0] if rows else {}) if single else rows
    return json.loads(json.dumps(payload, default=json_default))


def run(ctx: Ctx) -> Result:
    from distribution_engine_smt_spark.serving import build_state_server
    from distribution_engine_smt_spark.streaming import DualStreamRunner

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    t_state = state_t0(ctx.work)

    # the benchmark's own inputs, generated before set-up is timed
    world, _ = gen.seed_state(gen.STATE_KNOBS, gen.STATE_SEED, t_state)
    warm_trace = gen.request_trace(world, len(gen.ENDPOINT_CYCLE), ctx.seed)
    trace = gen.request_trace(world, PASSES * len(gen.ENDPOINT_CYCLE), ctx.seed)

    c_setup = tree_cpu_s()
    marks = [("start", time.perf_counter())]
    runner = DualStreamRunner(spark, state_dir(ctx.work))
    state = runner.load_state()
    srv = build_state_server(state, cache=_Cache())
    marks.append(("load_state_and_wire", time.perf_counter()))
    for name in HOT_PAGES:
        for tok in gen.HOT_TOKENS:
            srv.handle_json(name, {"token": tok, "limit": 20})
    # one request per long-tail endpoint, under another token than the
    # measured trace uses for it, so the measured request still misses
    # (``state`` is left out: its 3 s TTL could outlive set-up)
    warmed = set(HOT_PAGES) | {"state"}
    for name, params in warm_trace:
        if name not in warmed:
            warmed.add(name)
            if "token" in params:
                i = gen.TOKENS.index(params["token"])
                params = dict(params, token=gen.TOKENS[(i + 1) % len(gen.TOKENS)])
            srv.handle_json(name, params)
    marks.append(("warm_up", time.perf_counter()))
    setup_s = marks[-1][1] - marks[0][1]
    setup_cpu_s = tree_cpu_s() - c_setup
    res.detail["setup_breakdown_s"] = {
        b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])}

    # a fixed number of whole passes of the endpoint rotation, so every
    # run and every build serves the same mix of endpoints
    records: list = []          # (name, params, seconds, hit, body, counts)
    c_start = tree_cpu_s()
    start = time.perf_counter()
    for i, (name, params) in enumerate(trace):
        body, dt, cnt = None, 0.0, {}
        try:
            with op(tr, i) as cnt:
                t = time.perf_counter()
                try:
                    body = srv.handle_json(name, params)
                    json.loads(body)
                finally:
                    dt = time.perf_counter() - t
        except Exception as e:
            body = e
        records.append((name, params, dt, srv.cache.last_hit, body, cnt))
    window = time.perf_counter() - start
    window_cpu = tree_cpu_s() - c_start

    lat = [r[2] for r in records]
    hit_lat = [r[2] for r in records if r[3]]
    miss_lat = [r[2] for r in records if not r[3]]
    counts = [r[5] for r in records]
    by_endpoint: dict = {}
    bodies = {}
    for name, params, dt, hit, body, _ in records:
        res.attempted += 1
        if isinstance(body, Exception):
            res.failed += 1
            res.detail.setdefault("errors", []).append(f"{name} {params}: {body!r}"[:300])
            continue
        if not hit:
            by_endpoint.setdefault(name, []).append(dt)
            if name != "state":
                bodies.setdefault(name, (params, body))

    # output check: a sample of served bodies equals the handler's frame
    # collected directly (``state`` is skipped: its lag column moves with
    # the clock)
    for name, (params, body) in list(bodies.items())[:SAMPLE_CHECKS]:
        res.attempted += 1
        try:
            want = _expected(srv, name, params)
            if json.loads(body) != want:
                raise AssertionError("served body differs from the handler's frame")
        except Exception as e:
            res.failed += 1
            res.detail.setdefault("errors", []).append(f"check {name}: {e!r}"[:300])
    state_files = sum(len(fs) for _, _, fs in os.walk(runner.state_dir))

    tval, tq = tail(lat)
    hits, misses = len(hit_lat), len(miss_lat)
    res.metrics = {
        "setup_s": setup_cpu_s,
        "op_cpu_ms": 1e3 * window_cpu / max(1, len(lat)),
    }
    res.named = {
        "serve_p50_ms": (1e3 * median(lat), "ms"),
        "serve_tail_ms": (1e3 * tval, "ms"),
        "serve_miss_p50_ms": (1e3 * median(miss_lat), "ms"),
        "serve_miss_mean_ms": (1e3 * sum(miss_lat) / max(1, len(miss_lat)), "ms"),
        "serve_max_rps": (len(lat) / window, "1/s"),
    }
    res.detail.update({
        "setup_wall_s": setup_s,
        "requests": len(lat), "misses": len(miss_lat),
        "hit_ratio": hits / max(1, hits + misses),
        "tail_percentile": tq, "tail_samples": len(lat), "state_files": state_files,
        "miss_ms_by_endpoint": {k: [round(1e3 * x, 1) for x in v] for k, v in by_endpoint.items()},
    })
    if tr:
        res.layers = {
            "_counts": counts, "_ops": len(lat),
            "_hit_us": [1e6 * x for x in hit_lat], "_miss_ms": [1e3 * x for x in miss_lat],
            "_hit_ratio": res.detail["hit_ratio"], "_state_files": state_files,
        }
    return res
