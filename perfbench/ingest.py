"""``ingest``: replay a generated dual-stream log through the runner.

The seed state is the one the serve workload reads: generator seed 0,
written once per checkout through ``DualStreamRunner.save_state``. Each
run copies it into a fresh directory before anything is timed, and
``--seed`` draws the op log (``gen.op_log(world, seed)``) over it. Set-up
is the session start and the runner's construction over the copy.

The measured part is a fixed CYCLES cycles, whatever ``--seconds`` says,
so every build commits the same batches: each cycle hands one L2 batch to
``process_l2_batch`` and then one L1 batch to ``process_l1_batch``, with
``now=t0`` so only the L2-clock gate parks ops. After each cycle commits,
a freshly built ``build_state_server(runner.load_state())`` is probed with
``get_post`` until the cycle's probe vote is visible, and a second
identical request times a cache hit; this is done FRESH_PROBES times,
and the median and fastest time to visible are the freshness numbers. The
final state is then checked against the plain-Python fold of the consumed
log prefix. The batches run in a cold JVM: a warm-up cycle would add
about 75 s to the run on four cores, so none is made.

``op_cpu_ms`` is the CPU time of the whole process tree (driver, JVM,
Python workers) per batch commit; the batches' wall-clock times and the
freshness numbers are in the detail line.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from decimal import Decimal

import gen
from common import Ctx, Result, median, state_dir, state_t0, tail, tree_cpu_s
from spans import op, snapshot, span, written

CYCLES = 1
FRESH_PROBES = 3
PROBE_TRIES = 20


def _probe_target(cycle: dict, fold: gen.Fold):
    """The cycle's last vote on a post that is live after the cycle and was
    cast before that post's cashout (later votes are hidden by get_post)."""
    for tx in reversed(cycle["l2"]):
        logs = json.loads(tx[8])["events"]
        if not logs or logs[0]["event"] not in ("newVote", "updateVote"):
            continue
        pl = json.loads(tx[7])
        ap = f"@{pl['author']}/{pl['permlink']}"
        tok = logs[0]["data"]["symbol"]
        if (ap, tok) in fold.rows:
            return ap, tok, pl
    return None


def _visible(body: str, voter: str, rshares: Decimal, expect: Decimal) -> bool:
    rows = json.loads(body)
    if not rows:
        return False
    post = rows[0]
    if abs(Decimal(str(post["vote_rshares"])) - expect) > Decimal("0.001"):
        return False
    votes = {v["voter"]: v for v in post.get("active_votes") or []}
    v = votes.get(voter)
    return v is None or abs(Decimal(str(v["rshares"])) - rshares) <= Decimal("0.001")


def run(ctx: Ctx) -> Result:
    from distribution_engine_smt_spark import schemas
    from distribution_engine_smt_spark.serving import build_state_server
    from distribution_engine_smt_spark.streaming import DualStreamRunner

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    t_state = state_t0(ctx.work)
    # the benchmark's own inputs and the state copy, before set-up is timed
    world, rows = gen.seed_state(gen.STATE_KNOBS, gen.STATE_SEED, t_state)
    log = gen.op_log(world, ctx.seed)[:CYCLES]
    fold = gen.Fold(rows, ctx.t0)
    for old in glob.glob(os.path.join(ctx.work, "ingest-*")):  # left by a killed run
        shutil.rmtree(old, ignore_errors=True)
    root = os.path.join(ctx.work, f"ingest-{os.getpid()}")
    shutil.copytree(state_dir(ctx.work), root)

    c_setup = tree_cpu_s()
    t_setup = time.perf_counter()
    runner = DualStreamRunner(spark, root)
    setup_s = time.perf_counter() - t_setup
    setup_cpu_s = tree_cpu_s() - c_setup

    batch_s, batch_cpu, cycle_ops, fresh_s = [], [], [], []
    counts, files_w, bytes_w, miss_ms, hit_us = [], [], [], [], []
    start = time.perf_counter()
    for c in range(len(log)):
        cycle = log[c]
        for stream, rows_ in (("l2", cycle["l2"]), ("l1", cycle["l1"])):
            schema = schemas.TXS_L2 if stream == "l2" else schemas.OPS_L1
            df = spark.createDataFrame(rows_, schema)
            process = runner.process_l2_batch if stream == "l2" else runner.process_l1_batch
            before = snapshot(runner.state_dir) if tr else None
            res.attempted += 1
            try:
                with op(tr, 2 * c + (stream == "l1")) as cnt:
                    c0 = tree_cpu_s()
                    t = time.perf_counter()
                    process(df, c, now=ctx.t0)
                    batch_s.append(time.perf_counter() - t)
                    batch_cpu.append(tree_cpu_s() - c0)
                if tr:
                    counts.append(cnt)
                    n, b = written(before, snapshot(runner.state_dir))
                    files_w.append(n)
                    bytes_w.append(b / max(1, len(rows_)))
            except Exception as e:  # a failed batch is one failed op
                res.failed += 1
                res.detail.setdefault("errors", []).append(f"{stream}[{c}]: {e!r}"[:300])
        fold.apply_l2(cycle["l2"])
        fold.apply_l1(cycle["l1"])
        cycle_ops.append(len(cycle["l2"]) + len(cycle["l1"]))

        target = _probe_target(cycle, fold)
        if target is not None:
            ap, tok, pl = target
            expect = fold.rows[(ap, tok)]["vote_rshares"]
            rshares = fold.votes[(ap, tok, pl["voter"])]
            params = {"token": tok, "account": pl["author"], "permlink": pl["permlink"]}
            # FRESH_PROBES readers, each with a fresh server and an empty
            # cache
            for _ in range(FRESH_PROBES):
                res.attempted += 1
                t = time.perf_counter()
                try:
                    with span(tr, "serving.build_state_server"):
                        srv = build_state_server(runner.load_state())
                    for _ in range(PROBE_TRIES):
                        t_req = time.perf_counter()
                        body = srv.handle_json("get_post", params)
                        miss_ms.append(1e3 * (time.perf_counter() - t_req))
                        if _visible(body, pl["voter"], rshares, expect):
                            break
                        srv.cache.invalidate()
                    else:
                        raise AssertionError(f"vote on {ap} not visible after {PROBE_TRIES} reads")
                    fresh_s.append(time.perf_counter() - t)
                    t_hit = time.perf_counter()
                    srv.handle_json("get_post", params)
                    hit_us.append(1e6 * (time.perf_counter() - t_hit))
                except Exception as e:
                    res.failed += 1
                    res.detail.setdefault("errors", []).append(f"probe[{c}]: {e!r}"[:300])
    elapsed = time.perf_counter() - start

    # output check: the engine's final state against the fold
    res.attempted += 1
    problems = check_state(runner.load_state(), fold)
    if problems:
        res.failed += 1
        res.detail["state_mismatch"] = problems[:10]
    state_files = len(snapshot(runner.state_dir))
    shutil.rmtree(root, ignore_errors=True)

    t50 = median(batch_s)
    tval, tq = tail(batch_s)
    committed = sum(cycle_ops)
    res.metrics = {
        "setup_s": setup_cpu_s,
        "op_cpu_ms": 1e3 * sum(batch_cpu) / len(batch_cpu) if batch_cpu else 0.0,
    }
    res.named = {
        "ingest_ops_per_s": (committed / sum(batch_s) if batch_s else 0.0, "1/s"),
        "ingest_batch_p50_s": (t50, "s"),
        # the first batch after the process starts: what a restarted
        # ingester pays
        "ingest_cold_batch_s": (batch_s[0] if batch_s else 0.0, "s"),
        "ingest_batch_tail_s": (tval, "s"),
        "fresh_p50_s": (median(fresh_s), "s"),
        "fresh_min_s": (min(fresh_s) if fresh_s else 0.0, "s"),
    }
    res.detail.update({
        "setup_wall_s": setup_s, "cycles": len(log), "batches": len(batch_s), "ops_committed": committed,
        "tail_percentile": tq, "tail_samples": len(batch_s),
        "held_l1_at_end": len(fold.held_l1), "posts_expected": len(fold.rows),
        "measure_s": elapsed, "batch_s": batch_s, "batch_cpu_s": batch_cpu, "fresh_s": fresh_s,
    })
    if tr:
        res.layers = {
            "_counts": counts, "_files_written": files_w, "_bytes_per_op": bytes_w,
            "_state_files": state_files, "_miss_ms": miss_ms, "_hit_us": hit_us,
            "_hit_ratio": len(hit_us) / max(1, len(hit_us) + len(miss_ms)),
            "_ops": len(batch_s),
        }
    return res


def check_state(state: dict, fold: gen.Fold) -> list[str]:
    """Post count, per-post vote_rshares and children, deleted posts absent,
    and per-account follow counts, against the fold."""
    from pyspark.sql import functions as F

    got = {
        (r["authorperm"], r["token"]): (r["vote_rshares"], r["children"])
        for r in state["posts"].select("authorperm", "token", "vote_rshares", "children").collect()
    }
    problems = []
    if len(got) != len(fold.rows):
        problems.append(f"post rows: engine {len(got)} vs fold {len(fold.rows)}")
    for key in sorted(set(got) ^ set(fold.rows))[:5]:
        problems.append(f"post row {key} only in {'engine' if key in got else 'fold'}")
    for key, want in fold.rows.items():
        have = got.get(key)
        if have is None:
            continue
        if Decimal(have[0]) != want["vote_rshares"]:
            problems.append(f"{key} vote_rshares {have[0]} != {want['vote_rshares']}")
        if have[1] != want["children"]:
            problems.append(f"{key} children {have[1]} != {want['children']}")
    follows = state["follows"].filter(F.col("state") == 1)
    eng_following = {r[0]: r[1] for r in follows.groupBy("follower").count().collect()}
    eng_followers = {r[0]: r[1] for r in follows.groupBy("following").count().collect()}
    want_following, want_followers = {}, {}
    for (a, b), s in fold.follows.items():
        if s == 1:
            want_following[a] = want_following.get(a, 0) + 1
            want_followers[b] = want_followers.get(b, 0) + 1
    if eng_following != want_following:
        problems.append("following counts differ")
    if eng_followers != want_followers:
        problems.append("follower counts differ")
    return problems
