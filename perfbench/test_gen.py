"""Determinism of the benchmark's input generator (no Spark session needed).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402

T0 = datetime(2026, 1, 1, 12, 0, 0)
SMALL = gen.Knobs(posts=1_500, accounts=300, cycles=6)


def _build(seed: int, t0: datetime = T0):
    world, rows = gen.seed_state(SMALL, seed, t0)
    log = gen.op_log(world)
    trace = gen.request_trace(world, 200, seed)
    return rows, log, trace


def test_same_seed_same_inputs():
    assert _build(7) == _build(7)


def test_other_seed_other_inputs():
    a, b = _build(7), _build(8)
    assert a[0]["posts"] != b[0]["posts"]
    assert a[1] != b[1]
    assert a[2] != b[2]


def test_log_seed_varies_the_log_over_one_state():
    def log(seed):
        world, _ = gen.seed_state(SMALL, 0, T0)
        return gen.op_log(world, seed)

    assert log(3) == log(3)
    assert log(3) != log(4)


def test_timestamps_are_offsets_from_t0():
    later = datetime(2026, 3, 1, 12, 0, 0)
    shift = later - T0
    a, b = _build(7), _build(7, later)
    created = [r[2] for r in a[0]["posts"]]
    assert [r[2] for r in b[0]["posts"]] == [c + shift for c in created]
    assert [o[2] for o in b[1][0]["l1"]] == [o[2] + shift for o in a[1][0]["l1"]]


def test_log_sits_behind_the_head_delay_and_parks_some_l1_ops():
    rows, log, _ = _build(3)
    head = T0.timestamp() - gen.HEAD_DELAY_SECONDS
    assert all(o[2].timestamp() <= head for c in log for o in c["l1"])
    assert all(t[1].timestamp() <= head for c in log for t in c["l2"])
    fold = gen.Fold(rows, T0)
    parked = 0
    for c in log:
        fold.apply_l2(c["l2"])
        fold.apply_l1(c["l1"])
        parked += len(fold.held_l1)
    assert parked > 0  # the ahead-of-clock share exercises the holdback


def test_fold_applies_deletes_and_votes():
    rows, log, _ = _build(5)
    fold = gen.Fold(rows, T0)
    before = {k: dict(v) for k, v in fold.rows.items()}
    for c in log:
        fold.apply_l2(c["l2"])
        fold.apply_l1(c["l1"])
    deleted = {f"@{o[4]}/{o[5]}" for c in log for o in c["l1"] if o[3] == "delete_comment"}
    held = {f"@{o[4]}/{o[5]}" for o in fold.held_l1 if o[3] == "delete_comment"}
    assert deleted
    assert not any(k[0] in deleted - held for k in fold.rows)
    assert any(fold.rows[k]["vote_rshares"] != before[k]["vote_rshares"]
               for k in fold.rows if k in before)
