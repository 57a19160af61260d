"""Shared pieces of the benchmark: run context, percentiles, peak RSS."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
from dataclasses import dataclass, field
from datetime import datetime, timezone

import gen
from spans import Tracer

MAX_STATE_AGE_S = 6 * 3600  # rebuild before the 30-day windows drift


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str                    # benchmark-owned scratch dir in the checkout
    t0: datetime                 # run start (naive UTC); all inputs offset from it
    tracer: Tracer | None = None   # set in a traced run only


@dataclass
class Result:
    """One workload's output. ``metrics`` holds the end-to-end numbers under
    the BENCHMARK.json names; ``named`` the workload's own named numbers;
    ``layers`` the traced run's per-layer numbers."""

    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    named: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    peak_rss_mb: float = 0.0


def seed_frames(spark, rows: dict) -> dict:
    """Generated rows -> one DataFrame per state table, shipped through
    pandas so Arrow carries them to the JVM in one batch per table."""
    import pandas as pd

    from distribution_engine_smt_spark.schemas import STATE_TABLES

    out = {}
    for name, schema in STATE_TABLES.items():
        r = rows.get(name) or []
        data = pd.DataFrame.from_records(r, columns=schema.fieldNames()) if r else []
        out[name] = spark.createDataFrame(data, schema)
    return out


# ---------------------------------------------------------------------------
# the seeded state (gen.STATE_KNOBS, gen.STATE_SEED), written once per
# checkout through DualStreamRunner.save_state; serve reads it in place,
# ingest copies it. Its marker records the generator's t0 and knobs, so a
# change to either rebuilds it.
# ---------------------------------------------------------------------------
def state_dir(work: str) -> str:
    return os.path.join(work, "state")


def _state_marker(work: str) -> str:
    return os.path.join(state_dir(work), "_perfbench_marker.json")


def state_t0(work: str) -> datetime:
    with open(_state_marker(work)) as f:
        return datetime.fromisoformat(json.load(f)["t0"])


def state_ready(work: str) -> bool:
    """The state exists, was generated with today's knobs, and is young
    enough that its time windows have not drifted."""
    try:
        with open(_state_marker(work)) as f:
            marker = json.load(f)
        t0 = datetime.fromisoformat(marker["t0"])
    except (OSError, ValueError, KeyError):
        return False
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    return (marker.get("knobs") == repr(gen.STATE_KNOBS)
            and (now - t0).total_seconds() < MAX_STATE_AGE_S)


def build_state(spark, work: str) -> None:
    """Generate and write the state (not timed)."""
    from distribution_engine_smt_spark.streaming import DualStreamRunner

    root = state_dir(work)
    shutil.rmtree(root, ignore_errors=True)
    t0 = datetime.now(timezone.utc).replace(tzinfo=None, microsecond=0)
    _, rows = gen.seed_state(gen.STATE_KNOBS, gen.STATE_SEED, t0)
    DualStreamRunner(spark, root).save_state(seed_frames(spark, rows))
    with open(_state_marker(work), "w") as f:
        json.dump({"t0": t0.isoformat(), "knobs": repr(gen.STATE_KNOBS)}, f)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    s = sorted(values)
    if not s:
        return float("nan")
    i = min(len(s) - 1, max(0, math.ceil(q / 100 * len(s)) - 1))
    return s[i]


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least 10 samples
    beyond it; with fewer than 20 samples no such percentile exceeds the
    median, so the median is reported and the percentile says so."""
    n = len(values)
    if n < 20:
        return median(values), 50.0
    q = math.floor(100 * (1 - 10 / n))
    return pct(values, q), q


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def vm_hwm_kb(pid: int | str = "self") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user plus system) of a process and all its descendants:
    this process, the JVM and the Python workers it forks. Each process
    counts its own time and that of its reaped children, so a worker that
    exits between two readings keeps its time in the sum. Time the host
    takes from the VM (steal) is not charged to a process, so this moves
    far less with the load of other tenants than wall-clock time does."""
    pid = pid or os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/children") as f:
                    todo.extend(int(x) for x in f.read().split())
        except (OSError, ValueError, IndexError):
            pass
    return total / tick


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Driver (this process) plus JVM peak resident set, from /proc VmHWM.
    The JVM is the py4j gateway process, or its child when the launcher
    script did not exec into java."""
    kb = vm_hwm_kb()
    if jvm_pid:
        pids = [jvm_pid] + _children(jvm_pid)
        kb += max(vm_hwm_kb(p) for p in pids)
    return kb / 1024.0


def row_hash(rows) -> str:
    """Order-insensitive hash of collected rows; floats rounded to 9
    significant digits so last-bit summation noise does not flip it."""
    import hashlib

    def norm(v):
        if isinstance(v, float):
            return float(f"{v:.9g}")
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        if isinstance(v, dict):
            return {k: norm(x) for k, x in sorted(v.items())}
        if hasattr(v, "asDict"):
            return norm(v.asDict(recursive=True))
        return v

    lines = sorted(repr(norm(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
