"""Span recorder and exact counters for the traced run.

Spans are recorded from the benchmark's own files around calls into the
engine's public functions: ``Tracer.wrap`` swaps a module or class
attribute for a timing shim, and ``Tracer.span`` times a block in the
workload code. Each span holds (name, start, end, parent, op id); spans
stay in memory and ``Tracer.dump`` writes them out once, at the end.
Nothing here is installed in an untraced run.

Exact counters, read per op:

- Spark jobs and completed tasks, through a job group per op
  (``SparkContext.setJobGroup`` + ``statusTracker()``);
- py4j round-trips, through a counting ``send_command``;
- bytes and files written under a directory, from a before/after diff.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import nullcontext


class Tracer:
    """Spans and counters of one single-threaded benchmark client."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.op_id: int | None = None
        self.py4j_calls = 0

    # -- spans ---------------------------------------------------------------
    def _open(self, name: str) -> int:
        i = len(self.spans)
        self.spans.append({
            "id": i, "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "op": self.op_id,
        })
        self._stack.append(i)
        return i

    def _close(self, i: int) -> None:
        self.spans[i]["end"] = time.perf_counter()
        self._stack.pop()

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.i = tracer._open(name)
                return self

            def __exit__(self, *exc):
                if self.i is not None:
                    tracer._close(self.i)
                return False

        return _Span()

    def wrap(self, owner, attr: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` with a span-recording shim."""
        orig = getattr(owner, attr)
        name = name or attr
        tracer = self

        @functools.wraps(orig)
        def shim(*a, **k):
            i = tracer._open(name)
            try:
                return orig(*a, **k)
            finally:
                tracer._close(i)

        setattr(owner, attr, shim)
        self._patched.append((owner, attr, orig))

    def count_py4j(self) -> None:
        """Count every py4j command the driver sends to the JVM."""
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        tracer = self
        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            orig = cls.send_command

            def counted(conn, *a, _orig=orig, **k):
                tracer.py4j_calls += 1
                return _orig(conn, *a, **k)

            cls.send_command = counted
            self._patched.append((cls, "send_command", orig))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- per-op counters -----------------------------------------------------
    def op(self, op_id: int):
        """Context for one op: job group + py4j delta. Yields a dict that
        holds the op's counts after the block exits."""
        tracer = self

        class _Op:
            def __enter__(self):
                tracer.op_id = op_id
                self.group = f"perfbench-op-{op_id}"
                tracer.sc.setJobGroup(self.group, self.group)
                self.counts = {}
                self.py4j0 = tracer.py4j_calls
                return self.counts

            def __exit__(self, *exc):
                self.counts["py4j_calls"] = tracer.py4j_calls - self.py4j0
                self.counts.update(tracer.job_counts(self.group))
                tracer.sc.setLocalProperty("spark.jobGroup.id", None)
                tracer.op_id = None
                return False

        return _Op()

    def job_counts(self, group: str) -> dict:
        """Jobs and completed tasks of a job group, once the listener bus
        has delivered every event of the finished jobs."""
        bus = self.sc._jsc.sc().listenerBus()
        try:
            bus.waitUntilEmpty()
        except Exception:
            bus.waitUntilEmpty(10_000)
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "tasks": tasks}

    # -- summaries -----------------------------------------------------------
    def self_list(self) -> list[float]:
        """Self seconds of every span, in span order: the span minus the
        time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def self_times(self) -> dict[str, list[float]]:
        """name -> [self seconds per span]."""
        out = defaultdict(list)
        for s, v in zip(self.spans, self.self_list()):
            out[s["name"]].append(v)
        return out

    def totals(self) -> dict[str, list[float]]:
        """name -> [seconds per span]."""
        out = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(s["end"] - s["start"])
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def span(tracer: Tracer | None, name: str):
    """``tracer.span(name)``, or nothing in an untraced run."""
    return tracer.span(name) if tracer else nullcontext()


def op(tracer: Tracer | None, op_id: int):
    """``tracer.op(op_id)``, or an empty count dict in an untraced run."""
    return tracer.op(op_id) if tracer else nullcontext({})


def snapshot(root: str) -> dict[str, tuple]:
    """relative path -> (size, mtime_ns, inode) of every file under root."""
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present after that are new or changed since before."""
    new = [k for k, v in after.items() if before.get(k) != v]
    return len(new), sum(after[k][0] for k in new)
