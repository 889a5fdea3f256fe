"""In-memory spans around calls into the engine's layers.

Spans are recorded by the benchmark's own wrappers (never inside the
engine): each span has a name, start, end, parent span id and the run
id. They stay in memory and are written out once, when the run ends.
A span's self time is its duration minus the part of its interval that
its child spans cover.

The tracer also times its own bookkeeping, so a traced run reports how
much of its wall went into tracing.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` by a traced version on this instance
        only. Calls the object makes to itself (``self.flush()``) go
        through the instance attribute, so they are traced too."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.by_name(name))

    def self_s(self, name: str) -> float:
        """Summed self time of every span called ``name``."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        total = 0.0
        for s in self.by_name(name):
            total += (s["end"] - s["start"]) - _covered(
                children[s["id"]], s["start"], s["end"]
            )
        return total

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return self
        b0 = time.perf_counter()
        with t._lock:
            self.id = t._next_id
            t._next_id += 1
        stack = t._stack()
        self.parent = stack[-1] if stack else None
        stack.append(self.id)
        b1 = time.perf_counter()
        self.start = b1
        with t._lock:
            t.bookkeeping_s += b1 - b0
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if not t.enabled:
            return False
        end = time.perf_counter()
        t._stack().pop()
        rec = {
            "id": self.id,
            "name": self.name,
            "start": self.start,
            "end": end,
            "parent": self.parent,
            "run": t.run_id,
            "thread": threading.current_thread().name,
        }
        with t._lock:
            t.spans.append(rec)
            t.bookkeeping_s += time.perf_counter() - end
        return False


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


class JobCounter:
    """Spark job, stage and task counts from ``statusTracker()``, which
    works with the UI disabled. Jobs are numbered in submission order,
    so the jobs of a window are those above the highest id seen at its
    start. Only completed stages count (skipped stages ran no task)."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()

    def mark(self) -> int:
        return max(self.tracker.getJobIdsForGroup(None), default=-1)

    def since(self, mark: int) -> dict[str, int]:
        jobs = [j for j in self.tracker.getJobIdsForGroup(None) if j > mark]
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
