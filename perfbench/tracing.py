"""Spans around the benchmark's calls into each engine layer.

A span records name, start, end, parent span and the operation it
belongs to. Spans live in memory until the run ends. The untraced run
uses ``NullTracer``, whose spans cost next to nothing, so the
end-to-end figures are measured without tracing; the traced run's
wall-clock figures minus the untraced run's are the tracing overhead."""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    op: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0]


class NullTracer:
    enabled = False

    def span(self, name: str, op: int = 0):
        return contextlib.nullcontext()

    @contextlib.contextmanager
    def job_group(self, sc, op: int):
        yield


class Tracer:
    """Thread-safe span recorder. Nested spans in one thread get the
    enclosing span as parent."""

    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._sc = None
        # seconds spent inside the tracer itself
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, op: int = 0):
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(next(self._ids), op, name,
                 stack[-1].id if stack else None, 0.0)
        stack.append(s)
        t1 = time.perf_counter()
        s.start = t1
        try:
            yield s
        finally:
            t2 = time.perf_counter()
            s.end = t2
            stack.pop()
            with self._lock:
                self.spans.append(s)
                self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    @contextlib.contextmanager
    def job_group(self, sc, op: int):
        """Tag the Spark jobs this thread starts with the operation id,
        so ``job_counts`` can read them from the status tracker."""
        t0 = time.perf_counter()
        self._sc = sc
        sc.setJobGroup(f"perfbench-op-{op}", f"perfbench op {op}")
        self._add_bookkeeping(time.perf_counter() - t0)
        try:
            yield
        finally:
            t1 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._add_bookkeeping(time.perf_counter() - t1)

    def job_counts(self, op: int) -> tuple[int, int, int]:
        """(jobs, stages, tasks) Spark ran for operation ``op``."""
        t0 = time.perf_counter()
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"perfbench-op-{op}")
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        self._add_bookkeeping(time.perf_counter() - t0)
        return (len(jobs), stages, tasks)

    def _add_bookkeeping(self, dt: float) -> None:
        with self._lock:
            self.bookkeeping_s += dt

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer not covered by a child span."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union_length(
            [(c.start, c.end) for c in children.get(s.id, [])],
            s.start, s.end,
        )
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
    return out


def _union_length(intervals, lo: float, hi: float) -> float:
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
