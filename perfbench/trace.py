"""Span recorder for the traced run.

Spans are recorded from the benchmark's own files only: ``Tracer.wrap``
replaces a public function of a program module with a wrapper that opens
a span around the call, and ``Tracer.span`` opens one around a block of
benchmark code. A span holds name, start, end, parent and a shared id
(one per micro-batch, request or pass); spans are kept in memory and
written out once, at the end. Self time is a span's duration minus the
time its children cover.

Spark work per span is counted by job-id window, not by job group:
streaming batches run under the query's job group, while jobs the
program submits from its own thread pools carry none, so only the
scheduler's monotonically increasing job ids cover both. A span records
the next job id at entry and at exit; the jobs in between, and their
stages' task counts, come from ``sparkContext.statusTracker()``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "trace_id", "jobs", "attrs", "children")

    def __init__(self, sid, name, start, parent, trace_id):
        self.sid, self.name, self.start, self.parent, self.trace_id = sid, name, start, parent, trace_id
        self.end = None
        self.jobs = (0, 0)
        self.attrs: dict = {}
        self.children: list[Span] = []

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def self_ms(self) -> float:
        """Duration minus the union of the children's intervals."""
        covered, lo, hi = 0.0, None, None
        for c in sorted(self.children, key=lambda c: c.start):
            if hi is None or c.start > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = c.start, c.end
            else:
                hi = max(hi, c.end)
        if hi is not None:
            covered += hi - lo
        return self.ms - covered * 1000.0


class Tracer:
    """In-memory spans plus Spark job-window counts. ``enabled=False``
    makes every method a no-op, so untraced runs pay nothing."""

    def __init__(self, spark=None, enabled: bool = True):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @property
    def trace_id(self):
        """The current thread's batch / request / pass id."""
        return getattr(self._local, "trace_id", None)

    @trace_id.setter
    def trace_id(self, value) -> None:
        self._local.trace_id = value

    # -------------------------------------------------------------- jobs --

    def next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def job_stats(self, lo: int, hi: int) -> tuple[int, int, int]:
        """(jobs, stages, tasks) for job ids in [lo, hi)."""
        st = self.spark.sparkContext.statusTracker()
        stages = tasks = 0
        for j in range(lo, hi):
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return hi - lo, stages, tasks

    # ------------------------------------------------------------- spans --

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, count_jobs: bool = True) -> Span | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(next(self._ids), name, 0.0, parent.sid if parent else None, self.trace_id)
        if count_jobs and self.spark is not None:
            sp.jobs = (self.next_job_id(), None)
        if parent is not None:
            parent.children.append(sp)
        stack.append(sp)
        self.spans.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        if sp.jobs[1] is None:
            sp.jobs = (sp.jobs[0], self.next_job_id())
        self.overhead_s += time.perf_counter() - sp.end

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def wrap(self, module, attr: str, name: str, count_jobs: bool = True) -> None:
        """Replace ``module.attr`` with a span-recording wrapper (undone
        by ``unwrap_all``)."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            sp = self.open(name, count_jobs)
            try:
                return fn(*a, **kw)
            finally:
                self.close(sp)

        self.patch(module, attr, wrapper)

    def patch(self, module, attr: str, wrapper) -> None:
        """Install ``wrapper`` as ``module.attr`` until ``unwrap_all``."""
        self._patches.append((module, attr, getattr(module, attr)))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()

    # ------------------------------------------------------------ queries --

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def jobs_of(self, spans: list[Span]) -> tuple[list[int], list[int]]:
        """Per-span job and task counts (queried after the timed window,
        so not tracing overhead)."""
        jobs, tasks = [], []
        for s in spans:
            j, _st, t = self.job_stats(*s.jobs)
            jobs.append(j)
            tasks.append(t)
        return jobs, tasks

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as fh:
            for s in self.spans:
                if s.end is None:
                    continue
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "trace_id": s.trace_id,
                    "jobs": list(s.jobs), **s.attrs,
                }) + "\n")
