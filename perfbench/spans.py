"""Spans for the traced run, recorded from outside the program.

``Tracer.wrap`` replaces a public function on its module with a wrapper
that records one span per call (name, start, end, parent, op id). The
program's own calls between its modules look functions up on the module
at call time, so a call that ``ingest.ingest_batch`` makes to
``ingest.validate_files`` is recorded as its child. Spans stay in memory
and are written when the run ends.

Each span also runs under a Spark job group of its own, so the jobs,
stages and tasks it launched are read back from
``SparkContext.statusTracker()`` when its op ends.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from dataclasses import dataclass

from stats import self_time


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.id: self_time(s.start, s.end, kids[s.id]) for s in spans}


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    and no function is wrapped."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._sc = None
        self.op = -1
        #: seconds spent in the tracer's own span bookkeeping (job-group
        #: calls included), inside the ops it traces
        self.cost = 0.0

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled and spark is not None else None

    def wrap(self, module, attr: str, name: str | None = None) -> None:
        if not self.enabled:
            return
        fn = getattr(module, attr)
        label = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(label):
                return fn(*a, **kw)

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def span(self, name: str):
        return _SpanCtx(self, name)

    # -- Spark job accounting ------------------------------------------------

    def _set_group(self, span_id: int | None) -> None:
        if self._sc is None:
            return
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"perfbench-{span_id}", "perfbench span")

    def count_jobs(self, op: int) -> None:
        """Fill jobs/stages/tasks of every span of ``op`` (self counts)."""
        if self._sc is None:
            return
        st = self._sc.statusTracker()
        for s in self.spans:
            if s.op != op:
                continue
            for jid in st.getJobIdsForGroup(f"perfbench-{s.id}"):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    sinfo = st.getStageInfo(sid)
                    s.stages += 1
                    s.tasks += sinfo.numTasks if sinfo is not None else 0

    def inclusive(self, field_name: str) -> dict[int, int]:
        """Per span, the count in ``field_name`` over its whole subtree."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        memo: dict[int, int] = {}

        def total(s: Span) -> int:
            if s.id not in memo:
                memo[s.id] = getattr(s, field_name) + sum(total(k) for k in kids[s.id])
            return memo[s.id]

        return {s.id: total(s) for s in self.spans}

    def dump(self) -> list[dict]:
        st = self_times(self.spans)
        return [
            {"id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": st[s.id],
             "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        t = self.t
        if not t.enabled:
            return None
        c0 = time.perf_counter()
        parent = t._stack[-1] if t._stack else None
        self.span = Span(len(t.spans), self.name, c0, 0.0, parent, t.op)
        t.spans.append(self.span)
        t._stack.append(self.span.id)
        t._set_group(self.span.id)
        self.span.start = time.perf_counter()
        t.cost += self.span.start - c0
        return self.span

    def __exit__(self, *exc) -> None:
        t = self.t
        if not t.enabled:
            return
        self.span.end = time.perf_counter()
        t._stack.pop()
        t._set_group(t._stack[-1] if t._stack else None)
        t.cost += time.perf_counter() - self.span.end
