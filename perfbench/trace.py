"""Span recorder for the traced benchmark run.

The benchmark times each layer from outside: :meth:`Tracer.wrap`
replaces a public function at its module (or class) attribute with a
wrapper that records a span around every call. Spans carry a name,
start, end, parent and the run id, live in memory and are written out
once, at exit (:meth:`Tracer.dump`).

A span may also tag the Spark jobs it starts: it sets
``sc.setJobGroup`` to its own id and, when it ends, counts the jobs,
stages and tasks of that group through ``sc.statusTracker()`` (which
works with ``spark.ui.enabled=false``). Jobs belong to the innermost
tagged span, so summing over spans counts each job once.

Self time is a span's duration minus the part of it that its children
cover (:func:`self_time`); overlapping children are counted once.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    result: float | None = None  # a numeric return value, when recorded

    @property
    def seconds(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the time its children cover."""
    return span.seconds - covered([(c.start, c.end) for c in children], span.start, span.end)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time, for every span of a finished trace."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.id: self_time(s, kids.get(s.id, [])) for s in spans}


class Tracer:
    """Collects spans for one run. ``sc`` (a SparkContext) turns on job,
    stage and task counting; without it spans are timing only."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._restores: list = []
        self._tagged: set[int] = set()
        self.overhead_s = 0.0  # time spent tagging and counting jobs

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _new(self, name: str, start: float, end: float, parent: int | None) -> Span:
        with self._lock:
            span = Span(self._next, name, start, end, parent, self.run_id)
            self._next += 1
            self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """Record a span around the block; nested spans become children.
        With ``jobs`` (and a SparkContext) the block's Spark jobs are
        tagged with this span's id and counted when it ends."""
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1].id if stack else None
        span = self._new(name, t0, 0.0, parent)
        tag = jobs and self.sc is not None
        if tag:
            self._tagged.add(span.id)
            group = f"span-{self.run_id}-{span.id}"
            self.sc.setJobGroup(group, name)
            span.start = time.perf_counter()
            self.overhead_s += span.start - t0
        stack.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()
            if tag:
                self._count_jobs(span, group)
                outer = next((s for s in reversed(stack) if s.id in self._tagged), None)
                if outer is not None:
                    self.sc.setJobGroup(f"span-{self.run_id}-{outer.id}", outer.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.overhead_s += time.perf_counter() - span.end

    def _count_jobs(self, span: Span, group: str) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            span.jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    span.stages += 1
                    span.tasks += stage.numTasks

    def add(self, name: str, start: float, end: float, parent: int | None) -> Span:
        """Record a span measured elsewhere (e.g. a pipeline step whose
        duration arrives through the metrics sink after it ends), and
        adopt the sibling spans that ran inside it as its children."""
        span = self._new(name, start, end, parent)
        for s in self.spans:
            if s is not span and s.parent == parent and s.start >= start and s.end <= end:
                s.parent = span.id
        return span

    def wrapped(self, fn, name: str, jobs: bool = True, record_result: bool = False):
        """``fn`` with every call recorded as a span named ``name``;
        ``record_result`` keeps a numeric return value on the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, jobs=jobs) as span:
                value = fn(*args, **kwargs)
                if record_result:
                    span.result = value
                return value

        return traced

    def wrap(self, owner, attr: str, name: str, **kw) -> None:
        """Replace ``owner.attr`` with :meth:`wrapped` until :meth:`unwrap`."""
        fn = getattr(owner, attr)
        setattr(owner, attr, self.wrapped(fn, name, **kw))
        self._restores.append((owner, attr, fn))

    def unwrap(self) -> None:
        while self._restores:
            owner, attr, fn = self._restores.pop()
            setattr(owner, attr, fn)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as out:
            json.dump({"run_id": self.run_id, "spans": [asdict(s) for s in self.spans]}, out)
