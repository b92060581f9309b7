"""Spans around the benchmark's calls into the engine.

A span records its name, start, end, parent span and op id. While a
span is open its own Spark job group is set on the calling thread, so
``statusTracker()`` attributes every job the engine launches inside it
(and the tasks of those jobs) to that span. Spans are kept in memory
and written out once, when the run ends.

``NullTracer`` is the untraced twin: the same ``span`` call site costs
one ``nullcontext`` and touches no Spark state, so the end-to-end runs
measure the engine and not the tracer.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False
    overhead_s = 0.0

    def span(self, name: str, op: int | None = None, **attrs):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()
        self._bus = self._sc._jsc.sc().listenerBus()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, op, parent.id if parent else None, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setLocalProperty("spark.jobGroup.id", self._group(s))
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty(
                "spark.jobGroup.id", self._group(parent) if parent else None
            )
            own_jobs, own_tasks = self._count(self._group(s))
            kids = [c for c in self.spans if c.parent == s.id]
            s.jobs = own_jobs + sum(c.jobs for c in kids)
            s.tasks = own_tasks + sum(c.tasks for c in kids)
            self.overhead_s += time.perf_counter() - s.end

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-{s.id}"

    def _count(self, group: str) -> tuple[int, int]:
        # the status store is fed by an asynchronous listener bus: let
        # it catch up so every job of the span is visible
        self._bus.waitUntilEmpty()
        jobs = self._status.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = self._status.getJobInfo(j)
            for st in info.stageIds if info else ():
                sinfo = self._status.getStageInfo(st)
                tasks += sinfo.numTasks if sinfo else 0
        return len(jobs), tasks

    # -- reading the spans back ------------------------------------------

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
        covered, reach = 0.0, s.start
        for a, b in kids:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        return s.dur - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans], f
            )


def median(xs) -> float:
    """Median, or 0 for no samples (a layer the workload never reached)."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    """Mean, or 0 for no samples."""
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0
