"""Span tracing from outside the engine.

A :class:`Tracer` records one span per call into a layer's public
function: name, start, end, parent span, the harness operation (cycle,
request or query) it belongs to, and the Spark jobs that ran under it.

Spark jobs are attributed with job groups: entering a span sets the
calling thread's job group to the span's id, leaving it restores the
previous group, and ``statusTracker().getJobIdsForGroup`` counts the jobs
the span ran itself (jobs of child spans carry the child's group).  The
same thread-local property carries the parent link across threads:
``pyspark.InheritableThread`` copies the starting thread's job group into
the new thread, so a span opened there finds its parent through it.

:func:`self_times` is the arithmetic: a span's self time is its duration
minus the part of it covered by the union of its children's intervals
(children on other threads may overlap each other).
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from collections.abc import Iterable
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"
_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0
    #: Spark jobs run under this span's own job group
    jobs: int = 0
    #: counts the instrumented call reports (rows processed, bytes written)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class LocalProps:
    """Thread-local properties with explicit inheritance — the
    ``SparkContext`` local-property behaviour, without a JVM (tests)."""

    def __init__(self):
        self._tl = threading.local()

    def get(self, key: str):
        return getattr(self._tl, "props", {}).get(key)

    def set(self, key: str, value) -> None:
        props = dict(getattr(self._tl, "props", {}))
        if value is None:
            props.pop(key, None)
        else:
            props[key] = value
        self._tl.props = props

    def snapshot(self) -> dict:
        return dict(getattr(self._tl, "props", {}))

    def adopt(self, props: dict) -> None:
        self._tl.props = dict(props)

    def job_count(self, group: str) -> int:
        return 0


class SparkProps:
    """The Spark context's local properties and its job status tracker."""

    def __init__(self, sc):
        self._sc = sc

    def get(self, key: str):
        return self._sc.getLocalProperty(key)

    def set(self, key: str, value) -> None:
        self._sc.setLocalProperty(key, value)

    def job_count(self, group: str) -> int:
        return len(self._sc.statusTracker().getJobIdsForGroup(group))


class Tracer:
    def __init__(self, props):
        self._props = props
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tl = threading.local()
        self._open: dict[int, Span] = {}
        self.spans: list[Span] = []
        #: id of the harness operation in progress (set by the harness;
        #: operations run one at a time)
        self.op: str | None = None
        #: seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0

    def _stack(self) -> list[Span]:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    def _parent(self, stack: list[Span]) -> int | None:
        if stack:
            return stack[-1].id
        group = self._props.get(_GROUP_KEY)
        if group and group.startswith(GROUP_PREFIX):
            return int(group[len(GROUP_PREFIX):])
        # a callback thread the engine did not start (e.g. a streaming
        # sink): the innermost span still open anywhere is its caller
        with self._lock:
            return max(self._open) if self._open else None

    def add_overhead(self, seconds: float) -> None:
        """Book bookkeeping done outside :meth:`span` as tracing cost."""
        with self._lock:
            self.overhead_s += seconds

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, name, self._parent(stack), self.op, 0.0)
        prev_group = self._props.get(_GROUP_KEY)
        self._props.set(_GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        stack.append(s)
        with self._lock:
            self._open[sid] = s
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._props.set(_GROUP_KEY, prev_group)
            s.jobs = self._props.job_count(f"{GROUP_PREFIX}{sid}")
            with self._lock:
                del self._open[sid]
                self.spans.append(s)
            self.add_overhead((s.start - t0) + (time.perf_counter() - s.end))


def _covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its children's union covers."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - _covered(children.get(s.id, ()), s.start, s.end)
        for s in spans
    }
