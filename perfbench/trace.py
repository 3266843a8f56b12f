"""Span recording for the traced run.

A span has a name, a start, an end, the span that caused it and the trace
it belongs to.  Spans are kept in memory and written out once, when the run
ends.  Wrappers installed from here around the program's eager public calls
record one span per call; the lazy operators are timed by replays in the
workloads, inside spans opened directly with ``Tracer.span``.

Parents follow the calling thread.  A span opened on a thread with no open
span (the crawl's write wave runs its appends on pool threads) takes the
innermost span open on the main thread as its parent, so concurrent children
hang under the round that started them.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: int
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
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


def self_times(spans) -> dict[int, float]:
    """span_id -> duration minus the part of it its children cover.  The
    children of one span may overlap each other (concurrent appends), so the
    covered part is the union of their intervals, not the sum."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(kids.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        # time spent in the wrappers' before/after hooks (listing files,
        # reading table versions, counting jobs): the work tracing adds
        self.hook_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.main_thread().ident
        self._installed: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        return self._stacks.setdefault(threading.get_ident(), [])

    def _parent(self) -> Span | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        main = self._stacks.get(self._main)
        return main[-1] if main else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        # stacks change under the lock: a pool thread may read the main
        # thread's stack for its parent
        with self._lock:
            parent = self._parent()
            sid = next(self._ids)
            s = Span(
                sid, name, time.perf_counter(), 0.0,
                parent.span_id if parent else None,
                parent.trace_id if parent else sid,
                dict(attrs),
            )
            self._stack().append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            with self._lock:
                self._stack().pop()
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` (a class method or a module function,
        patched where its callers look it up) with a wrapper recording a
        span per call.  ``before(args, kwargs)`` runs inside the span before
        the call and its result is passed to ``after(span, state, args,
        result)``, which runs after it."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                t0 = time.perf_counter()
                state = before(args, kwargs) if before else None
                t1 = time.perf_counter()
                result = orig(*args, **kwargs)
                t2 = time.perf_counter()
                if after:
                    after(s, state, args, result)
                hook = t1 - t0 + time.perf_counter() - t2
                with tracer._lock:
                    tracer.hook_s += hook
                return result

        wrapper.__wrapped__ = orig
        self._installed.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._installed:
            owner, attr, orig = self._installed.pop()
            setattr(owner, attr, orig)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.by_name(name))

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        rows = [
            {**asdict(s), "self": st[s.span_id]}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


class JobCounter:
    """Spark jobs submitted without a job group — the engine's jobs,
    including those its write wave submits from pool threads."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.seen = set(self.tracker.getJobIdsForGroup(None))

    def new_jobs(self) -> int:
        now = set(self.tracker.getJobIdsForGroup(None))
        fresh = now - self.seen
        self.seen |= now
        return len(fresh)
