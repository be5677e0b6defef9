"""In-memory spans recorded around calls into the package's layers.

A span has a name, start, end, parent and a key (the epoch id or the
query name). Spans are recorded only in traced runs; the untraced runs
never install a wrapper. Spark jobs are attributed to a span by job-id
range: ``jobs_fn`` returns how many jobs the scheduler has accepted so
far, so the ids submitted while a span was open are
``[jobs_start, jobs_end)``. Job groups cannot be used for this, because
commits run on pool threads that do not inherit the stream's group.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    key: object
    start: float
    parent: "Span | None" = None
    end: float | None = None
    jobs_start: int = 0
    jobs_end: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``.
    Children on pool threads overlap each other, so their union, not
    their sum, is what they cover of the parent."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover."""
    kids = [(s.start, s.end) for s in spans
            if s.parent is span and s.end is not None]
    return span.dur - covered(kids, span.start, span.end)


class Tracer:
    """Records spans; a span opened on a thread with no open span of its
    own (a commit pool thread) takes the innermost open ``ambient`` span
    as its parent."""

    def __init__(self, jobs_fn=lambda: 0, clock=time.perf_counter) -> None:
        self.spans: list[Span] = []
        self._jobs = jobs_fn
        self._clock = clock
        self._local = threading.local()
        self._ambient: list[Span] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        with self._lock:
            return self._ambient[-1] if self._ambient else None

    @contextmanager
    def span(self, name: str, key=None, ambient: bool = False):
        parent = self.current()
        if key is None and parent is not None:
            key = parent.key
        s = Span(name, key, self._clock(), parent, jobs_start=self._jobs())
        stack = self._stack()
        stack.append(s)
        if ambient:
            with self._lock:
                self._ambient.append(s)
        try:
            yield s
        finally:
            s.jobs_end = self._jobs()
            s.end = self._clock()
            stack.pop()
            with self._lock:
                if ambient:
                    self._ambient.remove(s)
                self.spans.append(s)

    def wrap(self, name: str, fn, ambient: bool = False):
        """``fn``, recording each call as a span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, ambient=ambient):
                return fn(*args, **kwargs)
        return traced

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]
