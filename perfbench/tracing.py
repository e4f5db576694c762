"""Spans recorded from the benchmark's own files around calls into the
program's public functions.

``Tracer.wrap(owner, attr, layer)`` replaces ``owner.attr`` (a module
function or an instance method of a class) with a wrapper that records
one span per call while ``Tracer.enabled`` is set, and
``Tracer.restore`` puts every original back. Spans carry wall-clock epoch seconds so they line up
with the Spark event log, the id of the span that was open on the same
thread when they started, and an optional key (e.g. a ``task_key``).
They stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    key: str | None
    t0: float
    t1: float = 0.0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.results: list = []  # return values kept by ``on_result`` hooks
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def start(self, layer: str, name: str, key: str | None = None) -> Span:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            span = Span(next(self._ids), stack[-1].id if stack else None, layer, name, key, time.time())
            self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.t1 = time.time()
        self._local.stack.remove(span)

    def wrap(self, owner, attr: str, layer: str, key=None, on_result=None) -> None:
        """Record a span per call of ``owner.attr``. ``key(args, kwargs)``
        names the unit of work; ``on_result(result)`` sees each return
        value (e.g. to keep a DataFrame for counting later)."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            span = tracer.start(layer, attr, key(args, kwargs) if key else None)
            try:
                result = original(*args, **kwargs)
            finally:
                tracer.end(span)
            if on_result is not None:
                on_result(result)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def between(self, t0: float, t1: float) -> list[Span]:
        """Spans that started and ended inside ``[t0, t1]``."""
        return [s for s in self.spans if s.t0 >= t0 and s.t1 <= t1]


def peak_parallelism(intervals: list[tuple[float, float]]) -> int:
    """Largest number of intervals open at one instant."""
    events = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals])
    best = cur = 0
    for _, step in events:
        cur += step
        best = max(best, cur)
    return best
