"""In-memory spans for the traced run.

A span has a name, start, end, its parent span and the trace id of the
op it belongs to. The current span travels in a context variable, so
spans opened in asyncio tasks or ``asyncio.to_thread`` calls find
their parent. Spans stay in memory and are written as JSON once, at
the end of the run.
"""

from __future__ import annotations

import contextvars
import functools
import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_current: contextvars.ContextVar["Span | None"] = contextvars.ContextVar("span", default=None)


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    trace_id: int
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, trace_id: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = _current.get()
        if trace_id is None:
            trace_id = parent.trace_id if parent is not None else 0
        s = Span(next(self._ids), parent.span_id if parent else None, trace_id, name,
                 time.perf_counter())
        token = _current.set(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            _current.reset(token)
            self.spans.append(s)

    def add(self, name: str, start: float, end: float, parent: Span) -> None:
        """Record a span derived from the boundaries of other spans."""
        if self.enabled:
            self.spans.append(Span(next(self._ids), parent.span_id, parent.trace_id, name, start, end))

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


@contextmanager
def patched(obj, attr: str, replacement):
    """Temporarily replace ``obj.attr``."""
    original = getattr(obj, attr)
    setattr(obj, attr, replacement)
    try:
        yield original
    finally:
        setattr(obj, attr, original)
