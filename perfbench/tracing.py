"""In-memory spans around calls into the engine's layers.

Spans are installed from the benchmark, on instances (an instance
attribute shadows the class method; a module attribute is rebound for
module functions), so the engine's source is untouched. Each span is
(id, name, trace, parent, start, end, attrs) on ``time.perf_counter``.

Parenting follows the engine's structure rather than the call stack: the
per-epoch consumers run on pool threads, so every span opened while a root
span (an epoch, or a query) is open becomes that root's child, whichever
thread it runs on. Spans opened with ``root=True`` (background compaction)
start their own trace.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._root: Span | None = None

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    def _open(self, name: str, trace: str | None, root: bool, attrs: dict) -> Span:
        parent = None if root else self._root
        if trace is None:
            trace = parent.trace if parent is not None else name
        span = Span(next(self._ids), name, trace, parent.id if parent else None,
                    time.perf_counter(), attrs=attrs)
        with self._lock:
            self.spans.append(span)
        return span

    @contextmanager
    def root(self, name: str, trace: str, **attrs):
        """A root span; spans opened inside it on any thread are its children."""
        t_in = time.perf_counter()
        span = self._open(name, trace, True, attrs)
        prev, self._root = self._root, span
        self._charge(time.perf_counter() - t_in)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._root = prev

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        span = self._open(name, None, False, attrs)
        self._charge(time.perf_counter() - t_in)
        try:
            yield span
        finally:
            span.end = time.perf_counter()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """A child span of the open root whose interval was measured elsewhere."""
        span = self._open(name, None, False, attrs)
        span.start, span.end = start, end

    def wrap(self, obj, attr: str, name: str, root: bool = False, attrs_of=None,
             after=None) -> None:
        """Rebind ``obj.attr`` to a spanned call of the original.
        ``attrs_of(args, kwargs)`` may add attributes to each span;
        ``after(span)`` runs once the call has returned or raised."""
        fn = getattr(obj, attr)

        def spanned(*args, **kwargs):
            t_in = time.perf_counter()
            attrs = attrs_of(args, kwargs) if attrs_of else {}
            span = self._open(name, name if root else None, root, attrs)
            t_call = time.perf_counter()
            self._charge(t_call - t_in)
            try:
                result = fn(*args, **kwargs)
                if isinstance(result, int):  # e.g. slots folded by a compaction
                    span.attrs["returned"] = result
                return result
            finally:
                span.end = time.perf_counter()
                if after is not None:
                    after(span)
                    self._charge(time.perf_counter() - span.end)

        setattr(obj, attr, spanned)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]
