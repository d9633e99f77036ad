"""In-memory spans and counters recorded around the benchmark's calls into
each layer of the program.

A span has a name, a start, an end, the span that caused it (the enclosing
span on the same thread) and the operation it belongs to. Self time is the
span's duration minus the time its child spans cover. Nothing is written
until the run ends; with tracing off, :class:`NullTracer` records nothing.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: str | None
    parent: "Span | None"
    start: float
    end: float = 0.0
    child_s: float = 0.0

    @property
    def total_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.total_s - self.child_s


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counts: dict = field(default_factory=lambda: defaultdict(list))
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    enabled = True

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def op(self, op_id: str):
        """Tag every span opened on this thread inside the block with ``op_id``."""
        prev = getattr(self._local, "op", None)
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        sp = Span(name, getattr(self._local, "op", None), st[-1] if st else None, time.perf_counter())
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            if sp.parent is not None:
                sp.parent.child_s += sp.total_s
            with self._lock:
                self.spans.append(sp)

    def count(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name].append(value)

    def summary(self) -> dict[str, dict]:
        """name -> {count, total_s, self_s} over every recorded span."""
        out: dict[str, dict] = {}
        for sp in self.spans:
            s = out.setdefault(sp.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            s["count"] += 1
            s["total_s"] += sp.total_s
            s["self_s"] += sp.self_s
        return out


class NullTracer:
    """Tracing off: the same interface, nothing recorded."""

    enabled = False

    @contextmanager
    def op(self, op_id: str):
        yield

    @contextmanager
    def span(self, name: str):
        yield None

    def count(self, name: str, value: float) -> None:
        pass
