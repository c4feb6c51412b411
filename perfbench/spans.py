"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, request id).  Spans are kept in a
list while the run executes and written out once, when it ends.  With
tracing off, :meth:`Tracer.span` is a no-op context manager that still
returns the elapsed time, so untraced and traced runs time the same
code paths.
"""

from __future__ import annotations

import json
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
    request: int | None


class Timer:
    """Result holder of one ``span`` block: ``.s`` is set on exit."""

    s: float = 0.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: int | None = None):
        t = Timer()
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield t
            finally:
                t.s = time.perf_counter() - t0
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        sp = Span(sid, name, time.perf_counter(), 0.0, parent, request)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield t
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            t.s = sp.end - sp.start

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of it covered by its direct children (children of one
        parent never overlap — the benchmark is single-threaded)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + (
                sp.end - sp.start - child[sp.id])
        return out

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_s": self.self_times()}, f)
