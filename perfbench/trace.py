"""In-memory spans for the traced run.

A span is (name, layer, start, end, parent, run id, query id). Spans
are recorded around the benchmark's own calls into each layer, kept in
a list, and written out once when the run ends. Self time of a span is
its duration minus the part of it that its children cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run: str
    query: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``enabled=False`` makes every call a no-op, so the
    untraced run pays only an attribute check per boundary."""

    def __init__(self, run: str, enabled: bool) -> None:
        self.run = run
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, query: str | None = None):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if query is None and parent is not None:
            query = self.spans[parent].query
        s = Span(sid, name, layer, time.time(), 0.0, parent, self.run, query)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: Span | None, query: str | None = None) -> None:
        """Record an already-finished interval (e.g. one read off a
        progress event or a Catalyst phase tracker)."""
        if not self.enabled:
            return
        pid = parent.id if parent is not None else None
        if query is None and parent is not None:
            query = parent.query
        self.spans.append(Span(len(self.spans), name, layer, start, end, pid, self.run, query))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Layer -> summed self time (seconds). A child interval is clipped
    to its parent and overlapping children are merged before being
    subtracted, so self time is never negative."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, ())
        )
        out[s.layer] += max(0.0, s.dur - covered)
    return dict(out)


def coverage(parent: Span, spans: list[Span]) -> float:
    """Share of ``parent``'s duration its direct children cover."""
    kids = [(max(c.start, parent.start), min(c.end, parent.end)) for c in spans if c.parent == parent.id]
    return union_length(kids) / parent.dur if parent.dur > 0 else 1.0


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
