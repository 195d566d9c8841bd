"""In-memory span recorder for the traced benchmark run.

A span is one timed call from the benchmark into a layer: it keeps its
name, start, end, parent span and request id. Spans stay in memory and are
written out once, when the run ends. A span's *self time* is its duration
minus the part of that interval covered by its child spans, so the self
times of one request's spans add up to the request's wall time.

With ``enabled=False`` every call is a no-op, which is how the untraced
(timed) run uses the same request code.
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
    request: int | None
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class SpanRecorder:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request: int | None = None):
        """Time the enclosed block as a child of the innermost open span.

        A root span (no open parent) must name its request; children
        inherit it."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(
            id=len(self.spans),
            name=name,
            request=request,
            parent=parent.id if parent is not None else None,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals
        (clipped to the span)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[int, float] = {}
        for s in self.spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.id] = s.duration - covered
        return out

    def roots(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent is None and s.name == name]

    def in_trees(self, root_name: str) -> list[Span]:
        """Every span in a tree rooted at a span called *root_name*."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.spans:
            r = s
            while r.parent is not None:
                r = by_id[r.parent]
            if r.name == root_name:
                out.append(s)
        return out

    def layer_self_times(self, root_name: str) -> dict[str, float]:
        """Self time summed per span name over every tree rooted at a span
        called *root_name*; the values add up to those roots' total wall."""
        selfs = self.self_times()
        out: dict[str, float] = {}
        for s in self.in_trees(root_name):
            out[s.name] = out.get(s.name, 0.0) + selfs[s.id]
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans], f
            )
