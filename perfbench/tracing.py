"""In-memory spans around the benchmark's calls into each layer.

A span is ``(name, start, end, parent, run_id)``; its layer is the name
up to the last ``:`` (``plans.pipeline:scan`` belongs to
``plans.pipeline``). Spans are kept in memory and written out once, at
the end of the traced run.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import NamedTuple


class Span(NamedTuple):
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


def layer_of(name: str) -> str:
    return name.rsplit(":", 1)[0]


class Tracer:
    """Records nested spans; ``enabled=False`` records nothing."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        start = time.perf_counter()
        self.spans.append(Span(name, start, start, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx] = self.spans[idx]._replace(
                end=time.perf_counter())

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s._asdict()) + "\n")


def span_cost(n: int = 20000) -> float:
    """Seconds one recorded span costs the traced code (measured)."""
    t = Tracer("cost")
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x:y"):
            pass
    return (time.perf_counter() - t0) / n


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval that its child spans cover, summed by layer."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = (s.end - s.start) - _covered(children.get(i, []))
        out[layer_of(s.name)] = out.get(layer_of(s.name), 0.0) + own
    return out
