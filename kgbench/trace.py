"""In-memory spans and counters for the traced benchmark run.

A span records (name, start, end, parent). Spans nest through a stack, so
the span that is open when another starts is its parent. Spans stay in
memory until the run ends; nothing is written while a job runs.

A layer's self time is the sum, over its spans, of the span's duration
minus the part of that interval its direct child spans cover.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        # (name, start, end, parent index or -1)
        self.spans: list[tuple[str, float, float, int]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, self.clock(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, p = self.spans[idx]
            self.spans[idx] = (n, start, self.clock(), p)

    def add(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def self_times(self) -> dict[str, float]:
        """Self time per span name, summed over that name's spans."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for name, start, end, parent in self.spans:
            if parent >= 0:
                children[parent].append((start, end))
        out: dict[str, float] = defaultdict(float)
        for idx, (name, start, end, _parent) in enumerate(self.spans):
            out[name] += (end - start) - _covered(start, end, children.get(idx, []))
        return dict(out)

    def totals(self) -> dict[str, float]:
        """Inclusive wall time per span name, summed over that name's spans."""
        out: dict[str, float] = defaultdict(float)
        for name, start, end, _parent in self.spans:
            out[name] += end - start
        return dict(out)


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, reach = 0.0, start
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, end)
        if e > s:
            total += e - s
            reach = e
    return total


@contextlib.contextmanager
def patched(owner, attr: str, replacement):
    """Replace ``owner.attr`` while the block runs, then restore it."""
    original = getattr(owner, attr)
    setattr(owner, attr, replacement)
    try:
        yield
    finally:
        setattr(owner, attr, original)
