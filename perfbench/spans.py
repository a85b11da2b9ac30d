"""In-memory spans and the statistics the benchmark reports.

A span is (id, name, start, end, parent). Spans are kept in memory and
written once, when the run ends. A span's self time is its duration
minus the part of its interval that its child spans cover.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, Iterator, List, Optional, Sequence, Tuple


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans when enabled; otherwise ``span`` only runs
    the body, so one code path serves traced and untraced runs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def durations(self, name: str) -> List[float]:
        return [s.duration for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(asdict(s), self_s=own[s.id])) + "\n")


def _covered(intervals: List[Tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def self_times(spans: Sequence[Span]) -> Dict[int, float]:
    """{span id: duration minus the time its children cover}, with each
    child clipped to its parent's interval."""
    kids: Dict[int, List[Tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None:
            p = by_id[s.parent]
            kids.setdefault(p.id, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return {s.id: s.duration - _covered(
        [iv for iv in kids.get(s.id, []) if iv[1] > iv[0]]) for s in spans}


def median(values: Sequence[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: Sequence[float]) -> Tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``values`` that
    still has at least ten samples above it. Below 21 samples that
    percentile would not lie above the median, so the maximum (p100) is
    returned instead and the caller records ``n`` with it."""
    xs = sorted(values)
    n = len(xs)
    if n > 20:
        return xs[n - 11], 100.0 * (n - 10) / n, n
    return (xs[-1] if xs else 0.0), 100.0, n
