"""Spans, self times and latency summaries for the benchmark.

Spans are recorded around calls into the engine's public functions from
the benchmark's own files; nothing inside the engine is instrumented. A
disabled tracer records nothing and costs one attribute check per call.
"""

from __future__ import annotations

import itertools
import math
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass(frozen=True)
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float


class Tracer:
    """In-memory span recorder, safe to use from several threads.

    Each thread keeps its own stack of open spans, so a span's parent is
    the innermost span open in the same thread. Work that the engine runs
    on another thread (a streaming ``foreachBatch`` body runs on the
    callback thread) is attached with ``adopt``: spans opened on a thread
    with no open span take the adopted span as parent."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._adopted: int | None = None

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._adopted
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, name, start, end))

    @contextmanager
    def adopt(self, span_id: int | None):
        """Parent spans opened on other threads under ``span_id``."""
        prev, self._adopted = self._adopted, span_id
        try:
            yield
        finally:
            self._adopted = prev


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    covered by its children (clipped to the parent, overlaps counted
    once)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children[p.id].append((lo, hi))
    return {
        s.id: max(0.0, (s.end - s.start) - _union_length(children[s.id]))
        for s in spans
    }


def totals_by_name(spans: list[Span]) -> dict[str, tuple[float, float, int]]:
    """Span name -> (total duration, total self time, count)."""
    selfs = self_times(spans)
    out: dict[str, list] = defaultdict(lambda: [0.0, 0.0, 0])
    for s in spans:
        acc = out[s.name]
        acc[0] += s.end - s.start
        acc[1] += selfs[s.id]
        acc[2] += 1
    return {k: (v[0], v[1], v[2]) for k, v in out.items()}


# ---------------------------------------------------------------------------
# latency summaries
# ---------------------------------------------------------------------------

#: Percentiles a tail may be reported at, lowest first.
TAIL_LADDER = tuple(float(p) for p in range(50, 100)) + (99.9,)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile, from p50 up, with at least ten samples above
    it, as (value, label). With too few samples for p50 (under 20) the
    maximum is returned, labelled ``max``."""
    best: tuple[float, str] | None = None
    for p in TAIL_LADDER:
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= 10:
            best = (v, f"p{p:g}")
    return best if best is not None else (max(values), "max")


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0
