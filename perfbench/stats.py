"""Pure-Python measurement helpers: the tail-percentile rule, spans and
per-layer self time. No Spark import here, so the benchmark's own tests
run without a session."""

from __future__ import annotations

import json
import math
import statistics
import time
from dataclasses import dataclass, field

#: A tail is reported at the highest percentile that still leaves at
#: least this many samples beyond it ...
TAIL_BEYOND = 10
#: ... but at most this percentile: the 11th-highest sample of a run is
#: too noisy to compare runs by (0.18 quartile spread over five seeds on
#: the webhook acks, against 0.07 for the median)
TAIL_CAP = 90.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile ``p`` (in steps
    of 0.1), at most ``TAIL_CAP``, such that at least ``TAIL_BEYOND`` of the
    ``n`` samples lie strictly above the ``p``-th nearest-rank sample, and
    that sample.

    A tail never sits below the median: with fewer than
    ``2 * TAIL_BEYOND`` samples that percentile would be under the 50th,
    and the median stands in, reported as percentile 50."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of an empty sample")
    # nearest rank r (1-based) leaves n - r samples beyond it; the best
    # rank is n - TAIL_BEYOND, or the cap's rank if that is lower, and its
    # percentile is 100 * r / n rounded down to 0.1 so the stated
    # percentile never overstates it
    rank = min(n - TAIL_BEYOND, math.ceil(TAIL_CAP * n / 100))
    if 2 * rank < n:
        return statistics.median(xs), 50.0, n
    pct = math.floor(1000 * rank / n) / 10
    return xs[rank - 1], pct, n


def fits(walls: list[float], t0: float, seconds: float) -> bool:
    """Whether to start another unit of work: always the first, then only
    while one more unit as long as the longest so far would end within
    ``seconds`` of ``t0``."""
    return not walls or time.perf_counter() - t0 + max(walls) <= seconds


def median(values: list[float]) -> float:
    return statistics.median(values)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str
    sid: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled tracers return a no-op context,
    so the untraced path pays one attribute check per call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []  # open spans; only the benchmark thread records

    def span(self, name: str, layer: str, **attrs):
        return _SpanCtx(self, name, layer, attrs) if self.enabled else _NOOP

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "layer": s.layer,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    "run_id": s.run_id, **s.attrs,
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str, attrs: dict):
        self.t, self.name, self.layer, self.attrs = tracer, name, layer, attrs

    def __enter__(self):
        stack = self.t._stack
        self.sid = len(self.t.spans) + 1
        self.parent = stack[-1] if stack else None
        stack.append(self.sid)
        self.span = Span(self.name, self.layer, time.perf_counter(), 0.0,
                         self.parent, self.t.run_id, self.sid, self.attrs)
        self.t.spans.append(self.span)
        return self.span

    def __exit__(self, *exc):
        self.span.end = time.perf_counter()
        self.t._stack.pop()
        return False


class _Noop:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NOOP = _Noop()


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer: each span's duration minus the part of
    its interval that its child spans cover (children clipped to the
    parent). On one thread's non-overlapping tree, the layer self times
    sum exactly to the root spans' total duration."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in kids.get(s.sid, [])]
        cov = _covered([(a, b) for a, b in clipped if b > a])
        out[s.layer] = out.get(s.layer, 0.0) + (s.dur - cov)
    return out
