"""In-memory spans for the traced run, and the self-time arithmetic.

A span is recorded by the benchmark around a call into one of the
package's public functions; nothing inside the engine is instrumented.
Spans stay in memory and are written out once, when the run ends.

Each span may carry counters from a ``probe`` (Spark tasks finished, CPU
seconds of the process tree). The probe is called inside the span's own
interval, so its cost never lands in a parent's self time; the span keeps
the cost as ``probe_s`` and its self time leaves it out.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    run_id: str
    counts: dict[str, float] = field(default_factory=dict)
    probe_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals`` covers.

    Overlapping children are counted once and the parts of a child that lie
    outside its parent are not counted at all."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> the span's wall time minus the part its direct children
    cover and minus its own probe time."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.wall - covered(children.get(s.span_id, []), s.start, s.end) - s.probe_s
        for s in spans
    }


class Tracer:
    """Collects the spans of one traced run.

    ``probe()`` returns cumulative counters; it is called right after a
    span opens and right before it closes, and the span keeps the
    differences in ``counts``."""

    def __init__(self, run_id: str, probe=None) -> None:
        self.spans: list[Span] = []
        self.run_id = run_id
        self._stack: list[int] = []
        self._probe = probe or (lambda: {})

    def _timed_probe(self) -> tuple[dict[str, float], float]:
        t = time.perf_counter()
        values = self._probe()
        return values, time.perf_counter() - t

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, sid, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(sid)
        before, cost = self._timed_probe()
        try:
            yield s
        finally:
            after, cost_end = self._timed_probe()
            s.end = time.perf_counter()
            s.probe_s = cost + cost_end
            self._stack.pop()
            for k, v in after.items():
                s.counts[k] = v - before.get(k, 0.0)

    def self_time_by_name(self) -> dict[str, float]:
        """name -> summed self time of every span of that name."""
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
        return out

    def probe_seconds(self) -> float:
        return sum(s.probe_s for s in self.spans)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self": st[s.span_id]}) + "\n")
