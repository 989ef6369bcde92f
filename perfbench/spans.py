"""Spans of one traced pass, their self times, and the layer-sum rule.

A span is a layer boundary: a name, a start, an end and the span that
caused it. All times of one trace are on one clock, epoch seconds, so the
benchmark's own spans and the Spark stage intervals read back from the
engine's status store line up. A span's self time is its duration minus
the part of it that its children cover; self times are a report, and they
add up to the root's wall by construction.

The layer-sum rule checks what self times cannot: that layers measured
apart from each other and from the traced wall account for it. Each call
into the package is two such layers, the driver's planning (timed by
repeating it outside the traced pass) and the engine's SQL executions (as
the engine stamped them). Their sum must come within
``LAYER_SUM_TOLERANCE`` of the traced wall. Time no layer measured (Python
work between calls, jobs outside any SQL execution) makes the error
positive; layers that overlap or were measured long make it negative.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

#: the largest share of the traced wall by which the summed layers may
#: differ from it. Measured errors stay within ±5% on a 4-vCPU VM; the
#: margin is for a stall of the host during the traced pass, which would
#: lengthen the wall but not the planning probes
LAYER_SUM_TOLERANCE = 0.10


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Trace:
    """Spans kept in memory; index 0 is the root once one is opened."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None) -> int:
        self.spans.append(Span(name, start, end, parent))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Record the ``with`` body as one span; yields its index."""
        idx = self.add(name, time.time(), float("nan"), parent)
        try:
            yield idx
        finally:
            self.spans[idx].end = time.time()

    def attach(self, parent: int, intervals) -> float:
        """Add ``(name, start, end)`` intervals measured elsewhere (Spark
        stages) as children of ``parent``.

        Each is clipped to the parent's window: the engine stamps stages in
        whole milliseconds, so a stage can appear to start a millisecond
        before the call that submitted it. Stages that ran concurrently are
        attributed first come: a later interval starts where the earlier
        one ended. Returns the seconds so reassigned, which the report
        shows so concurrency is never hidden.
        """
        p = self.spans[parent]
        overlap = 0.0
        cursor = p.start
        for name, start, end in sorted(intervals, key=lambda x: x[1]):
            s, e = max(start, p.start), min(end, p.end)
            if e <= s:
                continue
            if s < cursor:
                overlap += min(e, cursor) - s
                s = cursor
            if e > s:
                self.add(name, s, e, parent)
                cursor = e
        return overlap

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        covered, cursor = 0.0, sp.start
        kids = sorted((self.spans[i] for i in self.children(idx)),
                      key=lambda s: s.start)
        for k in kids:
            s, e = max(k.start, cursor), min(k.end, sp.end)
            if e > s:
                covered += e - s
                cursor = e
        return sp.duration - covered

    def self_by_name(self) -> dict[str, float]:
        """Self seconds summed per span name, the root included."""
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            out[sp.name] = out.get(sp.name, 0.0) + self.self_time(i)
        return out


def layer_sum(wall: float, layers: dict[str, float],
              tolerance: float = LAYER_SUM_TOLERANCE) -> dict:
    """Check independently measured ``layers`` (name -> seconds) against
    the traced ``wall``."""
    total = sum(layers.values())
    error = (wall - total) / wall if wall > 0 else float("inf")
    return {"wall": wall, "layers": total, "error": error,
            "tolerance": tolerance, "ok": abs(error) <= tolerance}
