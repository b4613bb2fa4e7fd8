"""In-memory spans and the summary statistics the benchmark reports.

A span is (id, name, start, end, parent id).  Spans are recorded by the
benchmark around its calls into the program's layers, kept in memory,
and written out once when the benchmark exits.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from typing import Optional


class Tracer:
    """Span recorder; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured by someone else (e.g. a streaming
        progress report), as a child of the open span."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "start": start, "end": end, **attrs})

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        interval covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()},
                      f, indent=1)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


TAIL_PCT = 58
TAIL_MIN_N = 24  # the smallest sample with ten values above its p58


def tail(xs: list[float]) -> tuple[Optional[int], float]:
    """(percentile, value) of the tail: p58 once the sample has at least
    24 values, so at least ten lie above it; a smaller sample supports no
    such percentile and reports (None, max)."""
    xs = sorted(xs)
    if len(xs) < TAIL_MIN_N:
        return None, (xs[-1] if xs else 0.0)
    return TAIL_PCT, xs[int(TAIL_PCT * len(xs) / 100)]


def summary(xs: list[float]) -> dict:
    """Median, tail percentile and sample count of a timing sample."""
    pct, val = tail(xs)
    return {"p50": median(xs), "tail_pct": pct, "tail": val, "n": len(xs)}
