"""In-memory spans for the traced run, written as JSON lines at the end.

A span is (id, name, start, end, parent, run). Spans are recorded in the
benchmark's own code around calls into the program's layers, or rebuilt
from the timings a layer reports itself (a micro-batch's ``durationMs``
legs). Tracing is off in the runs that measure end-to-end metrics.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        """Record a finished span (wall-clock seconds); returns its id."""
        with self._lock:
            sid = next(self._ids)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "run": self.run_id}
            )
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time the body as a span (recorded even if the body raises)."""
        t0 = time.time()
        try:
            yield
        finally:
            self.add(name, t0, time.time(), parent)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of intervals covers."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name of time not covered by the span's children."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["name"]] += dur - _covered(children.get(s["id"], []), s["start"], s["end"])
    return dict(out)


def self_time_table(spans: list[dict]) -> str:
    """Self time per layer (the span name's first dotted part), largest first."""
    per_layer: dict[str, float] = defaultdict(float)
    for name, secs in self_times(spans).items():
        per_layer[name.split(".")[0]] += secs
    total = sum(per_layer.values()) or 1.0
    lines = [f"{'layer':<24}{'self_s':>10}{'share':>8}"]
    for layer, secs in sorted(per_layer.items(), key=lambda kv: -kv[1]):
        lines.append(f"{layer:<24}{secs:>10.3f}{secs / total:>8.1%}")
    return "\n".join(lines)
