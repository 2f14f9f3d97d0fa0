"""Pure arithmetic of the benchmark: percentiles, the due-time-to-commit
latency join and the failure fraction.

Nothing here touches Spark, so ``perfbench/tests`` checks it directly.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from dataclasses import dataclass

#: percentiles the open-loop latency may be reported at, lowest first
PERCENTILE_LADDER = (50, 75, 90, 95, 99)
#: a percentile is supported only when at least this many *batches*
#: carry messages beyond it: messages of one batch share one commit, so
#: they are not independent samples
MIN_BATCHES_BEYOND = 10


@dataclass(frozen=True)
class Segment:
    """One published segment: ``rows`` messages that became due together."""

    seg: int
    rows: int
    due: float  # wall-clock seconds


@dataclass(frozen=True)
class Batch:
    """One committed micro-batch, from its progress event. Offsets are the
    fqueue ``(seg, row)`` positions; ``start`` is None for the first batch
    of a query (it starts at the first segment's row 0)."""

    batch_id: int
    start: tuple[int, int] | None
    end: tuple[int, int]
    committed: float  # wall-clock seconds: trigger start + triggerExecution


def weighted_percentile(samples: Sequence[tuple[float, int]], p: float) -> float:
    """Nearest-rank percentile of ``(value, weight)`` pairs: the smallest
    value with at least ``p`` percent of the total weight at or below it."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    total = sum(w for _, w in ordered)
    rank = p / 100.0 * total
    seen = 0
    for value, weight in ordered:
        seen += weight
        if seen >= rank:
            return value
    return ordered[-1][0]


def join_latency(
    segments: Iterable[Segment], batches: Iterable[Batch]
) -> list[tuple[float, int, int]]:
    """Map every committed message to its latency: the commit time of the
    batch that took it minus the due time of its segment.

    Returns ``(latency_s, rows, batch_id)`` per (segment, batch) piece;
    a segment split across two batches yields one piece per batch. Rows
    that no batch covers are absent, so the rows summed here fall short of
    the published count exactly when messages were not consumed.
    """
    segs = sorted(segments, key=lambda s: s.seg)
    if not segs:
        return []
    by_seg = {s.seg: s for s in segs}
    first = segs[0].seg
    out = []
    for b in sorted(batches, key=lambda b: b.end):
        s0, r0 = b.start if b.start is not None else (first, 0)
        s1, r1 = b.end
        for n in range(s0, s1 + 1):
            seg = by_seg.get(n)
            if seg is None:
                continue
            lo = r0 if n == s0 else 0
            hi = min(r1, seg.rows) if n == s1 else seg.rows
            if hi > lo:
                out.append((b.committed - seg.due, hi - lo, b.batch_id))
    return out


def batches_beyond(pieces: Sequence[tuple[float, int, int]], value: float) -> int:
    """Distinct batches holding at least one message slower than ``value``."""
    return len({bid for lat, _, bid in pieces if lat > value})


def supported_percentile(pieces: Sequence[tuple[float, int, int]]) -> int:
    """The highest ladder percentile with at least ``MIN_BATCHES_BEYOND``
    batches beyond it (50 when even the median lacks them)."""
    samples = [(lat, rows) for lat, rows, _ in pieces]
    best = PERCENTILE_LADDER[0]
    for p in PERCENTILE_LADDER:
        if batches_beyond(pieces, weighted_percentile(samples, p)) >= MIN_BATCHES_BEYOND:
            best = p
    return best


def failed_frac(attempted: int, lost: int, duplicated: int, wrong: int, raised: int) -> float:
    """Share of attempted work that failed: messages lost, duplicated or
    misrouted/wrong, plus queries or batches that raised, over the number
    attempted."""
    if attempted <= 0:
        raise ValueError("nothing attempted")
    return (lost + duplicated + wrong + raised) / attempted
