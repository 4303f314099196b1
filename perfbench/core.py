"""Spark-free arithmetic of the benchmark: percentiles, the tail rule,
interval unions, span self time, failure counting, file footprints and
the result line.

Everything here is pure Python so ``test_perfbench.py`` can pin it
without a SparkSession.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

# percentiles tried, highest first, by the tail rule
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def tree_size(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path``, counting names ending in ``suffix``."""
    files = size = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (``pct`` in [0, 100]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


def tail(values: list[float]) -> tuple[float, float]:
    """``(pct, value)`` at the highest ladder percentile that has at
    least ``MIN_BEYOND`` samples strictly above it. With too few
    samples for any ladder step the median is returned with pct 50,
    so the caller can see from ``op.count`` that no tail was resolved."""
    for pct in TAIL_LADDER:
        v = percentile(values, pct)
        if sum(1 for x in values if x > v) >= MIN_BEYOND:
            return pct, v
    return 50.0, percentile(values, 50.0)


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(interval: tuple[float, float], lo: float, hi: float):
    """``interval`` clipped to ``[lo, hi]``, or None when disjoint."""
    start, end = max(interval[0], lo), min(interval[1], hi)
    return (start, end) if end > start else None


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into the tracer's span list


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the union of its children's
    intervals (clipped to the span, so a child that outlives its
    parent cannot drive self time negative)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = [
            c for c in (clip(iv, s.start, s.end) for iv in children.get(i, []))
            if c is not None
        ]
        out.append((s.end - s.start) - interval_union(covered))
    return out


@dataclass
class OpLog:
    """Outcome of the timed loop: per-op walls, items and failures."""

    walls: list[float] = field(default_factory=list)
    items: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, wall: float, items: int, problems: list[str]) -> None:
        """One op: ``problems`` empty means it completed and verified;
        only verified ops count their items."""
        self.attempted += 1
        self.walls.append(wall)
        if problems:
            self.failed += 1
            self.errors.extend(problems[:3])
        else:
            self.items += items

    def fail(self, wall: float, error: str) -> None:
        """An op that raised."""
        self.record(wall, 0, [error])

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The benchmark's last stdout line."""
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        }
    )
