"""The benchmark's own arithmetic: medians, quartile spread, span self
time and failure ratios. Pure Python, so the tests can pin it."""

from __future__ import annotations

import statistics
from dataclasses import dataclass


def median_n(values: list[float]) -> tuple[float, int]:
    """(median, sample count). Raises on an empty sample: a metric with
    no samples must not be reported as a number."""
    if not values:
        raise ValueError("no samples")
    return statistics.median(values), len(values)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def ok_ratio(attempted: int, failed: int) -> float:
    """Share of attempted jobs that ran and passed their output check
    (``1 - failed_ratio``)."""
    if attempted < 1:
        raise ValueError("no jobs attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return (attempted - failed) / attempted


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (children clipped to the parent's interval;
    overlapping children are counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(i, ())
            if min(b, s.end) > max(a, s.start)
        ]
        out.append(s.duration - _covered(clipped))
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Sum of self time per span name."""
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + t
    return out
