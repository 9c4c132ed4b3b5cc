"""Pure helpers of the benchmark: order statistics, weak-scaling efficiency,
span self time and counter diffs.  No Spark, no I/O."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Mapping, Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0 <= q <= 100)."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    ordered = sorted(values)
    pos = (len(ordered) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return float(ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo))


def weak_scaling_efficiency(
    rows_wide: float, secs_wide: float, rows_narrow: float, secs_narrow: float, factor: int
) -> float:
    """Rate on ``factor`` times the cores divided by ``factor`` times the rate
    on one share: 1.0 is perfect weak scaling."""
    if min(secs_wide, secs_narrow, rows_narrow) <= 0 or factor < 1:
        raise ValueError("weak scaling needs positive times, rows and factor")
    return (rows_wide / secs_wide) / (factor * rows_narrow / secs_narrow)


def covered(intervals: Iterable[tuple[float, float]], start: float, end: float) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if min(b, end) > max(a, start)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[Mapping]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its child spans cover.  A span is a mapping with ``id``,
    ``parent`` (None for a root), ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def counter_diff(before: Mapping[str, float], after: Mapping[str, float]) -> dict[str, float]:
    """``after - before`` per key of ``after``; a counter that went down
    means the source was reset, which is an error, not a negative count."""
    diff = {}
    for key, value in after.items():
        delta = value - before.get(key, 0)
        if delta < 0:
            raise ValueError(f"counter {key!r} went backwards: {before.get(key)} -> {value}")
        diff[key] = delta
    return diff
