"""Pure summary statistics for the benchmark (no Spark imports)."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0..100) of ``values``,
    the same rule as ``numpy.percentile``'s default."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_rule(n: int, target: float = 90.0) -> float | None:
    """The highest percentile, at most ``target``, that leaves at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples above it; ``None`` when even
    the median does not.  With n >= 100 this is the target itself."""
    if n <= 0:
        return None
    best = math.floor(100.0 * (n - TAIL_MIN_BEYOND) / n)
    if best < 50:
        return None
    return min(target, float(best))


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the ``p``-th
    percentile position."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def self_times(spans) -> list[float]:
    """Self time of each span: its duration minus the part of its
    interval covered by its direct children.

    ``spans`` is a sequence of ``(start, end, parent_index)`` where
    ``parent_index`` is the list index of the parent span or ``None``.
    Overlapping children (for example from threads) are merged before
    subtracting, and children are clipped to their parent's interval.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for start, end, parent in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    out = []
    for i, (start, end, _) in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, start), min(hi, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((end - start) - covered)
    return out


def error_rate(attempted: int, failed: int, mismatched: int) -> float:
    """Failed ops plus ops whose output failed the oracle, over ops
    attempted."""
    if attempted <= 0:
        raise ValueError("no ops attempted")
    return (failed + mismatched) / attempted
