"""Small statistics and span arithmetic shared by the runner and the tests."""

from __future__ import annotations

import math
import statistics

# Percentiles a tail may be reported at, from the highest down.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values, min_beyond: int = 10) -> tuple[float | None, float | None, int]:
    """The highest ladder percentile that has at least ``min_beyond``
    samples strictly above its rank, as ``(pct, value, n)``.  With too few
    samples for even the median, ``pct`` and ``value`` are ``None``: a tail
    read from fewer samples would be a guess, not a measurement."""
    xs = list(values)
    n = len(xs)
    for pct in TAIL_LADDER:
        if n * (100.0 - pct) / 100.0 >= min_beyond - 1e-9:  # 100 - 99.9 is inexact
            return pct, percentile(xs, pct), n
    return None, None, n


def self_time(span: tuple[float, float], children) -> float:
    """A span's duration minus the part of it its children cover.
    Children may overlap each other (pipelined evaluation runs on pool
    threads); the covered part is the union of their clipped intervals."""
    start, end = span
    clipped = sorted(
        (max(start, s), min(end, e)) for s, e in children if min(end, e) > max(start, s))
    covered = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
