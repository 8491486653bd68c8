"""Order statistics shared by the run reporter and the compare command."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, wanted: float = 99.0, beyond: int = 10) -> float | None:
    """Highest percentile, from 99/95/90/75/50 and not above ``wanted``,
    that leaves at least ``beyond`` samples above it out of ``n``.
    None when even the median has fewer than ``beyond`` samples above."""
    for p in (99.0, 95.0, 90.0, 75.0, 50.0):
        if p <= wanted and n * (100.0 - p) / 100.0 >= beyond:
            return p
    return None


def describe(values: list[float], wanted: float = 99.0) -> dict:
    """Sample count, mean, and the median and highest percentile that
    have at least 10 samples beyond them (absent when they have not)."""
    out = {"n": len(values), "mean": statistics.fmean(values)}
    p = tail_percentile(len(values), wanted)
    if p is not None:
        out["p50"] = statistics.median(values)
        out["tail_p"] = p
        out["tail"] = percentile(values, p)
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else math.inf
