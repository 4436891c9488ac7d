"""Summary statistics the benchmark reports.

A timing is reported as its median plus the highest percentile that
still has at least ``MIN_BEYOND`` samples beyond it, together with the
sample count. ``spread`` is the run-to-run steadiness figure: the
distance between the first and third quartile as a share of the
median, computed exactly as ``statistics.quantiles(values, n=4)``
gives the quartiles."""

from __future__ import annotations

import statistics

MIN_BEYOND = 10
TAIL_LADDER = (99.9, 99.0, 90.0)


def tail_percentile(n: int) -> float | None:
    """Highest percentile of the ladder with >= MIN_BEYOND of n samples
    beyond it, or None when n is too small for any (n < 100)."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:  # float-safe
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (p in 0..100) of non-empty values."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """{"n", "median"} plus "p<tail>" when enough samples exist."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["median"] = statistics.median(values)
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median (needs >= 2 values)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")
