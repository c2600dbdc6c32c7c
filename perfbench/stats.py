"""Summary statistics the benchmark reports: medians, the tail rule and a
least-squares slope."""

from __future__ import annotations

import math
import statistics

#: the percentiles a tail may be reported at, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

#: a tail must leave at least this many samples beyond it
TAIL_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def _rank(p: float, n: int) -> int:
    """Nearest rank of percentile ``p`` among ``n`` samples (1-based); the
    epsilon keeps 99.9% of 10000 at rank 9990, not 9991."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    return float(s[_rank(p, len(s)) - 1])


def tail(xs) -> tuple[float | None, float | None, int]:
    """``(percentile, value, n)`` for the highest percentile in
    ``TAIL_PERCENTILES`` that leaves at least ``TAIL_BEYOND`` samples
    beyond it; ``(None, None, n)`` when there is no such percentile
    (fewer than 20 samples)."""
    n = len(xs)
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= TAIL_BEYOND:
            return p, percentile(xs, p), n
    return None, None, n


def tail_or_max(xs) -> tuple[str, float, int]:
    """The tail when one exists, else the largest sample, labelled
    ``"max"`` so the report never passes it off as a percentile."""
    p, v, n = tail(xs)
    if p is None:
        return "max", float(max(xs)), n
    return f"p{p:g}", v, n


def slope(xs, ys) -> float:
    """Least-squares slope of ``ys`` on ``xs`` (0 with fewer than two
    distinct x)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def quartile_spread(xs) -> float:
    """(Q3 - Q1) / median, the steadiness measure of a set of runs."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q3 - q1) / med if med else float("inf")
