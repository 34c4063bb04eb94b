"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def _beta_cf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified
    Lentz's method)."""
    tiny = 1e-300

    def nz(v: float) -> float:
        return v if abs(v) > tiny else tiny

    c, d = 1.0, 1.0 / nz(1.0 - (a + b) * x / (a + 1.0))
    h = d
    for m in range(1, 500):
        aa = m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m))
        d = 1.0 / nz(1.0 + aa * d)
        c = nz(1.0 + aa / c)
        h *= d * c
        aa = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m))
        d = 1.0 / nz(1.0 + aa * d)
        c = nz(1.0 + aa / c)
        h *= d * c
        if abs(d * c - 1.0) < 1e-13:
            break
    return h


def beta_cdf(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def percentile(values: list[float], pct: float) -> float:
    """Harrell-Davis estimate of the ``pct`` percentile, 0 < pct < 100:
    a weighted mean of all order statistics with Beta-distribution
    weights.  With a dozen ops of a mixed workload the plain sample
    median jumps between the latency clusters of different op types;
    this estimate moves smoothly with every sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    n = len(xs)
    p = pct / 100.0
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def tail_percentile(n: int) -> float:
    """The highest percentile of :data:`TAIL_LADDER` with at least
    :data:`MIN_BEYOND` of ``n`` samples beyond it; the median when no
    ladder step has that many (fewer than 20 samples)."""
    for pct in TAIL_LADDER:
        # rounded: (100 - 99.9) is not exactly 0.1 in binary
        if round(n * (100.0 - pct) / 100.0, 6) >= MIN_BEYOND:
            return pct
    return 50.0


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles, range and the quartile distance as a share of
    the median (``statistics.quantiles(values, n=4)``)."""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return {
        "median": med, "q1": q1, "q3": q3,
        "min": min(values), "max": max(values),
        "iqr_share": (q3 - q1) / med if med else float("inf"),
    }
