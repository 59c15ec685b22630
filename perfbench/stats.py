"""Summary statistics shared by the benchmark and its spread check."""

from __future__ import annotations

import statistics

#: A tail percentile is reported only with at least this many samples above it.
TAIL_BEYOND = 10


def median(values) -> "float | None":
    values = list(values)
    return statistics.median(values) if values else None


def tail(values) -> "dict | None":
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    beyond it: the sample with exactly ``TAIL_BEYOND`` larger ones, at
    percentile ``100 * (n - TAIL_BEYOND) / n``. None below
    ``TAIL_BEYOND + 1`` samples."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    return {
        "value": xs[n - TAIL_BEYOND - 1],
        "percentile": round(100.0 * (n - TAIL_BEYOND) / n, 2),
        "n": n,
    }


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / q2
