"""Summary statistics shared by the benchmark and its proof script.

Pure Python: no Spark, no third-party imports, so the tests run in
milliseconds and the proof script can summarise results without a JVM.
"""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def tail(xs: list[float], min_beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile ``p`` that still has at least
    ``min_beyond`` samples strictly beyond its nearest-rank value, as
    ``(p, value)``; None when there are too few samples for any
    percentile to have that many beyond it.

    Nearest rank: the p-th percentile of n sorted samples is the
    ``ceil(p * n / 100)``-th smallest (the minimum for p = 0). The
    samples beyond it are those of higher rank, ``n - rank`` of them,
    so ties at the percentile value count as beyond only when they sit
    at higher ranks.
    """
    s = sorted(xs)
    n = len(s)
    for p in range(99, -1, -1):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= min_beyond:
            return p, float(s[rank - 1])
    return None


def describe(xs: list[float], unit: str = "s") -> str:
    """``median 1.23 s (n=7), p40 1.30 s`` — the form every timing is
    reported in: median, sample count, and the tail percentile when
    there are enough samples for one."""
    t = tail(xs)
    out = f"median {median(xs):.4g} {unit} (n={len(xs)})"
    if t is not None:
        out += f", p{t[0]} {t[1]:.4g} {unit}"
    else:
        out += ", no percentile has 10 samples beyond it"
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median with ``statistics.quantiles(values, n=4)`` —
    the run-to-run spread the benchmark's bounds are judged against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
