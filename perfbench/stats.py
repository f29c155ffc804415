"""Summary arithmetic shared by the benchmark and its tests."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only where this many samples lie beyond it
TAIL_BEYOND = 10
#: ... and only when it is at least this percentile; below it, the maximum
TAIL_MIN_PCT = 90.0


def tail(values: list[float]) -> dict:
    """Wall time at the tail of ``values``.

    The tail is the highest nearest-rank percentile that leaves at least
    ``TAIL_BEYOND`` samples strictly above its rank: rank ``n - 10``
    (1-based), i.e. p90 at n=100 and p99 at n=1000. With fewer than
    100 samples that percentile lies below p90 (at n=22 it is the 55th,
    next to the median), so the maximum is given instead, marked by
    ``pct`` 100 and ``beyond`` 0.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = n - TAIL_BEYOND
    if 100.0 * rank < TAIL_MIN_PCT * n:
        rank = n
    return {
        "value": xs[rank - 1],
        "pct": round(100.0 * rank / n, 2),
        "n": n,
        "beyond": n - rank,
    }


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median
    (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def ratio(numerator: float, denominator: float) -> float:
    """``numerator / denominator``; a zero base has no ratio."""
    if denominator <= 0:
        raise ValueError(f"ratio over a non-positive base {denominator}")
    return numerator / denominator


def write_amp(bytes_written: int, bytes_ingested: int) -> float:
    """Bytes tasks wrote per byte of input the writing ops ingested."""
    return ratio(bytes_written, bytes_ingested)


def space_amp(dir_bytes: int, input_bytes: int) -> float:
    """On-disk bytes of the index and sink dirs per byte of input they hold."""
    return ratio(dir_bytes, input_bytes)
