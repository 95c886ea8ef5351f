"""Order statistics and ratios shared by the benchmark and its compare
command. Pure Python so the tests run without Spark."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """The q-th percentile (0 <= q <= 100) by linear interpolation between
    closest ranks — the same rule as ``numpy.percentile``'s default."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile rank out of range: {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them — the rule the benchmark's steadiness check uses."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf


def ratio(num: float, den: float) -> float:
    """num / den, with 0 / 0 read as 0 and x / 0 as infinity: a rerun that
    attempts nothing has nothing to waste."""
    if den == 0:
        return 0.0 if num == 0 else math.inf
    return num / den


def failed_share(failed: int, attempted: int) -> float:
    """Operations that failed or returned wrong output per attempted one."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def worse_by(base: float, new: float, better: str) -> float:
    """How much worse ``new`` is than ``base``, as a share of ``base``;
    negative when it is better."""
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be lower or higher, not {better!r}")
    delta = (new - base) if better == "lower" else (base - new)
    return ratio(delta, base)
