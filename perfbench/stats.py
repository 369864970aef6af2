"""Summary statistics shared by the benchmark and its self-tests."""

from __future__ import annotations

import math
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Tail percentiles tried from the highest down; see ``tail``.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1] (numpy's default rule)."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it. With fewer than 20 samples no tail percentile has
    ten samples beyond it, and the median (50) is used."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_BEYOND:
            return p
    return 50.0


def tail(values: list[float]) -> tuple[float, float]:
    """``(percentile, value)`` of the tail timing for these samples."""
    p = tail_percentile(len(values))
    return p, quantile(values, p / 100.0)


def check_metric_names(names) -> None:
    bad = [n for n in names if not METRIC_NAME.fullmatch(n)]
    if bad:
        raise ValueError(f"metric names outside [A-Za-z0-9_.-]: {bad}")
