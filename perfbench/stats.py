"""Estimators and the result-line format, kept free of Spark so they can
be unit-tested on their own."""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile of ``xs`` that still has at least ``beyond``
    samples above it, as ``(value, percentile)``.

    Rank k (1-based, ascending) has ``n - k`` samples above it, so the
    rule picks k = n - beyond, the k-th smallest value, at percentile
    100 * k / n. A tail lies above the median: when the rule lands at or
    below the 50th percentile (n <= 2 * beyond), the maximum (percentile
    100) is returned instead.
    """
    if not xs:
        raise ValueError("tail of no samples")
    s = sorted(xs)
    n = len(s)
    k = n - beyond
    if 2 * k <= n:
        return s[-1], 100.0
    return s[k - 1], 100.0 * k / n


def check_name(name: str) -> str:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name: {name!r}")
    return name


def metric(value: float, unit: str) -> dict:
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad unit: {unit!r}")
    v = float(value)
    if math.isnan(v) or math.isinf(v):
        raise ValueError(f"metric value is not finite: {value!r}")
    return {"value": v, "unit": unit}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, dict]) -> dict:
    """The benchmark's last stdout line."""
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    for name in metrics:
        check_name(name)
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }
