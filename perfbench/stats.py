"""Summary statistics shared by the benchmark and its spread checker."""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(percentile, value, n)``. The value is the order statistic
    with exactly ``beyond`` samples after it in sorted order, so the
    percentile is ``100 * (n - beyond) / n``. With ``beyond`` or fewer
    samples no percentile has that many beyond it; the maximum is
    returned, at percentile 100, so the caller can tell the two apart.
    """
    n = len(values)
    if n == 0:
        raise ValueError("tail of no values")
    ordered = sorted(values)
    if n <= beyond:
        return 100.0, float(ordered[-1]), n
    return 100.0 * (n - beyond) / n, float(ordered[n - beyond - 1]), n


def worse_by(base: float, new: float, better: str) -> float:
    """How much worse ``new`` is than ``base``, as a share of ``base``
    (negative when it is better)."""
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be lower or higher, not {better!r}")
    if base == 0:
        return 0.0 if new == base else math.inf
    delta = (new - base) / abs(base)
    return delta if better == "lower" else -delta


def metric(value: float, unit: str) -> dict:
    """One unit-tagged metric record, as the result line carries it."""
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad unit {unit!r}")
    v = float(value)
    if not math.isfinite(v):
        raise ValueError(f"metric value must be finite, got {value!r}")
    return {"value": v, "unit": unit}


def check_names(names: list[str]) -> None:
    """Raise unless every name is well formed and used once."""
    seen: set[str] = set()
    for n in names:
        if not NAME_RE.match(n):
            raise ValueError(f"bad metric name {n!r}")
        if n in seen:
            raise ValueError(f"duplicate metric name {n!r}")
        seen.add(n)
