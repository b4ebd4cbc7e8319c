"""Statistics and the one-line result shared by the benchmark's tools."""

from __future__ import annotations

import json
import math
import statistics


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else float("nan")


def geomean(values) -> float:
    values = list(values)
    if not values or min(values) <= 0:
        return float("nan")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of ``values``."""
    values = sorted(values)
    if not values:
        return float("nan")
    rank = max(1, math.ceil(q / 100.0 * len(values)))
    return values[rank - 1]


def spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``."""
    values = list(values)
    if len(values) < 2:
        return float("nan")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def _finite(value) -> bool:
    return isinstance(value, (int, float)) and math.isfinite(value)


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> tuple[str, int]:
    """The benchmark's final stdout line and the number of metric values
    that were not finite numbers.

    A bad value (NaN, infinity, ``None``, a non-number) is written as
    ``null`` instead of making ``json.dumps`` emit unparseable ``NaN``
    or raise, so a run always ends in one parseable JSON object."""
    out, bad = {}, 0
    for name, (value, unit) in metrics.items():
        if isinstance(value, bool) or not _finite(value):
            value, bad = None, bad + 1
        out[name] = {"value": value, "unit": unit}
    payload = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": out,
    }
    return json.dumps(payload, allow_nan=False), bad
