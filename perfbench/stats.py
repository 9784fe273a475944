"""Order statistics used by every workload."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100)."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def geomean(values) -> float:
    values = list(values)
    return float(math.exp(sum(math.log(x) for x in values) / len(values))) if values else 0.0
