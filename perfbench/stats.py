"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math
from collections.abc import Sequence


def median(xs: Sequence[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    s = sorted(xs)
    n = len(s)
    mid = n // 2
    return float(s[mid]) if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def percentile(xs: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (NumPy's
    default "linear" method)."""
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"q must be in [0, 100], got {q}")
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def supported_percentile(n: int) -> float | None:
    """The highest percentile with at least ten samples above it, or
    None when fewer than eleven samples exist."""
    if n < 11:
        return None
    return math.floor(100.0 * (n - 10) / n)
