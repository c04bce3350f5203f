"""Summary statistics for the benchmark's samples."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def tail_percentile(n_samples: int) -> int | None:
    """Highest whole percentile p with at least TAIL_MIN_BEYOND of
    ``n_samples`` beyond it, i.e. ``n * (1 - p/100) >= 10``. None when
    that percentile would be below the median (``n < 20``)."""
    if n_samples < 2 * TAIL_MIN_BEYOND:
        return None
    return math.floor(100 * (n_samples - TAIL_MIN_BEYOND) / n_samples + 1e-9)


def tail(passes: list[list[float]], guaranteed_n: int) -> tuple[float, str]:
    """The tail of the per-key walls pooled over ``passes``, and its
    label. The percentile is chosen from the sample count a run is
    guaranteed to reach (``guaranteed_n``), not the count it happened to
    reach, so a faster program that fits more passes into a run is still
    judged at the same percentile. Below 20 guaranteed samples no
    percentile at or above the median has ten samples beyond it; the
    tail is then the median over passes of each pass's slowest key."""
    p = tail_percentile(guaranteed_n)
    if p is None:
        return median(max(walls) for walls in passes if walls), "median of pass maxima"
    return percentile([w for walls in passes for w in walls], p), f"p{p}"

