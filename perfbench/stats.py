"""Summary statistics shared by every workload.

Timings are reported as a median plus a fixed tail percentile.  The
tail rule: the tail percentile of a metric is the highest percentile
that still has at least ``TAIL_BEYOND`` samples above it, so it is
never read off the last few samples of a run.  Each workload plans a
fixed sample count, which fixes the percentile.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 5


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return float(xs[rank - 1])


def tail_pct(n: int, beyond: int = TAIL_BEYOND) -> int:
    """Highest whole percentile whose nearest-rank sample has at least
    ``beyond`` samples after it in a sample of ``n``."""
    if n <= beyond:
        raise ValueError(f"{n} samples cannot leave {beyond} beyond any percentile")
    best = 0
    for pct in range(1, 100):
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= beyond:
            best = pct
    return best


def tail_of(values, planned: int, beyond: int = TAIL_BEYOND) -> float:
    """The tail percentile a run planned for: ``tail_pct(planned)``, or
    the median when the plan is too small to leave ``beyond`` samples
    above any percentile (short smoke runs).  Computed over the samples
    that passed their checks, which may be fewer than planned."""
    pct = tail_pct(planned, beyond) if planned > beyond else 50
    return percentile(values, pct)
