"""Summary statistics for benchmark timings.

A timing is reported as its median and its *tail*: the highest
percentile of :data:`PERCENTILES` that has at least :data:`MIN_BEYOND`
samples above it, together with the sample count.
"""

from __future__ import annotations

import math
import statistics

#: Candidate tail percentiles, highest first.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: Samples that must lie beyond a percentile for it to be reported.
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    # 1-based nearest rank; the epsilon keeps 99.9 % of 10 000 at 9 990
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` % of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(len(xs), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p`` percentile of ``n``."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """Highest percentile with at least :data:`MIN_BEYOND` samples
    beyond it, or ``None`` when ``n`` supports none."""
    for p in PERCENTILES:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def min_samples(p: float) -> int:
    """Smallest sample count whose tail percentile is at least ``p``."""
    n = 1
    while beyond(n, p) < MIN_BEYOND:
        n += 1
    return n


def summarize(values) -> dict:
    """``{"n", "p50", "tail_pct", "tail"}`` of a list of timings."""
    xs = list(values)
    p = tail_percentile(len(xs))
    return {
        "n": len(xs),
        "p50": statistics.median(xs) if xs else None,
        "tail_pct": p,
        "tail": percentile(xs, p) if p is not None else None,
    }


def geomean(values) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))

