"""Summaries the benchmark reports: medians, the sample-count rule for
percentiles, geometric means, and the engine-independent drift probe."""

from __future__ import annotations

import math
import statistics
import time

#: percentiles the benchmark may print, lowest first
PERCENTILES = (50, 75, 90, 95, 99)
#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """The ``q``-th percentile by linear interpolation between order
    statistics (the "inclusive" method of ``statistics.quantiles``)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_reportable(n: int) -> int:
    """The highest percentile with at least ``MIN_BEYOND`` of ``n`` samples
    beyond it; the median is always reported."""
    best = 50
    for q in PERCENTILES:
        if n * (100 - q) / 100 >= MIN_BEYOND:
            best = q
    return best


def median(values) -> float:
    """The median, or NaN when every operation of a kind raised."""
    values = list(values)
    return float(statistics.median(values)) if values else math.nan


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def drift_probe() -> float:
    """Seconds for a fixed numpy + pyarrow computation that shares no code
    with the engine, so a slower box reads as a slower probe while an
    engine speed-up leaves it unchanged."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    rng = np.random.default_rng(12345)
    ints = rng.integers(0, 1 << 40, 2_000_000)
    words = pa.array(rng.integers(0, 50_000, 500_000).astype(str))
    t0 = time.perf_counter()
    np.sort(ints)
    np.cumsum(ints % 977)
    pc.value_counts(words)
    pc.sum(pc.binary_length(words))
    return time.perf_counter() - t0
