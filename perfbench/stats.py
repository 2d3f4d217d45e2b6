"""Order statistics for the benchmark's reports."""

from __future__ import annotations

import statistics


class TooFewSamples(ValueError):
    """A tail percentile was asked of too few samples to support it."""


MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0 < q < 100, linear interpolation).

    A percentile above the median is refused unless at least ``MIN_BEYOND``
    samples lie beyond it, so a p90 needs 100 samples and a p99 needs 1000.
    """
    xs = sorted(values)
    if not xs:
        raise TooFewSamples("no samples")
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    if q > 50 and len(xs) * (100 - q) / 100 < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q:g} of {len(xs)} samples leaves "
            f"{len(xs) * (100 - q) / 100:g} beyond it; need {MIN_BEYOND}")
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
