"""Order statistics with the benchmark's reporting rule.

A tail percentile is reported as measured only when at least
MIN_BEYOND samples lie beyond it; otherwise it is still computed but
flagged, so a reader knows it rests on too few slow samples.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 1]."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    rank = max(1, math.ceil(q * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie strictly above the nearest-rank q-th."""
    return n - max(1, math.ceil(q * n))


def tail(samples: list[float], q: float = 0.9) -> tuple[float, str | None]:
    """(q-th percentile, flag). The flag is None when the sample
    supports the percentile, else a note with the count beyond it."""
    value = percentile(samples, q)
    beyond = samples_beyond(len(samples), q)
    if beyond >= MIN_BEYOND:
        return value, None
    return value, (
        f"p{round(q * 100)} of {len(samples)} samples has only {beyond} beyond it "
        f"(needs {MIN_BEYOND})"
    )


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def spread(values: list[float]) -> dict:
    """Median, quartiles and the inter-quartile distance as a share of
    the median (statistics.quantiles, n=4), the benchmark's steadiness rule."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med if med else math.inf,
        "n": len(values),
    }
