"""Small statistics helpers shared by the workloads and the tests."""

from __future__ import annotations

import math
import statistics
import sys

MIN_BEYOND = 10  # a tail percentile needs at least this many samples above it


def p50(values) -> float:
    """Median; 0.0 for an empty sample (idle layers report zero work)."""
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of `values` (0 < p <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[rank - 1])


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n samples."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(values, p: float) -> float:
    """The p-th percentile, refused unless at least MIN_BEYOND samples lie
    beyond it: a tail read from fewer samples is one outlier, not a tail."""
    values = list(values)
    if beyond(len(values), p) < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {len(values)} samples has fewer than {MIN_BEYOND} "
            "samples beyond it"
        )
    return percentile(values, p)


def check_coverage(name: str, ratio: float, tolerance: float = 0.1) -> float:
    """Parts that should add up to a whole: warn on stderr when they do not."""
    if abs(ratio - 1.0) > tolerance:
        print(f"perfbench: WARNING {name} = {ratio:.3f}: the timed parts do not "
              "add up to the whole", file=sys.stderr)
    return ratio
