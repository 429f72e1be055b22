"""Order statistics for the run record."""
import math


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values, p):
    """The p-th percentile (0 < p < 100) by the nearest-rank rule, with the
    sample count and the number of samples above it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    value = xs[rank - 1]
    return {"value": value, "samples": len(xs), "above": sum(1 for x in xs if x > value)}
