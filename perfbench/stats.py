"""Summary statistics of the caller-latency benchmark."""
import math


def tail_percentile(values, want=90, beyond=10):
    """The latency at the highest percentile, at most `want`, that leaves at
    least `beyond` samples above it, as (value, percentile, n); nearest-rank.
    Below 100 samples that percentile is lower than p90. Below 2 * `beyond`
    samples no tail percentile has that many samples beyond it, and the
    median (percentile 50) stands in."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    pct = max(50, min(want, math.floor(100 * (n - beyond) / n)))
    return xs[max(1, math.ceil(pct / 100 * n)) - 1], pct, n


def geomean(values):
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
