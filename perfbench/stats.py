"""Percentiles for the benchmark's latency metrics."""
import math

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1) of `values`, where a miss is
    passed as +inf. The ten-samples-beyond rule: a quantile is only
    reported when at least ten samples lie above its rank, so a p95
    needs 200 samples and a median 20; fewer raise TooFewSamples."""
    xs = sorted(values)
    rank = math.ceil(q * len(xs))
    if len(xs) - rank < MIN_BEYOND:
        raise TooFewSamples(f"p{q * 100:g} of {len(xs)} samples leaves "
                            f"{len(xs) - rank} beyond it (need {MIN_BEYOND})")
    return xs[rank - 1]


def percentile_or_none(values, q):
    try:
        return percentile(values, q)
    except TooFewSamples:
        return None


def quartiles(values):
    """(q1, median, q3) by linear interpolation, for traffic summaries."""
    xs = sorted(values)
    if not xs:
        return None

    def at(p):
        k = (len(xs) - 1) * p
        lo, hi = math.floor(k), math.ceil(k)
        return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
    return [at(0.25), at(0.5), at(0.75)]
