"""Statistics helpers of the benchmark: percentiles, failure accounting and
the agreement check between two sets of runs."""

import math
import statistics

# a tail percentile is reported only with at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share q
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q < 1:
        raise ValueError(f"percentile share {q} is not in (0, 1)")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def beyond(n, q):
    """Samples strictly above the nearest-rank q-percentile of n samples."""
    return n - max(1, math.ceil(q * n))


def tail(values, q):
    """(value, share) of the highest percentile up to q that has at least
    TAIL_MIN_BEYOND samples beyond it; the median when that percentile
    would fall below it. A run with fewer samples reports a lower
    percentile, never a jump to the median of a run that still has a tail."""
    n = len(values)
    share = min(q, (n - TAIL_MIN_BEYOND) / n) if n else 0.0
    while share >= 0.5 and beyond(n, share) < TAIL_MIN_BEYOND:
        share -= 1.0 / n
    if share < 0.5:
        return median(values), 0.5
    return percentile(values, share), share


def failure_ratio(attempted, failed):
    """Failed operations over attempted ones; an operation that failed is
    not a completed one."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failed of {attempted} attempted")
    return failed / attempted


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles with n=4, its default method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def worse_by(first, second, better):
    """How much worse the second median is than the first, as a share of
    the first; negative when it is better."""
    a, b = statistics.median(first), statistics.median(second)
    return (b - a) / a if better == "lower" else (a - b) / a


def agree(first, second, metrics):
    """Checks two sets of runs of the same code against the benchmark's
    bounds: every metric's spread within a set stays within its bound,
    and the second median is not worse than the first by more than the
    bound. `first` and `second` map a metric name
    to its values; `metrics` are the end_to_end entries of BENCHMARK.json.
    Returns the list of violations, empty when the sets agree."""
    problems = []
    for m in metrics:
        name, bound = m["name"], m["bound"]
        for label, values in (("first", first[name]), ("second", second[name])):
            if spread(values) > bound:
                problems.append(
                    f"{name}: {label} set spreads {spread(values):.3f} > {bound}")
        w = worse_by(first[name], second[name], m["better"])
        if w > bound:
            problems.append(f"{name}: second median worse by {w:.3f} > {bound}")
    return problems
