"""Statistics shared by the run, compare and self-test scripts."""
import math
import statistics

TAIL_BEYOND = 10  # samples the tail percentile must leave above it


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail_level(n):
    """The highest whole percentile with at least TAIL_BEYOND of n samples
    beyond it. Below 2 * TAIL_BEYOND samples that percentile would sit under
    the median, so the maximum (100) is used instead."""
    if n < 2 * TAIL_BEYOND:
        return 100
    return math.floor(100.0 * (n - TAIL_BEYOND) / n)


def nearest_rank(xs, p):
    """The p-th percentile by the nearest-rank rule (a sample value)."""
    s = sorted(xs)
    k = min(len(s), max(1, math.ceil(p / 100.0 * len(s))))
    return s[k - 1]


def tail(xs, n_design):
    """Tail latency of `xs`. The percentile is chosen from `n_design`, the
    sample count every run is guaranteed to reach, so it is the same in
    every run; a failed sample is passed as math.inf. Returns (p, value)."""
    p = tail_level(n_design)
    return p, nearest_rank(xs, p)


def verdict(pairs, bound, better="lower"):
    """Compares a metric between two sets of runs, given as (base, new)
    pairs, by the rule of the project's metrics guide:
    - 'improved' when the new side wins at least 9/10 of the pairs (ties
      count for neither) and the medians differ, in the better direction,
      by more than the base's quartile spread;
    - 'unresolved' when the base's spread is wider than `bound` (a share of
      the base median), unless every new run beats every base run;
    - otherwise 'no worse' when the new median is within `bound` of the base
      median, and 'worse' beyond it.
    Returns (verdict, win share)."""
    sign = 1.0 if better == "lower" else -1.0
    base = [b for b, _ in pairs]
    new = [n for _, n in pairs]
    share = sum(1 for b, n in pairs if sign * (n - b) < 0) / len(pairs)
    q1, mb, q3 = quartiles(base)
    gain = sign * (mb - median(new))
    if share >= 0.9 and gain > (q3 - q1):
        return "improved", share
    scale = abs(mb) or 1.0
    if (q3 - q1) / scale > bound:
        if all(sign * (n - b) < 0 for b in base for n in new):
            return "no worse", share
        return "unresolved", share
    return ("no worse" if -gain / scale <= bound else "worse"), share
