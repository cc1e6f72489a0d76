"""Statistics and trace arithmetic of the benchmark: medians and quartiles,
the per-run trend flag, span self times, and the metric-name rules of the
printed result."""

import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median, third quartile (Python's default method)."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def trend(xs, limit):
    """True when the least-squares line through the timed passes moves by
    more than `limit` of their median from the first pass to the last:
    the passes are still warming up (or a load window began)."""
    n = len(xs)
    if n < 3:
        return False
    mx = (n - 1) / 2
    my = sum(xs) / n
    slope = (sum((i - mx) * (x - my) for i, x in enumerate(xs))
             / sum((i - mx) ** 2 for i in range(n)))
    return abs(slope * (n - 1)) > limit * median(xs)


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover
    (children clipped to the span; overlapping children counted once)."""
    s, e = span
    inside = [(max(s, cs), min(e, ce)) for cs, ce in children
              if ce > s and cs < e]
    return (e - s) - covered(inside)


def check_metrics(metrics):
    """Every printed metric has a valid name, a unit and a finite value."""
    for name, m in metrics.items():
        if not NAME.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if set(m) != {"value", "unit"} or not UNIT.match(str(m["unit"])):
            raise ValueError(f"metric {name!r} needs a value and a unit")
        v = m["value"]
        if not isinstance(v, (int, float)) or v != v or v in (
                float("inf"), float("-inf")):
            raise ValueError(f"metric {name!r} has no finite value")
    return metrics
