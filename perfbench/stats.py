"""Summary statistics for the benchmark: percentiles with their sample
count, failure counting, run-to-run spread and span self time."""
import math
import statistics


def percentile(values, q):
    """Percentile `q` (0 <= q <= 100) of `values`, interpolated linearly
    between the two nearest ranks, with the number of samples it was
    taken from: (value, n). Empty input gives (None, 0)."""
    xs = sorted(values)
    if not xs:
        return None, 0
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def median(values):
    return statistics.median(values) if values else None


def spread(values):
    """Distance between the first and third quartile as a share of the
    median (the steadiness criterion for repeated runs)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def count_failures(outcomes):
    """Attempted and failed counts over check outcomes. An outcome is
    True (passed), False (wrong answer) or a string (the error that kept
    the output from being produced); anything but True fails."""
    attempted = failed = 0
    for ok in outcomes:
        attempted += 1
        if ok is not True:
            failed += 1
    return attempted, failed


def _union(intervals):
    total, reach = 0, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if reach is None or s > reach:
            total += e - s
            reach = e
        elif e > reach:
            total += e - reach
            reach = e
    return total


def self_times(spans):
    """Self time per span name, in the spans' time unit.

    A span's self time is its duration minus the part of its interval
    that its direct children cover (children clipped to the parent,
    overlapping children counted once). `spans` are dicts with `span`,
    `parent`, `name`, `start_us` and `end_us`."""
    by_id = {s["span"]: s for s in spans}
    children = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered = _union((max(c["start_us"], lo), min(c["end_us"], hi))
                         for c in children.get(s["span"], []))
        out[s["name"]] = out.get(s["name"], 0) + max(0, (hi - lo) - covered)
    return out
