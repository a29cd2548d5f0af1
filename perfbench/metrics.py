"""Statistics shared by the benchmark runner and the compare tool."""
import math
import statistics


def tail_percentile(xs, q):
    """Nearest-rank q-th percentile of xs, and how many samples lie
    beyond it. A percentile is reported only when at least ten samples
    lie beyond it; otherwise the result is (None, beyond)."""
    s = sorted(xs)
    if not s:
        return None, 0
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    value = s[rank - 1]
    beyond = len(s) - rank
    return (value if beyond >= 10 else None), beyond


def quartiles(xs):
    """First quartile, median and third quartile (`statistics.quantiles`, n=4)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(children, start, end)


def failures(runs):
    """Runs without a result line, ops failed and ops attempted, over
    one side's runs of one workload ({seed: saved result})."""
    lost = sum(1 for r in runs.values() if "metrics" not in r)
    failed = sum(r.get("failed", 0) for r in runs.values())
    attempted = sum(r.get("attempted", 0) for r in runs.values())
    return lost, failed, attempted


def ops_verdict(parent, change):
    """Compare the correctness of two sides' runs of one workload
    ({seed: saved result} each). A speed gain does not count when the
    change fails more; returns "worse" with the reason, or "same"."""
    if not change:
        return "worse", "no runs of the change"
    if not parent:
        return "worse", "no runs of the parent to compare with"
    missing = sorted(set(parent) - set(change))
    if missing:
        return "worse", f"seeds {missing} ran on the parent only"
    pl, pf, pa = failures(parent)
    cl, cf, ca = failures(change)
    if cl > pl:
        return "worse", f"{cl} change runs ended without a result, parent {pl}"
    if cf * max(1, pa) > pf * max(1, ca):
        return "worse", f"ops failed: change {cf}/{ca}, parent {pf}/{pa}"
    return "same", f"ops failed: change {cf}/{ca}, parent {pf}/{pa}"


def verdict(parent, change, bound, better="lower"):
    """Compare two sets of runs of one metric on one workload.

    Returns one of:
      "gain"         the change wins at least nine pairs in ten (ties
                     count for neither side) and the medians differ by
                     more than the parent's own quartile distance;
      "worse"        the change's median is worse than the parent's by
                     more than `bound`, a share of the parent's median;
      "unresolved"   the parent's own spread is wider than `bound`, and
                     not every change run beats every parent run;
      "within bound" otherwise.
    """
    sign = 1.0 if better == "lower" else -1.0
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, _, q3 = quartiles(parent)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    if pairs and wins >= 0.9 * len(pairs) and abs(mc - mp) > (q3 - q1):
        return "gain"
    if all(sign * (c - p) < 0 for c in change for p in parent):
        return "within bound"
    if spread(parent) > bound:
        return "unresolved"
    if sign * (mc - mp) > bound * abs(mp):
        return "worse"
    return "within bound"
