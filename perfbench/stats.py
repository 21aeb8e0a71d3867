"""The benchmark's arithmetic: medians and quartiles, the tail-percentile
rule, the paired 9/10 rule, the regression-bound check, the error ratio
and span self time. Pure functions, tested by test_stats.py."""
import math
import statistics

# Share of CPU time stolen by the hypervisor above which a timing sample
# is not clean.
STEAL_MAX = 0.05


def median(xs):
    return statistics.median(xs)


def median_or_none(xs):
    return statistics.median(xs) if xs else None


def clean(samples, max_steal=STEAL_MAX):
    """The samples (dicts with 'steal', the share of CPU time stolen
    while each was taken) at most max_steal; all of them if none is."""
    kept = [s for s in samples if s["steal"] <= max_steal]
    return kept or samples


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q1, q2, q3)


def iqr_share(xs):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def percentile(xs, p):
    """Nearest-rank percentile p (0-100] of xs."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def p90_if_supported(xs, beyond=10):
    """p90 of xs when at least `beyond` samples lie above it, else None."""
    if len(xs) * 0.1 < beyond:
        return None
    return percentile(xs, 90)


def pair_wins(parent, change, better="lower"):
    """Pairs the change wins; ties count for neither side."""
    if better == "lower":
        return sum(1 for p, c in zip(parent, change) if c < p)
    return sum(1 for p, c in zip(parent, change) if c > p)


def nine_of_ten(wins, pairs):
    """The change wins at least nine tenths of all pairs run (and at
    least ten pairs were run)."""
    return pairs >= 10 and wins * 10 >= pairs * 9


def worse_share(parent_median, change_median, better="lower"):
    """How much worse the change's median is, as a share of the parent's
    (negative when it is better)."""
    d = change_median - parent_median
    return (d if better == "lower" else -d) / parent_median


def within_bound(parent_median, change_median, bound, better="lower"):
    return worse_share(parent_median, change_median, better) <= bound


def verdict(parent, change, bound, better="lower"):
    """improved / within-bound / worse / unresolved for one metric on one
    workload, from paired runs of each side.

    improved: wins >= 9/10 of pairs and the medians differ by more than
    the parent's IQR. worse: the change's median is worse than the
    parent's by more than the bound. unresolved: the parent's own spread
    is wider than the bound, unless every change run beats every parent
    run. Otherwise within-bound."""
    pm, cm = median(parent), median(change)
    q1, _, q3 = quartiles(parent)
    wins = pair_wins(parent, change, better)
    gain = -worse_share(pm, cm, better) * pm
    if nine_of_ten(wins, len(parent)) and gain > (q3 - q1):
        return "improved"
    if not within_bound(pm, cm, bound, better):
        return "worse"
    all_better = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if (q3 - q1) / pm > bound and not all_better:
        return "unresolved"
    return "within-bound"


def wrong_rows(execution, expected_rows):
    """An execution that counted its rows, of an op whose checked result
    has a different number of rows."""
    want = expected_rows.get(execution["op"])
    got = execution.get("rows")
    return want is not None and got is not None and got != want


def count_failed(executions, wrong_ops, expected_rows=None):
    """Op executions that failed, exceeded the ceiling, belong to an op
    whose checked result was wrong, or returned another number of rows
    than that checked result has. `executions` is a list of dicts with
    'op', 'ok' (False for an error or a ceiling timeout) and, for
    queries, 'rows'."""
    expected_rows = expected_rows or {}
    return sum(1 for e in executions
               if not e["ok"] or e["op"] in wrong_ops or wrong_rows(e, expected_rows))


def error_ratio(executions, wrong_ops, expected_rows=None):
    """count_failed as a share of the executions attempted."""
    if not executions:
        return 1.0
    return count_failed(executions, wrong_ops, expected_rows) / len(executions)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    lo, hi = span["start_ns"], span["end_ns"]
    return (hi - lo) - covered([(c["start_ns"], c["end_ns"]) for c in children], lo, hi)
