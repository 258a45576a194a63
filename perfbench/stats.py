"""Statistics shared by the benchmark report and its tests.

Everything here is a pure function of recorded samples, so
`test_perfbench.py` can pin the arithmetic without running Spark.
"""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """Latency at the highest percentile that still has at least `beyond`
    samples above it.

    Returns (value, percentile, samples_beyond). With fewer than
    `beyond` + 1 samples no such percentile exists; the maximum is returned
    with 0 samples beyond it, so the report can say the tail is unresolved.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return s[-1], 100.0, 0
    i = n - beyond - 1
    return s[i], 100.0 * (i + 1) / n, n - 1 - i


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span: its duration minus the part of it that its
    children cover (children may overlap each other; the overlap counts
    once). `spans` are (id, parent, op, name, start, end) tuples.
    Returns {span id: self time}, in the spans' time unit.
    """
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append((s[4], s[5]))
    return {s[0]: (s[5] - s[4]) - union_length(children.get(s[0], []), s[4], s[5])
            for s in spans}


def self_time_by_name(spans):
    """Summed self time per span name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s[3]] = out.get(s[3], 0) + st[s[0]]
    return out


def quartile_spread(xs):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
