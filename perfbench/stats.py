"""The benchmark's own statistics: percentiles, the aging ratio, trace
self time and the contention witness. Pure functions, tested in
test_stats.py."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs, beyond=10):
    """The highest percentile of `xs` that still has at least `beyond`
    samples strictly above it, as (value, percentile, n_samples).

    Below 2*beyond samples that percentile would not lie above the median,
    so the maximum is returned instead, with percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), 0.0, 0
    if n < 2 * beyond:
        return s[-1], 100.0, n
    i = n - 1 - beyond  # without ties, exactly `beyond` samples lie above s[i]
    while sum(1 for x in s if x > s[i]) < beyond:
        i -= 1
    return s[i], 100.0 * (i + 1) / n, n


def aging_ratio(xs):
    """How much slower the last unit of the series is than the first, read
    off a Theil-Sen line through all of it (median pairwise slope, median
    intercept): fitted last value over fitted first value. Above 1 means
    units get slower as state ages. A run has too few polls for medians of
    its first and last tenth to be steady; the fit uses every poll and
    ignores single outliers."""
    n = len(xs)
    if n < 2:
        return float("nan")
    slope = median([(xs[j] - xs[i]) / (j - i)
                    for i in range(n) for j in range(i + 1, n)])
    first = median([x - slope * i for i, x in enumerate(xs)])
    return (first + slope * (n - 1)) / first


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the union of its children's intervals,
    each child clipped to the span."""
    s, e = span
    clipped = [(max(s, a), min(e, b)) for a, b in children if b > s and a < e]
    return (e - s) - union_ms(clipped)


def read_cpu_jiffies():
    """(steal, busy) jiffies of the aggregate cpu line of /proc/stat, busy
    being user+nice+system+irq+softirq (as graft.Bench counts them)."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    v = [int(x) for x in line.split()[1:]]
                    return v[7], v[0] + v[1] + v[2] + v[5] + v[6]
    except OSError:
        pass
    return -1, -1


def witness(before, after, own_jiffies):
    """Contention witness over an interval: CPU-steal jiffies (`steal_d`)
    and busy jiffies burnt by other processes (`other_d`), as graft.Bench
    defines them. Reported beside the metrics, never used to drop a run."""
    if min(before + after) < 0:
        return {"steal_d": -1, "other_d": -1}
    return {"steal_d": after[0] - before[0],
            "other_d": max(0, (after[1] - before[1]) - own_jiffies)}
