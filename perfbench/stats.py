"""Pure helpers shared by the runner and the diff tool."""
import math
import statistics


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a `q`
    share of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n, q):
    """How many of `n` samples lie strictly beyond the nearest-rank
    `q` percentile."""
    return n - max(1, math.ceil(q * n))


def min_samples(q, k=10):
    """The fewest samples that put at least `k` beyond the `q` percentile."""
    n = k
    while beyond(n, q) < k:
        n += 1
    return n


def lateness_ms(due_s, start_s):
    """How late an open-loop sender started a request, against its slot."""
    return (start_s - due_s) * 1000.0


def latency_ms(due_s, end_s):
    """Open-loop latency: from the scheduled send time, not the actual one,
    so a stall is charged to every request queued behind it."""
    return (end_s - due_s) * 1000.0


def freshness(envelopes, transitions, bucket_ms=60_000):
    """Match accepted envelopes to the poll that first counted their rows.

    `envelopes`: dicts with host, t_us (creation stamp) and metrics (row
    count), all answered 204. `transitions`: (host, bucket start ms, count,
    poll end ms), one per change of a (host, bucket) count seen by the
    poller. An envelope is visible once its (host, bucket) count reaches the
    rows of every envelope of that host and bucket created up to it.

    Returns each envelope's freshness in seconds, in input order, or None
    for an envelope no poll ever counted.
    """
    by_key = {}
    for host, bucket, count, end in transitions:
        by_key.setdefault((host, int(bucket)), []).append((count, end))
    for v in by_key.values():
        v.sort(key=lambda x: x[1])
    need = {}
    out = [None] * len(envelopes)
    for i in sorted(range(len(envelopes)),
                    key=lambda i: (envelopes[i]["host"], envelopes[i]["t_us"])):
        e = envelopes[i]
        t_ms = e["t_us"] / 1000.0
        key = (e["host"], int(t_ms // bucket_ms * bucket_ms))
        need[key] = need.get(key, 0) + e["metrics"]
        seen = [end for count, end in by_key.get(key, []) if count >= need[key]]
        if seen:
            out[i] = (min(seen) - t_ms) / 1000.0
    return out


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(n=4)` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values):
    """Interquartile range as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf


def verdict(base, new, bound, better="lower"):
    """Compare two sets of runs of one metric.

    `unresolved` when either side's interquartile spread is wider than the
    bound: the noise is then larger than the change the bound allows.
    Otherwise the medians decide: a move beyond the bound is `better` or
    `worse`, anything inside it is `unchanged`.
    """
    if spread(base) > bound or spread(new) > bound:
        return "unresolved"
    mb, mn = statistics.median(base), statistics.median(new)
    change = (mn - mb) / mb if mb else math.inf
    if abs(change) <= bound:
        return "unchanged"
    worse = change > 0 if better == "lower" else change < 0
    return "worse" if worse else "better"


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))
