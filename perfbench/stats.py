"""Pure helpers of the benchmark: percentiles, due-time latency, windowed
and top-share tails, interval union and span self time, write
amplification, run-to-run spread.
Unit-tested in test_stats.py."""
import math
import statistics

INF = float("inf")
# percentile levels a tail may be reported at, highest first
LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(xs, q):
    """Nearest-rank q-th percentile of `xs` (inf sorts last); None if empty."""
    s = sorted(xs)
    if not s:
        return None
    return s[_rank(len(s), q) - 1]


def _rank(n, q):
    # 1-based nearest rank; the epsilon keeps 99.9% of 10000 at 9990
    return max(1, math.ceil(q / 100.0 * n - 1e-9))


def beyond(n, q):
    """How many of `n` samples lie strictly above the q-th percentile rank."""
    return n - _rank(n, q) if n else 0


def tail_level(n, need=10):
    """Highest level in LEVELS with at least `need` of `n` samples beyond it."""
    for q in LEVELS:
        if beyond(n, q) >= need:
            return q
    return None


def due_latencies(due_ms, recv_ms):
    """Open-loop latency of each event: receipt minus the time it was DUE at
    the generator (not when it was sent), so waiting behind a stall counts.
    A missing receipt (None) is infinitely late."""
    return [INF if r is None else r - d for d, r in zip(due_ms, recv_ms)]


def windowed_percentile(due_ms, lat, window_ms, q):
    """Median over consecutive `window_ms` windows of due time of each
    window's q-th percentile latency: a tail that one slow window cannot
    move on its own. None if there are no events."""
    if not due_ms:
        return None
    t0 = min(due_ms)
    win = {}
    for d, x in zip(due_ms, lat):
        win.setdefault(int((d - t0) // window_ms), []).append(x)
    return statistics.median(percentile(v, q) for v in win.values())


def top_mean(xs, share):
    """Mean of the largest `share` of `xs` (at least one value); None if empty."""
    s = sorted(xs)
    if not s:
        return None
    k = max(1, round(share * len(s)))
    return statistics.mean(s[-k:])


def union_ms(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    iv = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            iv.append((s, e))
    iv.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: duration minus the part of it covered by its child spans}.
    `spans` are dicts with id, parent, start, end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_ms(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def write_amp(bytes_added, input_bytes):
    """Bytes a table grew by over the bytes of input that caused it."""
    total_in = sum(input_bytes)
    return sum(bytes_added) / total_in if total_in > 0 else None


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else INF
