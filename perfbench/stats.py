"""Summary statistics and span arithmetic for the benchmark."""
import math
from collections import defaultdict

PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def rank(n, p):
    """1-based nearest-rank position of percentile p among n samples."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(values)
    return xs[rank(len(xs), p) - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank position of percentile p."""
    return n - rank(n, p)


def tail_percentile(n, candidates=PERCENTILES, min_beyond=10):
    """The highest candidate percentile that leaves at least `min_beyond`
    samples beyond it, or None when even the lowest does not."""
    ok = [p for p in candidates if beyond(n, p) >= min_beyond]
    return max(ok) if ok else None


def median(values):
    xs = sorted(values)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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
    """span id → its duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        ivs = [(max(a, c["start_ms"]), min(b, c["end_ms"])) for c in kids.get(s["id"], ())
               if c["id"] != s["id"]]
        out[s["id"]] = (b - a) - covered(ivs)
    return out
