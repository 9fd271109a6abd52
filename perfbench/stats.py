"""Summary statistics and span arithmetic used by the benchmark."""
import math

# percentile ladder searched for the reported tail
LADDER = (50, 75, 90, 95, 99, 99.9)


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n samples."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(xs, min_beyond=10):
    """The highest ladder percentile with at least `min_beyond` samples beyond
    it, as (p, value), or None when even the median has fewer."""
    best = None
    for p in LADDER:
        if beyond(len(xs), p) >= min_beyond:
            best = (p, percentile(xs, p))
    return best


def timing(xs):
    """A timing as its median, its tail percentile and the sample count."""
    t = tail(xs)
    return {
        "median": median(xs),
        "n": len(xs),
        "tail_p": t[0] if t else None,
        "tail": t[1] if t else None,
    }


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans):
    """span id -> its duration minus the part its direct children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        clipped = [(a, b) for a, b in clipped if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - covered(clipped)
    return out
