"""Metric arithmetic of the benchmark: the percentile rule and span self
time. Pure functions, unit-tested in `tests/test_stats.py`."""
import math

# Percentiles a tail may be reported at. The tail of n samples is the
# highest of these with at least MIN_BEYOND samples above it.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile (the smallest value with at least p% of the
    samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    v = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(v)))
    return v[k - 1]


def tail_percentile(n):
    """Highest LADDER percentile with at least MIN_BEYOND of n samples
    beyond it; the median when even that has fewer."""
    best = LADDER[0]
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:  # tolerance for 0.1-step float error
            best = p
    return best


def summarize(values):
    """Median and tail of a sample, with the tail's percentile and n."""
    p = tail_percentile(len(values))
    return {"n": len(values), "p50": percentile(values, 50.0), "tail_pct": p,
            "tail": percentile(values, p)}


def median(values):
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("median of no samples")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


def backlog_growth(rows, lag):
    """Mean growth of a backlog sampled on a fixed clock over one trigger
    period (`lag` samples): each sample minus the one a period earlier.
    Comparing samples at the same phase of the trigger cancels the
    saw-tooth each batch leaves, so a backlog that merely rises and falls
    with the batches grows by ~0 and one that the path cannot drain grows
    by what each period leaves behind."""
    diffs = [rows[i] - rows[i - lag] for i in range(lag, len(rows))]
    if not diffs:
        raise ValueError(f"backlog growth needs more than {lag} samples")
    return sum(diffs) / len(diffs)


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
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


def self_times(spans):
    """Per span name, the summed self time: each span's duration minus the
    part of its interval that its child spans cover (children clipped to
    the parent, overlapping children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        inner = [(max(a, c["start_us"]), min(b, c["end_us"])) for c in kids.get(s["id"], [])]
        inner = [(x, y) for x, y in inner if y > x]
        out[s["name"]] = out.get(s["name"], 0) + (b - a) - covered(inner)
    return out
