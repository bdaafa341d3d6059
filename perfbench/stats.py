"""The benchmark's measurement rules, kept free of I/O so that they are
tested on their own (`python3 -m unittest discover -s perfbench`)."""
import math
import re

MIN_BEYOND = 10
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    `q` of the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n, q):
    """Samples strictly above the nearest-rank `q` percentile of `n`."""
    return n - max(1, math.ceil(q * n))


def tail_level(n, target):
    """The percentile to report as a tail: `target`, or lower when fewer
    than ten samples would lie beyond it — the highest level that keeps
    ten beyond (never below the median)."""
    return max(0.5, min(target, (n - MIN_BEYOND) / n)) if n else target


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def slope(points):
    """Least-squares slope of (t, y) points; 0 with fewer than two."""
    if len(points) < 2:
        return 0.0
    mt = sum(t for t, _ in points) / len(points)
    my = sum(y for _, y in points) / len(points)
    den = sum((t - mt) ** 2 for t, _ in points)
    if den == 0:
        return 0.0
    return sum((t - mt) * (y - my) for t, y in points) / den


def grows(backlog, start, end, rate):
    """Whether a backlog grows over the second half of [start, end): its
    fitted slope exceeds a tenth of the offered rate, i.e. the system
    completes less than 90% of what arrives."""
    mid = (start + end) / 2.0
    pts = [(t, y) for t, y in backlog if mid <= t < end]
    return slope(pts) > 0.1 * rate


def sustainable(rungs, limit_s, q):
    """Highest rung whose `q` latency is within `limit_s` and whose backlog
    does not grow. `rungs` are dicts with `rate`, `latencies` and `grows`;
    returns the rung or None. A rung with failed operations counts as
    missing the limit."""
    ok = [r for r in rungs
          if r["latencies"] and not r["grows"] and not r.get("failed")
          and percentile(r["latencies"], q) <= limit_s]
    return max(ok, key=lambda r: r["rate"]) if ok else None


def capacity(intervals):
    """Completion rate of operations run back to back under saturation:
    their count over the time from the first start to the last end."""
    if not intervals:
        return 0.0
    span = max(b for _, b in intervals) - min(a for a, _ in intervals)
    return len(intervals) / span if span > 0 else 0.0


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# The span tree: each layer's parent layer. A span's self time is its
# duration minus the part of it that its children cover.
PARENT = {
    "serve.queue": "root", "queries.build": "root",
    "catalyst.analysis": "root", "catalyst.optimize": "root", "catalyst.plan": "root",
    "exec.job": "root", "exec.stage": "exec.job",
}


def self_times(spans):
    """Per-layer self time, summed over operations. `spans` are dicts with
    `op`, `layer`, `start`, `end`; the root layer is whichever layer is not
    in PARENT. Stages are children of the job of the same op that contains
    them."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = {}
    for op_spans in by_op.values():
        for s in op_spans:
            layer = s["layer"]
            if layer in PARENT:
                kids = [k for k in op_spans if PARENT.get(k["layer"]) == layer]
            else:
                kids = [k for k in op_spans if PARENT.get(k["layer"]) == "root"]
            covered = union_length([(k["start"], k["end"]) for k in kids], s["start"], s["end"])
            key = layer if layer in PARENT else "root"
            out[key] = out.get(key, 0.0) + max(0.0, (s["end"] - s["start"]) - covered)
    return out


def overhead(traced, untraced):
    """Tracing overhead of a headline timing: absolute and as a share."""
    return traced - untraced, (traced / untraced - 1.0) if untraced else 0.0


def check_name(name):
    return bool(NAME_RE.match(name))


def check_unit(unit):
    return bool(UNIT_RE.match(unit))
