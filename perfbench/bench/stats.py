"""Order statistics, the tail helper, and the span accounting of a traced run."""
import math
import statistics

# |sum of layer self times + driver gap - op wall| allowed per op
ACCOUNT_TOL_S = 0.010
ACCOUNT_TOL_SHARE = 0.02


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0.0, 0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def tail(xs, beyond=10):
    """The highest percentile that still has `beyond` samples above it, but
    never below the median. Returns (value, percentile, samples above)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    k = max(n - 1 - beyond, math.ceil((n - 1) / 2))
    pct = 100.0 * k / (n - 1) if n > 1 else 100.0
    return s[k], pct, n - 1 - k


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def subtract(interval, holes):
    """Parts of `interval` not covered by any of `holes`."""
    out, (a, b) = [], interval
    for h0, h1 in sorted(holes):
        if h1 <= a or h0 >= b:
            continue
        if h0 > a:
            out.append((a, h0))
        a = max(a, h1)
    if a < b:
        out.append((a, b))
    return out


def intersect_length(parts, covered):
    """Length of the parts (disjoint) that lies inside the union `covered`."""
    merged = []
    for a, b in sorted(covered):
        if merged and a <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], b))
        else:
            merged.append((a, b))
    total = 0
    for a, b in parts:
        for c, d in merged:
            lo, hi = max(a, c), min(b, d)
            if hi > lo:
                total += hi - lo
    return total


def account(op_span, spans, jobs):
    """Split one op's wall time (µs) into per-layer self times and the
    driver gap.

    A layer's self time is the part of its spans' self intervals (span minus
    its child spans) during which a job of this op was running. The driver
    gap is op wall minus the union of the op's job intervals. The two are
    computed independently, so they add up to the wall only when every job
    ran inside a layer span; `residual` is what is left over.
    """
    lo, hi = op_span["t0"], op_span["t1"]
    wall = hi - lo
    covered = [(max(lo, j["t0"]), min(hi, j["t1"])) for j in jobs
               if j["t1"] > lo and j["t0"] < hi]
    gap = wall - union_length(covered)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    layers = {}
    for s in spans:
        if s["layer"] == "op":
            continue
        own = subtract((s["t0"], s["t1"]), children.get(s["id"], []))
        layers[s["layer"]] = layers.get(s["layer"], 0) + intersect_length(own, covered)
    residual = wall - gap - sum(layers.values())
    return {"wall": wall, "gap": gap, "layers": layers, "residual": residual}


def within_tolerance(acc):
    wall_s = acc["wall"] / 1e6
    return abs(acc["residual"]) / 1e6 <= max(ACCOUNT_TOL_S, ACCOUNT_TOL_SHARE * wall_s)
