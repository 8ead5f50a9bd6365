"""Statistics the benchmark reports, kept free of Spark so they can be
self-tested on synthetic series (perfbench/test_stats.py)."""
import math

# The p99 limit a ladder step must meet to count as sustained.
P99_LIMIT_MS = 15000.0
# A step sustains its rate when its backlog grows by at most this share of
# the offered rate (rows per second).
BACKLOG_TOLERANCE = 0.05


def percentile(values, q):
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty series")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_supported(n, q, beyond=10):
    """True when a q-th percentile over n samples has at least `beyond`
    samples above it."""
    return n - max(1, math.ceil(q / 100.0 * n)) >= beyond


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty series")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def slope(points):
    """Least-squares slope of (x, y) points; 0 for fewer than two x values."""
    n = len(points)
    if n < 2:
        return 0.0
    mx = sum(p[0] for p in points) / n
    my = sum(p[1] for p in points) / n
    sxx = sum((p[0] - mx) ** 2 for p in points)
    if sxx == 0:
        return 0.0
    return sum((p[0] - mx) * (p[1] - my) for p in points) / sxx


def backlog_slope(offered, committed, commit_times, start_s, end_s):
    """Growth of (offered - committed) rows per second over the second half
    of [start_s, end_s], sampled at the commit instants: right after each
    commit, so the sawtooth between commits does not read as growth.
    `offered(t)` and `committed(t)` give cumulative row counts at time t
    (seconds). With fewer than two commits in the second half, the step's
    commits and the first one after it are used; with fewer than two of
    those, None."""
    mid = (start_s + end_s) / 2.0
    ts = [t for t in commit_times if mid <= t <= end_s]
    if len(ts) < 2:
        ts = [t for t in commit_times if start_s <= t <= end_s]
        ts += sorted(t for t in commit_times if t > end_s)[:1]
    if len(ts) < 2:
        return None
    return slope([(t, offered(t) - committed(t)) for t in ts])


def sustained_pick(steps, limit_ms=P99_LIMIT_MS, tolerance=BACKLOG_TOLERANCE):
    """The highest-rate step whose backlog does not grow and whose p99 stays
    within the limit. `steps` holds dicts with rate, slope_eps, p99_ms.
    Returns the chosen step, or None when no step qualifies."""
    ok = [s for s in steps if s["slope_eps"] is not None
          and s["slope_eps"] <= tolerance * s["rate"] and s["p99_ms"] <= limit_ms]
    return max(ok, key=lambda s: s["rate"]) if ok else None
