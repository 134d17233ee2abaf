"""Statistics of the benchmark: the percentile rule, medians over the
reps that succeeded, and the run-to-run spread a metric's bound is
judged against.
"""
import math
import statistics

# percentiles tried, highest first; see tail()
LADDER = (99.9, 99.0, 90.0, 50.0)


def pct(xs, p):
    """Nearest-rank percentile `p` of the samples `xs`."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(xs):
    """(percentile, value): the highest percentile of LADDER that has at
    least ten samples beyond it. With fewer than 20 samples no
    percentile qualifies and the maximum is reported as percentile 100."""
    n = len(xs)
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p, pct(xs, p)
    return 100.0, max(xs)


def summary(xs):
    """n, median, and the tail by the percentile rule (zeros when empty)."""
    if not xs:
        return {"n": 0, "p50": 0.0, "tail": 0.0, "tail_pct": 0.0}
    p, v = tail(xs)
    return {"n": len(xs), "p50": statistics.median(xs), "tail": v,
            "tail_pct": p}


def usable(reps, traced=False):
    """Reps whose time may be used: succeeded and checked, and of the
    requested kind (untraced for end-to-end numbers)."""
    return [r for r in reps if r.get("ok") and bool(r.get("traced")) == traced]


def accounting(reps):
    """(attempted, failed) operations over all reps, failed or not."""
    attempted = sum(int(r.get("ops", 1)) for r in reps)
    failed = sum(int(r.get("failed_ops", 0 if r.get("ok") else 1)) for r in reps)
    return attempted, failed


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, over one value per run."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
