"""The benchmark's own arithmetic: percentiles, failure accounting and the
result line. Kept free of I/O so the tests can pin it down."""
import json
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(sorted_vals, pct):
    """Nearest-rank percentile: the value at rank ceil(pct/100 * n)."""
    n = len(sorted_vals)
    rank = max(1, math.ceil(round(pct * n / 100.0, 9)))
    return rank, sorted_vals[rank - 1]


def tail(values, beyond=10):
    """The highest of the candidate percentiles that has at least `beyond`
    samples above its rank: (pct, value, n). (None, None, n) when there are
    too few samples for any of them."""
    vals = sorted(values)
    n = len(vals)
    for pct in TAIL_CANDIDATES:
        if n == 0:
            break
        rank, v = nearest_rank(vals, pct)
        if n - rank >= beyond:
            return pct, v, n
    return None, None, n


def median(values):
    return statistics.median(values) if values else None


def iqr_spread(values):
    """(q3 - q1) / median, with quartiles as statistics.quantiles gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def accounting(calls, failures, checks, batches):
    """Operations are calls, micro-batches and output checks. A failed call
    is also missing its timing, so the pass it ran in has no valid wall time.
    Returns (attempted, failed, passes_with_a_failure)."""
    failed_calls = len(failures)
    failed_checks = sum(1 for c in checks if not c["ok"])
    attempted = len(calls) + len(batches) + len(checks)
    bad_passes = sorted({f["pass"] for f in failures})
    return attempted, failed_calls + failed_checks, bad_passes


def pass_times(pass_s, bad_passes):
    """cold = first pass, warm = median of the later passes. A pass with a
    failed call has no valid time and is left out; when that leaves
    nothing, the raw time is reported and the run is already incorrect."""
    ok = [(i, s) for i, s in enumerate(pass_s) if i not in bad_passes]
    cold = next((s for i, s in ok if i == 0), pass_s[0])
    warm = median([s for i, s in ok if i > 0]) or median(pass_s[1:])
    return cold, warm


def result_line(correct, attempted, failed, metrics):
    """The last stdout line. `metrics` maps name -> (value, unit)."""
    for name, (value, unit) in metrics.items():
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT_RE.match(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        if value is None or not math.isfinite(value):
            raise ValueError(f"metric {name} has no finite value")
    if attempted < 1:
        raise ValueError("nothing was attempted")
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in metrics.items()}})
