"""Statistics for the benchmark report: percentiles, span self time and
metric-name validity."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TAIL_CANDIDATES = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def percentile(samples, p):
    """Nearest-rank percentile, p in (0, 1]."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    return xs[max(0, math.ceil(p * len(xs)) - 1)]


def tail(samples, min_beyond=10):
    """The highest percentile that has at least `min_beyond` samples
    beyond it, as (p, value); None when even the median has fewer."""
    n = len(samples)
    for p in TAIL_CANDIDATES:
        if n - math.ceil(p * n) >= min_beyond:
            return p, percentile(samples, p)
    return None


def median(samples):
    return statistics.median(samples) if samples else 0.0


def self_times(spans):
    """Self time of each span, in ns: its duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(c["start_ns"], lo), min(c["end_ns"], hi))
                     for c in children.get(s["id"], ()))
        covered, end = 0, lo
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (hi - lo) - covered
    return out
