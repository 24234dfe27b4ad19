"""Pure functions that turn a harness run record into numbers.

Kept apart from run.py so that test_metrics.py can check them without a JVM.
Times in a record are epoch milliseconds (floats).
"""
import math
import re

MB = 1024.0 * 1024.0

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. Returns (value, samples strictly beyond)."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1], len(s) - k


def tail_percentile(xs, min_beyond=10):
    """The highest percentile of the ladder with at least `min_beyond`
    samples beyond it, as (p, value), or None when there is none."""
    for p in TAIL_LADDER:
        if len(xs) and percentile(xs, p)[1] >= min_beyond:
            return p, percentile(xs, p)[0]
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_time(span, children):
    """A span's duration minus the part of its interval that its children
    cover (children are clipped to the span)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)


_PAIR = re.compile(r"^(?:[A-Za-z_]\w*=)?(\d+)/(\d+)$")
_SCALAR = re.compile(r"^(hit|miss)=(\d+)$")


def parse_memo(stats):
    """Total (hits, misses) over the concatenated `*MemoStats` accessors.

    Accepted tokens, comma-separated: `hit=N`, `miss=N` (the pair-frame
    memo), `name=H/M` and bare `H/M`. Anything else is a format change the
    benchmark must not silently misread, so it raises ValueError."""
    hits = misses = 0
    for tok in filter(None, (t.strip() for t in stats.split(","))):
        m = _PAIR.match(tok)
        if m:
            hits += int(m.group(1))
            misses += int(m.group(2))
            continue
        m = _SCALAR.match(tok)
        if m:
            if m.group(1) == "hit":
                hits += int(m.group(2))
            else:
                misses += int(m.group(2))
            continue
        raise ValueError(f"unrecognised memo stats token {tok!r}")
    return hits, misses


def failed_frac(attempted, failed):
    """Failed operations over attempted ones; an exception and a wrong
    result are both failures, so `failed` counts either."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def op_failures(ops, check):
    """Count operations that raised or whose result `check(op)` rejects.
    Returns (attempted, failed, reasons) with one reason per failure."""
    reasons = []
    for op in ops:
        why = op.get("error") or check(op)
        if why:
            reasons.append(f"{op['kind']} {op['name']} (pass {op['pass']}): {why}")
    return len(ops), len(reasons), reasons
