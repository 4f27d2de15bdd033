"""Summary statistics and span arithmetic shared by run.py and compare.py."""

import math
import statistics

MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def percentile(values, q):
    """Nearest-rank q-th percentile (0 < q < 100), or None when fewer than
    ten samples lie beyond it: a tail figure resting on a handful of
    samples is noise, so it is not reported."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def timing(values_ms):
    """Median, p90 and p99 (each None where the sample does not support
    it) with the sample count."""
    return {"n": len(values_ms), "p50": median(values_ms),
            "p90": percentile(values_ms, 90), "p99": percentile(values_ms, 99)}


def by_kind_ms(ops):
    """Latencies in ms by op kind, from [kind, ns, retries] ops."""
    out = {}
    for kind, ns, _ in ops:
        out.setdefault(kind, []).append(ns / 1e6)
    return out


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = values[0] if values else None
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    its direct children cover (overlapping children count once).

    `spans` maps span id -> (parent id or None, start, end)."""
    children = {}
    for sid, (parent, start, end) in spans.items():
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, (_, start, end) in spans.items():
        covered = 0.0
        cur_s = cur_e = None
        for cs, ce in sorted(children.get(sid, [])):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out
