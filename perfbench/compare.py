#!/usr/bin/env python3
"""Compare two sets of benchmark results: parent against change.

    python3 perfbench/compare.py <parent-results-dir> <change-results-dir>

Each directory holds the report files run.py saves under
perfbench/results/ (one JSON object per run). For every workload and
end-to-end metric of BENCHMARK.json it prints each side's median and
quartiles, the share of pairs the change won (runs paired by seed, else
by order; ties count for neither side) and a verdict:

- improved: the change won at least 9/10 of the pairs and the medians
  differ by more than the parent's quartile spread;
- worse: the change's median is worse than the parent's by more than
  the metric's bound;
- unresolved: the parent's own spread is wider than the bound, or fewer
  than ten pairs were run, and neither of the above holds;
- same: otherwise.

Runs whose `host.calibration_ms` (a fixed CPU spin) is more than 25% off
the median of all runs are listed: co-tenant load skews them.
"""

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

DRIFT = 0.25


def load(d):
    runs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if isinstance(r, dict) and "workload" in r and not r.get("trace"):
            r["_file"] = os.path.basename(p)
            runs.append(r)
    return runs


def value(run, metric):
    m = run["metrics"].get(metric)
    return m["value"] if m else None


def pairs(parent, change):
    by_seed = {r["seed"]: r for r in parent}
    common = [(by_seed[r["seed"]], r) for r in change if r["seed"] in by_seed]
    return common if common else list(zip(parent, change))


def verdict(pv, cv, prs, better, bound):
    """Verdict for one metric: pv/cv are each side's values, prs the
    (parent, change) value pairs."""
    lower = better == "lower"
    p_q1, p_med, p_q3 = stats.quartiles(pv)
    c_med = statistics.median(cv)
    wins = sum(1 for a, b in prs if (b < a if lower else b > a))
    share = wins / len(prs) if prs else 0.0
    diff = c_med - p_med
    improved_dir = diff < 0 if lower else diff > 0
    worse_by = (diff if lower else -diff) / abs(p_med) if p_med else 0.0
    spread = (p_q3 - p_q1) / abs(p_med) if p_med else 0.0
    all_better = all((b < a if lower else b > a) for a in pv for b in cv)
    if improved_dir and share >= 0.9 and abs(diff) > (p_q3 - p_q1) and len(prs) >= 10:
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif (spread > bound or len(prs) < 10) and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return share, v


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    print(f"{'workload':<18} {'metric':<13} {'parent q1/med/q3':>28} "
          f"{'change q1/med/q3':>28} {'won':>5} verdict")
    for wl in [w["name"] for w in bench["workloads"]]:
        p = [r for r in parent if r["workload"] == wl]
        c = [r for r in change if r["workload"] == wl]
        if not p or not c:
            print(f"{wl:<18} (no runs on {'both sides' if not p and not c else 'one side'})")
            continue
        prs = pairs(p, c)
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = [v for v in (value(r, name) for r in p) if v is not None]
            cv = [v for v in (value(r, name) for r in c) if v is not None]
            if not pv or not cv:
                continue
            pp = [(value(a, name), value(b, name)) for a, b in prs
                  if value(a, name) is not None and value(b, name) is not None]
            share, v = verdict(pv, cv, pp, m["better"], m["bound"])
            fq = "/".join(f"{x:.4g}" for x in stats.quartiles(pv))
            cq = "/".join(f"{x:.4g}" for x in stats.quartiles(cv))
            print(f"{wl:<18} {name:<13} {fq:>28} {cq:>28} {share:>5.0%} {v}")
    cal = [(r["_file"], value(r, "host.calibration_ms")) for r in parent + change]
    cal = [(f, v) for f, v in cal if v]
    if cal:
        mid = statistics.median(v for _, v in cal)
        for f, v in cal:
            if abs(v - mid) > DRIFT * mid:
                print(f"calibration drift: {f} {v:.2f} ms (median {mid:.2f} ms)")


if __name__ == "__main__":
    main()
