#!/usr/bin/env python3
"""Compare two sets of benchmark run records, metric by metric.

    python3 perfbench/compare.py BASE CHANGE [--json]

BASE and CHANGE are each a records file (BUILD_DIR/records/<workload>.jsonl,
one JSON record per run, as perfbench/run.py appends them) or a directory of
such files. Only correct, untraced runs count. For every workload and every
end-to-end metric of BENCHMARK.json it reports each side's median and
quartiles, the spread (quartile distance over the median), the median shift,
the share of pairs the change won, and a verdict:

  improved    the change wins at least 9 in 10 pairs and the medians differ
              by more than the base's own quartile distance (choosing-metrics
              section 8);
  regressed   the change's median is worse than the base's by more than the
              metric's bound;
  unresolved  either side's spread is wider than the bound, unless every run
              of the change reads better than every run of the base
              (section 6.5);
  unchanged   otherwise.

Pairs are runs in the same position on both sides when the sides have the
same number of runs (alternate base and change runs to make them pairs),
otherwise every base run against every change run. Ties count for neither.
Exit status 1 if any metric regressed.
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    files = [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".jsonl")
             and not f.startswith("spans-")] if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                if not line.strip():
                    continue
                r = json.loads(line)
                if r.get("correct") and not r["facts"].get("traced"):
                    runs.setdefault(r["facts"]["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(a, b):
    if len(a) == len(b):
        return list(zip(a, b))
    return [(x, y) for x in a for y in b]


def verdict(a, b, bound, lower_better):
    better = (lambda x, y: y < x) if lower_better else (lambda x, y: y > x)
    qa, qb = quartiles(a), quartiles(b)
    med_a, med_b = qa[1], qb[1]
    spread_a = (qa[2] - qa[0]) / med_a if med_a else 0.0
    spread_b = (qb[2] - qb[0]) / med_b if med_b else 0.0
    shift = (med_b - med_a) / med_a if med_a else 0.0
    worse = shift if lower_better else -shift
    ps = pairs(a, b)
    won = sum(1 for x, y in ps if better(x, y)) / len(ps)
    all_better = all(better(x, y) for x in a for y in b)
    if worse > bound:
        v = "regressed"
    elif won >= 0.9 and abs(med_b - med_a) > (qa[2] - qa[0]) and not worse > 0:
        v = "improved"
    elif max(spread_a, spread_b) > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return {"base": {"n": len(a), "q1": qa[0], "median": med_a, "q3": qa[2], "spread": spread_a},
            "change": {"n": len(b), "q1": qb[0], "median": med_b, "q3": qb[2], "spread": spread_b},
            "shift": shift, "pairs_won": won, "bound": bound, "verdict": v}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--spec", default="BENCHMARK.json")
    ap.add_argument("--json", action="store_true", help="print the comparison as JSON")
    a = ap.parse_args()
    spec = json.load(open(a.spec))
    base, change = load(a.base), load(a.change)
    out = {}
    for w in [w["name"] for w in spec["workloads"]]:
        if not base.get(w) or not change.get(w):
            continue
        for m in spec["end_to_end"]:
            xs = [r["e2e"][m["name"]] for r in base[w]]
            ys = [r["e2e"][m["name"]] for r in change[w]]
            out[f"{w}/{m['name']}"] = verdict(xs, ys, m["bound"], m["better"] == "lower")
    if a.json:
        print(json.dumps(out, indent=2))
    else:
        print(f"{'workload/metric':44} {'base med':>10} {'change med':>10} {'shift':>7} "
              f"{'spread':>13} {'won':>5} {'bound':>5}  verdict")
        for k, r in out.items():
            print(f"{k:44} {r['base']['median']:10.4g} {r['change']['median']:10.4g} "
                  f"{r['shift']:+7.1%} {r['base']['spread']:6.1%}/{r['change']['spread']:<6.1%} "
                  f"{r['pairs_won']:5.0%} {r['bound']:5.2f}  {r['verdict']}")
    return 1 if any(r["verdict"] == "regressed" for r in out.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
