#!/usr/bin/env python3
"""Summarise the spans of traced benchmark runs, layer by layer.

    python3 perfbench/trace_summary.py SPANS.jsonl... [--records FILE_OR_DIR]

Each SPANS file is what a `--trace 1` run leaves in BUILD_DIR/records
(one span per line: id, parent, layer, name, start_ns, end_ns and the Spark
work attributed to it). For each layer it prints the number of calls, the
total and self time, and jobs and tasks per call. A span's self time is its
duration minus the part of it that its child spans cover. With --records, it
also prints trace.overhead_share of the latest traced run of each workload:
traced minus untraced end-to-end time, as a share of the untraced.
"""
import argparse
import collections
import json
import os
import sys


def covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def summarise(spans):
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    layers = collections.OrderedDict()
    for s in sorted(spans, key=lambda s: (s["layer"], s["start_ns"])):
        dur = s["end_ns"] - s["start_ns"]
        kids = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                for c in children.get(s["id"], []) if c["end_ns"] > s["start_ns"]]
        row = layers.setdefault(s["layer"], collections.Counter())
        row["calls"] += 1
        row["total_ns"] += dur
        row["self_ns"] += dur - covered([k for k in kids if k[1] > k[0]])
        row["jobs"] += s.get("spark", {}).get("jobs", 0)
        row["tasks"] += s.get("spark", {}).get("tasks", 0)
        row["failed"] += 0 if s.get("ok", True) else 1
    return layers


def latest_overheads(path):
    files = [os.path.join(path, f) for f in os.listdir(path)
             if f.endswith(".jsonl") and not f.startswith("spans-")] \
        if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    r = json.loads(line)
                    if r["facts"].get("traced"):
                        out[r["facts"]["workload"]] = r["layers"].get("trace.overhead_share")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("spans", nargs="+")
    ap.add_argument("--records")
    a = ap.parse_args()
    spans = []
    for f in a.spans:
        with open(f) as fh:
            spans += [json.loads(l) for l in fh if l.strip()]
    print(f"{'layer':18} {'calls':>6} {'total s':>9} {'self s':>9} {'self/call s':>11} "
          f"{'jobs/call':>9} {'tasks/call':>10} {'failed':>6}")
    for layer, r in summarise(spans).items():
        n = r["calls"]
        print(f"{layer:18} {n:6d} {r['total_ns'] / 1e9:9.3f} {r['self_ns'] / 1e9:9.3f} "
              f"{r['self_ns'] / 1e9 / n:11.4f} {r['jobs'] / n:9.2f} {r['tasks'] / n:10.2f} "
              f"{r['failed']:6d}")
    if a.records:
        for w, share in sorted(latest_overheads(a.records).items()):
            print(f"trace.overhead_share {w}: "
                  + ("n/a" if share is None else f"{share:+.1%}"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
