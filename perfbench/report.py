#!/usr/bin/env python3
"""Per-layer self time and tracing overhead from one set of results.

    python3 perfbench/report.py [RESULTS_DIR]

RESULTS_DIR defaults to perfbench/.work/results. A span's self time is its
duration minus the part of it its child spans cover; self times are summed
per span name and divided by the number of traced runs. The tracing overhead
of a workload is the median of its traced runs' operation time (the
steady-state operation and the bulk one) divided by the median of its
untraced runs'.
"""
import collections
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def covered(intervals):
    total, reach = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > reach:
            total += e - max(s, reach)
            reach = e
    return total


def self_times(spans):
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_ms"], s["end_ms"]))
    out = collections.Counter()
    for s in spans:
        own = s["end_ms"] - s["start_ms"]
        out[s["name"]] += own - covered(
            [(max(a, s["start_ms"]), min(b, s["end_ms"])) for a, b in kids[s["id"]]])
    return out


def main():
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, ".work", "results")
    runs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if isinstance(r, dict) and "workload" in r:  # not a trace's executions
            r["_path"] = p
            runs.append(r)
    for w in sorted({r["workload"] for r in runs}):
        traced = [r for r in runs if r["workload"] == w and r["trace"] == 1]
        plain = [r for r in runs if r["workload"] == w and r["trace"] == 0]
        print(f"== {w}: {len(plain)} untraced, {len(traced)} traced runs")
        if traced and plain:
            for k in ("op_ms", "bulk_s"):
                t = statistics.median(r["summaries"][k]["p50"] for r in traced)
                u = statistics.median(r["summaries"][k]["p50"] for r in plain)
                print(f"tracing overhead, median {k} traced / untraced: {t / u:.3f}")
        total = collections.Counter()
        for r in traced:
            sp = r["_path"][:-5] + ".spans.jsonl"
            if os.path.exists(sp):
                with open(sp) as f:
                    total.update(self_times([json.loads(l) for l in f]))
        for name, ms in total.most_common():
            print(f"  {name:34s} self {ms / max(len(traced), 1):12.1f} ms per run")


if __name__ == "__main__":
    main()
