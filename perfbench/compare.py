#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds the per-run JSON files `run.py` writes to
`perfbench/.work/results/` (copy them aside per commit). For each workload
and end-to-end metric it prints both sides' medians and quartiles, the share
of (base, change) pairs the change wins, and a verdict under the bounds in
BENCHMARK.json:
  improved    the change wins at least 90% of pairs and the medians differ by
              more than the base's own quartile spread;
  worse       the change's median is worse than the base's by more than the bound;
  unresolved  either side's quartile spread is wider than the bound, unless
              every change run beats every base run;
  unchanged   otherwise.
The same verdicts follow for each workload's own metrics (first load,
rerun, backfill, batch latency, heap), under a 25% bound. Then it ranks the
per-layer deltas of the traced runs by relative size.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if isinstance(r, dict) and "workload" in r:
            runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


NAMED_BOUND = 0.25


def fmt(q):
    return "/".join(f"{x:.4g}" for x in q)


def verdict(base, change, better, bound):
    sign = 1 if better == "lower" else -1
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    pairs = [(b, c) for b in base for c in change]
    wins = sum(1 for b, c in pairs if sign * (b - c) > 0) / len(pairs)
    spread = max((b3 - b1) / bm if bm else 0.0, (c3 - c1) / cm if cm else 0.0)
    worse_by = sign * (cm - bm) / bm if bm else 0.0
    if wins >= 0.9 and abs(cm - bm) > (b3 - b1):
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif spread > bound and wins < 1.0:
        v = "unresolved"
    else:
        v = "unchanged"
    return (b1, bm, b3), (c1, cm, c3), wins, v


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    workloads = sorted({r["workload"] for r in base} & {r["workload"] for r in change})
    print(f"{'workload':18s} {'metric':28s} {'base q1/med/q3':>32s} "
          f"{'change q1/med/q3':>32s} {'won':>5s} verdict")
    for w in workloads:
        b = [r for r in base if r["workload"] == w and r["trace"] == 0]
        c = [r for r in change if r["workload"] == w and r["trace"] == 0]
        if not b or not c:
            continue
        for m in spec["end_to_end"]:
            bv = [r["end_to_end"][m["name"]] for r in b]
            cv = [r["end_to_end"][m["name"]] for r in c]
            bq, cq, wins, v = verdict(bv, cv, m["better"], m["bound"])
            print(f"{w:18s} {m['name']:28s} {fmt(bq):>32s} {fmt(cq):>32s} "
                  f"{wins:5.0%} {v}  (n={len(bv)}/{len(cv)}, bound {m['bound']:.0%})")
        # the workload's own timings and sizes, lower is better, compared
        # under the largest bound the benchmark allows
        e2e = {m["name"] for m in spec["end_to_end"]}
        for name in sorted(set(b[0]["named"]) & set(c[0]["named"]) - e2e):
            bv = [r["named"][name]["value"] for r in b]
            cv = [r["named"][name]["value"] for r in c]
            bq, cq, wins, v = verdict(bv, cv, "lower", NAMED_BOUND)
            print(f"{w:18s} {name:28s} {fmt(bq):>32s} {fmt(cq):>32s} "
                  f"{wins:5.0%} {v}  (n={len(bv)}/{len(cv)}, bound {NAMED_BOUND:.0%})")
    print("\nper-layer deltas (traced runs, change vs base medians), largest first:")
    rows = []
    for w in workloads:
        b = [r for r in base if r["workload"] == w and r["trace"] == 1]
        c = [r for r in change if r["workload"] == w and r["trace"] == 1]
        if not b or not c:
            continue
        for m in spec["per_layer"]:
            bm = statistics.median(r["layers"].get(m["name"], 0.0) for r in b)
            cm = statistics.median(r["layers"].get(m["name"], 0.0) for r in c)
            if bm or cm:
                rel = (cm - bm) / bm if bm else float("inf")
                rows.append((abs(rel), w, m["name"], bm, cm, rel, m["unit"]))
    for _, w, n, bm, cm, rel, unit in sorted(rows, reverse=True):
        print(f"{w:18s} {n:34s} {bm:14.4g} -> {cm:<14.4g} {rel:+8.1%} {unit}")


if __name__ == "__main__":
    main()
