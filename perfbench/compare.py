#!/usr/bin/env python3
"""Compares two result sets of the benchmark, for example the parent
commit's and a change's.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR [--bench BENCHMARK.json]

Each directory holds the per-run records that run.py leaves in
.bench_out/results/ (one JSON file per workload, seed and trace flag).
Runs are paired by workload and seed; run the two commits alternately
(parent, change, change, parent, ...) so that drift on the machine falls
on both sides. For every workload and metric it prints each side's
median and quartiles with the sample count, the share of pairs the
change wins (ties count for neither), and a verdict:

  better / worse   the medians differ by more than the metric's bound
  same             within the bound, and both sides' spreads are too
  unresolved       a side's spread (quartile distance / median) is wider
                   than the bound, unless every change run is better than
                   every base run; or the base median is 0, so that no
                   relative change can be taken

Per-layer metrics have no bound; they are listed with medians and win
shares only.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(d):
    runs = {}
    for path in glob.glob(os.path.join(d, "*.json")):
        with open(path) as f:
            r = json.load(f)
        runs[(r["workload"], r["trace"], r["seed"])] = r
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--bench", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.bench) as f:
        spec = json.load(f)
    kinds = {0: spec["end_to_end"], 1: spec["per_layer"]}
    base, change = load(a.base), load(a.change)
    for w in [w["name"] for w in spec["workloads"]]:
        for trace, metrics in kinds.items():
            seeds = sorted(s for (wl, t, s) in base if wl == w and t == trace and (wl, t, s) in change)
            if not seeds:
                continue
            print(f"\n{w} ({'per-layer' if trace else 'end-to-end'}, {len(seeds)} paired runs)")
            print(f"  {'metric':<40} {'base q1/med/q3':>30} {'change q1/med/q3':>30} {'wins':>5}  verdict")
            for m in metrics:
                name, better = m["name"], m["better"]
                xs = [base[(w, trace, s)]["metrics"][name]["value"] for s in seeds]
                ys = [change[(w, trace, s)]["metrics"][name]["value"] for s in seeds]
                bq, cq = quartiles(xs), quartiles(ys)
                sign = 1 if better == "higher" else -1
                wins = sum(1 for x, y in zip(xs, ys) if sign * (y - x) > 0)
                verdict = ""
                if "bound" in m:
                    bound = m["bound"]
                    spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else float("inf") for q in (bq, cq))
                    delta = sign * (cq[1] - bq[1]) / abs(bq[1]) if bq[1] else 0.0
                    all_better = all(sign * (y - x) > 0 for x in xs for y in ys)
                    if not bq[1] or (spread > bound and not all_better):
                        verdict = "unresolved"
                    elif delta > bound:
                        verdict = "better"
                    elif delta < -bound:
                        verdict = "worse"
                    else:
                        verdict = "same"
                fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
                print(f"  {name:<40} {fmt(bq):>30} {fmt(cq):>30} {wins:>2}/{len(seeds):<2}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
