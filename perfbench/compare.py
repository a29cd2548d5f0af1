#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds <workload>-<seed>.json, one per run, as sweep.py
writes them (failed runs included). For every workload in
BENCHMARK.json the tool first compares correctness: the change is worse
when a workload or seed is missing on its side, or when it fails more
ops or more runs than the parent. Then, over the seeds both sides ran
correctly, it gives for each end-to-end metric each side's median and
quartiles, the pairs the change wins, and the verdict of
metrics.verdict: gain, within bound, unresolved or worse. The exit code
is 1 when any verdict is worse.
"""
import glob
import json
import os
import sys

import metrics as M

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for p in glob.glob(os.path.join(d, "*.json")):
        wl, _, seed = os.path.basename(p)[:-5].rpartition("-")
        runs.setdefault(wl, {})[int(seed)] = json.load(open(p))
    return runs


def good(run):
    return run.get("exit") == 0 and run.get("correct") is True


def main():
    spec = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    worse = False
    for wl in (w["name"] for w in spec["workloads"]):
        p, c = parent.get(wl, {}), change.get(wl, {})
        v, why = M.ops_verdict(p, c)
        worse |= v == "worse"
        print(f"{wl:<14} correctness        {why}  {v}")
        seeds = sorted(s for s in set(p) & set(c) if good(p[s]) and good(c[s]))
        if not seeds:
            continue
        for m in spec["end_to_end"]:
            name = m["name"]
            a = [p[s]["metrics"][name]["value"] for s in seeds]
            b = [c[s]["metrics"][name]["value"] for s in seeds]
            sign = 1 if m["better"] == "lower" else -1
            wins = sum(1 for x, y in zip(a, b) if sign * (y - x) < 0)
            v = M.verdict(a, b, m["bound"], m["better"])
            worse |= v == "worse"
            pa, pb = M.quartiles(a), M.quartiles(b)
            print(f"{wl:<14} {name:<18} parent {pa[1]:.4f} [{pa[0]:.4f}, {pa[2]:.4f}]"
                  f"  change {pb[1]:.4f} [{pb[0]:.4f}, {pb[2]:.4f}]"
                  f"  wins {wins}/{len(seeds)}  {v}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
