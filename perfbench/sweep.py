#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/sweep.py --workloads a,b --seeds 1-10 --out DIR

Run from the root of a checkout. Each run is saved as
DIR/<workload>-<seed>.json (the input of compare.py): its result line
with its exit code added, failed runs included; a run that printed no
result line is saved with its exit code only. For every end-to-end
metric the table gives the median, the quartiles and the quartile
distance as a share of the median over the correct runs, and marks a
spread that is not below a third of the metric's bound.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import metrics as M

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def result_line(stdout):
    lines = stdout.strip().splitlines()
    try:
        r = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {}
    return r if isinstance(r, dict) and "metrics" in r else {}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
    os.makedirs(a.out, exist_ok=True)
    for wl in a.workloads.split(","):
        runs = []
        for seed in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"], capture_output=True, text=True)
            print(f"{wl} seed {seed}: exit {p.returncode} in {time.time() - t0:.1f} s",
                  flush=True)
            run = dict(result_line(p.stdout), exit=p.returncode)
            with open(os.path.join(a.out, f"{wl}-{seed}.json"), "w") as f:
                f.write(json.dumps(run) + "\n")
            if p.returncode != 0 or not run.get("correct"):
                sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
                continue
            runs.append(run)
        print(f"  {wl:<14} {len(runs)} of {len(seeds(a.seeds))} runs correct", flush=True)
        if not runs:
            continue
        for m in spec["end_to_end"]:
            xs = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, q2, q3 = M.quartiles(xs)
            s = M.spread(xs)
            flag = "" if s < m["bound"] / 3 else "  <-- not below bound/3"
            print(f"  {wl:<14} {m['name']:<18} median {q2:.4f} [{q1:.4f}, {q3:.4f}]"
                  f" spread {s:.4f} bound {m['bound']}{flag}", flush=True)


if __name__ == "__main__":
    main()
