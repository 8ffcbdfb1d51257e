#!/usr/bin/env python3
"""Check the traced run of one workload and seed.

Usage, from the root of a graft checkout:

    python3 perfbench/tracecheck.py --workload ingest_mutate --seed 1 --seconds 20

Runs the workload traced twice and untraced once, then prints one JSON
object with:
  - count_mismatches: every per-layer count (unit `count` or `B`) that
    differs between the two traced runs; the traced window is a fixed
    number of rounds, so these should repeat exactly;
  - overhead: traced minus untraced, for each end-to-end metric (the
    second traced run's end-to-end figures, from its summary line);
  - correct: whether all three runs passed their correctness checks.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"tracecheck: run failed (trace={trace}, exit {p.returncode})")
    lines = p.stdout.strip().splitlines()
    summary = next(json.loads(l.split(" ", 1)[1]) for l in lines
                   if l.startswith("perfbench-summary"))
    return summary, json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    a = ap.parse_args()

    _, t1 = run(a.workload, a.seed, a.seconds, 1)
    s2, t2 = run(a.workload, a.seed, a.seconds, 1)
    _, u0 = run(a.workload, a.seed, a.seconds, 0)
    counts = {k: (m["value"], t2["metrics"][k]["value"])
              for k, m in t1["metrics"].items() if m["unit"] in ("count", "B")}
    mismatches = {k: v for k, v in counts.items() if v[0] != v[1]}
    overhead = {k: {"traced": s2[k], "untraced": m["value"], "diff": s2[k] - m["value"],
                    "unit": m["unit"]}
                for k, m in u0["metrics"].items()}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed,
        "counts_compared": len(counts), "count_mismatches": mismatches,
        "overhead": overhead,
        "correct": t1["correct"] and t2["correct"] and u0["correct"],
    }, indent=1))


if __name__ == "__main__":
    main()
