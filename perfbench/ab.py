#!/usr/bin/env python3
"""Parent-vs-change A/B of graft's benchmark over two checkouts.

    python3 perfbench/ab.py PARENT_DIR CHANGE_DIR --workload W [--pairs 10]

Each pair runs both checkouts' `perfbench/run.py` on the same seed (a new
seed per pair), alternating which side runs first. For every end-to-end
metric it prints each side's median and quartiles, the share of pairs the
change won (ties count for neither), and whether the medians differ by
more than the parent's own quartile spread.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(checkout, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "0"], cwd=checkout, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"ab: {checkout} failed on seed {seed}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        print(f"ab: {checkout} seed {seed}: {res['failed']}/{res['attempted']} checks failed")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(args.parent, "BENCHMARK.json")))
    seconds = spec["run_seconds"]
    sides = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            sides[side].append(run(getattr(args, side), args.workload, seed, seconds))
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        a = [r[name] for r in sides["parent"]]
        b = [r[name] for r in sides["change"]]
        qa, qb = statistics.quantiles(a, n=4), statistics.quantiles(b, n=4)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        gain = (qa[1] - qb[1]) if lower else (qb[1] - qa[1])
        print(f"{name:16s} parent {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
              f"change {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  "
              f"change won {wins}/{len(a)}  "
              f"beyond parent spread: {abs(gain) > qa[2] - qa[0]}  "
              f"worse than bound: {-gain > m['bound'] * qa[1]}")


if __name__ == "__main__":
    main()
