#!/usr/bin/env python3
"""Compare two checkouts with the same benchmark code.

    python3 perfbench/compare.py --parent <checkout> --change <checkout>
        [--workload W ...] [--pairs 10]

Runs `--pairs` (at least 10) parent/change pairs per workload, alternating
which side runs first, each pair on a fresh seed (SEED_BASE + pair index)
and for BENCHMARK.json's run_seconds. Both sides use THIS
copy of the benchmark (run.py with PERFBENCH_ROOT pointing at the
checkout), so only the program differs. For every end-to-end metric it
prints, per workload row, each side's median and quartiles, the change's
win fraction (ties count for neither side) and a verdict:

  gain        the change wins >= 9/10 of the pairs and the medians differ
              by more than the parent's own quartile spread
  regression  the change's median is worse than the parent's by more
              than the metric's bound
  unresolved  the parent's quartile spread exceeds the bound, unless every
              change run is better than every parent run
  flat        none of the above

A gain does not count when the change fails more operations.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEED_BASE = 1000


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, workload, seed, seconds):
    env = dict(os.environ, PERFBENCH_ROOT=os.path.abspath(checkout))
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, env=env, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{checkout}: {workload} seed {seed} failed")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(metric, parent, change):
    lower = metric["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    losses = sum(better(p, c) for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    spread = (pq3 - pq1) / pmed
    worse = (cmed - pmed) / pmed if lower else (pmed - cmed) / pmed
    all_better = all(better(c, p) for c in change for p in parent)
    if wins >= 0.9 * len(parent) and abs(cmed - pmed) > pq3 - pq1:
        v = "gain"
    elif worse > metric["bound"]:
        v = "regression"
    elif spread > metric["bound"] and not all_better:
        v = "unresolved"
    else:
        v = "flat"
    return wins, losses, spread, v


def main():
    spec = load_spec()
    p = argparse.ArgumentParser()
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", action="append",
                   help="workload to run (repeatable; default: all)")
    p.add_argument("--pairs", type=int, default=10)
    a = p.parse_args()
    if a.pairs < 10:
        raise SystemExit("at least 10 pairs are needed")
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        runs = {"parent": [], "change": []}
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                dirname = a.parent if side == "parent" else a.change
                runs[side].append(run_once(dirname, w, SEED_BASE + i,
                                                   spec["run_seconds"]))
        fails = {s: sum(r["failed"] for r in rs) for s, rs in runs.items()}
        print(f"== {w}: {a.pairs} pairs, failed ops parent {fails['parent']} "
              f"change {fails['change']}")
        print(f"{'metric':<12} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} "
              f"{'wins':>6} {'spread':>7} verdict")
        for m in spec["end_to_end"]:
            par = [r["metrics"][m["name"]]["value"] for r in runs["parent"]]
            chg = [r["metrics"][m["name"]]["value"] for r in runs["change"]]
            wins, _, spread, v = verdict(m, par, chg)
            if v == "gain" and fails["change"] > fails["parent"]:
                v = "gain void: more failures"
            fmt = lambda xs: "/".join(f"{x:.3f}" for x in quartiles(xs))
            print(f"{m['name']:<12} {fmt(par):>26} {fmt(chg):>26} "
                  f"{wins:>3}/{a.pairs:<2} {spread:>7.1%} {v}")


if __name__ == "__main__":
    main()
