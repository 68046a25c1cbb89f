#!/usr/bin/env python3
"""A/B pairs of the repo benchmark between two checkouts.

Usage:
    python3 dev/benchpairs.py <parentDir> <changeDir> --workload W --seeds A-B
        [--trace 0|1] [--out runs.jsonl]

For each seed in A..B it runs `perfbench/run.py` once from each checkout
(its own build, its own work directory, the run length of the parent's
BENCHMARK.json), alternating which side goes first, so drift in the host's load lands on both sides. Then, per metric,
it prints each side's median and [q1, q3] and how many pairs the change
won ("better" is taken from the parent's BENCHMARK.json; per-layer
metrics count lower as better unless declared otherwise), with two
verdicts:

- claim: the change won at least 9/10 of the pairs, and its median beats
  the parent's by more than the parent's q3 - q1;
- bound: "yes" when the change's median is within the parent's median
  times (1 + the metric's BENCHMARK.json bound), else "no";
  "unresolved" when the parent's own q3 - q1 is wider than its median
  times the bound, unless every change run beats every parent run; "-"
  for a metric without a bound.

Ties count for neither side. `python3 -m unittest discover -s dev -p
'test_*.py'` runs the tests of the win count and the verdicts.

A run that reports failed ops is counted and the failures are printed; a
run that exits non-zero stops the comparison. `--out` keeps every finished
run's result line as it lands, one JSON object a line.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    """One benchmark run from `checkout`; its last stdout line as a dict."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit("benchpairs: %s seed %d exited with %d" % (checkout, seed, p.returncode))
    out = json.loads(lines[-1])
    out["record"] = json.loads(lines[-2])["record"] if len(lines) > 1 else {}
    return out


def quartiles(xs):
    """(q1, median, q3), linearly interpolated like perfbench's quantile."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def wins(parent, change, lower):
    """Pairs the change won, pair i being (parent[i], change[i]); a tie
    counts for neither side."""
    return sum(1 for x, y in zip(parent, change) if (y < x if lower else y > x))


def verdicts(parent, change, lower, bound):
    """(claim, bound) for one metric from each side's runs, paired by index.

    claim (a bool): the change won at least 9/10 of the pairs and its
    median beats the parent's by more than the parent's q3 - q1. bound:
    "yes" when the change's median is no worse than the parent's by more
    than `bound` (a fraction of the parent's median), else "no";
    "unresolved" when the parent's q3 - q1 exceeds its median times
    `bound`, unless every change run beats every parent run; "-" when
    `bound` is None.
    """
    pq, cq = quartiles(parent), quartiles(change)
    gap = pq[1] - cq[1] if lower else cq[1] - pq[1]
    claim = wins(parent, change, lower) * 10 >= 9 * len(parent) and gap > pq[2] - pq[0]
    if bound is None:
        return claim, "-"
    all_better = max(change) < min(parent) if lower else min(change) > max(parent)
    if pq[2] - pq[0] > abs(pq[1]) * bound and not all_better:
        return claim, "unresolved"
    limit = pq[1] * (1 + bound) if lower else pq[1] * (1 - bound)
    return claim, "yes" if (cq[1] <= limit if lower else cq[1] >= limit) else "no"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 30-39")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    better = {m["name"]: m.get("better", "lower")
              for m in bench["end_to_end"] + bench.get("per_layer", [])}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"] if "bound" in m}

    sides = {"parent": a.parent, "change": a.change}
    results = {"parent": [], "change": []}
    out = open(a.out, "a") if a.out else None
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(sides[side], a.workload, seed, seconds, a.trace)
            results[side].append(r)
            rec = r["record"]
            print("seed %d %-6s failed %d/%d steal %.1fs" % (
                seed, side, r["failed"], r["attempted"], rec.get("host_steal_s", 0.0)),
                file=sys.stderr)
            if out:
                out.write(json.dumps({"side": side, "seed": seed, **r}) + "\n")
                out.flush()
    if out:
        out.close()

    n = len(seeds)
    print("%s, %d pairs, seeds %s, trace %d" % (a.workload, n, a.seeds, a.trace))
    print("failed ops: parent %d, change %d" % (
        sum(r["failed"] for r in results["parent"]),
        sum(r["failed"] for r in results["change"])))
    print("%-28s %26s %26s %6s %5s %10s" % ("metric", "parent median [q1, q3]",
                                             "change median [q1, q3]", "wins", "claim", "bound"))
    for name in results["parent"][0]["metrics"]:
        p = [r["metrics"][name]["value"] for r in results["parent"]]
        c = [r["metrics"][name]["value"] for r in results["change"]]
        lower = better.get(name, "lower") == "lower"
        pq, cq = quartiles(p), quartiles(c)
        claim, bound = verdicts(p, c, lower, bounds.get(name))
        print("%-28s %10.4g [%6.4g, %6.4g] %10.4g [%6.4g, %6.4g] %3d/%d %5s %10s" % (
            name, pq[1], pq[0], pq[2], cq[1], cq[0], cq[2], wins(p, c, lower), n,
            "yes" if claim else "no", bound))


if __name__ == "__main__":
    main()
