#!/usr/bin/env python3
"""Compare two sets of benchmark result files.

    python3 perfbench/compare.py <A> <B> [--trace 0|1]

A and B are each a directory (searched recursively) or a glob of the
result files run.py writes under .bench_build/results/. For every
workload and every metric of BENCHMARK.json the command prints each
side's median and quartiles, the spread (IQR / median) of each side, the
change of B's median against A's, and whether they agree: the medians
differ by no more than the metric's bound. For a per-layer metric
(--trace 1) there is no bound, and only the figures are printed.

It also prints the pair-win count a performance claim needs: runs are
paired by seed when both sides ran the same seeds, else in run order,
and B wins a pair when it is better in the metric's direction (ties
count for neither). A claim needs B to win at least nine tenths of the
pairs and the medians to differ by more than A's own IQR.

Exit status is 0 when every bounded metric agrees, 1 otherwise.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(spec, trace):
    paths = glob.glob(os.path.join(spec, "**", "*.json"), recursive=True) if os.path.isdir(spec) \
        else glob.glob(spec)
    runs = []
    for p in sorted(paths):
        try:
            with open(p) as fh:
                r = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(r, dict) and r.get("trace") == trace and "workload" in r:
            runs.append(r)
    runs.sort(key=lambda r: r["env"]["started_at"])
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def pairs(a, b):
    """(a, b) run pairs: by seed when both sides ran the same seeds."""
    sa, sb = {r["seed"]: r for r in a}, {r["seed"]: r for r in b}
    if len(sa) == len(a) and len(sb) == len(b) and sa.keys() == sb.keys():
        return [(sa[s], sb[s]) for s in sorted(sa)]
    return list(zip(a, b))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args()
    with open(args.bench) as fh:
        bench = json.load(fh)
    metrics = bench["per_layer" if args.trace else "end_to_end"]
    key = "per_layer" if args.trace else "end_to_end"
    side_a, side_b = load(args.a, args.trace), load(args.b, args.trace)
    if not side_a or not side_b:
        sys.exit(f"compare: no trace-{args.trace} result files in {'A' if not side_a else 'B'}")

    all_agree = True
    for w in [x["name"] for x in bench["workloads"]]:
        a = [r for r in side_a if r["workload"] == w]
        b = [r for r in side_b if r["workload"] == w]
        if not a or not b:
            print(f"\n{w}: missing on {'A' if not a else 'B'}, skipped")
            continue
        ps = pairs(a, b)
        print(f"\n{w}: A {len(a)} runs, B {len(b)} runs, {len(ps)} pairs")
        print(f"  {'metric':40} {'A q1/med/q3':>30} {'A spread':>9} {'B q1/med/q3':>30} "
              f"{'B spread':>9} {'B vs A':>8} {'bound':>6} {'verdict':>8} {'B wins':>8}")
        for m in metrics:
            name = m["name"]
            xa = [r[key][name]["value"] for r in a if r.get(key) and r[key].get(name)]
            xb = [r[key][name]["value"] for r in b if r.get(key) and r[key].get(name)]
            xa = [x for x in xa if x is not None]
            xb = [x for x in xb if x is not None]
            if not xa or not xb:
                continue
            qa, qb = quartiles(xa), quartiles(xb)
            spread = lambda q: (q[2] - q[0]) / q[1] if q[1] else float("nan")
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            lower = m["better"] == "lower"
            wins = ties = 0
            for ra, rb in ps:
                va, vb = ra[key][name]["value"], rb[key][name]["value"]
                if va is None or vb is None or va == vb:
                    ties += 1
                elif (vb < va) == lower:
                    wins += 1
            bound = m.get("bound")
            if bound is None:
                verdict = "-"
            else:
                agree = abs(change) <= bound
                all_agree &= agree
                verdict = "agree" if agree else "DIFFER"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"  {name:40} {fmt(qa):>30} {spread(qa):>9.3f} {fmt(qb):>30} {spread(qb):>9.3f} "
                  f"{change:>+8.3f} {bound if bound is not None else '-':>6} {verdict:>8} "
                  f"{wins:>3}/{len(ps) - ties:<3}")
    print("\nall bounded metrics agree" if all_agree else "\nsome bounded metrics DIFFER")
    sys.exit(0 if all_agree else 1)


if __name__ == "__main__":
    main()
