#!/usr/bin/env python3
"""Compare two sets of benchmark result records.

    python3 perfbench/compare.py <dirA> <dirB> [--workload <name>]

Each directory holds the `*.json` records `run.py` keeps under
`perfbench/.work/results/`. For every workload and metric present in
both, prints each side's median and quartiles and B's change against A.
Refuses (exit 2) when the records were taken on different host shapes
(cpu count, memory, JVM heap and flags, architecture): numbers from a
32-cpu host say nothing about a 4-cpu one.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(d, workload):
    recs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if workload is None or r["workload"] == workload:
            recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload")
    args = ap.parse_args()
    a, b = load(args.a, args.workload), load(args.b, args.workload)
    if not a or not b:
        raise SystemExit("compare: no records on one side")
    shapes = {json.dumps(r["host"], sort_keys=True) for r in a + b}
    if len(shapes) > 1:
        print("compare: refusing, records come from different host shapes:",
              file=sys.stderr)
        for s in sorted(shapes):
            print("  " + s, file=sys.stderr)
        raise SystemExit(2)
    steal = [r["steal_frac"] for r in a + b if r.get("steal_frac") is not None]
    if steal:
        print(f"host.steal_frac: median {statistics.median(steal):.4f}, "
              f"max {max(steal):.4f}")
    for side, recs in (("A", a), ("B", b)):
        for w in sorted({r["workload"] for r in recs}):
            plain = [r["metrics"]["wall_ref_s"] for r in recs
                     if r["workload"] == w and r["trace"] == 0]
            traced = [r["metrics"]["trace.wall_ref_s"] for r in recs
                      if r["workload"] == w and r["trace"] == 1]
            if plain and traced:
                print(f"{side} {w}: tracing overhead "
                      f"{statistics.median(traced) - statistics.median(plain):+.3f} s "
                      "(traced minus untraced median wall_ref_s)")
    keys = sorted({(r["workload"], r["trace"], m) for r in a for m in r["metrics"]}
                  & {(r["workload"], r["trace"], m) for r in b for m in r["metrics"]})
    print(f"{'workload':18} {'metric':30} {'A q1/med/q3':>34} {'B q1/med/q3':>34} {'B/A':>7}")
    for w, t, m in keys:
        xa = [r["metrics"][m] for r in a if r["workload"] == w and r["trace"] == t]
        xb = [r["metrics"][m] for r in b if r["workload"] == w and r["trace"] == t]
        qa, qb = quartiles(xa), quartiles(xb)
        ratio = qb[1] / qa[1] if qa[1] else float("nan")
        fa = "/".join(f"{x:.4g}" for x in qa)
        fb = "/".join(f"{x:.4g}" for x in qb)
        print(f"{w:18} {m:30} {fa:>34} {fb:>34} {ratio:7.3f}")


if __name__ == "__main__":
    main()
