#!/usr/bin/env python3
"""Choose the query workloads' fixed samples by measurement.

    python3 perfbench/sample.py --family registry|llm [--seed <n>] [--ops <record>]

Runs a query family once, traced, in a fresh harness JVM over the
inputs of the workload that samples it: all of `Bench.headline` over
`registry-etl`'s tables, or its dedup and vector queries over `llm-x4`'s
clone-dense tables. From the record's per-operation rows it computes
the family's layer shares, weighted by wall time:

- busy_frac: executor run time / (wall x cpus);
- floor_frac: planner + codegen time / wall;
- idle_frac: time with none of the query's tasks running / wall.

It then picks the family's sample size of queries that pass their
oracle, one from each equal-count stratum of per-query busy_frac, whose
shares together come closest to the family's (the largest of the three
relative deviations decides; within TOLERANCE, the sample with more
wall time wins) within a wall budget, and prints both sets of shares
and the pick. Takes several minutes per family. The record, with every
query's row, is kept under `perfbench/.work/samples/`; `--ops` picks
again from such a record without measuring.
"""
import argparse
import json
import os
import shutil

import run

SHARES = ("busy_frac", "floor_frac", "idle_frac")
TOLERANCE = 0.05
# family -> (workload, harness query list, sample size, sample wall budget in s)
FAMILIES = {
    "registry": ("registry-etl", "headline", 8, 8.0),
    "llm": ("llm-x4", "headline-dv", 5, 10.0),
}


def shares(rows, cpus):
    wall = sum(r["wall_s"] for r in rows)
    return {"busy_frac": sum(r["run_s"] for r in rows) / (wall * cpus),
            "floor_frac": sum(r["planner_s"] + r["codegen_s"] for r in rows) / wall,
            "idle_frac": sum(r["idle_s"] for r in rows) / wall,
            "wall_s": wall, "queries": len(rows)}


def deviation(rows, target, cpus):
    s = shares(rows, cpus)
    return max(abs(s[k] / target[k] - 1) for k in SHARES)


def pick(rows, size, budget, cpus):
    """One query per busy_frac stratum, improved one swap at a time while
    a swap lowers the deviation (counted as at least TOLERANCE) or, at
    equal deviation, adds wall time within the budget: of samples that
    match equally well, the one that measures more work. No query above
    a quarter of the budget is a candidate, so none dominates the
    sample."""
    target = shares(rows, cpus)
    ranked = sorted((r for r in rows if r["wall_s"] <= budget / 4),
                    key=lambda r: (r["busy_frac"], r["name"]))
    strata = [ranked[i * len(ranked) // size:(i + 1) * len(ranked) // size]
              for i in range(size)]

    def key(sample):
        return (max(deviation(sample, target, cpus), TOLERANCE),
                -sum(r["wall_s"] for r in sample))

    chosen = [min(s, key=lambda r: (r["wall_s"], r["name"])) for s in strata]
    improved = True
    while improved:
        improved = False
        for i, stratum in enumerate(strata):
            for r in stratum:
                trial = chosen[:i] + [r] + chosen[i + 1:]
                if (sum(x["wall_s"] for x in trial) <= budget
                        and key(trial) < key(chosen)):
                    chosen, improved = trial, True
    return target, chosen, deviation(chosen, target, cpus)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--family", choices=sorted(FAMILIES), required=True)
    ap.add_argument("--ops", help="pick again from a kept record's rows "
                    "instead of measuring")
    a = ap.parse_args()
    workload, family, size, budget = FAMILIES[a.family]
    if a.ops:
        with open(a.ops) as f:
            kept = json.load(f)
        rows, bad = kept["ops"], set(kept["failed"])
    else:
        data, rdir, rec = run.harness(workload, a.seed, 1, 1,
                                      {"parts": "queries", "queries": family}, 1500.0)
        rows = rec["ops"]
        bad = {f.split(":")[0] for f in rec["failures"]}
        bad |= {f.split(":")[0] for f in run.oracle_check(
            data, os.path.join(rdir, "out"), [r["name"] for r in rows])}
        shutil.rmtree(rdir, ignore_errors=True)
    target, chosen, dev = pick([r for r in rows if r["name"] not in bad],
                               size, budget, run.CPUS)
    out = {"workload": workload, "family": family, "seed": a.seed,
           "failed": sorted(bad), "family_shares": target,
           "sample_shares": shares(chosen, run.CPUS), "deviation": dev,
           "sample": [r["name"] for r in chosen], "ops": rows}
    os.makedirs(os.path.join(run.WORK, "samples"), exist_ok=True)
    path = os.path.join(run.WORK, "samples", f"{a.family}-seed{a.seed}.json")
    with open(path, "w") as f:
        json.dump(out, f)
    print(json.dumps({k: out[k] for k in ("workload", "failed", "family_shares",
                                          "sample_shares", "deviation", "sample")}))


if __name__ == "__main__":
    main()
