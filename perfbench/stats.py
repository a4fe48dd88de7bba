#!/usr/bin/env python3
"""Medians and quartile spreads over run records.

    python3 perfbench/stats.py [RECORD_DIR] [--workload W] [--trace 0|1]

Reads the records run.py leaves in .bench_build/records/ and prints, per
workload and metric, the median, the quartiles and the spread
(Q3 - Q1) / median over the runs, with the share of failed operations.
The wall times of the same rounds (not gated) follow as `wall.*`.
Records stamped by different machines (cpus, memory, N in local[N], JVM
and Spark versions, heap) are never pooled: each stamp gets its own block.
"""
import argparse
import collections
import glob
import json
import os
import statistics


def stamp_key(stamp):
    return json.dumps(stamp, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("dir", nargs="?", default=os.path.join(".bench_build", "records"))
    ap.add_argument("--workload")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    groups = collections.defaultdict(list)
    for path in sorted(glob.glob(os.path.join(a.dir, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if rec["trace"] != a.trace or (a.workload and rec["workload"] != a.workload):
            continue
        groups[(stamp_key(rec["stamp"]), rec["workload"])].append(rec)
    for (stamp, workload), recs in sorted(groups.items()):
        print(f"== {workload}  runs={len(recs)}  machine={stamp}")
        shares = {(r["failed"], r["attempted"]) for r in recs}
        print(f"   failed/attempted: {sorted(shares)}  seeds: {sorted({r['seed'] for r in recs})}")
        rows = {}
        for r in recs:
            for k, m in r["metrics"].items():
                rows.setdefault(k, (m["unit"], []))[1].append(m["value"])
            for k, v in r.get("wall", {}).items():
                rows.setdefault(f"wall.{k}", ("s", []))[1].append(v)
        for name, (unit, vals) in sorted(rows.items()):
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
            else:
                q1 = q3 = vals[0]
            spread = (q3 - q1) / med if med else float("nan")
            print(f"   {name:28s} median {med:10.4f} {unit:5s} Q1 {q1:10.4f} Q3 {q3:10.4f}"
                  f"  spread {spread:6.3f}  min {min(vals):.4f} max {max(vals):.4f}")


if __name__ == "__main__":
    main()
