#!/usr/bin/env python3
"""Summarize saved run records: per workload and trace mode, the
quartiles, median and spread ((q3 - q1) / median) of every metric, with
the run count and how many runs were flagged overloaded.

    python3 graftbench/quartiles.py [--since EPOCH] [--json]
"""

import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def summarize(records):
    groups = {}
    for r in records:
        groups.setdefault((r["workload"], r["trace"]), []).append(r)
    out = {}
    for (w, t), rs in sorted(groups.items()):
        names = sorted({n for r in rs for n in r["metrics"]})
        per = {}
        for n in names:
            vals = [r["metrics"][n] for r in rs if r["metrics"].get(n) is not None]
            if not vals:
                continue
            q1, m, q3 = stats.quartiles(vals)
            per[n] = {"q1": q1, "median": m, "q3": q3, "spread": stats.spread(vals),
                      "n": len(vals)}
        out["%s/trace%d" % (w, t)] = {
            "runs": len(rs), "seeds": sorted(r["seed"] for r in rs),
            "overloaded": sum(1 for r in rs if r.get("overloaded")),
            "steal_frac_median": stats.median([r.get("steal_frac", 0.0) for r in rs]),
            "failed_runs": sum(1 for r in rs if r["failures"]),
            "metrics": per,
        }
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--since", type=float, default=0.0,
                    help="only records of runs started at or after this epoch time")
    ap.add_argument("--json", action="store_true")
    a = ap.parse_args()
    records = []
    for f in glob.glob(os.path.join(HERE, ".work", "runs", "*.json")):
        with open(f) as fh:
            r = json.load(fh)
        if r["host_start"]["time"] >= a.since:
            records.append(r)
    s = summarize(records)
    if a.json:
        print(json.dumps(s, indent=1))
        return
    for key, g in s.items():
        print("%s: %d runs, %d overloaded, %d with failures, median steal %.3f"
              % (key, g["runs"], g["overloaded"], g["failed_runs"], g["steal_frac_median"]))
        for n, v in g["metrics"].items():
            print("  %-44s q1 %-12.6g median %-12.6g q3 %-12.6g spread %s"
                  % (n, v["q1"], v["median"], v["q3"],
                     "%.4f" % v["spread"] if v["spread"] is not None else "-"))


if __name__ == "__main__":
    main()
