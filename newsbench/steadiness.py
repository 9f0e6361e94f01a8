#!/usr/bin/env python3
"""Run every workload of BENCHMARK.json with several seeds and record how
far each end-to-end metric spreads.

Run from the repository root:

    python3 newsbench/steadiness.py --runs 10 --first-seed 101 --out newsbench/steadiness.json

For each workload and metric it records the median, the quartiles (as
statistics.quantiles(values, n=4) gives them), the spread (q3 - q1) /
median, and the benchmark's bound for the metric.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in (x["name"] for x in spec["workloads"]):
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t = time.time()
            p = subprocess.run(spec["command"] + ["--workload", w, "--seed", str(seed),
                                                  "--seconds", str(spec["run_seconds"]),
                                                  "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            runs.append({"seed": seed, "wall_s": round(time.time() - t, 1), "exit": p.returncode,
                         "correct": bool(res and res["correct"]),
                         "attempted": res["attempted"] if res else 0,
                         "failed": res["failed"] if res else 0,
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()} if res else {}})
            print(w, runs[-1], file=sys.stderr, flush=True)
        summary = {}
        for m in bounds:
            vals = [r["metrics"][m] for r in runs if m in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            summary[m] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med, "bound": bounds[m]}
        record["workloads"][w] = {"runs": runs, "summary": summary}
        for m, s in summary.items():
            print(f"{w:16s} {m:28s} median {s['median']:12.4f}  spread {s['spread']:.4f}"
                  f"  bound {s['bound']}")
    with open(a.out, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
