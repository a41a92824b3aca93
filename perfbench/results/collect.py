#!/usr/bin/env python3
"""Runs the benchmark on each workload with seeds 1..N and records every
end-to-end metric's values, median, quartiles and spread (interquartile
range over the median, statistics.quantiles(values, n=4)) as JSON. With
--traced, runs one traced run per workload instead and records its
per-layer metrics.

Usage (from the root of a checkout):
    python3 perfbench/results/collect.py [--runs 10] [--workloads board,ingest]
        [--out perfbench/results/steadiness.json]
    python3 perfbench/results/collect.py --traced --out perfbench/results/traced.json
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)


def main():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "steadiness.json"))
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    if a.traced:
        record = {"run_seconds": spec["run_seconds"], "cpus": os.cpu_count(), "workloads": {}}
        for w in a.workloads.split(","):
            res = run(w, a.first_seed, spec["run_seconds"], 1)[0]
            record["workloads"][w] = {"seed": a.first_seed, "correct": res["correct"],
                                      "attempted": res["attempted"], "failed": res["failed"],
                                      "metrics": {k: v["value"] for k, v in res["metrics"].items()}}
        write(a.out, record)
        return
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = {"run_seconds": spec["run_seconds"], "cpus": os.cpu_count(), "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            res, wall = run(w, seed, spec["run_seconds"], 0)
            runs.append({"seed": seed, "wall_s": round(wall, 1), "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed {seed}: {wall:.0f} s {runs[-1]['metrics']}", file=sys.stderr)
        summary = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[name] = {"median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med, "bound": bounds.get(name)}
        record["workloads"][w] = {"summary": summary, "runs": runs}
    write(a.out, record)


def run(workload, seed, seconds, trace):
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed (rc={out.returncode})")
    return json.loads(out.stdout.strip().splitlines()[-1]), time.time() - t0


def write(path, record):
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
