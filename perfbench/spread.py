#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py WORKLOAD [SEED ...]

Runs perfbench/run.py once per seed (default seeds 1-10) with the
BENCHMARK.json run length, untraced, and prints for each end-to-end metric
the median and the distance between the first and third quartiles
(statistics.quantiles(values, n=4)) as a share of the median, next to the
metric's bound.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    workload = sys.argv[1]
    seeds = [int(s) for s in sys.argv[2:]] or list(range(1, 11))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", str(seed), "--seconds",
             str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if out.returncode != 0 or not res["correct"]:
            sys.exit(f"seed {seed}: run failed\n{out.stdout}\n{out.stderr}")
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={res['metrics'][k]['value']:.4f}" for k in values), flush=True)
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{workload} {m['name']}: median {statistics.median(v):.4f} "
              f"spread {(q3 - q1) / statistics.median(v):.3f} "
              f"(bound {m['bound']})")


if __name__ == "__main__":
    main()
