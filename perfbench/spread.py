#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median
and its spread (interquartile range as a share of the median), the
figures BENCHMARK.json's bounds are set against.

    python3 perfbench/spread.py dashboard 1 2 3 4 5 [--trace 1]
"""
import json
import os
import statistics
import subprocess
import sys


def main():
    args = sys.argv[1:]
    trace = "0"
    if "--trace" in args:
        i = args.index("--trace")
        trace = args[i + 1]
        del args[i:i + 2]
    workload, seeds = args[0], args[1:]
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    runs = []
    for seed in seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(here, "run.py"), "--workload", workload,
             "--seed", seed, "--seconds", seconds, "--trace", trace],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, check=True)
        for line in out.stderr.decode(errors="replace").splitlines():
            if line.startswith("check failed"):
                print(f"seed {seed}: {line}", flush=True)
        r = json.loads(out.stdout.decode().strip().splitlines()[-1])
        runs.append(r)
        print(seed, r["correct"], r["attempted"], r["failed"],
              {k: round(v["value"], 4) for k, v in r["metrics"].items()}, flush=True)
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        share = (q[2] - q[0]) / med if med else float("nan")
        print(f"{name:28s} median {med:14.4f}  spread {share:7.3f}")


if __name__ == "__main__":
    main()
