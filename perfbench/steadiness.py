#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median, quartiles and quartile spread (Q3 - Q1) / median.

Usage: python3 perfbench/steadiness.py <workload> <seed> [<seed> ...]
Prints one JSON object per run (with its wall time), then a summary line
per metric.
"""
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main():
    workload, seeds = sys.argv[1], sys.argv[2:]
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    values = {}
    for seed in seeds:
        t0 = time.time()
        out = subprocess.run(
            bench["command"] + ["--workload", workload, "--seed", seed, "--seconds",
                                str(bench["run_seconds"]), "--trace", "0"],
            cwd=HERE.parent, stdout=subprocess.PIPE, text=True, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "wall_s": round(time.time() - t0, 1), **res}),
              flush=True)
        if not res["correct"] or res["failed"]:
            sys.exit(f"seed {seed}: incorrect or failed ops")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{workload} {k}: median {statistics.median(v):.4f} "
              f"q1 {q1:.4f} q3 {q3:.4f} spread {(q3 - q1) / statistics.median(v):.4f}")


if __name__ == "__main__":
    main()
