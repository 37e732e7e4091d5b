"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py <workload> <first seed> <runs> [--seconds S]

Prints, per end-to-end metric, the median of the runs and the distance
between the first and third quartile as a share of that median (the
steadiness a bound in BENCHMARK.json must cover), then one JSON line
with every run's values.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("workload")
    p.add_argument("first_seed", type=int)
    p.add_argument("runs", type=int)
    p.add_argument("--seconds", type=int)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"], capture_output=True, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        took = time.perf_counter() - t
        runs.append({"seed": seed, "run_s": took, **res})
        print(f"seed {seed}: {took:.1f} s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:14s} median {med:12.4f}  spread {(q3 - q1) / med:.4f}"
              f"  bound {bounds.get(k)}")
    print(json.dumps(runs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
