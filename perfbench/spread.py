"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--runs 10] [--seconds S] [workload ...]

Runs each workload (default: those in BENCHMARK.json) once per seed
with ``--trace 0`` for S seconds (default: BENCHMARK.json's
run_seconds) and prints, per metric, the median and the spread: the
distance between the first and third quartile
(``statistics.quantiles(n=4)``) as a share of the median. Also prints
each run's wall time.
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
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("workloads", nargs="*")
    args = p.parse_args()
    status = 0
    for name in args.workloads or [w["name"] for w in spec["workloads"]]:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
            t = time.perf_counter()
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                  text=True, check=False)
            walls.append(time.perf_counter() - t)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            if result is None or not result["correct"]:
                print(f"{name} seed={seed}: exit {proc.returncode} "
                      f"{lines[-1][:300] if lines else ''}", flush=True)
                status = 1
                continue
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{name} seed={seed} wall={walls[-1]:.1f}s "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
                  flush=True)
        print(f"== {name}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            print(f"   {k:14s} median {med:12.4f}  spread {(q3 - q1) / med:7.4f}", flush=True)
    return status


if __name__ == "__main__":
    sys.exit(main())
