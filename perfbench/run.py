"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

One workload per process. The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The line
before it is a report with the workload's own named metrics, nproc and
the effective Spark conf. ``--workload all`` runs every workload
untraced and traced in child processes and prints every metric with
its unit. ``--size tiny`` shrinks every input (self-test only).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

OP_LIMIT_S = 60.0


def run_workload(args) -> int:
    import importlib

    import common  # imports aerovaldb_spark: fails fast outside a checkout
    from harness import Probe, Run

    nproc = len(os.sched_getaffinity(0))
    run = Run(nproc)
    probe = None
    try:
        spark = run.start_spark(trace=bool(args.trace))
        probe = Probe(spark, OP_LIMIT_S)
        ctx = common.Context(args.seed, args.seconds, bool(args.trace), args.size, run, probe, T0)
        ctx.phases["boot"] = run.boot_s
        res = importlib.import_module(WORKLOADS[args.workload]).run(ctx)
        tally = res.tally
        if args.trace:
            metrics = layer_metrics(probe, res, run)
        else:
            values = {
                "setup_s": res.setup_s,
                "op_p50_ms": res.op_p50_ms,
                "work_per_s": res.work_per_s,
                "peak_rss_mb": run.peak_rss_mb(),
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in END_TO_END}
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": nproc,
            "spark_conf": run.spark_conf(),
            "failed_op_frac": tally.failed / max(tally.attempted, 1),
            "failures": tally.reasons,
            "phases_s": ctx.phases,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.report.items()},
        }
    finally:
        if probe is not None:
            probe.close()
        t = time.perf_counter()
        run.close()
    report["phases_s"]["close"] = time.perf_counter() - t
    report["phases_s"]["total"] = time.perf_counter() - T0
    print(json.dumps({"report": report}), flush=True)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def layer_metrics(probe, res, run) -> dict:
    stats = probe.layer_stats()
    gauges = dict(res.gauges)
    gauges["session.get_spark.ms"] = run.boot_s * 1000.0
    gauges["perfbench.trace.overhead_pct"] = res.trace_overhead_pct
    out = {}
    for m in PER_LAYER:
        name = m["name"]
        if name in gauges:
            value = gauges[name]
        else:
            layer, _, stat = name.rpartition(".")
            value = stats.get(layer, {}).get(stat, 0.0)
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def run_all(args) -> int:
    """Every workload, untraced then traced, one child process each."""
    status = 0
    for name in WORKLOADS:
        lines = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--size", args.size]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            out = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
            if proc.returncode != 0 or len(out) < 2:
                print(f"{name} trace={trace}: exit {proc.returncode}", flush=True)
                status = 1
                continue
            lines[trace] = (json.loads(out[-2])["report"], json.loads(out[-1]))
        if 0 not in lines:
            continue
        report, result = lines[0]
        print(f"== {name}  correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} failed_op_frac={report['failed_op_frac']:.4f} "
              f"nproc={report['nproc']}")
        for k, m in {**result["metrics"], **report["metrics"]}.items():
            print(f"   {k:28s} {m['value']:14.4f} {m['unit']}")
        if 1 in lines:
            oh = lines[1][1]["metrics"]["perfbench.trace.overhead_pct"]["value"]
            print(f"   {'tracing overhead':28s} {oh:14.2f} %")
        status |= 0 if result["correct"] else 1
    return status


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
