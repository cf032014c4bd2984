#!/usr/bin/env python3
"""The repo benchmark: one workload per invocation.

    python3 perfbench/run.py --workload encode_write --seed 1 --seconds 12 \
        --trace 0

Prints the workload's named metrics (with units) and the host-health probe
as text, then as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Inputs come from --seed.
Scratch files go to .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness, metrics  # noqa: E402

WORKLOADS = ("encode_write", "read_scan_point", "orc_library")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "goorc_spark", "engine.py")):
        print("perfbench: goorc_spark/ not found next to perfbench/; run "
              "from a full checkout", file=sys.stderr)
        return 2
    harness.prepare_environment()
    health_start = harness.box_health()
    native = harness.pin_native()
    rss = harness.PeakRss().start()
    try:
        if args.workload == "orc_library":
            from perfbench import library

            res = library.run(args.seed, args.seconds, args.trace == 1)
        else:
            from perfbench import spark_jobs

            res = spark_jobs.run(args.workload, args.seed, args.seconds,
                                 args.trace == 1)
    finally:
        rss.stop()
    health_end = harness.box_health()
    return report(args, res, native, rss, health_start, health_end)


def report(args, res: dict, native: dict, rss: harness.PeakRss,
           health_start: dict, health_end: dict) -> int:
    log = res["log"]
    attempted, failed = log.attempted, log.failed
    if not native["loaded"]:
        failed = attempted  # the numpy fallback is a different program
    res["peak_rss_mb"] = rss.peak_kb / 1024
    if rss.jvm_peak_kb:
        res["named"]["jvm_peak_rss_mb"] = (rss.jvm_peak_kb / 1024, "MB",
                                           "the Spark JVM, not gated")
    e2e = {name: {"value": res[name], "unit": unit}
           for name, unit, _better, _bound in metrics.END_TO_END}
    if args.trace:
        layers = res.get("layers", {})
        layers["codecs.native_loaded"] = 1 if native["loaded"] else 0
        layers["trace.throughput_rows_per_s"] = res["throughput_rows_per_s"]
        layers["trace.op_p50_ms"] = res["op_p50_ms"]
        out_metrics = {name: {"value": layers.get(name, 0), "unit": unit}
                       for name, unit in metrics.PER_LAYER}
    else:
        out_metrics = e2e

    kinds: dict[str, list] = {}
    for o in log.ops:
        k = kinds.setdefault(o["kind"], [0, 0, 0.0])
        k[0] += 1
        k[1] += 0 if o["ok"] else 1
        k[2] += o["sec"]
    print(f"workload {args.workload} seed {args.seed} seconds "
          f"{args.seconds:g} trace {args.trace}")
    print(f"native kernels: loaded={native['loaded']} "
          f"so_sha256={native['so_sha256']} build_s={native['build_s']:.3f}")
    print(f"host health: start {health_start} end {health_end}")
    print(f"setup: {res['setup_s']:.3f} s (runs "
          f"{', '.join(f'{s:.3f}' for s in res['setup_runs_s'])}) "
          f"{res.get('setup_parts', '')}")
    for kind, (n, bad, sec) in kinds.items():
        print(f"  ops {kind:<16} n={n:<4} failed={bad:<3} busy={sec:.3f} s")
    print("end-to-end:")
    for name, m in e2e.items():
        print(f"  {name:<34} {m['value']:.6g} {m['unit']}")
    print(f"  {'failed_op_share':<34} {failed / max(attempted, 1):.6g} "
          f"({failed} of {attempted} ops)")
    print("named:")
    for name, (value, unit, note) in res["named"].items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name:<34} {shown} {unit}  {note}".rstrip())
    if args.trace:
        print("per-layer (per op, or per round of the op mix):")
        for name, m in out_metrics.items():
            print(f"  {name:<44} {m['value']:.6g} {m['unit']}")
        for row in res.get("layer_table", []):
            print("  span {:<44} layer={:<13} calls={:<7} busy={:.4f} s "
                  "self={:.4f} s".format(*row))

    detail = {"args": vars(args), "native": native,
              "health": {"start": health_start, "end": health_end},
              "ops": log.ops, "named": res["named"], "metrics": out_metrics,
              "time": time.time()}
    with open(os.path.join(harness.WORK, f"last_{args.workload}"
                           f"_trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, default=str)
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
