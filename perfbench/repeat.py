#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report, per end-to-end
metric, the median and the quartile spread as a share of the median
(`statistics.quantiles(values, n=4)`), against the metric's bound.

    python3 perfbench/repeat.py --workload orc_library --seeds 1-10
    python3 perfbench/repeat.py --workload all --seeds 1-5 --out results.json
    python3 perfbench/repeat.py --check-spec

Runs are sequential: one benchmark process at a time.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402


def seeds_of(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n"
                           f"{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.monotonic() - t0
    detail = os.path.join(ROOT, ".perfbench_work",
                          f"last_{workload}_trace{trace}.json")
    with open(detail) as f:
        d = json.load(f)
    out["op_secs"] = {}
    for o in d["ops"]:
        out["op_secs"].setdefault(o["kind"], []).append(o["sec"])
    out["health"] = d["health"]
    out["named"] = d["named"]
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def check_spec() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want_e2e = [{"name": n, "unit": u, "better": b, "bound": bd}
                for n, u, b, bd in metrics.END_TO_END]
    want_layer = [{"name": n, "unit": u,
                   "better": "higher" if n in metrics.HIGHER_IS_BETTER
                   else "lower"} for n, u in metrics.PER_LAYER]
    ok = spec["end_to_end"] == want_e2e and spec["per_layer"] == want_layer \
        and [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    print("BENCHMARK.json matches perfbench/metrics.py" if ok else
          "BENCHMARK.json differs from perfbench/metrics.py")
    return 0 if ok else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="all",
                   choices=("all",) + WORKLOADS)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=None,
                   help="default: run_seconds of BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="append every run's result here (JSONL)")
    p.add_argument("--check-spec", action="store_true")
    args = p.parse_args()
    if args.check_spec:
        return check_spec()
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    bounds = {n: bd for n, _u, _b, bd in metrics.END_TO_END}
    for wl in workloads:
        runs = []
        for seed in seeds_of(args.seeds):
            r = run_once(wl, seed, seconds, args.trace)
            runs.append(r)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": wl, "seed": seed,
                                        **r}) + "\n")
            print(f"{wl} seed {seed}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} "
                  f"wall={r['wall_s']:.1f}s", flush=True)
        print(f"{wl}: {len(runs)} runs, mean wall "
              f"{statistics.mean(r['wall_s'] for r in runs):.1f} s")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            if len(vals) < 2 or statistics.median(vals) == 0:
                continue
            med, sp = spread(vals)
            bound = bounds.get(name)
            flag = "" if bound is None else (
                "  ok" if sp < bound / 3 else
                "  within bound" if sp <= bound else "  OVER BOUND")
            print(f"  {name:<32} median {med:<12.6g} spread {sp:7.2%}"
                  + ("" if bound is None else f" (bound {bound:.0%})")
                  + flag)
    return 0


if __name__ == "__main__":
    sys.exit(main())
