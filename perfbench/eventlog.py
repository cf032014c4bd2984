"""Per-layer engine metrics from a Spark JSON event log, joined with the
benchmark's op log by wall-clock interval (both are epoch milliseconds on
one host): a job counts when it is submitted inside an op, a task when it
finishes inside one. All sums are divided by the number of measured ops."""

from __future__ import annotations

import glob
import json
import os
import statistics

# SQL metric names of the Arrow hand-off in MapInArrowExec
TO_PYTHON = "data sent to Python workers"
FROM_PYTHON = "data returned from Python workers"


def load(log_dir: str) -> list[dict]:
    """Events of the single application logged under `log_dir`."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _accum(task_info: dict, name: str) -> int:
    return sum(int(a.get("Update", 0)) for a in task_info.get("Accumulables", [])
               if a.get("Name") == name)


def summarize(events: list[dict], ops: list[dict],
              point_kind: str | None = None) -> dict:
    n_ops = len(ops)
    spans = sorted((o["start_ms"], o["end_ms"]) for o in ops)

    def in_op(t: float) -> bool:  # checks between ops are not counted
        return any(a <= t <= b for a, b in spans)

    starts, jobs = {}, []
    tasks = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            starts[ev["Job ID"]] = ev["Submission Time"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
            jobs.append((starts[ev["Job ID"]], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if in_op(info["Finish Time"]):
                tasks.append(ev)
    jobs = [(a, b) for a, b in jobs if in_op(a)]

    def driver_ms(op: dict) -> float:
        inside = [(max(a, op["start_ms"]), min(b, op["end_ms"]))
                  for a, b in jobs if b > op["start_ms"] and a < op["end_ms"]]
        return max(op["end_ms"] - op["start_ms"] - _union_ms(inside), 0.0)

    def tm(ev: dict, *path) -> float:
        node = ev.get("Task Metrics") or {}
        for p in path:
            node = node.get(p, 0) if isinstance(node, dict) else 0
        return float(node or 0)

    by_stage: dict[int, list[dict]] = {}
    for ev in tasks:
        by_stage.setdefault(ev["Stage ID"], []).append(ev)
    py_stages = {sid: evs for sid, evs in by_stage.items()
                 if any(_accum(e["Task Info"], FROM_PYTHON) for e in evs)}
    skews = []
    for evs in py_stages.values():
        runs = [tm(e, "Executor Run Time") for e in evs]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
    point_ops = [o for o in ops if o["kind"] == point_kind]
    return {
        "engine.op_wall_s": sum(o["sec"] for o in ops) / n_ops,
        "engine.driver_s": sum(driver_ms(o) for o in ops) / 1000 / n_ops,
        "engine.point_read_driver_s": statistics.median(
            driver_ms(o) for o in point_ops) / 1000 if point_ops else 0,
        "engine.jobs": len(jobs) / n_ops,
        "engine.executor_run_s":
            sum(tm(e, "Executor Run Time") for e in tasks) / 1000 / n_ops,
        "engine.executor_cpu_s":
            sum(tm(e, "Executor CPU Time") for e in tasks) / 1e9 / n_ops,
        "engine.gc_s": sum(tm(e, "JVM GC Time") for e in tasks) / 1000 / n_ops,
        "engine.shuffle_write_bytes": sum(
            tm(e, "Shuffle Write Metrics", "Shuffle Bytes Written")
            for e in tasks) / n_ops,
        "engine.shuffle_write_s": sum(
            tm(e, "Shuffle Write Metrics", "Shuffle Write Time")
            for e in tasks) / 1e9 / n_ops,
        "engine.shuffle_fetch_wait_s": sum(
            tm(e, "Shuffle Read Metrics", "Fetch Wait Time")
            for e in tasks) / 1000 / n_ops,
        "engine.spill_bytes": sum(
            tm(e, "Memory Bytes Spilled") + tm(e, "Disk Bytes Spilled")
            for e in tasks) / n_ops,
        "engine.arrow_to_python_bytes": sum(
            _accum(e["Task Info"], TO_PYTHON) for e in tasks) / n_ops,
        "engine.arrow_from_python_bytes": sum(
            _accum(e["Task Info"], FROM_PYTHON) for e in tasks) / n_ops,
        "engine.python_stage_run_s": sum(
            tm(e, "Executor Run Time") for evs in py_stages.values()
            for e in evs) / 1000 / n_ops,
        "engine.map_task_skew": statistics.median(skews) if skews else 0,
    }
