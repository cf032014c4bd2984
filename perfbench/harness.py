"""Shared pieces of the benchmark: the work directory, native-kernel pinning,
host-health probes, the peak-RSS sampler, percentiles and the result record.

Nothing here starts a thread or touches the file system at import time.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def prepare_environment() -> str:
    """Point every scratch location (Python tempfile, the native-kernel .so
    cache, Spark's JVM tmpdir) into the checkout's work directory and put
    the repo on the import path of this process and of Spark's Python
    workers. Must run before goorc_spark or pyspark is imported."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p and p != ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # the workers must not race to compile the kernels: pin_native builds
    # the .so once in this process, they only load it
    os.environ.pop("GOORC_NATIVE", None)
    return tmp


def pin_native() -> dict:
    """Build (if needed) and load the C codec kernels before anything is
    timed. Returns {loaded, so_sha256, build_s}; a run whose kernels did
    not load measures the numpy fallback, so its caller fails every op."""
    from goorc_spark.codecs import _native

    t0 = time.monotonic()
    handle = _native.lib()
    build_s = time.monotonic() - t0
    so_hash = None
    if handle is not None:
        with open(handle._name, "rb") as f:
            so_hash = hashlib.sha256(f.read()).hexdigest()[:16]
    return {"loaded": handle is not None, "so_sha256": so_hash,
            "build_s": build_s}


def box_health() -> dict:
    """~0.3 s single-process probe: streaming copy bandwidth and
    cache-resident int64 multiply-shift rate. Taken at the start and end
    of every run so a stalled host window is visible beside its metrics."""
    import numpy as np

    src = np.ones(32 << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    np.copyto(dst, src)  # touch pages
    reps = 8
    t0 = time.perf_counter()
    for _ in range(reps):
        np.copyto(dst, src)
    copy_gbps = 2 * reps * src.nbytes / (time.perf_counter() - t0) / 1e9
    x = np.arange(1_000_000, dtype=np.int64)
    (x * 2654435761) >> np.int64(13)
    reps = 50
    t0 = time.perf_counter()
    for _ in range(reps):
        (x * 2654435761) >> np.int64(13)
    mops = reps * x.size / (time.perf_counter() - t0) / 1e6
    return {"copy_gbps": round(copy_gbps, 2), "int64_mops": round(mops, 1)}


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> tuple[int, str]:
    """(VmHWM in kB, "python" | "java" | "") of one process, by the binary
    it runs: a child the JVM is spawning still shares the JVM's memory
    under a Spark thread's name, so names would misfile it."""
    try:
        exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        kind = "java" if exe == "java" else \
            "python" if exe.startswith("python") else ""
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]), kind
    except OSError:
        pass
    return 0, ""


class PeakRss:
    """Largest resident set (VmHWM) of this process or any Python
    descendant (Spark's Python workers), and separately of the Spark JVM,
    sampled every `interval` s from a background thread between start()
    and stop(). The JVM's figure follows its heap-sizing policy under the
    fixed spark.driver.memory (it wandered 1.0-1.6 GB between otherwise
    identical runs), so it is reported but kept apart."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self.jvm_peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        kids = _children_of()
        todo, seen = [os.getpid()], set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            kb, kind = _hwm_kb(pid)
            if kind == "java":
                self.jvm_peak_kb = max(self.jvm_peak_kb, kb)
            elif kind == "python":
                self.peak_kb = max(self.peak_kb, kb)
            todo.extend(kids.get(pid, ()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "PeakRss":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop sampling, after one last sample."""
        self.sample()
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def tail(samples: list[float]) -> tuple[float | None, str]:
    """(value, note): the highest percentile with ten samples beyond it —
    the 11th-largest sample — noted with that percentile (its inclusive-
    quantile position) and the sample count. None below 11 samples."""
    n = len(samples)
    if n < 11:
        return None, f"n={n}, under 11 samples"
    k = n - 11
    return sorted(samples)[k], f"p{100 * k / (n - 1):.1f} of n={n}"


def chosen_codecs(metas: list[dict]) -> dict[str, int]:
    """String column chunks (stripe x row group) stored with each codec."""
    out = {"dict": 0, "fsst": 0, "raw": 0}
    for meta in metas:
        for g in meta.get("row_groups") or [meta]:
            for c in g["columns"]:
                if c["kind"] == "string":
                    out[c["codec"]] = out.get(c["codec"], 0) + 1
    return out


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


@dataclass
class OpLog:
    """Every op of the measured window: kind, wall seconds, rows, ok, and
    the epoch-ms interval (for joining with Spark's event log)."""

    ops: list[dict] = field(default_factory=list)

    def record(self, kind: str, t0_epoch: float, sec: float, rows: int,
               ok: bool, **extra) -> None:
        self.ops.append({"kind": kind, "start_ms": t0_epoch * 1000,
                         "end_ms": (t0_epoch + sec) * 1000, "sec": sec,
                         "rows": rows, "ok": ok, **extra})

    def of(self, kind: str) -> list[dict]:
        return [o for o in self.ops if o["kind"] == kind]

    def rate(self, kind: str) -> float:
        """Rows per second over every op of `kind` (Σrows / Σseconds)."""
        ops = self.of(kind)
        return sum(o["rows"] for o in ops) / sum(o["sec"] for o in ops)

    def p50(self, kind: str) -> float:
        return statistics.median(o["sec"] for o in self.of(kind))

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o["ok"])


def timed_call(fn):
    """(epoch start, seconds, result) of one call, the result consumed."""
    e0 = time.time()
    t0 = time.perf_counter()
    out = fn()
    return e0, time.perf_counter() - t0, out
