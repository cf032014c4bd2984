"""Order-preserving thread fan-out for work that releases the GIL.

`orc_native.write_orc` deflates ~1,500 independent stream segments per
file; `zlib.compress` drops the GIL, so spreading those calls over threads
scales with cores. `fan_out(fn, items)` is `[fn(x) for x in items]` with
the items dealt round-robin to `pool_width()` threads and the results put
back in input order, so output bytes never depend on the width.

- Inside a Spark task the width is the task's CPU share
  (`TaskContext.cpus()`, 1 unless `spark.task.cpus` says otherwise), so
  tasks never oversubscribe their executor; elsewhere it is the CPUs in
  this process's affinity mask.
- A call made from one of the pool's own threads runs serially: a worker
  that submitted to its own pool and waited could deadlock it.
- `concurrent.futures` is imported on first use, so processes that never
  fan out (Spark Python workers among them) do not load it.
"""

from __future__ import annotations

import os
import sys
import threading

_local = threading.local()
_lock = threading.Lock()
_pool = None          # the shared executor, created on first use
_pool_key = None      # (pid, width) it was created for


def pool_width() -> int:
    """Threads a fan-out may use from the calling context."""
    tc = sys.modules.get("pyspark.taskcontext")
    ctx = tc.TaskContext.get() if tc is not None else None
    if ctx is not None:
        return max(1, int(ctx.cpus()))
    return len(os.sched_getaffinity(0))


def _mark_worker() -> None:
    _local.worker = True


def _executor(width: int):
    """The shared pool, rebuilt when it is narrower than `width` or was
    created before a fork (a forked child inherits the executor object
    but none of its threads). A replaced pool is only dropped, never shut
    down, so a caller still holding it can finish its map; its threads
    exit once it is garbage collected."""
    global _pool, _pool_key
    with _lock:
        pid = os.getpid()
        if _pool is None or _pool_key[0] != pid or _pool_key[1] < width:
            from concurrent.futures import ThreadPoolExecutor

            _pool = ThreadPoolExecutor(
                width, thread_name_prefix="goorc-fanout",
                initializer=_mark_worker)
            _pool_key = (pid, width)
        return _pool


def fan_out(fn, items: list) -> list:
    """`[fn(x) for x in items]`, computed on up to `pool_width()` threads.
    Exceptions propagate to the caller."""
    width = min(pool_width(), len(items))
    if width <= 1 or getattr(_local, "worker", False):
        return [fn(x) for x in items]

    def deal(i: int) -> list:
        return [fn(x) for x in items[i::width]]

    out = [None] * len(items)
    for i, part in enumerate(_executor(width).map(deal, range(width))):
        out[i::width] = part
    return out
