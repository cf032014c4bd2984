"""Thread fan-out for work that releases the GIL, shared by both writers
and the ORC reader.

- `Jobs` is the submit-as-you-go entry point: inside
  `with Jobs() as jobs:`, `jobs.submit(fn, *args)` starts `fn(*args)` on
  the shared pool at once and returns a handle whose `.result()` the
  caller reads back in whatever order it needs. Leaving the `with`
  block waits for every job; when it is left by an exception, jobs not
  yet started are cancelled first, so no job outlives the call.
  - `arrow_stripe.encode_stripe_table` hands each FSST compress and each
    `chunk.compress` of 64 KB or more to it as soon as the column walk
    has the payload, and stitches the stripe in stream order at the end.
  - `orc_native.write_orc` hands it each stream segment of the same
    64 KB (`arrow_stripe._JOB_MIN_BYTES`) or more as soon as its
    column-major walk has it: in the bench table, the `text` DATA
    segments, about ¾ of the raw bytes.
  - `orc_native._StripeCursor` hands it the native inflate of each zlib
    data stream a whole-stripe read needs, in column order, when the
    cursor is made (a stream of `PARALLEL_INFLATE_BYTES` or more as one
    chunk range per thread); the decode walk waits for each stream as
    it reaches it. At width 1 the cursor inflates each stream when it
    is asked for.
- `fan_out(fn, items)` is `[fn(x) for x in items]` with the items dealt
  round-robin to `pool_width()` jobs and the results put back in input
  order (`zlib` drops the GIL in both directions).
  - `orc_native.write_orc` deflates its ~1,400 smaller segments through
    it after the walk: submitted early, each would re-take the GIL the
    walk holds (measured 12% slower).

Output bytes never depend on the width. The width rules:

- Inside a Spark task the width is the task's CPU share
  (`TaskContext.cpus()`, 1 unless `spark.task.cpus` says otherwise), so
  tasks never oversubscribe their executor; elsewhere it is the CPUs in
  this process's affinity mask. At width 1 every job runs inline, on the
  calling thread, when it is submitted.
- A call made from one of the pool's own threads runs inline too: a
  worker that submitted to its own pool and waited could deadlock it.
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
    down, so a caller still holding it can finish its jobs; its threads
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


class Done:
    """The handle of a job that ran inline (or of a value at hand)."""

    __slots__ = ("_value",)

    def __init__(self, value):
        self._value = value

    def result(self):
        return self._value


class Jobs:
    """Jobs submitted as the caller goes, on the shared pool (see the
    module docstring)."""

    def __init__(self):
        width = pool_width()
        self.width = 1 if getattr(_local, "worker", False) else width
        self._pool = _executor(width) if self.width > 1 else None
        self._futures: list = []

    def submit(self, fn, *args):
        """Start `fn(*args)`; the handle's `.result()` returns its value or
        raises its exception. Inline (width 1), it runs here and now."""
        if self._pool is None:
            return Done(fn(*args))
        fut = self._pool.submit(fn, *args)
        self._futures.append(fut)
        return fut

    def __enter__(self) -> "Jobs":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if not self._futures:
            return
        if exc_type is not None:
            for fut in self._futures:
                fut.cancel()
        from concurrent.futures import wait

        wait(self._futures)


def fan_out(fn, items: list) -> list:
    """`[fn(x) for x in items]`, computed on up to `pool_width()` threads.
    Exceptions propagate to the caller."""
    with Jobs() as js:
        width = min(js.width, len(items))
        if width <= 1:
            return [fn(x) for x in items]
        parts = [js.submit(lambda i: [fn(x) for x in items[i::width]], i)
                 for i in range(width)]
        out = [None] * len(items)
        for i, part in enumerate(parts):
            out[i::width] = part.result()
    return out
