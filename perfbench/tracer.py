"""In-process spans around library calls, installed by wrapping module
attributes (no source edit): each wrapped function records calls, busy
(inclusive) time and self time — its duration minus the part its wrapped
callees cover — plus optional input/output sizes.

Spans live in memory; `restore()` puts the original attributes back.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Stat:
    layer: str
    calls: int = 0
    busy_s: float = 0.0
    self_s: float = 0.0
    n_in: int = 0
    n_out: int = 0


def _nbytes(x) -> int:
    """Bytes of an encoder's result: bytes-like or a numpy array; None
    (a native twin declining the call) counts 0."""
    if x is None:
        return 0
    return x.nbytes if hasattr(x, "nbytes") else len(x)


class Tracer:
    def __init__(self):
        self.stats: dict[str, Stat] = {}
        self._stack: list[list] = []  # [name, child seconds]
        self._patches: list[tuple] = []

    def active(self, name: str) -> bool:
        return any(frame[0] == name for frame in self._stack)

    def _enter(self, name: str) -> list:
        frame = [name, 0.0]
        self._stack.append(frame)
        return frame

    def _exit(self, frame: list, layer: str, dt: float) -> Stat:
        self._stack.pop()
        if self._stack:
            self._stack[-1][1] += dt
        st = self.stats.get(frame[0])
        if st is None:
            st = self.stats[frame[0]] = Stat(layer)
        st.calls += 1
        st.busy_s += dt
        st.self_s += dt - frame[1]
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        """A span the benchmark opens itself (an op)."""
        frame = self._enter(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._exit(frame, layer, time.perf_counter() - t0)

    def wrap(self, module, attr: str, name: str, layer: str,
             size_arg: int | None = None, on_result=None) -> None:
        """Replace `module.attr` with a recording twin. With `size_arg`,
        len(args[size_arg]) adds to n_in and the result's size in bytes
        to n_out; `on_result(stat, result)` sees every return value."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            frame = self._enter(name)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                st = self._exit(frame, layer, time.perf_counter() - t0)
            if size_arg is not None:
                st.n_in += len(args[size_arg])
                st.n_out += _nbytes(out)
            if on_result is not None:
                on_result(st, out)
            return out

        setattr(module, attr, traced)
        self._patches.append((module, attr, fn))

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()

    def layer_self_s(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for st in self.stats.values():
            out[st.layer] = out.get(st.layer, 0.0) + st.self_s
        return out
