"""ORC byte-level run-length encoding (tinyint DATA stream; backing layer
for boolean bitmaps).

Wire format (public ORC v1 spec, pinned by the reference's vectors in
tests/test_byte_bool_rle.py; /root/reference/orc/encoding/encoding_test.go:
16-177): control byte in [0,127] => run of (control+3) copies of the next
byte; control in [128,255] => (256-control) literal bytes follow.
"""

from __future__ import annotations

import numpy as np

from goorc_spark.codecs import _native

MIN_REPEAT = 3
MAX_REPEAT = 127 + MIN_REPEAT  # 130
MAX_LITERALS = 128


def encode(values: np.ndarray) -> bytes:
    b = np.ascontiguousarray(np.asarray(values, dtype=np.uint8))
    n = len(b)
    if n == 0:
        return b""
    # C fast path (byte-identical; tests/test_native.py pins it)
    nat = _native.byterle_encode(b)
    if nat is not None:
        return nat
    change = np.flatnonzero(np.diff(b) != 0) + 1
    starts = np.concatenate(([0], change)).tolist()
    ends = np.concatenate((change, [n])).tolist()
    out = bytearray()
    lit_start = None
    for s, e in zip(starts, ends):
        length = e - s
        if length >= MIN_REPEAT:
            if lit_start is not None:
                _flush_literals(out, b, lit_start, s)
                lit_start = None
            val = int(b[s])
            pos = s
            while e - pos >= MIN_REPEAT:
                take = min(e - pos, MAX_REPEAT)
                out.append(take - MIN_REPEAT)
                out.append(val)
                pos += take
            if pos < e:  # 1-2 byte orphan after splitting: becomes literals
                lit_start = pos
        else:
            if lit_start is None:
                lit_start = s
    if lit_start is not None:
        _flush_literals(out, b, lit_start, n)
    return bytes(out)


def _flush_literals(out: bytearray, b: np.ndarray, start: int, end: int) -> None:
    pos = start
    while pos < end:
        take = min(end - pos, MAX_LITERALS)
        out.append(256 - take)
        out += b[pos : pos + take].tobytes()
        pos += take


def decode(data, count: int) -> np.ndarray:
    out, got = _decode_runs(data, count, slack=0)
    if got != count:
        raise ValueError(f"byte-rle decoded {got}, expected {count}")
    return out


def decode_prefix(data, count: int) -> np.ndarray:
    """Decode `count` bytes from a buffer whose runs may continue past
    them (row-index seek starts mid-stream at a run boundary); the final
    run may overshoot and trailing bytes are ignored."""
    out, got = _decode_runs(data, count, slack=MAX_REPEAT + 1)
    if got < count:
        raise ValueError(f"byte-rle decoded {got}, expected >= {count}")
    return out[:count]


def _decode_runs(data, count: int, slack: int):
    nat = _native.byterle_decode(data, count, slack)
    if nat is not None:
        return nat
    buf = np.frombuffer(data, dtype=np.uint8)
    out = np.empty(count + slack, dtype=np.uint8)
    got = 0
    off = 0
    n = len(buf)
    while got < count and off < n:
        c = int(buf[off])
        if c < 128:
            if off + 1 >= n:  # header at window end (prefix decode)
                break
            rep = c + MIN_REPEAT
            out[got : got + rep] = buf[off + 1]
            got += rep
            off += 2
        else:
            # a window (prefix decode) may end mid-literal-run: copy what
            # the buffer holds; the caller's count bounds what's consumed
            lit = min(256 - c, n - (off + 1))
            out[got : got + lit] = buf[off + 1 : off + 1 + lit]
            got += lit
            off += 1 + lit
            if lit < 256 - c:
                break
    return out, got
