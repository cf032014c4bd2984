"""Scalar/vector primitives: zigzag, LEB128 varints, bit-width tables.

Wire formats follow the public ORC v1 spec (RLEv2 bit-width encoding table,
zigzag, base-128 varints). Behavior pinned by the reference's unit vectors:
/root/reference/orc/encoding/encoding_test.go:550-563 (zigzag extremes) and
the width tables at /root/reference/orc/encoding/package.go:163-261.
"""

from __future__ import annotations

import numpy as np

# Aligned bit widths usable for packed literals (ORC "closest aligned fixed
# bits"): what the reference writer emits for DIRECT/PATCHED/DELTA literals.
ALIGNED_WIDTHS = np.array([1, 2, 4, 8, 16, 24, 32, 40, 48, 56, 64], dtype=np.int64)

# Widths expressible by the 5-bit header code (ORC spec): 1..24 directly,
# then 26,28,30,32,40,48,56,64.
_CODE_TO_WIDTH = list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]
_WIDTH_TO_CODE = {w: c for c, w in enumerate(_CODE_TO_WIDTH)}


def zigzag(v: np.ndarray) -> np.ndarray:
    """Map signed int64 -> unsigned uint64: 0,-1,1,-2,... -> 0,1,2,3,..."""
    v = v.astype(np.int64, copy=False)
    return ((v << np.int64(1)) ^ (v >> np.int64(63))).astype(np.uint64)


def unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64, copy=False)
    return ((u >> np.uint64(1)) ^ (-(u & np.uint64(1))).astype(np.uint64)).astype(
        np.int64
    )


def bits_required_fast(u: np.ndarray) -> np.ndarray:
    """Exact per-value bit length via frexp: for values below 2^53 the
    float64 image is exact, so frexp's exponent IS the bit length (value
    in [2^(e-1), 2^e)); above 2^53 rounding can only bump a value to the
    NEXT power of two, detected (and corrected) with one shift-compare.
    A value always occupies >= 1 bit (0 -> 1)."""
    u = np.asarray(u, dtype=np.uint64)
    n = len(u)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    e = np.frexp(u.astype(np.float64))[1].astype(np.int64)
    if int(u.max()) >= (1 << 53):
        e = np.minimum(e, 65)
        shift = np.minimum(e - 1, 63).astype(np.uint64)
        e = np.where((e > 1) & ((u >> shift) == 0), e - 1, e)
        e = np.minimum(e, 64)
    return np.maximum(e, 1)


_ALIGNED = (1, 2, 4, 8, 16, 24, 32, 40, 48, 56, 64)


def aligned_width(w: int) -> int:
    """Smallest aligned width >= w (the reference's getAlignedWidth). Scalar
    scan over 11 entries — called once per RLEv2 block, where an
    np.searchsorted was ~100x the cost of the comparison itself."""
    w = int(w)
    for cand in _ALIGNED:
        if cand >= w:
            return cand
    return 64


def closest_width(w: int) -> int:
    """Smallest header-expressible width >= w (1..24,26,...,64)."""
    w = max(int(w), 1)
    for cand in _CODE_TO_WIDTH:
        if cand >= w:
            return cand
    return 64


def width_to_code(w: int) -> int:
    return _WIDTH_TO_CODE[int(w)]


def code_to_width(c: int, delta: bool = False) -> int:
    """Decode a 5-bit width code. In DELTA headers code 0 means fixed delta
    (0-bit literals); elsewhere code 0 means width 1."""
    c = int(c)
    if delta and c == 0:
        return 0
    return _CODE_TO_WIDTH[c]


def encode_uvarints(values: np.ndarray) -> bytes:
    """LEB128 unsigned varints for a vector of uint64, vectorized.

    Used for the decimal mantissa stream and delta base values.
    """
    u = np.ascontiguousarray(np.asarray(values, dtype=np.uint64))
    n = len(u)
    if n == 0:
        return b""
    nbytes = (bits_required_fast(u) + 6) // 7  # groups of 7 bits
    maxb = int(nbytes.max())
    # byte j of value i = (u >> 7j) & 0x7f, with continuation bit if j < nbytes-1
    shifts = (np.arange(maxb, dtype=np.uint64) * np.uint64(7))[None, :]
    chunks = ((u[:, None] >> shifts) & np.uint64(0x7F)).astype(np.uint8)
    cont = np.arange(maxb)[None, :] < (nbytes[:, None] - 1)
    chunks |= cont.astype(np.uint8) << 7
    mask = np.arange(maxb)[None, :] < nbytes[:, None]
    return chunks[mask].tobytes()


def decode_uvarints(data: bytes | memoryview, count: int, offset: int = 0):
    """Decode `count` LEB128 varints; returns (uint64 array, new offset)."""
    if count == 0:
        return np.empty(0, dtype=np.uint64), offset
    if count <= 4:
        # scalar fast path: the vector path's terminator scan is O(stream),
        # which made per-block base/delta reads quadratic in stripe size
        out = np.zeros(count, dtype=np.uint64)
        p = offset
        for i in range(count):
            v = 0
            shift = 0
            while True:
                byte = int(data[p])
                p += 1
                v |= (byte & 0x7F) << shift
                if byte < 0x80:
                    break
                shift += 7
            out[i] = v
        return out, p
    b = np.frombuffer(data, dtype=np.uint8)
    # find varint terminators (bytes with high bit clear) from `offset`;
    # varints are <= 10 bytes so the scan window is bounded
    tail = b[offset: offset + 10 * count]
    ends = np.flatnonzero((tail & 0x80) == 0)
    if len(ends) < count:
        raise ValueError("varint stream truncated")
    ends = ends[:count]
    starts = np.concatenate(([0], ends[:-1] + 1))
    out = np.zeros(count, dtype=np.uint64)
    maxlen = int((ends - starts + 1).max())
    for j in range(maxlen):
        pos = starts + j
        active = pos <= ends
        vals = tail[pos[active]].astype(np.uint64) & np.uint64(0x7F)
        out[active] |= vals << np.uint64(7 * j)
    return out, offset + int(ends[-1]) + 1


def encode_svarints(values: np.ndarray) -> bytes:
    """Signed varints = zigzag + LEB128 (Go binary.PutVarint convention)."""
    return encode_uvarints(zigzag(np.asarray(values, dtype=np.int64)))


def uvarint1(u: int) -> bytes:
    """ONE LEB128 varint from a Python int — byte-identical to
    encode_uvarints([u]) but without the numpy array setup, which dominated
    the per-block RLEv2 write path (every DELTA block writes 2-3 one-value
    varints)."""
    out = bytearray()
    while u >= 0x80:
        out.append((u & 0x7F) | 0x80)
        u >>= 7
    out.append(u)
    return bytes(out)


def svarint1(v: int) -> bytes:
    """ONE zigzag varint from a Python int (scalar twin of encode_svarints;
    Python's arithmetic >> makes the int64 zigzag identity exact for the
    full range including -2^63)."""
    return uvarint1((v << 1) ^ (v >> 63))


def decode_svarints(data, count: int, offset: int = 0):
    u, off = decode_uvarints(data, count, offset)
    return unzigzag(u), off


def canonical_key_bytes(value) -> bytes:
    """Canonical hash bytes for a bloom/index probe key: values that COMPARE
    equal must map to identical bytes, or a bloom falsely prunes and a read
    silently drops matching rows (ADVICE r4). Rules:

    - bytes/str: raw bytes / UTF-8 (unchanged vs the historical str() form);
    - bool -> int (True == 1), integral float -> int (1.0 == 1);
    - Decimal: normalized plain-format string (Decimal('1.50') == '1.5';
      format(..., 'f') avoids normalize()'s '1E+2' exponent form, and an
      integral Decimal('5.00') collapses to '5' == int 5);
    - tz-aware datetime: converted to UTC and stripped (equal instants in
      different zones stringify identically; naive stays naive — the two
      never compare equal so they may hash apart).
    Everything else keeps str(value) (dates, naive datetimes: str() is
    already canonical for equal values).
    """
    import datetime as _dt
    import decimal as _decimal

    if isinstance(value, bytes):
        return value
    if isinstance(value, str):
        return value.encode("utf-8")
    if isinstance(value, bool):
        return str(int(value)).encode()
    if isinstance(value, float):
        if value.is_integer():
            return str(int(value)).encode()
        return str(value).encode()  # inf/nan included (nan never matches)
    if isinstance(value, _decimal.Decimal):
        if value.is_finite():
            return format(value.normalize(), "f").encode()
        return str(value).encode()
    if isinstance(value, _dt.datetime) and value.tzinfo is not None:
        value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return str(value).encode()
    return str(value).encode()
