"""Timestamp/date representation kernels.

- DATE: days since 1970-01-01, signed RLEv2 (reference: dateV2Encoder,
  /root/reference/orc/encoding/time.go:8-50).
- TIMESTAMP: split into (seconds since 2015-01-01, nanoseconds) where the
  nanos stream packs the count of stripped trailing decimal zeros into the
  3 low bits (public ORC spec; pinned by the reference vectors
  1000 -> 0x0a, 100000 -> 0x0c at encoding_test.go:576-584 and the epoch at
  /root/reference/orc/api/vector.go:132-194).

All kernels are vectorized; Spark hands us datetime64[us] via Arrow.
"""

from __future__ import annotations

import numpy as np

from goorc_spark.codecs import _native

# seconds between 1970-01-01 and 2015-01-01 UTC
EPOCH_2015_S = 1420070400


def pack_nanos(nanos: np.ndarray) -> np.ndarray:
    """Encode nanosecond counts [0, 1e9): strip trailing decimal zeros when
    there are >=2, storing (zeros-1) in the 3 low bits."""
    nat = _native.pack_nanos(nanos)
    if nat is not None:
        return nat
    n = np.asarray(nanos, dtype=np.uint64)
    out = n << np.uint64(3)
    work = n.copy()
    zeros = np.zeros(len(n), dtype=np.uint64)
    for _ in range(8):
        m = (work != 0) & (work % np.uint64(10) == 0)
        if not m.any():
            break
        work[m] //= np.uint64(10)
        zeros[m] += np.uint64(1)
    strip = zeros >= 2
    out[strip] = (work[strip] << np.uint64(3)) | (zeros[strip] - np.uint64(1))
    return out


# 3-bit code -> multiplier: 0 = no zeros stripped, z > 0 = z + 1 zeros
_P10 = np.array([1] + [10 ** (z + 1) for z in range(1, 8)], dtype=np.uint64)


def unpack_nanos(packed: np.ndarray) -> np.ndarray:
    p = np.asarray(packed, dtype=np.uint64)
    return (p >> np.uint64(3)) * _P10[p & np.uint64(7)]


def micros_to_sec_nanos(micros: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Spark epoch-microseconds -> (seconds since 2015, nanos in [0,1e9))."""
    us = np.asarray(micros, dtype=np.int64)
    sec = np.floor_divide(us, 1_000_000) - EPOCH_2015_S
    frac_us = np.mod(us, 1_000_000)  # non-negative for negatives too
    return sec, (frac_us * 1000).astype(np.uint64)


def sec_nanos_to_micros(sec: np.ndarray, nanos: np.ndarray) -> np.ndarray:
    s = np.asarray(sec, dtype=np.int64) + EPOCH_2015_S
    return s * 1_000_000 + (np.asarray(nanos, dtype=np.int64) // 1000)
