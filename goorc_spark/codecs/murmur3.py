"""ORC bloom-filter hashing: Murmur3 64-bit (Hive variant) for UTF-8 bytes
and the Thomas Wang 64-bit mix for integer-family values.

This is the hash pair every ORC writer uses for BLOOM_FILTER_UTF8 streams
(public ORC v1 spec, "Bloom Filter Index"). The exact conventions were
pinned EMPIRICALLY against files written by BOTH independent reference
implementations (ORC C++ via pyarrow and ORC Java via Spark) in
tests/test_orc_bloom.py — notable findings baked in here:

- Strings/binary hash with the Hive Murmur3 *64-bit* variant (8-byte
  blocks mixed with the x64_128 constants, R1=31/R2=27/M=5/N1=0x52dce729,
  fmix64 finish) at seed 104729 — NOT the first half of standard
  Murmur3_x64_128 (measured: x64_128-first-half matches 0/1000 inserted
  keys, this variant 1000/1000).
- Integers hash with Thomas Wang's 64-bit mix computed in SIGNED int64
  arithmetic (arithmetic right shifts). The unsigned reading of the same
  formula differs exactly on 0 and negative inputs (measured: unsigned
  999/1000 then 999/1200 — every miss a zero/negative; signed 1200/1200
  against both writers).
- Probe positions: hash1 = low 32 bits (signed), hash2 = high 32 bits
  (signed); combined(i) = hash1 + i*hash2 for i in 1..k with int32
  wraparound, bit-flipped (~) when negative, then % numBits.

The vectorized forms iterate over 8-byte block POSITIONS with every value
as a uint64 lane; numpy wrapping integer arithmetic is exactly the scalar
masked math, pinned bit-exact by tests. The Go reference has no bloom
filters at all. This module is the one hash family of every bloom here:
the native ORC reader/writer's row-group pruning, and the stripe table's
per-stripe key bloom (engine._build_bloom, arrow_stripe._key_hashes).
"""

from __future__ import annotations

import math

import numpy as np

DEFAULT_SEED = 104729  # ORC's Murmur3 DEFAULT_SEED (a prime), both impls

_U64 = (1 << 64) - 1
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F
_N1 = 0x52DCE729
_FMIX1 = 0xFF51AFD7ED558CCD
_FMIX2 = 0xC4CEB9FE1A85EC53


# ------------------------------------------------------------ scalar forms

def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _fmix64(h: int) -> int:
    h ^= h >> 33
    h = (h * _FMIX1) & _U64
    h ^= h >> 33
    h = (h * _FMIX2) & _U64
    h ^= h >> 33
    return h


def hash64(data: bytes, seed: int = DEFAULT_SEED) -> int:
    """Hive-variant Murmur3 64-bit of `data` (unsigned 64-bit result)."""
    h = seed
    nblocks = len(data) >> 3
    for i in range(nblocks):
        k = int.from_bytes(data[i * 8:i * 8 + 8], "little")
        k = (k * _C1) & _U64
        k = _rotl(k, 31)
        k = (k * _C2) & _U64
        h ^= k
        h = (_rotl(h, 27) * 5 + _N1) & _U64
    tail = data[nblocks * 8:]
    if tail:
        k1 = int.from_bytes(tail, "little")  # same as the high-to-low fold
        k1 = (k1 * _C1) & _U64
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _U64
        h ^= k1
    h ^= len(data)
    return _fmix64(h)


def _sx(v: int) -> int:
    """uint64 bit pattern -> python int with int64 sign."""
    v &= _U64
    return v - (1 << 64) if v & (1 << 63) else v


def long_hash(key: int) -> int:
    """Thomas Wang 64-bit mix in SIGNED int64 arithmetic (arithmetic right
    shifts — python's >> on negative ints). Unsigned result."""
    key = _sx(key)
    key = _sx(~key + (key << 21))
    key = _sx(key ^ (key >> 24))
    key = _sx(key + (key << 3) + (key << 8))
    key = _sx(key ^ (key >> 14))
    key = _sx(key + (key << 2) + (key << 4))
    key = _sx(key ^ (key >> 28))
    return (key + (key << 31)) & _U64


def positions(h64: int, k: int, m_bits: int) -> list[int]:
    """The k probe bit positions for one 64-bit hash (int32 wrap math)."""
    h = _sx(h64)
    s1 = h & 0xFFFFFFFF
    s1 -= (1 << 32) if s1 >= (1 << 31) else 0
    s2 = (h >> 32) & 0xFFFFFFFF
    s2 -= (1 << 32) if s2 >= (1 << 31) else 0
    out = []
    for i in range(1, k + 1):
        c = (s1 + i * s2) & 0xFFFFFFFF
        c -= (1 << 32) if c >= (1 << 31) else 0
        if c < 0:
            c = ~c & 0xFFFFFFFF
        out.append(c % m_bits)
    return out


def might_contain(words, k: int, h64: int) -> bool:
    """Membership test against a little-endian uint64-word bitset."""
    m_bits = len(words) * 64
    for pos in positions(h64, k, m_bits):
        if not (int(words[pos >> 6]) >> (pos & 63)) & 1:
            return False
    return True


# -------------------------------------------------------- vectorized forms

def _u(x: int) -> np.uint64:
    return np.uint64(x)


def _vrotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _u(r)) | (x >> _u(64 - r))


def _vfmix64(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _u(33))
    h = h * _u(_FMIX1)
    h = h ^ (h >> _u(33))
    h = h * _u(_FMIX2)
    return h ^ (h >> _u(33))


def hash64_many(values: list[bytes], seed: int = DEFAULT_SEED) -> np.ndarray:
    """Vectorized hash64 over a list of byte strings -> uint64 array."""
    n = len(values)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter((len(b) for b in values), np.int64, count=n)
    flat = np.frombuffer(b"".join(values), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return hash64_flat(flat, starts, lens, seed)


def hash64_arrow(arr, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Vectorized hash64 over a (chunked) Arrow string/binary array with
    nulls already dropped — zero-copy off the offsets/data buffers
    (large_* offsets are int64 in buffers()[1], honoring .offset)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    osz = 8 if pa.types.is_large_string(arr.type) \
        or pa.types.is_large_binary(arr.type) else 4
    odt = np.int64 if osz == 8 else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=odt)[arr.offset:
                                             arr.offset + len(arr) + 1]
    offs = offs.astype(np.int64, copy=False)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None \
        else np.empty(0, dtype=np.uint8)
    return hash64_flat(data, offs[:-1], np.diff(offs), seed)


# Padded-matrix budget for one hash64_flat block call: the matrix is
# n_values x (max_len + 8) bytes, so a single long outlier (one 10 MB text
# doc among 10k short keys) would allocate n * max_len ~ 100 GB and OOM the
# executor (ADVICE r4). Above the budget, values are BUCKETED by length
# (geometric 4x thresholds) so each sub-matrix's width tracks its bucket's
# max, not the global max.
_FLAT_BUDGET = 64 << 20
_FLAT_SCALAR_CUTOFF = 16_384  # longer values hash via the scalar loop


def hash64_flat(flat: np.ndarray, starts: np.ndarray, lens: np.ndarray,
                seed: int = DEFAULT_SEED) -> np.ndarray:
    """Vectorized hash64 dispatcher: values live at flat[starts[i]:][:lens[i]].
    One padded-matrix pass when n * (max_len + 8) fits _FLAT_BUDGET, else
    length-bucketed passes (identical results, bounded memory)."""
    n = len(lens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    max_len = int(lens.max())
    if n * (max_len + 8) <= _FLAT_BUDGET:
        return _hash64_flat_block(flat, starts, lens, seed)
    out = np.empty(n, dtype=np.uint64)
    long = lens > _FLAT_SCALAR_CUTOFF
    if long.any():  # scalar loop beats a few-lane numpy per-block loop
        out[long] = [hash64(bytes(flat[s:s + l]), seed)
                     for s, l in zip(starts[long], lens[long])]
    rest_max = int(lens[~long].max()) if (~long).any() else 0
    lo = -1
    hi = max(64, int(_FLAT_BUDGET // max(n, 1)))
    while lo < rest_max:
        m = (lens > lo) & (lens <= hi) & ~long
        if m.any():
            out[m] = _hash64_flat_block(flat, starts[m], lens[m], seed)
        lo, hi = hi, hi * 4
    return out


def _hash64_flat_block(flat: np.ndarray, starts: np.ndarray,
                       lens: np.ndarray, seed: int) -> np.ndarray:
    """Core padded-matrix hash64: iterates over 8-byte BLOCK positions with
    every value as a lane; the tail block is a single masked gather (the
    scalar high-to-low byte fold equals the little-endian uint64 of the
    tail bytes). Bit-exact with hash64 (pinned in tests)."""
    n = len(lens)
    nblocks = lens >> 3
    max_nb = int(nblocks.max())
    # pad every value to (max_nb + 1) whole blocks so tail gathers are safe
    width = (max_nb + 1) * 8
    valid = np.arange(width)[None, :] < lens[:, None]
    mat = np.zeros((n, width), dtype=np.uint8)
    idx = starts[:, None] + np.arange(width)[None, :]
    mat[valid] = flat[idx[valid]]
    blocks = mat.view("<u8").reshape(n, max_nb + 1).astype(np.uint64,
                                                          copy=False)
    h = np.full(n, np.uint64(seed), dtype=np.uint64)
    c1, c2 = _u(_C1), _u(_C2)
    for j in range(max_nb):
        m = j < nblocks
        k = blocks[:, j] * c1
        k = _vrotl(k, 31) * c2
        hm = h[m] ^ k[m]
        h[m] = _vrotl(hm, 27) * _u(5) + _u(_N1)
    tail_len = (lens & 7).astype(np.uint64)
    has_tail = tail_len > 0
    if has_tail.any():
        # the padded matrix zero-fills past each value, so the gathered
        # block IS the little-endian tail fold already
        k1 = blocks[np.arange(n), nblocks] * c1
        k1 = _vrotl(k1, 31) * c2
        h[has_tail] ^= k1[has_tail]
    h ^= lens.astype(np.uint64)
    return _vfmix64(h)


def long_hash_many(keys: np.ndarray) -> np.ndarray:
    """Vectorized Thomas Wang mix over an int64 array -> uint64 hashes.
    numpy int64 >> is the arithmetic shift the writers use; wrapping
    add/shift-left matches the signed overflow semantics."""
    k = keys.astype(np.int64, copy=True)
    with np.errstate(over="ignore"):
        k = ~k + (k << np.int64(21))
        k ^= k >> np.int64(24)
        k = k + (k << np.int64(3)) + (k << np.int64(8))
        k ^= k >> np.int64(14)
        k = k + (k << np.int64(2)) + (k << np.int64(4))
        k ^= k >> np.int64(28)
        k = k + (k << np.int64(31))
    return k.view(np.uint64)


def positions_many(h: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) int64 probe positions for uint64 hashes (int32 wrap math)."""
    s1 = h.astype(np.uint32).view(np.int32)
    s2 = (h >> _u(32)).astype(np.uint32).view(np.int32)
    out = np.empty((len(h), k), dtype=np.int64)
    with np.errstate(over="ignore"):
        for i in range(1, k + 1):
            c = s1 + np.int32(i) * s2
            c = np.where(c < 0, ~c, c).astype(np.int64)
            out[:, i - 1] = c % m_bits
    return out


# ------------------------------------------------------- filter build/size

def bloom_params(expected_n: int, fpp: float) -> tuple[int, int]:
    """(m_bits rounded up to whole uint64 words, k hash count) — the
    sizing every ORC writer applies for its per-row-group filters."""
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"bloom fpp must be in (0, 1), got {fpp!r} — "
                         "fpp >= 1 would size a zero-bit filter that "
                         "divides by zero at probe time")
    expected_n = max(expected_n, 1)
    m = math.ceil(-expected_n * math.log(fpp) / (math.log(2) ** 2))
    m = (m + 63) // 64 * 64
    k = max(1, round(m / expected_n * math.log(2)))
    return m, k


def build_bloom(hashes: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """uint64-word bitset with every hash's k probe positions set."""
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    if len(hashes):
        pos = positions_many(hashes, k, m_bits).ravel()
        np.bitwise_or.at(words, pos >> 6,
                         np.uint64(1) << (pos & 63).astype(np.uint64))
    return words
