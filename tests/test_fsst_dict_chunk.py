"""FSST and chunk-container tests."""

import zlib

import numpy as np
import pytest

from goorc_spark.codecs import chunk, fsst


# --- FSST --------------------------------------------------------------------

SAMPLE = (
    b"the quick brown fox jumps over the lazy dog; "
    b"the quick brown fox jumps over the lazy dog again and again "
) * 200


def test_fsst_roundtrip_text():
    blob = fsst.compress(SAMPLE)
    assert fsst.decompress(blob) == SAMPLE
    assert len(blob) < len(SAMPLE) * 0.6  # repeated substrings compress well


def test_fsst_roundtrip_empty_and_tiny():
    assert fsst.decompress(fsst.compress(b"")) == b""
    assert fsst.decompress(fsst.compress(b"a")) == b"a"
    assert fsst.decompress(fsst.compress(b"ab")) == b"ab"


def test_fsst_roundtrip_binary_with_ff():
    rng = np.random.default_rng(5)
    data = rng.integers(0, 256, 10000, dtype=np.uint8).tobytes()
    data += b"\xff" * 37 + b"Q" + b"\xff\xff" + b"R\xff"
    assert fsst.decompress(fsst.compress(data)) == data


def test_fsst_roundtrip_unicode():
    data = ("héllo wörld 你好世界 🙂🙂🙂 " * 500).encode("utf-8")
    blob = fsst.compress(data)
    assert fsst.decompress(blob) == data
    assert len(blob) < len(data)


def test_fsst_shared_table():
    table = fsst.train(SAMPLE)
    a = fsst.compress(b"the quick brown fox", table)
    assert fsst.decompress(a) == b"the quick brown fox"


def _greedy_reference(pos, codes, L):
    """Plain-loop leftmost-first greedy: keep a match unless it overlaps
    the last kept one."""
    keep, end = [], -1
    for i, p in enumerate(pos.tolist()):
        if p >= end:
            keep.append(i)
            end = p + L
    return pos[keep], codes[keep]


def test_fsst_drop_overlaps_is_leftmost_greedy():
    rng = np.random.default_rng(17)
    for _ in range(3000):
        L = int(rng.integers(2, 9))
        span = int(rng.integers(1, 300))
        pos = np.unique(rng.integers(0, span, int(rng.integers(0, 80))))
        pos = pos.astype(np.int32)
        codes = rng.integers(0, 200, len(pos)).astype(np.int16)
        got = fsst._drop_overlaps(pos, codes, L)
        want = _greedy_reference(pos, codes, L)
        assert np.array_equal(got[0], want[0]), (pos, L)
        assert np.array_equal(got[1], want[1]), (pos, L)


# --- chunk container -----------------------------------------------------------

def test_chunk_zlib_roundtrip_multi_chunk():
    data = (b"abcdef" * 100000)[: 700 * 1024]  # > 2 chunks at 256 KB
    comp = chunk.compress(data)
    assert chunk.decompress(comp) == data
    assert len(comp) < len(data) // 10


def test_chunk_stored_original_fallback():
    rng = np.random.default_rng(1)
    data = rng.integers(0, 256, 100000, dtype=np.uint8).tobytes()  # incompressible
    comp = chunk.compress(data)
    assert chunk.decompress(comp) == data
    assert len(comp) <= len(data) + 3 * ((len(data) // chunk.DEFAULT_CHUNK_SIZE) + 1)
    # header of first chunk says original
    assert int.from_bytes(comp[0:3], "little") & 1 == 1


def test_chunk_none_kind():
    data = b"hello" * 10
    assert chunk.compress(data, kind=chunk.NONE) == data
    assert chunk.decompress(data, kind=chunk.NONE) == data


def test_chunk_empty():
    assert chunk.decompress(chunk.compress(b"")) == b""


def test_murmur3_flat_bucketed_bit_exact():
    """ADVICE r4: hash64_flat buckets by length above the matrix budget
    (and falls back to the scalar loop for very long values); all paths
    bit-exact with scalar hash64."""
    import numpy as np

    from goorc_spark.codecs import murmur3 as m

    rng = np.random.default_rng(11)
    vals = [rng.integers(0, 256, size=int(l)).astype(np.uint8).tobytes()
            for l in list(rng.integers(0, 40, size=3000)) + [0, 7, 50_000]]
    scalar = np.array([m.hash64(v) for v in vals], dtype=np.uint64)
    assert (m.hash64_many(vals) == scalar).all()
    lens = np.fromiter((len(b) for b in vals), np.int64)
    flat = np.frombuffer(b"".join(vals), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    old_budget, old_cut = m._FLAT_BUDGET, m._FLAT_SCALAR_CUTOFF
    try:
        m._FLAT_BUDGET, m._FLAT_SCALAR_CUTOFF = 2048, 24
        assert (m.hash64_flat(flat, starts, lens) == scalar).all()
    finally:
        m._FLAT_BUDGET, m._FLAT_SCALAR_CUTOFF = old_budget, old_cut
