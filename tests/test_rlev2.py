"""RLEv2 codec tests.

Byte-exact vectors are ports of the reference's published unit tests
(/root/reference/orc/encoding/encoding_test.go:244-537), as required by the
north rule ("goorc's encoder/decoder unit-test vectors ported as pytest
fixtures").
"""

import numpy as np
import pytest

from goorc_spark.codecs import _native, rlev2
from goorc_spark.codecs.primitives import (
    unzigzag,
    zigzag,
    encode_uvarints,
    decode_uvarints,
    encode_svarints,
    decode_svarints,
)


def rt(values, signed=True):
    v = np.asarray(values, dtype=np.int64 if signed else np.uint64)
    enc = rlev2.encode(v, signed=signed)
    dec = rlev2.decode(enc, len(v), signed=signed)
    np.testing.assert_array_equal(dec, v)
    return enc


# --- byte-exact vectors (encoding_test.go) ---------------------------------

def test_delta_primes_bytes():
    # encoding_test.go:249-257
    vals = np.array([2, 3, 5, 7, 11, 13, 17, 19, 23, 29], dtype=np.uint64)
    enc = rlev2.encode(vals, signed=False)
    assert enc == bytes([0xC6, 0x09, 0x02, 0x02, 0x22, 0x42, 0x42, 0x46])
    np.testing.assert_array_equal(rlev2.decode(enc, 10, signed=False), vals)


def test_direct_deadbeef_bytes():
    # encoding_test.go:365-375
    vals = np.array([23713, 57005, 43806, 48879], dtype=np.uint64)
    enc = rlev2.encode(vals, signed=False)
    assert enc == bytes([0x5E, 0x03, 0x5C, 0xA1, 0xDE, 0xAD, 0xAB, 0x1E, 0xBE, 0xEF])
    np.testing.assert_array_equal(rlev2.decode(enc, 4, signed=False), vals)


def test_patched_base_bytes():
    # encoding_test.go:475-493
    vals = np.array(
        [2030, 2000, 2020, 1000000, 2040, 2050, 2060, 2070, 2080, 2090, 2100,
         2110, 2120, 2130, 2140, 2150, 2160, 2170, 2180, 2190], dtype=np.int64)
    expected = bytes([0x8E, 0x13, 0x2B, 0x21, 0x07, 0xD0, 0x1E, 0x00, 0x14, 0x70,
                      0x28, 0x32, 0x3C, 0x46, 0x50, 0x5A, 0x64, 0x6E, 0x78, 0x82,
                      0x8C, 0x96, 0xA0, 0xAA, 0xB4, 0xBE, 0xFC, 0xE8])
    enc = rlev2.encode(vals, signed=True)
    assert enc == expected
    np.testing.assert_array_equal(rlev2.decode(enc, 20, signed=True), vals)


def test_patched_base_negative_roundtrip():
    # encoding_test.go:495-508 (negated values, outlier kept positive)
    vals = np.array(
        [-2030, -2000, -2020, 1000000, -2040, -2050, -2060, -2070, -2080,
         -2090, -2100, -2110, -2120, -2130, -2140, -2150, -2160, -2170,
         -2180, -2190], dtype=np.int64)
    enc = rt(vals, signed=True)
    assert (enc[0] >> 6) == 2  # PATCHED_BASE chosen


def test_short_repeat_decode_given_bytes():
    # encoding_test.go:516-521
    dec = rlev2.decode(bytes([0x0A, 0x27, 0x10]), 5, signed=False)
    np.testing.assert_array_equal(dec, np.full(5, 10000, dtype=np.uint64))


def test_golden_vectors_on_the_numpy_path(monkeypatch):
    """The byte vectors above through the numpy reference codec: whenever
    the C kernels load, the tests above only ever run native."""
    monkeypatch.setattr(_native, "lib", lambda: None)
    for check in (test_delta_primes_bytes, test_direct_deadbeef_bytes,
                  test_patched_base_bytes, test_patched_base_negative_roundtrip,
                  test_short_repeat_decode_given_bytes):
        check()


def test_short_repeat_signed_roundtrip():
    enc = rt(np.full(10, -1), signed=True)
    assert (enc[0] >> 6) == 0  # wait: 10 repeats <= 10 -> SHORT_REPEAT


def test_zigzag_extremes():
    # encoding_test.go:550-563
    assert int(zigzag(np.array([-1]))[0]) == 1
    assert int(zigzag(np.array([1]))[0]) == 2
    assert int(zigzag(np.array([2147483647]))[0]) == 4294967294
    assert int(zigzag(np.array([-2147483648]))[0]) == 4294967295
    for v in [-1, 1, 2147483647, -2147483648, 0, 2**62, -(2**62)]:
        assert int(unzigzag(zigzag(np.array([v])))[0]) == v


# --- round-trips (encoding_test.go cases without published bytes) ----------

def test_delta_negatives():
    rt([-2, -3, -5, -7, -11, -13, -17, -19, -23, -29])


def test_fixed_delta_zero_13():
    enc = rt(np.full(13, -2), signed=True)
    assert (enc[0] >> 6) == 3  # DELTA (fixed, run > 10)


def test_long_ascending_crossing_512():
    rt(np.arange(1000, dtype=np.uint64), signed=False)
    rt(1000 - np.arange(1500, dtype=np.int64), signed=True)


def test_direct_misc():
    rt(np.array([999, 900203003, 688888888, 857340643], dtype=np.uint64), signed=False)
    rt(np.array([6, 7, 8], dtype=np.uint64), signed=False)
    rt(np.array([0x5FF], dtype=np.uint64), signed=False)
    rt(np.array([0b100_0000_0001, 0b100_0000_0011], dtype=np.uint64), signed=False)
    rt(np.array([1, 1, 2, 2, 2, 2, 2], dtype=np.int64))
    rt(np.array([6, 7, 8], dtype=np.int64))


def test_mixed_runs():
    rng = np.random.default_rng(42)
    v = np.concatenate([
        np.full(100, 7),
        rng.integers(-1000, 1000, 50),
        np.arange(200),
        np.full(5, -3),
        rng.integers(-(2**40), 2**40, 600),
        np.arange(3000, 0, -7),
    ]).astype(np.int64)
    rt(v)


def test_skewed_outliers_roundtrip():
    rng = np.random.default_rng(7)
    v = rng.integers(0, 100, 400).astype(np.int64)
    v[::37] = 10**12  # many outliers, gaps < 255
    rt(v)


def test_sparse_outlier_large_gap():
    v = np.zeros(512, dtype=np.int64) + np.arange(512) % 2 * 3  # non-monotonic
    v[500] = 10**9  # gap > 255 exercises (255, 0) chaining
    rt(v)


def test_empty_and_single():
    assert rlev2.encode(np.array([], dtype=np.int64)) == b""
    rt(np.array([42], dtype=np.int64))
    rt(np.array([-42, 17], dtype=np.int64))


def test_uint64_wide_values():
    v = np.array([0, 2**63 + 5, 1, 2**64 - 1, 2**64 - 1, 2**64 - 1, 7], dtype=np.uint64)
    rt(v, signed=False)


def test_hypothesis_style_random_roundtrips():
    rng = np.random.default_rng(123)
    for _ in range(20):
        n = int(rng.integers(1, 2000))
        kind = rng.integers(0, 4)
        if kind == 0:
            v = rng.integers(-(2**62), 2**62, n)
        elif kind == 1:
            v = np.cumsum(rng.integers(0, 10, n))
        elif kind == 2:
            v = np.repeat(rng.integers(-5, 5, max(n // 10, 1)), 10)[:n]
        else:
            v = rng.integers(-2, 3, n)
        rt(v.astype(np.int64))


# --- varints ----------------------------------------------------------------

def test_uvarint_roundtrip():
    v = np.array([0, 1, 127, 128, 300, 2**32, 2**63, 2**64 - 1], dtype=np.uint64)
    enc = encode_uvarints(v)
    dec, off = decode_uvarints(enc, len(v))
    np.testing.assert_array_equal(dec, v)
    assert off == len(enc)


def test_svarint_roundtrip():
    v = np.array([0, -1, 1, -(2**62), 2**62, 12345, -98765], dtype=np.int64)
    enc = encode_svarints(v)
    dec, off = decode_svarints(enc, len(v))
    np.testing.assert_array_equal(dec, v)
    assert off == len(enc)


# ---- round-2 chooser behaviors (format unchanged, segmentation smarter) ----


def test_outlier_split_keeps_conv_boundary_jumps_out_of_literals():
    """Sorted-by-key timestamps: ~8-bit in-run deltas with a huge jump at
    every run boundary must encode near the delta entropy, not at the
    jump's 32-bit width (the pre-split encoder emitted 28+ bits/value)."""
    rng = np.random.default_rng(11)
    runs = []
    t = 1_000_000_000
    for _ in range(200):
        t += int(rng.integers(1 << 24, 1 << 27))  # boundary jump, always up
        steps = rng.integers(1, 200, size=44)     # 44 small increments
        runs.append(t + np.cumsum(steps))
        t = int(runs[-1][-1])
    v = np.concatenate(runs)
    enc = rt(v)
    assert len(enc) * 8 / len(v) < 14  # ~10-bit deltas + headers + jumps


def test_literal_segment_bounded_by_next_run():
    """A ragged 3-value head must not force the whole block to wide
    literals when a long narrow monotone run follows."""
    head = np.array([500_000_000, 499_000_000, 499_500_000], dtype=np.int64)
    run = 499_500_000 + np.cumsum(np.random.default_rng(5).integers(
        1, 100, size=500))
    v = np.concatenate([head, run])
    enc = rt(v)
    # ~8 bits/value overall; unbounded wide literals were 4 B/value
    assert len(enc) * 8 / len(v) < 12


def test_narrow_blocks_not_fragmented():
    """Random 8-bit data (direct width == 8) must stay one DIRECT block per
    512 values — the literal bound must not split narrow blocks."""
    rng = np.random.default_rng(7)
    v = rng.integers(0, 120, size=2048).astype(np.int64)
    info = {}
    enc = rlev2.encode(v, signed=True, info=info)
    np.testing.assert_array_equal(rlev2.decode(enc, len(v), signed=True), v)
    assert sum(info.values()) <= 6  # ~4 blocks of 512 (+ rare head repeats)


def test_patched_base_wide_patch_entry_falls_back():
    """Regression: w90=1 with a ~2^57 outlier made pgw+pw exceed 64 bits and
    corrupted the patch blob; such blocks must fall back to DIRECT."""
    v = np.array([0, 0, 1 << 57, 1, 0, 2, 1, 0, 3, 1, 2, 0], dtype=np.int64)
    rt(v)
    rt(np.array([0, 0, 2_658_455_991_569_831_727 % (1 << 62)], dtype=np.int64))


def test_patched_base_unaligned_entry_width_cross_reader():
    """pgw+pw unaligned and >24 (here 2+32=34): the ORC spec packs patch
    entries at getClosestFixedBits(pgw+pw)=40 — the Java/C++ readers read
    that width. The Go reference writes/reads raw 34 bits (int.go:271,856);
    mirroring it made pyarrow silently drop the patch (decoded 0 instead of
    2^31). Hypothesis found the shape in round 6; spec behavior is pinned
    here both ways."""
    import io

    import pyarrow as pa
    import pyarrow.orc as po

    from goorc_spark import orc_native as on

    vals = [0, 0, 1, 2147483648, 0, 0, 0, 0, 0, 0]
    enc = rlev2.encode(np.array(vals, dtype=np.int64), signed=True)
    assert (enc[0] >> 6) == 2  # PATCHED_BASE chosen
    # entry packs at 40 bits: 0x03 40 00 00 00 (gap=3, patch=2^30)
    assert enc.endswith(bytes([0x03, 0x40, 0x00, 0x00, 0x00]))
    np.testing.assert_array_equal(rlev2.decode(enc, 10, signed=True),
                                  np.array(vals, dtype=np.int64))
    # pyarrow's C++ ORC reader must agree with our writer
    t = pa.table({"i": pa.array(vals, pa.int64())})
    data = on.write_orc(t, compression="none", stripe_rows=10)
    assert po.read_table(io.BytesIO(data))["i"].to_pylist() == vals
