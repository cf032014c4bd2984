"""Byte-RLE / bool-RLE / nano-packing / float vectors.

Ports of the reference's published unit vectors
(/root/reference/orc/encoding/encoding_test.go:16-216, 576-693).
"""

import numpy as np

from goorc_spark.codecs import boolrle, byterle, floats, timestamps


def brt(values):
    v = np.asarray(values, dtype=np.uint8)
    enc = byterle.encode(v)
    np.testing.assert_array_equal(byterle.decode(enc, len(v)), v)
    return enc


# --- byte RLE (encoding_test.go:16-177) -------------------------------------

def test_byte_rle_run_decode():
    dec = byterle.decode(bytes([0x61, 0x00]), 100)
    np.testing.assert_array_equal(dec, np.zeros(100, dtype=np.uint8))


def test_byte_rle_literals_decode():
    dec = byterle.decode(bytes([0xFE, 0x44, 0x45]), 2)
    np.testing.assert_array_equal(dec, np.array([0x44, 0x45], dtype=np.uint8))


def test_byte_rle_encode_run_bytes():
    assert brt([0, 0, 0] + [0] * 97) == bytes([0x61, 0x00])


def test_byte_rle_encode_literal_bytes():
    assert brt([0x44, 0x45]) == bytes([0xFE, 0x44, 0x45])


def test_byte_rle_mixed_cases():
    brt([5, 5, 5, 5])
    brt([1, 5, 5, 5, 5])
    brt([1, 5, 5, 5, 5, 1])
    brt([1, 2, 3, 4, 5, 5, 5, 5, 6, 7, 8, 8, 8, 9, 16])
    brt([1] * 131 + [2, 3])
    brt(np.arange(151) % 256)
    brt(np.arange(256))
    brt(np.full(1000, 9))
    rng = np.random.default_rng(3)
    brt(rng.integers(0, 256, 5000))
    brt(rng.integers(0, 2, 5000) * 255)  # long-ish alternating runs


def test_byte_rle_empty():
    assert byterle.encode(np.array([], dtype=np.uint8)) == b""


# --- bool RLE (encoding_test.go:586-693) ------------------------------------

def test_bool_rle_basic_bytes():
    bits = np.array([True] + [False] * 7)
    enc = boolrle.encode(bits)
    assert enc == bytes([0xFF, 0x80])
    np.testing.assert_array_equal(boolrle.decode(enc, 8), bits)


def test_bool_rle_sparse():
    for true_at in [{0}, {0, 44, 99}]:
        bits = np.zeros(100, dtype=bool)
        for i in true_at:
            bits[i] = True
        enc = boolrle.encode(bits)
        np.testing.assert_array_equal(boolrle.decode(enc, 100), bits)
    for false_at in [{0, 45, 98}]:
        bits = np.ones(100, dtype=bool)
        for i in false_at:
            bits[i] = False
        enc = boolrle.encode(bits)
        np.testing.assert_array_equal(boolrle.decode(enc, 100), bits)


def test_bool_rle_non_multiple_of_8():
    rng = np.random.default_rng(11)
    for n in [1, 7, 9, 100, 1001]:
        bits = rng.integers(0, 2, n).astype(bool)
        np.testing.assert_array_equal(boolrle.decode(boolrle.encode(bits), n), bits)


# --- nano packing (encoding_test.go:576-584) --------------------------------

def test_nano_packing_given_values():
    packed = timestamps.pack_nanos(np.array([1000, 100000], dtype=np.uint64))
    assert int(packed[0]) == 0x0A
    assert int(packed[1]) == 0x0C


def test_nano_packing_roundtrip():
    vals = np.array(
        [0, 1, 10, 100, 1000, 123456789, 999999999, 500000000, 800000,
         7, 70, 700000000], dtype=np.uint64)
    np.testing.assert_array_equal(
        timestamps.unpack_nanos(timestamps.pack_nanos(vals)), vals)


def test_nano_unpack_matches_power_formula():
    """The power-of-ten table decodes every 3-bit code exactly as the
    spec formula base * 10**(z + 1) (z > 0) does."""
    rng = np.random.default_rng(3)
    vals = np.concatenate([
        np.array([0, 999_999_999, 1, 10, 100, 100_000_000], np.uint64),
        rng.integers(0, 10**9, 4000).astype(np.uint64),
        rng.integers(0, 10**9 // 10**8, 100).astype(np.uint64) * 10**8])
    for z in range(2, 9):   # every stripped-zeros count, code z - 1
        vals = np.concatenate([vals, (vals[:500] // 10**z) * 10**z])
    packed = timestamps.pack_nanos(vals)
    assert set((packed & np.uint64(7)).tolist()) == set(range(8))
    base, z = packed >> np.uint64(3), packed & np.uint64(7)
    want = np.array([int(b) * (10 ** (int(c) + 1) if c else 1)
                     for b, c in zip(base, z)], dtype=np.uint64)
    np.testing.assert_array_equal(timestamps.unpack_nanos(packed), want)
    np.testing.assert_array_equal(want, vals)


def test_timestamp_micros_split_roundtrip():
    us = np.array([
        0,                      # 1970 (pre-2015 epoch: negative seconds)
        1420070400_000000,      # exactly 2015-01-01
        1719999999_123456,
        -62135596800_000000 // 1000,   # far past
        1234567890_654321,
    ], dtype=np.int64)
    sec, nanos = timestamps.micros_to_sec_nanos(us)
    assert (nanos < 1_000_000_000).all()
    back = timestamps.sec_nanos_to_micros(sec, nanos)
    np.testing.assert_array_equal(back, us)


# --- floats (encoding_test.go:196-216) ---------------------------------------

def test_double_roundtrip():
    v = np.array([0.0001, 125.001, 1343822337.759, 0.8], dtype=np.float64)
    np.testing.assert_array_equal(floats.decode_f64(floats.encode_f64(v), 4), v)
    # little-endian layout check
    assert floats.encode_f64(np.array([0.8]))[0:2] == np.float64(0.8).tobytes()[0:2]


def test_float_roundtrip():
    v = np.array([1.5, -0.25, 3.14159, 1e30], dtype=np.float32)
    np.testing.assert_array_equal(floats.decode_f32(floats.encode_f32(v), 4), v)
