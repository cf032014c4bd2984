"""Native (C) codec fast paths must be byte-identical to the numpy
reference implementations — fsst.compress and rlev2.encode dispatch to
goorc_spark.codecs._native when a C compiler is available and fall back to
numpy otherwise, so these A/B tests ARE the correctness contract for the
fast path (plus: every ported goorc byte vector in test_rlev2.py already
runs through the native path when it is available)."""

from __future__ import annotations

import contextlib
import random
import time

import numpy as np
import pytest

from goorc_spark import transcripts
from goorc_spark.codecs import _native, byterle, fsst, rlev2

pytestmark = pytest.mark.skipif(
    _native.lib() is None, reason="no C compiler / native lib unavailable")


@contextlib.contextmanager
def numpy_only():
    """Force the numpy path regardless of native availability."""
    old = _native._lib_cache[:]
    _native._lib_cache.clear()
    _native._lib_cache.append(None)
    try:
        yield
    finally:
        _native._lib_cache.clear()
        _native._lib_cache.extend(old)


def _fsst_cases():
    rng = random.Random(42)
    text = (b"user: how do I sort a list in python?\n"
            b"assistant: use sorted(xs) or xs.sort(); sorted returns a new "
            b"list while .sort() is in-place.\n") * 400
    cases = [
        b"", b"a", b"ab", text, text[:97],
        b"aaaaaaaa" * 500, b"abcabcabc" * 2000,
        bytes([255]) * 64, bytes([255, 97]) * 300,
        bytes(rng.randrange(256) for _ in range(4096)),
    ]
    for _ in range(25):
        m = rng.randrange(1, 1500)
        base = bytes(rng.choice(b"abcde \xff") for _ in range(m))
        cases.append(base * rng.randrange(1, 4))
    return cases


def _fsst_table_cases():
    """(stream, symbol table) pairs at the native matcher's edges: stream
    lengths around its 64-position words, matches crossing a word, hand-
    built tables (one class of 200 symbols, whose probes collide; duplicate
    symbols; single bytes only; symbols longer than the stream) and the
    transcripts text under a table trained on another row group."""
    rng = random.Random(7)
    text = _fsst_cases()[3]
    trained = fsst.train(text)
    for n in [*range(1, 10), 63, 64, 65, 127, 128, 129]:
        for start in (0, 5, 61):
            yield text[start:start + n], trained
    # symbols of every length class at every offset of a word
    syms = [s for s in trained if len(s) > 1]
    for _ in range(40):
        out = bytearray(rng.randrange(70))
        while len(out) < 700:
            out += rng.choice(syms) if rng.random() < 0.8 else b"~"
        yield bytes(out), trained
    # 200 four-byte symbols in one class, then duplicates, then singles
    alpha = b"abcdefgh"
    dense = sorted({bytes(rng.choice(alpha) for _ in range(4))
                    for _ in range(400)})[:200]
    assert len(dense) == 200
    blob = b"".join(rng.choice(dense) + alpha[:rng.randrange(3)]
                    for _ in range(900))
    yield blob, dense + [b"a", b"b"]
    dup = [b"abcdefgh", b"abcd", b"abcdefgh", b"abcd", b"ab", b"ab",
           b"cde", b"a", b"a", b"cde"]
    for data in (b"abcdefghabcdab" * 50, b"xabcdefgh", b"cdeab" * 30):
        yield data, dup
    singles = [bytes([b]) for b in range(0, 256, 3)]
    yield bytes(range(256)) * 4, singles
    long_only = [b"abcdefgh", b"bcdefg", b"cdefgh", b"a"]
    for n in range(1, 8):
        yield b"abcdefgh"[:n], long_only
        yield b"abcdefgh"[:n], [b"abcdefgh"]
    # symbols ending in zero bytes, which the stream's zero padding would
    # complete past its end
    nul = [b"ab\0\0", b"cd\0\0\0\0\0\0", b"ef\0", b"e"]
    for n in (60, 61, 62, 63, 64, 125, 126, 127):
        for tail in (b"ab", b"cd", b"cd\0\0", b"ef", b"ab\0"):
            yield b"e" * (n - len(tail)) + tail, nul
    # the codec-cache case: one table over the text of later row groups
    texts = transcripts.synthesize_pandas(n_convs=3000, seed=1)["text"]
    groups = ["".join(t for t in texts[g * 10000:(g + 1) * 10000] if t)
              .encode() for g in range(10)]
    bench_table = fsst.train(groups[0])
    for g in groups[1:]:
        yield g, bench_table


def _crosses_word(data: bytes, ct) -> bool:
    """Does the reference matcher accept a match that spans two 64-byte
    words of the stream?"""
    arr = np.frombuffer(data, dtype=np.uint8)
    n = len(arr)
    if not ct.has_multi or n < 2:
        return False
    taken = np.zeros(n, dtype=bool)
    code_at = np.full(n, -1, dtype=np.int16)
    ct.match_all(fsst._rolling_keys4(arr), n, taken, code_at)
    starts = np.flatnonzero(code_at >= 0)
    lens = np.array([len(s) for s in ct.table])[code_at[starts]]
    return bool((starts % 64 + lens > 64).any())


def test_fsst_native_matches_numpy_bytes():
    cases = [(data, fsst.train(data)) for data in _fsst_cases()]
    cases += _fsst_table_cases()
    crossed = 0
    for i, (data, table) in enumerate(cases):
        ct = fsst.compile_table(table)
        a = fsst.compress(data, ct)
        with numpy_only():
            b = fsst.compress(data, ct)
        assert a == b, f"fsst case {i}: native != numpy"
        assert fsst.decompress(a) == data, f"fsst case {i}: roundtrip"
        crossed += _crosses_word(data, ct)
    assert crossed >= 10


def _rlev2_cases():
    rng = random.Random(1234)
    cases = [
        ([], True), ([], False), ([7], True),
        ([10000] * 5, True), (list(range(100)), True),
        ([2, 3, 5, 7, 11, 13, 17, 19, 23, 29], True),
        ([23713, 57005, 43806, 48879], True),
        ([-2**63, 2**63 - 1, 0, -1, 1], True),
        ([2**64 - 1, 2**63, 2**62, 0], False),
        ([0] * 512 + [1] * 512, True),
        ([-2**63] * 4, True), ([2**63 - 1] * 700, True),
    ]
    # monotone runs with rare huge jumps (width-outlier split shapes)
    for _ in range(12):
        n = rng.randrange(2, 1200)
        vals = [rng.randrange(-10**12, 10**12)]
        for _ in range(n - 1):
            step = (rng.randrange(10**6, 10**9)
                    if rng.random() < 0.05 else rng.randrange(0, 50))
            vals.append(vals[-1] + step)
        cases.append((vals, True))
    # sorted-key wiggles at group boundaries
    for _ in range(12):
        n = rng.randrange(2, 600)
        vals, cur = [], rng.randrange(0, 10**9)
        while len(vals) < n:
            d = rng.choice([1, 2, 3, -1, 1000, 0])
            for _ in range(rng.randrange(1, 40)):
                vals.append(cur)
                cur += d
            cur += rng.choice([-10**7, 10**7, 5, -5])
        cases.append((vals[:n], True))
    # skewed (patched-base shapes)
    for _ in range(12):
        n = rng.randrange(13, 512)
        vals = [rng.randrange(0, 255) for _ in range(n)]
        for _ in range(rng.randrange(1, 6)):
            vals[rng.randrange(n)] = rng.randrange(2**20, 2**40)
        cases.append((vals, True))
    # random widths, signed and unsigned (incl. >2^62 unsigned)
    for _ in range(16):
        n = rng.randrange(1, 1500)
        w = rng.choice([1, 2, 4, 8, 16, 32, 53, 63, 64])
        vals = [rng.randrange(0, 2**w) for _ in range(n)]
        cases.append((vals, False))
        cases.append(([v - 2**(w - 1) for v in vals], True))
    # conversation-boundary sorted keys: short var-delta runs between jumps
    np_rng = np.random.default_rng(5)
    parts = []
    for _ in range(60):
        start = int(np_rng.integers(1_300_000_000, 1_750_000_000))
        steps = np_rng.integers(1, 240, int(np_rng.integers(1, 70)))
        parts.append(start + np.concatenate(([0], np.cumsum(steps))))
    cases.append((np.concatenate(parts).tolist(), True))
    # segments of <= 12 values, negatives and int64 extremes included
    for vals in ([3, 1], [5, -5, 7], [0, 0, 0, 9, -(2 ** 62)],
                 [2 ** 62, 1, 2, 3], [-1], list(range(12, 0, -1))):
        cases.append((vals, True))
    # a 10-value patched-base block
    cases.append(([7, 9, 8, 6, 7, 9, 1 << 40, 8, 6, 7], True))
    # unsigned values above 2^62
    huge = np_rng.integers(0, 1 << 63, 300, dtype=np.uint64) * 2 + (1 << 62)
    cases.append((huge.tolist(), False))
    # repeat mixtures (short-repeat / fixed-delta shapes)
    for _ in range(10):
        vals = []
        for _ in range(rng.randrange(1, 30)):
            vals += [rng.randrange(-10**6, 10**6)] * rng.randrange(1, 15)
        cases.append((vals, True))
    return cases


def test_rlev2_native_matches_numpy_bytes_and_info():
    for i, (vals, signed) in enumerate(_rlev2_cases()):
        ia: dict = {}
        ib: dict = {}
        a = rlev2.encode(vals, signed, ia)
        with numpy_only():
            b = rlev2.encode(vals, signed, ib)
        assert a == b, f"rlev2 case {i} (signed={signed}): native != numpy"
        assert ia == ib, f"rlev2 case {i}: info counts differ"
        if vals:
            dec = rlev2.decode(a, len(vals), signed)
            ref = np.asarray(vals, dtype=np.int64 if signed else np.uint64)
            assert (dec == ref).all(), f"rlev2 case {i}: decode"


def test_rlev2_segments_native_matches_numpy():
    """One native call per stream equals rlev2.encode restarted at every
    cut, on the same shapes, with empty segments and a single segment."""
    rng = random.Random(17)
    for i, (vals, signed) in enumerate(_rlev2_cases()):
        n = len(vals)
        inner = sorted(rng.randrange(n + 1) for _ in range(rng.randrange(6)))
        for cuts in ([0, n], [0, *inner, n], [0, 0, *sorted(inner * 2), n, n]):
            v = np.asarray(vals, dtype=np.int64 if signed else np.uint64)
            want = [rlev2.encode(v[a:b], signed)
                    for a, b in zip(cuts[:-1], cuts[1:])]
            assert rlev2.encode_segments(vals, cuts, signed) == want, i
            with numpy_only():
                assert rlev2.encode_segments(vals, cuts, signed) == want, i


def test_rlev2_segments_refuse_bad_cuts():
    v = np.arange(10)
    for cuts in ([], [-1, 10], [0, 11], [0, 6, 5, 10]):
        with pytest.raises(ValueError, match="cuts"):
            rlev2.encode_segments(v, cuts)
        with numpy_only(), pytest.raises(ValueError, match="cuts"):
            rlev2.encode_segments(v, cuts)


def test_fsst_numpy_path_linear_on_periodic_text():
    """Periodic text makes one chain of overlapping matches across the
    whole stream; the numpy path must resolve it in linear time (it once
    took ~12 s at 78 KB) and still emit the native bytes."""
    data = b"the quick brown fox jumps over the lazy dog; " * 5400
    ct = fsst.compile_table(fsst.train(data))
    want = fsst.compress(data, ct)
    with numpy_only():
        t0 = time.perf_counter()
        got = fsst.compress(data, ct)
        took = time.perf_counter() - t0
    assert got == want
    assert took < 5.0, took


def test_numpy_fallback_still_works():
    """GOORC_NATIVE=0-equivalent: the numpy path must stay functional."""
    data = b"fallback check " * 100
    with numpy_only():
        blob = fsst.compress(data)
        assert fsst.decompress(blob) == data
        enc = rlev2.encode([1, 2, 3, 4, 5, 100, 7], True)
        assert (rlev2.decode(enc, 7, True)
                == np.array([1, 2, 3, 4, 5, 100, 7])).all()


def test_rlev2_native_decode_matches_numpy():
    rng = random.Random(31)
    for i in range(40):
        n = rng.randrange(1, 2000)
        style = i % 4
        if style == 0:
            vals = [rng.randrange(-2**63, 2**63) for _ in range(n)]
        elif style == 1:
            vals = sorted(rng.randrange(0, 10**9) for _ in range(n))
        elif style == 2:
            vals = [rng.randrange(0, 256) for _ in range(n)]
            for _ in range(min(5, n)):
                vals[rng.randrange(n)] = rng.randrange(2**20, 2**45)
        else:
            vals = [rng.randrange(0, 2**64) for _ in range(n)]
        signed = style != 3
        enc = rlev2.encode(vals, signed)
        a = rlev2.decode(enc, n, signed)
        with numpy_only():
            b = rlev2.decode(enc, n, signed)
        assert (a == b).all(), f"decode case {i}"
        k = rng.randrange(1, n + 1)
        pa_ = rlev2.decode_prefix(enc, k, signed)
        with numpy_only():
            pb_ = rlev2.decode_prefix(enc, k, signed)
        assert (pa_ == pb_).all(), f"decode_prefix case {i}"


def test_rlev2_native_decode_truncated_falls_back_to_error():
    enc = rlev2.encode(list(range(100)), True)
    with pytest.raises(Exception):
        rlev2.decode(enc[:-3], 100, True)


def test_fsst_native_decompress_matches_numpy():
    rng = random.Random(8)
    cases = [b"", b"a", b"\xff" * 99, b"abcabc" * 3000]
    for _ in range(20):
        m = rng.randrange(1, 2000)
        cases.append(bytes(rng.choice(b"abcde \xff") for _ in range(m)))
    for i, data in enumerate(cases):
        blob = fsst.compress(data)
        a = fsst.decompress(blob)
        with numpy_only():
            b = fsst.decompress(blob)
        assert a == b == data, f"fsst decompress case {i}"


def _byte_runs(rng: random.Random) -> bytes:
    """Runs of 1-300 equal bytes and literal stretches, mixed."""
    out = bytearray()
    for _ in range(rng.randrange(1, 40)):
        if rng.random() < 0.5:
            out += bytes([rng.randrange(4)]) * rng.randrange(1, 300)
        else:
            out += bytes(rng.randrange(256) for _ in range(rng.randrange(1, 300)))
    return bytes(out)


def _runs_or_error(data, count: int, slack: int):
    try:
        out, got = byterle._decode_runs(data, count, slack)
    except ValueError as e:
        return type(e)
    return out[:min(got, count + slack)].tobytes(), got


def test_byterle_native_matches_numpy():
    rng = random.Random(17)
    cases = [b"", b"\x00", b"ab", b"aaa", b"a" * 130, b"a" * 131,
             b"a" * 132, b"a" * 133, b"a" * 260, bytes(range(256)) * 3,
             b"ab" * 200 + b"c" * 3 + b"d" * 2]
    cases += [_byte_runs(rng) for _ in range(150)]
    for i, raw in enumerate(cases):
        vals = np.frombuffer(raw, dtype=np.uint8)
        enc = byterle.encode(vals)
        with numpy_only():
            assert byterle.encode(vals) == enc, f"encode case {i}"
        assert byterle.decode(enc, len(vals)).tobytes() == raw
        # whole and prefix decodes, windows cut anywhere, short and long
        # counts: (values, count) or the error must match numpy's
        for count, cut in ((len(vals), len(enc)),
                           (rng.randrange(len(vals) + 2), len(enc)),
                           (rng.randrange(len(vals) + 2),
                            rng.randrange(len(enc) + 1))):
            for slack in (0, byterle.MAX_REPEAT + 1):
                a = _runs_or_error(enc[:cut], count, slack)
                with numpy_only():
                    b = _runs_or_error(enc[:cut], count, slack)
                assert a == b, f"decode case {i} {count} {cut} {slack}"


def test_fsst_symbol_matrix_built_once_per_table():
    data = b"the quick brown fox jumps over the lazy dog; " * 300
    blob = fsst.compress(data)
    fsst._symbol_matrix.cache_clear()
    for _ in range(3):
        assert fsst.decompress(blob) == data
    info = fsst._symbol_matrix.cache_info()
    assert (info.misses, info.hits) == (1, 2)
    nsym = blob[0]
    lens = list(blob[1:1 + nsym])
    pad, lens8 = fsst._symbol_matrix(bytes(blob[:1 + nsym + sum(lens)]))
    pos = 1 + nsym
    for c, ln in enumerate(lens):
        assert pad[c].tobytes() == blob[pos:pos + ln] + bytes(8 - ln)
        pos += ln
    assert lens8.tolist() == lens + [0] * (256 - nsym)
    assert not pad.flags.writeable
