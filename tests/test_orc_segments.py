"""write_orc's column-major stride walk: each column is encoded once per
stripe with the stripe's segment cuts, and every codec restarts at each
cut. File bytes must equal the per-segment writer's (sha256 pins taken
before the walk became column-major) at every pool width, on the shapes
where a per-column pass differs from a per-segment one:

- nulls in every flat kind (PRESENT cut at non-byte-aligned rows);
- a float column with NaN in one segment (that segment alone drops its
  min/max/sum);
- an int column whose sum overflows int64 in one segment only;
- a segment where every list row is empty (its child segment is empty);
- a segment that lacks one union tag;
- stride 333, so every stripe ends with a short segment;
- 50,000-row stripes with blooms on string, int, date, timestamp and
  decimal columns (bloom positions computed in blocks).
"""

from __future__ import annotations

import datetime
import hashlib
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest

from goorc_spark import _fanout
from goorc_spark import orc_native as on
from test_orc_union import _dense_union


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def _nulls(vals: list, every: int, phase: int = 0) -> list:
    return [None if (i + phase) % every == 0 else v
            for i, v in enumerate(vals)]


def _every_kind_table(n: int = 2000) -> pa.Table:
    """Every flat kind with nulls, plus the per-segment edge cases above,
    placed in the stride-333 segments of the first 1300-row stripe:
    NaN in segment 1 (rows 333-665), an int64 sum that overflows in
    segment 2 (rows 666-998), only empty lists in segment 3 (rows
    999-1299, the stripe's short last segment) and no union tag 1 in
    segment 0."""
    rng = np.random.default_rng(41)
    r = np.arange(n)
    f = rng.normal(size=n)
    f[400:420] = np.nan
    f[5] = -0.0
    f[6] = 0.0
    big = (r % 97 - 40).astype(np.int64)
    big[700:760] = (1 << 62) + r[700:760]
    lists = [[int(x) for x in rng.integers(-50, 50, i % 4 + 1)]
             for i in range(n)]
    for i in range(999, 1300):
        lists[i] = []
    tags = rng.integers(0, 3, n).astype(np.int8)
    tags[:333][tags[:333] == 1] = 2
    cnt = [int((tags == i).sum()) for i in range(3)]
    u = _dense_union(tags, [
        pa.array(_nulls(list(range(cnt[0])), 6), pa.int64()),
        pa.array(_nulls([f"u{k % 17}" for k in range(cnt[1])], 5)),
        pa.array(_nulls([bool(k % 3) for k in range(cnt[2])], 4))])
    day = datetime.date(2020, 1, 1)
    t0 = datetime.datetime(1969, 12, 30)
    return pa.table({
        "b": pa.array(_nulls([bool(i % 3) for i in r], 7)),
        "i8": pa.array(_nulls([int(i % 250 - 125) for i in r], 9),
                       pa.int8()),
        "i16": pa.array(_nulls([int(i * 31 % 60000 - 30000) for i in r], 5),
                        pa.int16()),
        "i32": pa.array(_nulls([int(i * 7919 - 9_000_000) for i in r], 4),
                        pa.int32()),
        "i64": pa.array(_nulls([int(i) ** 3 - 10 ** 9 for i in r], 3),
                        pa.int64()),
        "f32": pa.array(_nulls(f.astype(np.float32).tolist(), 8),
                        pa.float32()),
        "f64": pa.array(_nulls(f.tolist(), 11)),
        "s": pa.array(_nulls([f"k{i % 300:03d}" for i in r], 6)),
        "bin": pa.array(_nulls([bytes([i % 251, 7] * (i % 5)) for i in r],
                               10), pa.binary()),
        "d": pa.array(_nulls([day + datetime.timedelta(days=int(i) % 900)
                              for i in r], 12)),
        "ts": pa.array(_nulls([t0 + datetime.timedelta(
            seconds=int(i) * 97, microseconds=int(i) % 7 * 1000)
            for i in r], 13), pa.timestamp("us")),
        "dec": pa.array(_nulls([Decimal(int(i) * 7 - 500).scaleb(-2)
                                for i in r], 3), pa.decimal128(12, 2)),
        "dec38": pa.array(_nulls([Decimal(int(i) * 10 ** 20 + 3).scaleb(-5)
                                  for i in r], 5), pa.decimal128(30, 5)),
        "big": pa.array(_nulls(big.tolist(), 17, 1), pa.int64()),
        "lst": pa.array(_nulls(lists, 23, 2), pa.list_(pa.int32())),
        "u": u,
    })


# sha256 of write_orc(_every_kind_table(), compression, stripe_rows=1300,
# row_index_stride), recorded with the per-segment writer
EVERY_KIND_PINS = {
    ("zlib", 0):
        "951aa1b77ab08b83f38ef9da88d8f7f67eee4263329b716ae1438f26c7ae3491",
    ("zlib", 333):
        "e2440a732007172f887ce8b6980a5b484d132ffe4a458b1cbf1f184c23e8f515",
    ("none", 0):
        "1edd1384d4373c1b4daf6c13840d91d5dc426a38ecbd6042aacd68ec3170f517",
    ("none", 333):
        "57665ff059e93498383666472ea591fa08e8b33282f44c3f290d7306249bbafa",
}


def _bloom_table(n: int = 110_000) -> pa.Table:
    rng = np.random.default_rng(43)
    keys = rng.integers(0, 5000, n)
    return pa.table({
        "s": pa.array(_nulls([f"c{k:05d}" for k in keys.tolist()], 29)),
        "i": pa.array(_nulls((keys * 13 - 7000).tolist(), 31), pa.int64()),
        "d": pa.array(_nulls((keys % 3000).astype(np.int32).tolist(), 37),
                      pa.int32()).cast(pa.date32()),
        "ts": pa.array(_nulls(((keys - 2500) * 86_400_000_123).tolist(), 41),
                       pa.int64()).cast(pa.timestamp("us")),
        "dec": pa.array(_nulls([Decimal(int(k) - 2500).scaleb(-1)
                                for k in keys.tolist()], 43),
                        pa.decimal128(9, 1)),
        "v": pa.array(rng.normal(size=n)),
    })


BLOOM_KW = dict(stripe_rows=50_000, row_index_stride=1000,
                bloom_columns=("s", "i", "d", "ts", "dec"))
# sha256 of write_orc(_bloom_table(), compression, **BLOOM_KW), recorded
# with the per-segment writer
BLOOM_PINS = {
    "zlib": "f3ce634da3c360217ce9983c2f6b78ba7fa59c03d26ec0cf58c3ec5c0d970154",
    "none": "7c3cdc1589da331e086e022bf5f17be50fc1fcc5692d9af134392041d55c2857",
}


@pytest.mark.parametrize("width", [1, 4])
@pytest.mark.parametrize("comp,stride", sorted(EVERY_KIND_PINS))
def test_every_kind_bytes_pinned(monkeypatch, width, comp, stride):
    monkeypatch.setattr(_fanout, "pool_width", lambda: width)
    t = _every_kind_table()
    data = on.write_orc(t, compression=comp, stripe_rows=1300,
                        row_index_stride=stride)
    assert _sha(data) == EVERY_KIND_PINS[(comp, stride)]
    got = on.read_orc(data)
    flat = [c for c in t.column_names if c != "u"]  # NaN != NaN in Arrow
    assert got.select(flat).to_pandas().equals(t.select(flat).to_pandas())


@pytest.mark.parametrize("width", [1, 4])
@pytest.mark.parametrize("comp", sorted(BLOOM_PINS))
def test_bloom_stripes_bytes_pinned(monkeypatch, width, comp):
    monkeypatch.setattr(_fanout, "pool_width", lambda: width)
    t = _bloom_table()
    data = on.write_orc(t, compression=comp, **BLOOM_KW)
    assert _sha(data) == BLOOM_PINS[comp]


def test_bloom_blocks_do_not_change_bytes(monkeypatch):
    """Blocks of a few hundred hashes and of three segments' bitsets,
    cutting through segments, build the same filters."""
    monkeypatch.setattr(on, "_BLOOM_BLOCK_HASHES", 777)
    monkeypatch.setattr(on, "_BLOOM_BLOCK_BITS", 20_000)
    data = on.write_orc(_bloom_table(), compression="none", **BLOOM_KW)
    assert _sha(data) == BLOOM_PINS["none"]


def test_segment_blooms_match_build_bloom(monkeypatch):
    from goorc_spark.codecs import murmur3

    monkeypatch.setattr(on, "_BLOOM_BLOCK_HASHES", 50)
    rng = np.random.default_rng(9)
    hashes = rng.integers(0, 1 << 63, 1000, dtype=np.uint64)
    m_bits, k = murmur3.bloom_params(100, 0.05)
    for cuts in ([0, 1000], [0, 0, 10, 10, 400, 999, 1000],
                 list(range(0, 1001, 100))):
        cuts = np.array(cuts)
        got = on._segment_blooms(hashes, cuts, k, m_bits)
        for g, (a, b) in enumerate(zip(cuts[:-1], cuts[1:])):
            want = murmur3.build_bloom(hashes[a:b], k, m_bits)
            assert got[g].tobytes() == want.tobytes(), (cuts, g)


@pytest.mark.parametrize("width", [1, 4])
def test_nested_union_and_nullable_bloom_pins_at_every_pool_width(
        monkeypatch, width):
    from test_orc_bloom import NULLABLE_BLOOM_PINS, _nullable_bloom_table
    from test_orc_native import (NESTED_UNION_PINS, _deep_nulls_table,
                                 _pin_union_table)

    monkeypatch.setattr(_fanout, "pool_width", lambda: width)
    tables = {"nested": _deep_nulls_table(), "union": _pin_union_table()}
    for (name, comp, stride), want in NESTED_UNION_PINS.items():
        data = on.write_orc(tables[name], compression=comp, stripe_rows=1000,
                            row_index_stride=stride)
        assert _sha(data) == want, (name, comp, stride)
    t = _nullable_bloom_table()
    for comp, want in NULLABLE_BLOOM_PINS.items():
        data = on.write_orc(t, compression=comp, stripe_rows=1300,
                            row_index_stride=333,
                            bloom_columns=t.column_names)
        assert _sha(data) == want, comp
