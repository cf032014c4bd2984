"""ORC bloom-filter index: hash pinning against BOTH reference writers,
native write/read with row-group pruning, and cross-engine interop.

The BLOOM_FILTER_UTF8 hash conventions have no byte-level spec text to
port, so the authoritative fixture is a file WRITTEN by each reference
implementation (ORC C++ via pyarrow here; ORC Java via Spark in the
`spark`-marked test): every inserted value must test positive against the
stored bitset under our hash, and absent values must false-positive at
roughly the configured fpp. The reference repo has no bloom filters at
all (grep /root/reference/orc: zero hits) — this feature exceeds it.
"""

import datetime
import io

import numpy as np
import pyarrow as pa
import pyarrow.orc as po
import pytest

from goorc_spark import orc_native as on
from goorc_spark.codecs import murmur3 as mm


# ------------------------------------------------------------ hash kernels

def test_hash64_vectorized_matches_scalar():
    rng = np.random.default_rng(7)
    vals = [bytes(rng.integers(0, 256, size=int(ln)).astype(np.uint8))
            for ln in rng.integers(0, 40, size=400)]
    vals += [b"", b"x", b"12345678", b"123456789"]  # block boundaries
    vec = mm.hash64_many(vals)
    ref = np.array([mm.hash64(v) for v in vals], dtype=np.uint64)
    assert (vec == ref).all()


def test_long_hash_vectorized_matches_scalar():
    rng = np.random.default_rng(11)
    ks = rng.integers(-2 ** 62, 2 ** 62, size=500, dtype=np.int64)
    ks[:4] = [0, -1, 1, -(2 ** 62)]
    vec = mm.long_hash_many(ks)
    ref = np.array([mm.long_hash(int(k)) for k in ks], dtype=np.uint64)
    assert (vec == ref).all()


def test_positions_vectorized_matches_scalar():
    rng = np.random.default_rng(13)
    hs = rng.integers(0, 2 ** 63, size=200, dtype=np.uint64) * np.uint64(2)
    m, k = mm.bloom_params(1000, 0.05)
    vec = mm.positions_many(hs, k, m)
    ref = np.array([mm.positions(int(h), k, m) for h in hs])
    assert (vec == ref).all()


def test_hash64_arrow_offsets_and_large_types():
    vals = [f"conv_{i}".encode() for i in range(300)]
    ref = np.array([mm.hash64(v) for v in vals], dtype=np.uint64)
    arr = pa.array(vals, type=pa.binary())
    assert (mm.hash64_arrow(arr.slice(50, 100)) == ref[50:150]).all()
    assert (mm.hash64_arrow(pa.array(vals, type=pa.large_binary()))
            == ref).all()


# ------------------------------ pinning vs the ORC C++ writer (pyarrow)

@pytest.fixture(scope="module")
def cpp_bloom_file():
    n = 3000
    t = pa.table({
        "k": pa.array([f"key_{i:05d}" for i in range(n)]),
        "v": pa.array(list(range(-1000, n - 1000)), type=pa.int64()),
    })
    buf = io.BytesIO()
    po.write_table(t, buf, stripe_size=1 << 20, row_index_stride=1000,
                   compression="uncompressed",
                   bloom_filter_columns=[1, 2], bloom_filter_fpp=0.05)
    return buf.getvalue()


def _first_stripe_blooms(data, col_id):
    ps, footer = on.parse_tail(data)
    st = footer["stripes"][0]
    foot_off = st["offset"] + st["index_length"] + st["data_length"]
    sf = on.parse_stripe_footer(on._decompress(
        data[foot_off:foot_off + st["footer_length"]], ps["compression"]))
    off = st["offset"]
    for s in sf["streams"]:
        if s["kind"] == on.BLOOM_FILTER_UTF8 and s["column"] == col_id:
            return on._BloomIndex(on._decompress(
                data[off:off + s["length"]], ps["compression"]))
        off += s["length"]
    raise AssertionError(f"no bloom stream for column {col_id}")


def test_cpp_string_bloom_pins_hash64(cpp_bloom_file):
    k, words = _first_stripe_blooms(cpp_bloom_file, 1)[0]
    present = [f"key_{i:05d}".encode() for i in range(1000)]  # group 0
    assert all(mm.might_contain(words, k, mm.hash64(v)) for v in present)
    absent = [f"zzz_{i}".encode() for i in range(1000)]
    fp = sum(mm.might_contain(words, k, mm.hash64(v)) for v in absent)
    assert fp < 150  # 3x the configured 5% fpp


def test_cpp_long_bloom_pins_signed_wang(cpp_bloom_file):
    # group 0 holds -1000..-1: every value crosses the signed/unsigned
    # divergence (and a later group holds 0) — the signed variant is the
    # writers' variant, pinned here
    k, words = _first_stripe_blooms(cpp_bloom_file, 2)[0]
    present = list(range(-1000, 0))
    assert all(mm.might_contain(words, k, mm.long_hash(v))
               for v in present)
    k1, words1 = _first_stripe_blooms(cpp_bloom_file, 2)[1]
    assert mm.might_contain(words1, k1, mm.long_hash(0))
    absent = list(range(10 ** 9, 10 ** 9 + 1000))
    fp = sum(mm.might_contain(words, k, mm.long_hash(v)) for v in absent)
    assert fp < 150


def test_read_orc_eq_on_cpp_file(cpp_bloom_file):
    met = {}
    t = on.read_orc_eq(cpp_bloom_file, "k", "key_01500", metrics=met)
    assert t.to_pydict() == {"k": ["key_01500"], "v": [500]}
    assert met["groups_decoded"] == 1 and met["groups_total"] == 3
    assert on.read_orc_eq(cpp_bloom_file, "k", "absent").num_rows == 0
    assert on.read_orc_eq(cpp_bloom_file, "v", -1000).num_rows == 1


# --------------------------------------------- native write + prune + read

@pytest.fixture(scope="module")
def native_bloom_file():
    n = 6000
    t = pa.table({
        "k": pa.array([f"conv_{i:06d}" for i in range(n)]),
        "v": pa.array(list(range(-2000, n - 2000)), type=pa.int64()),
        "d": pa.array([datetime.date(2020, 1, 1)
                       + datetime.timedelta(days=i % 400)
                       for i in range(n)]),
    })
    return t, on.write_orc(t, compression="zlib", stripe_rows=3000,
                           row_index_stride=1000,
                           bloom_columns=("k", "v", "d"))


def test_native_bloom_roundtrip_and_interop(native_bloom_file):
    t, data = native_bloom_file
    assert on.read_orc(data).equals(t)               # self
    assert po.ORCFile(io.BytesIO(data)).read().num_rows == t.num_rows  # C++


def test_native_bloom_eq_prunes_groups(native_bloom_file):
    t, data = native_bloom_file
    met = {}
    r = on.read_orc_eq(data, "k", "conv_000042", metrics=met)
    assert r.to_pydict()["v"] == [-1958]
    # stripe stats prune the 2nd stripe entirely, so only the 1st
    # stripe's 3 groups are probed and exactly one decodes
    assert met["groups_total"] == 3 and met["groups_decoded"] == 1
    # decompressed bytes ≪ whole-file decode
    full = {}
    on.read_orc(data)
    assert met["decompressed_bytes"] < len(data)
    # absent value never decodes a data group (stripe stats can't prune a
    # value inside the range, so this is the bloom doing the work)
    met2 = {}
    r2 = on.read_orc_eq(data, "k", "conv_003000x", metrics=met2)
    assert r2.num_rows == 0 and met2.get("groups_decoded", 0) == 0


def test_native_bloom_eq_long_and_date(native_bloom_file):
    t, data = native_bloom_file
    assert on.read_orc_eq(data, "v", -2000).num_rows == 1
    assert on.read_orc_eq(data, "v", 999999).num_rows == 0
    d = datetime.date(2020, 2, 1)
    want = sum(1 for i in range(6000)
               if datetime.date(2020, 1, 1)
               + datetime.timedelta(days=i % 400) == d)
    assert on.read_orc_eq(data, "d", d).num_rows == want


def test_native_bloom_eq_column_projection(native_bloom_file):
    t, data = native_bloom_file
    r = on.read_orc_eq(data, "k", "conv_000100", columns=["v"])
    assert r.column_names == ["v"] and r.to_pydict()["v"] == [-1900]


def test_bloom_validation_errors():
    t = pa.table({"k": pa.array(["a"]), "f": pa.array([1.5])})
    with pytest.raises(ValueError, match="row_index_stride"):
        on.write_orc(t, bloom_columns=("k",))
    with pytest.raises(KeyError):
        on.write_orc(t, row_index_stride=1000, bloom_columns=("nope",))
    with pytest.raises(NotImplementedError, match="no pinned writer hash"):
        on.write_orc(t, row_index_stride=1000, bloom_columns=("f",))
    with pytest.raises(NotImplementedError):
        on.read_orc_eq(on.write_orc(t), "f", 1.5)


# ------------------------------------------------- JVM writer + spark path

def test_jvm_bloom_pins_both_hashes(spark, tmp_path):
    import glob
    vals = sorted(set(range(-2000, 10000, 10)) | {0})
    rows = [(f"key_{i:05d}", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, v long").coalesce(1)
    out = str(tmp_path / "jvm_bloom")
    (df.write.mode("overwrite").format("orc")
       .option("orc.bloom.filter.columns", "k,v")
       .option("orc.bloom.filter.fpp", "0.05")
       .option("orc.row.index.stride", "10000")
       .option("orc.compress", "ZLIB").save(out))
    data = open(glob.glob(out + "/*.orc")[0], "rb").read()
    ks, wk = _first_stripe_blooms(data, 1)[0]
    assert all(mm.might_contain(wk, ks, mm.hash64(f"key_{i:05d}".encode()))
               for i in range(len(vals)))
    kv, wv = _first_stripe_blooms(data, 2)[0]
    assert all(mm.might_contain(wv, kv, mm.long_hash(v)) for v in vals)
    # 0 and negatives are exactly where the unsigned misreading fails
    met = {}
    assert on.read_orc_eq(data, "v", 0, metrics=met).num_rows == 1
    assert on.read_orc_eq(data, "v", -2000).num_rows == 1
    assert on.read_orc_eq(data, "k", "absent").num_rows == 0


def test_spark_reads_native_bloom_file(spark, tmp_path, native_bloom_file):
    t, data = native_bloom_file
    d = tmp_path / "nb"
    d.mkdir()
    (d / "f.orc").write_bytes(data)
    df = spark.read.orc(str(d))
    assert df.count() == t.num_rows
    got = df.filter("k = 'conv_000042'").collect()
    assert len(got) == 1 and got[0].v == -1958


def test_read_orc_stripes_bloom_eq(spark, tmp_path):
    n = 8000
    t = pa.table({
        "k": pa.array([f"conv_{i:06d}" for i in range(n)]),
        "v": pa.array(range(n), type=pa.int64()),
    })
    d = tmp_path / "stripes"
    d.mkdir()
    for part in range(2):
        sub = t.slice(part * 4000, 4000)
        (d / f"p{part}.orc").write_bytes(on.write_orc(
            sub, compression="zlib", stripe_rows=2000,
            row_index_stride=1000, bloom_columns=("k",)))
    df = on.read_orc_stripes(spark, str(d / "*.orc"),
                             predicate={"k": ("conv_005432",
                                              "conv_005432")})
    rows = df.filter(df.k == "conv_005432").collect()
    assert len(rows) == 1 and rows[0].v == 5432
    absent = on.read_orc_stripes(spark, str(d / "*.orc"),
                                 predicate={"k": ("zzz", "zzz")})
    assert absent.count() == 0


# ------------------------------------- timestamp / decimal hash domains

def _ts_floor_ms(v: datetime.datetime) -> int:
    d = v - datetime.datetime(1970, 1, 1)
    return d.days * 86_400_000 + d.seconds * 1000 + d.microseconds // 1000


def test_cpp_timestamp_decimal_bloom_pins():
    from decimal import Decimal
    ts = [datetime.datetime(2024, 1, 1)
          + datetime.timedelta(seconds=i * 37,
                               microseconds=(i * 137) % 1_000_000)
          for i in range(2000)]
    dec = [Decimal(i * 7 - 500).scaleb(-2) for i in range(2000)]
    t = pa.table({"ts": pa.array(ts, type=pa.timestamp("us")),
                  "dec": pa.array(dec, type=pa.decimal128(12, 2))})
    buf = io.BytesIO()
    po.write_table(t, buf, stripe_size=1 << 22, row_index_stride=10000,
                   compression="uncompressed",
                   bloom_filter_columns=[1, 2], bloom_filter_fpp=0.05)
    data = buf.getvalue()
    kt, wt = _first_stripe_blooms(data, 1)[0]
    # FLOOR-millis long hash: 2000/2000 (the us-truncation convention)
    assert all(mm.might_contain(wt, kt, mm.long_hash(_ts_floor_ms(v)))
               for v in ts)
    kd, wd = _first_stripe_blooms(data, 2)[0]
    # NORMALIZED plain string: the full-scale text misses every
    # trailing-zero value (documented pin), normalize() hits all
    from decimal import Decimal as D
    assert all(mm.might_contain(
        wd, kd, mm.hash64(format(v.normalize(), "f").encode()))
        for v in dec)
    full = sum(mm.might_contain(wd, kd, mm.hash64(format(v, "f").encode()))
               for v in dec)
    assert full < 2000  # full-scale text is NOT the writers' convention


def test_native_bloom_timestamp_decimal_roundtrip():
    from decimal import Decimal
    n = 3000
    ts = [datetime.datetime(2024, 1, 1)
          + datetime.timedelta(seconds=i * 37) for i in range(n)]
    dec = [Decimal(i * 7 - 500).scaleb(-2) for i in range(n)]
    t = pa.table({"ts": pa.array(ts, type=pa.timestamp("us")),
                  "dec": pa.array(dec, type=pa.decimal128(12, 2))})
    data = on.write_orc(t, compression="zlib", stripe_rows=3000,
                        row_index_stride=1000,
                        bloom_columns=("ts", "dec"))
    assert on.read_orc(data).equals(t)
    met = {}
    r = on.read_orc_eq(data, "ts", ts[1500], metrics=met)
    assert r.num_rows == 1 and met["groups_decoded"] == 1
    r2 = on.read_orc_eq(data, "dec", Decimal("-5.00"))
    assert r2.num_rows == 1
    assert on.read_orc_eq(
        data, "ts", datetime.datetime(1999, 1, 1)).num_rows == 0
    assert on.read_orc_eq(data, "dec", Decimal("123456.78")).num_rows == 0


def test_read_orc_eq_in_list(native_bloom_file):
    """IN-list form: a group survives if ANY value can be present; the
    exact filter is pc.is_in. Mixed present/absent values across stripes
    decode exactly the union of their groups."""
    t, data = native_bloom_file
    met = {}
    r = on.read_orc_eq(data, "k",
                       ["conv_000042", "conv_004242", "conv_nope"],
                       metrics=met)
    assert sorted(r.to_pydict()["k"]) == ["conv_000042", "conv_004242"]
    assert met["groups_decoded"] == 2
    assert on.read_orc_eq(data, "v", {0, -2000, 10 ** 9}).num_rows == 2
    assert on.read_orc_eq(data, "k", ["no1", "no2"]).num_rows == 0


def test_bloom_fpp_validation():
    with pytest.raises(ValueError, match="fpp"):
        mm.bloom_params(1000, 1.0)
    with pytest.raises(ValueError, match="fpp"):
        mm.bloom_params(1000, 0.0)


def test_decimal_float_predicate_value_coerces_via_str():
    """A float predicate value on a decimal column must hash as its
    decimal TEXT (Decimal(str(v))), not its 55-digit binary expansion —
    the latter silently bloom-prunes groups that contain real matches."""
    from decimal import Decimal
    t = pa.table({"amount": pa.array([Decimal("0.10"), Decimal("7.25")],
                                     type=pa.decimal128(10, 2))})
    d = on.write_orc(t, row_index_stride=8, bloom_columns=("amount",),
                     stripe_rows=8)
    assert on.read_orc_eq(d, "amount", 0.1).num_rows == 1
    assert on.read_orc_eq(d, "amount", Decimal("7.25")).num_rows == 1
    assert on.read_orc_eq(d, "amount", 0.2).num_rows == 0


def test_stripes_eq_wrong_typed_predicate_degrades(spark, tmp_path):
    """An equality predicate whose Python value doesn't fit the column's
    hash domain (int bound on a TIMESTAMP column) must degrade to the
    stats-only contract — a conservative full read — not crash every
    decode task (the hash is computed once at plan time now)."""
    d = tmp_path / "tsd"
    d.mkdir()
    ts = [datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i)
          for i in range(2000)]
    t = pa.table({"ts": pa.array(ts, type=pa.timestamp("us")),
                  "v": pa.array(range(2000), type=pa.int64())})
    (d / "f.orc").write_bytes(on.write_orc(
        t, compression="zlib", stripe_rows=1000, row_index_stride=1000,
        bloom_columns=("ts",)))
    df = on.read_orc_stripes(spark, str(d / "*.orc"),
                             predicate={"ts": (169, 169)})
    assert df.count() == 2000  # degraded superset, no crash
    want = datetime.datetime(2024, 1, 1, 0, 42)
    df2 = on.read_orc_stripes(spark, str(d / "*.orc"),
                              predicate={"ts": (want, want)})
    assert df2.filter(df2.ts == want).count() == 1


def _nullable_bloom_table(n: int = 2700) -> pa.Table:
    """Every bloom-capable kind with nulls, so each segment's non-null
    values are a different count than its rows."""
    from decimal import Decimal

    def nulls(vals, every):
        return [None if i % every == 0 else v for i, v in enumerate(vals)]

    return pa.table({
        "s": pa.array(nulls([f"k{i % 300}" for i in range(n)], 7)),
        "b": pa.array(nulls([bytes([i % 251, 7]) for i in range(n)], 5),
                      pa.binary()),
        "l": pa.array(nulls([i * 3 - 900 for i in range(n)], 4), pa.int64()),
        "d": pa.array(nulls([datetime.date(2021, 1, 1)
                             + datetime.timedelta(days=i % 500)
                             for i in range(n)], 6)),
        "ts": pa.array(nulls([datetime.datetime(2024, 3, 1)
                              + datetime.timedelta(seconds=i * 11)
                              for i in range(n)], 9),
                       pa.timestamp("us")),
        "dec": pa.array(nulls([Decimal(i * 7 - 500).scaleb(-2)
                               for i in range(n)], 3),
                        pa.decimal128(12, 2)),
        "sparse": pa.array([f"z{i}" if i % 400 == 0 else None
                            for i in range(n)]),
    })


# sha256 of write_orc(_nullable_bloom_table(), compression,
# stripe_rows=1300, row_index_stride=333, bloom_columns=all): segments of
# 333 rows with a short last one in every stripe (1300 = 3 x 333 + 301,
# and the last stripe holds 100 rows); recorded before the bloom hashes
# were computed once per stripe
NULLABLE_BLOOM_PINS = {
    "zlib": "030f78b6630c83daeca6832b371b6ba3366601a5d6b19fdf32564589bc269a48",
    "none": "b57c1d43cf3148aa645404e728ff0ce2b01aa40934ba223802bb6cd73c4e0193",
}


@pytest.mark.parametrize("comp", sorted(NULLABLE_BLOOM_PINS))
def test_nullable_bloom_bytes_pinned(comp):
    import hashlib

    import pyarrow.compute as pc

    t = _nullable_bloom_table()
    data = on.write_orc(t, compression=comp, stripe_rows=1300,
                        row_index_stride=333, bloom_columns=t.column_names)
    assert hashlib.sha256(data).hexdigest() == NULLABLE_BLOOM_PINS[comp]
    assert on.read_orc(data).equals(t)
    for col, v in (("s", "k12"), ("l", 1200), ("sparse", "z800")):
        want = t.filter(pc.equal(t.column(col), v))
        assert on.read_orc_eq(data, col, v).equals(want), col


def test_two_runs_of_groups_equal_the_whole_stripe_rows():
    """A keep mask with two separate runs of row groups decodes each run
    through its own seek window and concatenates them: the rows equal
    the whole-stripe decode taken at the same groups, for a struct with
    nulls at both levels, a list with nulls and a nullable string; the
    equality read over the same layout equals the filtered table."""
    import pyarrow.compute as pc

    n, stride = 3000, 300
    k = [7 if i in (350, 1900) else i * 10 for i in range(n)]
    t = pa.table({
        "k": pa.array(k, pa.int64()),
        "st": pa.array([None if i % 11 == 0 else
                        {"a": None if i % 7 == 0 else i, "b": f"b{i % 13}"}
                        for i in range(n)],
                       pa.struct([("a", pa.int64()), ("b", pa.string())])),
        "l": pa.array([None if i % 5 == 0 else list(range(i % 4))
                       for i in range(n)], pa.list_(pa.int32())),
        "s": pa.array([None if i % 3 == 0 else f"s{i}" for i in range(n)]),
    })
    data = on.write_orc(t, row_index_stride=stride, bloom_columns=("k",))
    ps, footer = on.parse_tail(data)
    stripe = footer["stripes"][0]
    comp, types = ps["compression"], footer["types"]
    sf = on._stripe_footer(data, stripe, comp)
    keep = [g in (1, 2, 6) for g in range(n // stride)]
    got, start = on._decode_stripe(data, stripe, sf, comp, types, None,
                                   stride, keep)
    whole, _ = on._decode_stripe(data, stripe, sf, comp, types, None)
    rows = np.r_[300:900, 1800:2100]
    assert start == 300 and got.equals(whole.take(rows))
    met: dict = {}
    r = on.read_orc_eq(data, "k", 7, metrics=met)
    assert r.equals(t.filter(pc.equal(t.column("k"), 7)))
    assert met["groups_decoded"] >= 2
