"""Column/stripe round-trip tests — analog of the reference's column tests
(/root/reference/orc/column/column_test.go) plus the dictionary round-trip
the reference is missing (SURVEY.md §5 notes the gap). All vectors run
against the engine path (arrow_stripe); wire-format stability across
refactors is pinned by the golden blob fixture in test_wire_format_golden
(r3: the redundant full pandas encode path was retired — VERDICT r2 #9 —
and its parity role moved to these fixtures)."""

import datetime
import decimal
import json
import pathlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from goorc_spark import arrow_stripe, transcripts
from goorc_spark.codecs import chunk

FIXTURES = pathlib.Path(__file__).parent / "fixtures"


def rt(pdf: pd.DataFrame, spec, compression=chunk.ZLIB):
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    blob, meta = arrow_stripe.encode_stripe_table(t, spec,
                                                  compression=compression)
    dec = pa.Table.from_batches(
        [arrow_stripe.decode_stripe_batch(blob, meta)]).to_pandas()
    assert list(dec.columns) == [c["name"] for c in spec]
    assert len(dec) == len(pdf)
    return dec, meta, blob


def test_wire_format_golden():
    """The stripe wire format is stable: the same deterministic input
    encodes to byte-identical blobs across refactors, and the checked-in
    golden decodes to the source. (Replaces the retired pandas-path
    cross-implementation parity check with pinned fixtures.)"""
    pdf = transcripts.synthesize_pandas(n_convs=300, seed=11)
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    blob, _ = arrow_stripe.encode_stripe_table(t, transcripts.TRANSCRIPTS_SPEC)
    golden = (FIXTURES / "stripe_wire_v1.bin").read_bytes()
    assert blob == golden, (
        "stripe wire bytes changed — if deliberate, bump FORMAT_VERSION "
        "and regenerate tests/fixtures/stripe_wire_v1.*")
    meta = json.loads((FIXTURES / "stripe_wire_v1.json").read_text())
    out = arrow_stripe.decode_stripe_batch(golden, meta).to_pandas()
    assert list(out["conv_id"]) == list(pdf["conv_id"])
    assert list(out["text"]) == list(pdf["text"])
    assert (out["ts"].astype("datetime64[us]").astype("int64")
            == pdf["ts"].astype("datetime64[us]").astype("int64")).all()


def test_long_column():  # column_test.go:25-110
    pdf = pd.DataFrame({"x": np.arange(1000, dtype=np.int64)})
    dec, meta, _ = rt(pdf, [{"name": "x", "kind": "long"}])
    np.testing.assert_array_equal(dec["x"].to_numpy(dtype=np.int64), pdf["x"])
    assert meta["columns"][0]["stats"]["min"] == 0
    assert meta["columns"][0]["stats"]["max"] == 999
    assert meta["columns"][0]["stats"]["sum"] == 499500


def test_long_with_nulls():  # column_test.go:112-170
    vals = [None if i % 7 == 0 else i * 3 - 50 for i in range(104)]
    pdf = pd.DataFrame({"x": pd.array(vals, dtype="Int64")})
    dec, meta, _ = rt(pdf, [{"name": "x", "kind": "long"}])
    assert dec["x"].isna().sum() == pdf["x"].isna().sum()
    got = [None if pd.isna(v) else int(v) for v in dec["x"]]
    assert got == vals


def test_string_direct():  # column_test.go:280-381
    vals = [f"string {i}" for i in range(1000)]
    pdf = pd.DataFrame({"s": vals})
    dec, meta, _ = rt(pdf, [{"name": "s", "kind": "string"}])
    assert list(dec["s"]) == vals


def test_string_dictionary_roundtrip():  # gap in reference: no dict test
    vals = (["user", "assistant", "system", "tool"] * 2500)[:9999]
    pdf = pd.DataFrame({"role": vals})
    dec, meta, _ = rt(pdf, [{"name": "role", "kind": "string"}])
    assert meta["columns"][0]["codec"] == "dict"
    assert meta["columns"][0]["dict_size"] == 4
    assert list(dec["role"]) == vals
    # empty and multi-byte entries
    vals = ["", "z", "你好", "", "émoji🙂", "z"] * 100
    dec, meta, _ = rt(pd.DataFrame({"s": vals}),
                      [{"name": "s", "kind": "string"}])
    assert meta["columns"][0]["codec"] == "dict"
    assert list(dec["s"]) == vals


def test_string_fsst_long_text():
    base = ("the table scan produced a sorted run of row groups which the "
            "merge operator consumed in order; ")
    vals = [base * (1 + i % 5) + f"tail-{i}" for i in range(500)]
    pdf = pd.DataFrame({"text": vals})
    dec, meta, blob = rt(pdf, [{"name": "text", "kind": "string"}])
    assert meta["columns"][0]["codec"] == "fsst"
    assert list(dec["text"]) == vals


def test_string_unique_raw():
    rng = np.random.default_rng(2)
    vals = ["".join(chr(97 + c) for c in rng.integers(0, 26, 12))
            for _ in range(800)]
    pdf = pd.DataFrame({"s": vals})
    dec, meta, _ = rt(pdf, [{"name": "s", "kind": "string"}])
    assert list(dec["s"]) == vals


def test_string_nulls_unicode_empty_and_big():
    vals = ["", None, "你好世界", "🙂" * 10, "x" * 2000, None, "end"]
    pdf = pd.DataFrame({"s": vals})
    dec, meta, _ = rt(pdf, [{"name": "s", "kind": "string"}])
    assert list(dec["s"]) == vals


def test_byte_bool_float():
    pdf = pd.DataFrame({
        "b": pd.array([1, 2, None, 127, -128, 0] * 20, dtype="Int8"),
        "flag": pd.array([True, False, None, True] * 30, dtype="boolean"),
        "f": np.linspace(-1, 1, 120, dtype=np.float32),
        "d": np.linspace(-1e9, 1e9, 120, dtype=np.float64),
    })
    spec = [{"name": "b", "kind": "byte"}, {"name": "flag", "kind": "bool"},
            {"name": "f", "kind": "float"}, {"name": "d", "kind": "double"}]
    dec, meta, _ = rt(pdf, spec)
    assert [None if pd.isna(v) else int(v) for v in dec["b"]] == \
        [None if pd.isna(v) else int(v) for v in pdf["b"]]
    assert [None if pd.isna(v) else bool(v) for v in dec["flag"]] == \
        [None if pd.isna(v) else bool(v) for v in pdf["flag"]]
    np.testing.assert_array_equal(dec["f"].to_numpy(np.float32), pdf["f"])
    np.testing.assert_array_equal(dec["d"].to_numpy(), pdf["d"])


def test_decimal64():  # column_test.go:579-622
    vals = [decimal.Decimal("123.45"), decimal.Decimal("-0.01"),
            decimal.Decimal("99999.99"), None, decimal.Decimal("0.00")]
    pdf = pd.DataFrame({"m": vals})
    dec, meta, _ = rt(pdf, [{"name": "m", "kind": "decimal",
                             "precision": 10, "scale": 2}])
    assert list(dec["m"]) == vals


def test_date():
    vals = [datetime.date(1969, 12, 31), datetime.date(1970, 1, 1), None,
            datetime.date(2024, 2, 29), datetime.date(1900, 1, 1)]
    pdf = pd.DataFrame({"dt": vals})
    dec, meta, _ = rt(pdf, [{"name": "dt", "kind": "date"}])
    assert list(dec["dt"]) == vals


def test_timestamp_with_nulls_and_nano_zeros():  # column_test.go:624-677
    us = [
        None,
        1420070400_000000,        # 2015 epoch exactly
        1420070400_000001,
        999999999_000000,         # pre-2015
        1719999999_120000,        # trailing zeros in nanos
        -100_000,                 # pre-1970
        None,
    ]
    ts = [None if u is None else np.datetime64(u, "us") for u in us]
    pdf = pd.DataFrame({"ts": pd.Series(ts, dtype="datetime64[us]")})
    dec, meta, _ = rt(pdf, [{"name": "ts", "kind": "timestamp"}])
    got = [None if pd.isna(v) else v.to_datetime64().astype("datetime64[us]")
           for v in dec["ts"]]
    want = [None if v is None else v for v in ts]
    assert got == want


def test_binary():
    vals = [b"", b"\x00\xff\x10", None, b"binary" * 100]
    pdf = pd.DataFrame({"raw": vals})
    dec, meta, _ = rt(pdf, [{"name": "raw", "kind": "binary"}])
    assert list(dec["raw"]) == vals


def test_multi_column_struct_like():  # file_test.go:23-82 struct<x:int,y:string>
    pdf = pd.DataFrame({
        "x": np.arange(150, dtype=np.int64),
        "y": [f"string-{i}" for i in range(150)],
    })
    spec = [{"name": "x", "kind": "int"}, {"name": "y", "kind": "string"}]
    dec, _, _ = rt(pdf, spec)
    np.testing.assert_array_equal(dec["x"].to_numpy(np.int64), pdf["x"])
    assert list(dec["y"]) == list(pdf["y"])


def test_no_compression_mode():
    pdf = pd.DataFrame({"x": np.arange(100, dtype=np.int64)})
    dec, meta, _ = rt(pdf, [{"name": "x", "kind": "long"}],
                      compression=chunk.NONE)
    np.testing.assert_array_equal(dec["x"].to_numpy(np.int64), pdf["x"])


def test_empty_stripe():
    pdf = pd.DataFrame({"x": pd.array([], dtype="Int64"),
                        "s": pd.Series([], dtype=object)})
    dec, meta, _ = rt(pdf, [{"name": "x", "kind": "long"},
                            {"name": "s", "kind": "string"}])
    assert len(dec) == 0


def test_stats_recorded():
    pdf = pd.DataFrame({"x": [5, 1, 9, 9, None]}, dtype="Int64")
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    blob, meta = arrow_stripe.encode_stripe_table(
        t, [{"name": "x", "kind": "long"}])
    st = meta["columns"][0]["stats"]
    assert (st["min"], st["max"], st["sum"], st["count"]) == (1, 9, 24, 4)
    assert meta["columns"][0]["null_count"] == 1
