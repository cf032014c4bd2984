"""Column-major stripe decode: decode_stripe_batch reads each included
column once over every selected row group and builds one Arrow array.

Every case must equal the source rows and the per-group decode (each
group alone, then concatenated — what the decoder built before it went
column-major), on stripes whose groups differ in codec: FSST in one
group and the stored-original fallback in the next, a dictionary per
group, dict next to non-dict groups, all-null groups and nested kinds.
"""

from __future__ import annotations

import decimal
import zlib

import numpy as np
import pyarrow as pa
import pytest

from goorc_spark import arrow_stripe

RG = 1000


def _words(rng, n: int, vocab: list[str], k: int) -> list[str]:
    return [" ".join(rng.choice(vocab, k)) for _ in range(n)]


def _text_then_noise(rng, n: int) -> list[str]:
    """English-like text (FSST is chosen and kept) in the first group,
    random hex of the same length (FSST falls back to the stored
    original) in the second."""
    vocab = ["the", "assistant", "answered", "user", "question", "about",
             "python", "sorting", "lists", "quickly", "and", "well"]
    text = _words(rng, RG, vocab, 8)
    noise = [rng.bytes(24).hex() for _ in range(n - RG)]
    return text + noise


def _mixed_table(n: int = 3 * RG + 217, seed: int = 5) -> pa.Table:
    rng = np.random.default_rng(seed)
    g = np.arange(n) // RG
    null_g1 = g == 1  # every value of group 1 is null in these columns
    few = [f"tag-{int(x)}" for x in rng.integers(0, 5, n)]
    per_group = [f"g{gi}-v{int(x)}"
                 for gi, x in zip(g, rng.integers(0, 3 + 4 * g))]
    ints = rng.integers(-1 << 40, 1 << 40, n)
    lists = [None if i % 9 == 0 else list(range(i % 4)) for i in range(n)]
    return pa.table({
        "text": pa.array(_text_then_noise(rng, n)),
        "tag": pa.array([None if nl else v for v, nl in zip(few, null_g1)]),
        "per_group": pa.array(per_group),
        "i": pa.array([None if nl or i % 5 == 0 else int(v)
                       for i, (v, nl) in enumerate(zip(ints, null_g1))],
                      pa.int64()),
        "short": pa.array((ints % 1000).astype(np.int16)),
        "b": pa.array([None if i % 7 == 0 else bool(i % 3) for i in range(n)]),
        "tiny": pa.array((ints % 100).astype(np.int8)),
        "f": pa.array(np.linspace(-1, 1, n).astype(np.float32)),
        "d": pa.array([None if nl else float(v) / 7
                       for v, nl in zip(ints, null_g1)]),
        "ts": pa.array((ints // 1000).astype("datetime64[us]")),
        "day": pa.array((ints % 20000).astype(np.int32)).cast(pa.date32()),
        "dec": pa.array([None if i % 4 == 0 else
                         decimal.Decimal(int(v) % 99999) / 100
                         for i, v in enumerate(ints)], pa.decimal128(9, 2)),
        "wide": pa.array([decimal.Decimal(int(v)) * 10 ** 20
                          for v in ints], pa.decimal128(38, 0)),
        "bin": pa.array([None if i % 6 == 0 else rng.bytes(i % 5)
                         for i in range(n)], pa.binary()),
        "lst": pa.array(lists, pa.list_(pa.int64())),
        "st": pa.array([None if i % 8 == 0 else {"a": i, "s": f"s{i % 3}"}
                        for i in range(n)],
                       pa.struct([("a", pa.int64()), ("s", pa.string())])),
        "mp": pa.array([None if i % 10 == 0 else [("k", i), ("z", -i)]
                        for i in range(n)], pa.map_(pa.string(), pa.int64())),
    })


_SPEC = [
    {"name": "text", "kind": "string"}, {"name": "tag", "kind": "string"},
    {"name": "per_group", "kind": "string"}, {"name": "i", "kind": "long"},
    {"name": "short", "kind": "short"}, {"name": "b", "kind": "bool"},
    {"name": "tiny", "kind": "byte"}, {"name": "f", "kind": "float"},
    {"name": "d", "kind": "double"}, {"name": "ts", "kind": "timestamp_ntz"},
    {"name": "day", "kind": "date"},
    {"name": "dec", "kind": "decimal", "precision": 9, "scale": 2},
    {"name": "wide", "kind": "decimal", "precision": 38, "scale": 0},
    {"name": "bin", "kind": "binary"},
    {"name": "lst", "kind": "list", "child": {"name": "item", "kind": "long"}},
    {"name": "st", "kind": "struct",
     "children": [{"name": "a", "kind": "long"},
                  {"name": "s", "kind": "string"}]},
    {"name": "mp", "kind": "map", "key": {"name": "key", "kind": "string"},
     "value": {"name": "value", "kind": "long"}},
]


@pytest.fixture(scope="module")
def stripe():
    t = _mixed_table()
    blob, meta = arrow_stripe.encode_stripe_table(t, _SPEC, rg_rows=RG)
    return t, blob, meta


def _codecs(meta: dict, name: str) -> list[str]:
    return [next(c["codec"] for c in g["columns"] if c["name"] == name)
            for g in meta["row_groups"]]


def _per_group(blob, meta, sel, include=None) -> pa.Table:
    return pa.Table.from_batches([
        arrow_stripe.decode_stripe_batch(blob, meta, include=include,
                                         rg_sel=[i]) for i in sel])


def _rows(t: pa.Table, sel) -> pa.Table:
    return pa.concat_tables([t.slice(i * RG, RG) for i in sel])


def test_groups_differ_in_codec(stripe):
    """The fixture exercises what it claims to."""
    _, _, meta = stripe
    assert _codecs(meta, "text")[:2] == ["fsst", "raw"]
    assert set(_codecs(meta, "per_group")) == {"dict"}
    sizes = [next(c["dict_size"] for c in g["columns"]
                  if c["name"] == "per_group") for g in meta["row_groups"]]
    assert len(set(sizes)) > 1
    assert _codecs(meta, "tag")[1] == "raw"  # the all-null group
    assert _codecs(meta, "tag")[0] == "dict"


def test_whole_stripe_equals_source_and_per_group(stripe):
    t, blob, meta = stripe
    out = pa.Table.from_batches([arrow_stripe.decode_stripe_batch(blob,
                                                                   meta)])
    groups = range(len(meta["row_groups"]))
    assert out.equals(_per_group(blob, meta, groups).combine_chunks())
    assert out.cast(t.schema).equals(t)
    assert out.schema.field("text").type == pa.large_string()


@pytest.mark.parametrize("sel", [[0, 2], [3, 1], [1], [2, 0, 3]])
def test_sparse_rg_sel_with_include(stripe, sel):
    t, blob, meta = stripe
    include = ["mp", "text", "i", "tag", "per_group", "lst"]
    got = pa.Table.from_batches([arrow_stripe.decode_stripe_batch(
        blob, meta, include=include, rg_sel=sel)])
    assert got.column_names == [c for c in t.column_names if c in include]
    assert got.equals(_per_group(blob, meta, sel, include).combine_chunks())
    want = _rows(t, sel).select(got.column_names)
    assert got.cast(want.schema).equals(want)


def test_all_null_group_in_dict_column():
    n = 3 * RG
    vals = [None if RG <= i < 2 * RG else f"v{i % 4}" for i in range(n)]
    t = pa.table({"s": pa.array(vals), "x": pa.array(
        [None if RG <= i < 2 * RG else i for i in range(n)], pa.int64())})
    spec = [{"name": "s", "kind": "string"}, {"name": "x", "kind": "long"}]
    blob, meta = arrow_stripe.encode_stripe_table(t, spec, rg_rows=RG)
    assert _codecs(meta, "s") == ["dict", "raw", "dict"]
    out = pa.Table.from_batches([arrow_stripe.decode_stripe_batch(blob,
                                                                   meta)])
    assert out.cast(t.schema).equals(t)
    assert out.column("s").null_count == RG


def test_dict_group_next_to_non_dict_group():
    """A cached dict codec is re-selected when a group's distinct values
    pass selector.DICT_MAX_ENTRIES: dict and raw groups in one column."""
    from goorc_spark import selector

    big = selector.DICT_MAX_ENTRIES + 100
    vals = [f"k{i % 5}" for i in range(big)] + [f"key-{i:07d}"
                                                 for i in range(big)]
    vals[3] = None
    t = pa.table({"s": pa.array(vals)})
    blob, meta = arrow_stripe.encode_stripe_table(
        t, [{"name": "s", "kind": "string"}], rg_rows=big)
    assert _codecs(meta, "s") == ["dict", "raw"]
    out = pa.Table.from_batches([arrow_stripe.decode_stripe_batch(blob,
                                                                   meta)])
    assert out.cast(t.schema).equals(t)
    got = arrow_stripe.decode_stripe_batch(blob, meta, rg_sel=[1, 0])
    assert got.column(0).to_pylist() == vals[big:] + vals[:big]


def test_ungrouped_stripe(stripe):
    t, _, _ = stripe
    blob, meta = arrow_stripe.encode_stripe_table(t, _SPEC)
    assert "row_groups" not in meta
    out = arrow_stripe.decode_stripe_batch(blob, meta)
    assert pa.Table.from_batches([out]).cast(t.schema).equals(t)


@pytest.mark.parametrize("include", [[], ["no_such_column"]])
@pytest.mark.parametrize("rg_rows", [None, RG])
def test_empty_projection_keeps_row_count(stripe, include, rg_rows):
    t, _, _ = stripe
    blob, meta = arrow_stripe.encode_stripe_table(t, _SPEC, rg_rows=rg_rows)
    out = arrow_stripe.decode_stripe_batch(blob, meta, include=include)
    assert out.num_columns == 0 and out.num_rows == t.num_rows
    if rg_rows:
        sel = [0, 3]
        out = arrow_stripe.decode_stripe_batch(blob, meta, include=include,
                                               rg_sel=sel)
        assert out.num_columns == 0
        assert out.num_rows == _rows(t, sel).num_rows


def test_corrupt_stripe_raises(stripe):
    _, blob, meta = stripe
    bad = bytearray(blob)
    bad[len(bad) // 2] ^= 0x40
    with pytest.raises(arrow_stripe.CorruptStripeError):
        arrow_stripe.decode_stripe_batch(bytes(bad), meta)
    with pytest.raises(arrow_stripe.CorruptStripeError):
        arrow_stripe.decode_stripe_batch(bytes(bad), meta, include=["i"],
                                         rg_sel=[1])
    assert zlib.crc32(blob) == meta["crc32"]


def test_empty_rg_sel_raises(stripe):
    _, blob, meta = stripe
    with pytest.raises(ValueError, match="selected no row groups"):
        arrow_stripe.decode_stripe_batch(blob, meta, rg_sel=[])


def test_decode_df_empty_projection_spark_task(spark):
    from goorc_spark import engine, transcripts

    pdf = transcripts.synthesize_pandas(n_convs=40, seed=2)
    sdf = spark.createDataFrame(pdf)
    enc = engine.encode_df(sdf, engine.EncodeConfig(
        key_col="conv_id", rg_rows=100, partitions=2))
    assert engine.decode_df(enc, transcripts.TRANSCRIPTS_SPEC,
                            columns=[]).count() == len(pdf)
