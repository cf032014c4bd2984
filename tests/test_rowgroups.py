"""Row-group index + point-read path (reference C17/C18/F6: row-index
stride positions /root/reference/orc/stream/writer.go:29-41, Seek/Skip
orc/reader.go:199-212, orc/stripe.go:369-388) and the round-2 engine fixes:
true typed key bounds, decimal128, int64 child offsets, chunk_size cap.
"""

from __future__ import annotations

import decimal
import json
import math
import re

import numpy as np
import pyarrow as pa
import pytest

from goorc_spark import arrow_stripe, engine, transcripts
from goorc_spark.codecs import chunk


def _table(n=25_000, seed=3):
    rng = np.random.default_rng(seed)
    conv = np.repeat(np.arange(n // 50), 50)
    return pa.table({
        "conv_id": pa.array([f"conv-{c:08d}" for c in conv]),
        "turn_idx": pa.array(np.tile(np.arange(50, dtype=np.int32), n // 50)),
        "val": pa.array(rng.integers(0, 1000, n)),
    })


SPEC = [{"name": "conv_id", "kind": "string"},
        {"name": "turn_idx", "kind": "int"},
        {"name": "val", "kind": "long"}]


def test_rowgroup_roundtrip_and_meta():
    t = _table()
    blob, meta = arrow_stripe.encode_stripe_table(
        t, SPEC, rg_rows=4000, key_col="conv_id", ord_col="turn_idx")
    assert "row_groups" in meta and len(meta["row_groups"]) == 7
    assert sum(g["n_rows"] for g in meta["row_groups"]) == t.num_rows
    # groups carry key/ord ranges and disjoint blob segments
    offs = [(g["offset"], g["offset"] + g["length"]) for g in meta["row_groups"]]
    assert offs[0][0] == 0 and offs[-1][1] == len(blob)
    for (a, b), (c, _) in zip(offs, offs[1:]):
        assert b == c
    out = arrow_stripe.decode_stripe_batch(blob, meta)
    assert pa.Table.from_batches([out]).cast(t.schema).equals(t)


def test_rowgroup_selection_reads_fewer_bytes():
    t = _table()
    blob, meta = arrow_stripe.encode_stripe_table(
        t, SPEC, rg_rows=4000, key_col="conv_id", ord_col="turn_idx")
    # meta survives the JSON round-trip the engine applies
    meta = json.loads(json.dumps(meta, default=str))
    target = "conv-00000123"
    sel = arrow_stripe.select_row_groups(meta, key_value=target)
    assert 0 < len(sel) < len(meta["row_groups"])
    touched = sum(meta["row_groups"][i]["length"] for i in sel)
    assert touched < len(blob) / 2, "seek must decode a fraction of the stripe"
    out = arrow_stripe.decode_stripe_batch(blob, meta, rg_sel=sel)
    got = pa.Table.from_batches([out])
    mask = np.asarray(pa.compute.equal(got.column("conv_id"), target))
    assert int(mask.sum()) == 50  # every row of the conversation is present


def test_rowgroup_ord_range_selection():
    t = _table()
    blob, meta = arrow_stripe.encode_stripe_table(
        t, SPEC, rg_rows=4000, key_col="conv_id", ord_col="turn_idx")
    meta = json.loads(json.dumps(meta, default=str))
    # every group spans turn_idx 0..49 (tiled), so ord pruning alone keeps
    # all groups — conservative, never lossy
    sel = arrow_stripe.select_row_groups(meta, ord_lo=10, ord_hi=20)
    assert sel == list(range(len(meta["row_groups"])))
    # impossible ord range prunes everything
    assert arrow_stripe.select_row_groups(meta, ord_lo=99) == []


def test_point_lookup_spark(spark):
    df = transcripts.transcripts_from_events(spark, "/root/testdata/sf0.001")
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              stripe_bytes=32 * 1024 * 1024, partitions=2,
                              rg_rows=500, run_id="seek")
    stripes = engine.encode_df(df, cfg).cache()
    target, hi = df.select("conv_id", "turn_idx") \
        .orderBy("conv_id", "turn_idx").collect()[-1][:2]
    got = engine.read_rows(stripes, transcripts.TRANSCRIPTS_SPEC,
                           "conv_id", target, ord_col="turn_idx",
                           ord_lo=0, ord_hi=int(hi))
    want = df.filter(f"conv_id = '{target}'").count()
    assert got.count() == want
    # the covering row groups are a small fraction of all groups
    metas = [json.loads(r["meta"]) for r in stripes.select("meta").collect()]
    total = sum(len(m.get("row_groups", [0])) for m in metas)
    touched = sum(len(arrow_stripe.select_row_groups(m, key_value=target) or [])
                  for m in metas)
    assert touched < total / 2
    stripes.unpersist()


def test_unsorted_encode_keeps_true_key_bounds(spark):
    """order_cols=() no longer produces garbage lineage bounds: key_min/max
    come from pc.min_max, so pruned lookups still find every row."""
    df = transcripts.transcripts_from_events(spark, "/root/testdata/sf0.001")
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=(),
                              partitions=4, run_id="nosort")
    stripes = engine.encode_df(df, cfg).cache()
    target = df.select("conv_id").first()[0]
    pruned = engine.prune_stripes(stripes, key_value=target)
    out = engine.decode_df(pruned, transcripts.TRANSCRIPTS_SPEC) \
        .filter(f"conv_id = '{target}'")
    assert out.count() == df.filter(f"conv_id = '{target}'").count()
    stripes.unpersist()


def test_typed_integer_key_bounds(spark):
    """Integer keys prune numerically, not lexicographically ('9' > '10')."""
    from pyspark.sql import functions as F
    df = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    cfg = engine.EncodeConfig(key_col="k", order_cols=("v",), partitions=4,
                              range_partition=True, run_id="intkey")
    stripes = engine.encode_df(df, cfg).cache()
    assert dict(stripes.dtypes)["key_min"] == "bigint"
    pruned = engine.prune_stripes(stripes, key_value=9)
    out = engine.decode_df(pruned, engine.spec_from_schema(df.schema))
    assert out.filter("k = 9").count() == 1
    stripes.unpersist()


def test_decimal128_roundtrip():
    big = [decimal.Decimal("123456789012345678901234.567890"),
           decimal.Decimal("-98765432109876543210.000001"),
           None,
           decimal.Decimal("0.000000"),
           decimal.Decimal("-1.100000")]
    t = pa.table({"d": pa.array(big, type=pa.decimal128(38, 6))})
    spec = [{"name": "d", "kind": "decimal", "precision": 38, "scale": 6}]
    blob, meta = arrow_stripe.encode_stripe_table(t, spec)
    assert meta["columns"][0]["codec"] == "rlev2_decimal128"
    out = arrow_stripe.decode_stripe_batch(blob, meta)
    assert out.column("d").to_pylist() == big


def test_decimal64_vectorized_roundtrip():
    vals = [decimal.Decimal("12345.67"), decimal.Decimal("-0.01"), None,
            decimal.Decimal("9999999999999999.99")]
    t = pa.table({"d": pa.array(vals, type=pa.decimal128(18, 2))})
    spec = [{"name": "d", "kind": "decimal", "precision": 18, "scale": 2}]
    blob, meta = arrow_stripe.encode_stripe_table(t, spec)
    assert meta["columns"][0]["codec"] == "varint_decimal"
    out = arrow_stripe.decode_stripe_batch(blob, meta)
    assert out.column("d").to_pylist() == vals


def test_child_offsets_int64_no_wrap():
    lengths = np.array([1 << 30, 1 << 30, 1 << 30], dtype=np.uint64)
    offsets, wide = arrow_stripe._child_offsets(lengths)
    assert wide and offsets[-1] == 3 << 30 > (1 << 31)
    offsets, wide = arrow_stripe._child_offsets(
        np.array([10, 20], dtype=np.uint64))
    assert not wide and list(offsets) == [0, 10, 30]


def test_chunk_size_validation():
    with pytest.raises(ValueError, match="chunk_size"):
        chunk.compress(b"x" * 10, chunk.ZSTD, chunk_size=1 << 24)
    with pytest.raises(ValueError, match="chunk_size"):
        engine.EncodeConfig(chunk_size=1 << 24)


def test_resume_rejects_range_partition(spark):
    df = transcripts.transcripts_from_events(spark, "/root/testdata/sf0.001")
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              range_partition=True, partitions=4)
    with pytest.raises(ValueError, match="range"):
        engine.encode_df(df, cfg, pending_parts=[0, 1])


def test_crc_detects_corruption():
    t = _table(8000)
    blob, meta = arrow_stripe.encode_stripe_table(
        t, SPEC, rg_rows=2000, key_col="conv_id")
    bad = bytearray(blob)
    bad[len(bad) // 2] ^= 0xFF
    with pytest.raises(arrow_stripe.CorruptStripeError):
        arrow_stripe.decode_stripe_batch(bytes(bad), meta)
    out = arrow_stripe.decode_stripe_batch(blob, meta)  # pristine ok
    assert out.num_rows == 8000


def test_value_range_seek_prunes_groups():
    """Per-group column ranges prune on a NON-key column (ORC RowIndexEntry
    stats semantics)."""
    import pyarrow.compute as pc
    n = 20_000
    t = pa.table({
        "conv_id": pa.array([f"c{i:06d}" for i in range(n)]),
        "turn_idx": pa.array(np.zeros(n, np.int32)),
        "val": pa.array(np.arange(n)),  # monotone -> tight group ranges
    })
    blob, meta = arrow_stripe.encode_stripe_table(
        t, SPEC, rg_rows=2000, key_col="conv_id", ord_col="turn_idx")
    meta = json.loads(json.dumps(meta, default=str))
    sel = arrow_stripe.select_row_groups(
        meta, col_ranges={"val": (5000, 5999)})
    assert len(sel) == 1
    got = arrow_stripe.decode_stripe_batch(blob, meta, rg_sel=sel)
    mask = pc.and_(pc.greater_equal(got.column("val"), 5000),
                   pc.less_equal(got.column("val"), 5999))
    assert int(pc.sum(mask).as_py()) == 1000


def test_read_where_spark(spark):
    from pyspark.sql import functions as F
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cfg = engine.EncodeConfig(key_col="value", order_cols=(),
                              range_partition=True, partitions=4,
                              rg_rows=500, run_id="rw")
    stripes = engine.encode_df(ev, cfg)
    spec = engine.spec_from_schema(ev.schema)
    got = engine.read_where(stripes, spec, "value", lo=10.0, hi=50.0)
    want = ev.filter((F.col("value") >= 10.0) & (F.col("value") <= 50.0))
    assert got.count() == want.count()


def test_read_where_multi_column(spark):
    from pyspark.sql import functions as F
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cfg = engine.EncodeConfig(key_col="value", order_cols=(),
                              range_partition=True, partitions=4,
                              rg_rows=500, run_id="rwm")
    stripes = engine.encode_df(ev, cfg)
    spec = engine.spec_from_schema(ev.schema)
    got = engine.read_where(stripes, spec, "value", lo=10.0, hi=80.0,
                            col_ranges={"event_id": (100, 5000)})
    want = ev.filter((F.col("value") >= 10.0) & (F.col("value") <= 80.0)
                     & (F.col("event_id") >= 100)
                     & (F.col("event_id") <= 5000))
    w = want.count()
    assert got.count() == w and w > 0
    # projection keeps every probed column available for the exact filter
    got2 = engine.read_where(stripes, spec, "value", lo=10.0, hi=80.0,
                             col_ranges={"event_id": (100, 5000)},
                             columns=["ts"])
    assert got2.count() == w


def test_string_rowgroup_ranges_prune_and_skip_long_text():
    """SHORT string columns carry per-group [min, max] (ORC RowIndexEntry
    string stats); long free-text columns are skipped (stats nobody
    probes)."""
    import pyarrow as pa

    from goorc_spark import arrow_stripe

    groups = (["mmm"] * 50 + ["qqq"] * 50) * 2
    t = pa.table({"k": pa.array(range(200), pa.int64()),
                  "s": pa.array(groups),
                  "txt": pa.array(["lorem ipsum dolor sit amet " * 8] * 200)})
    spec = [{"name": "k", "kind": "long"}, {"name": "s", "kind": "string"},
            {"name": "txt", "kind": "string"}]
    blob, meta = arrow_stripe.encode_stripe_table(t, spec, rg_rows=50)
    for g in meta["row_groups"]:
        assert "txt" not in g.get("ranges", {})  # long text: no stats
        lo, hi = g["ranges"]["s"]
        assert lo <= hi
    # select_row_groups honors the bounds: a probe below every min prunes
    # all; an in-range probe keeps only the matching half
    assert arrow_stripe.select_row_groups(meta, col_ranges={"s": ("A", "B")}) == []
    sel = arrow_stripe.select_row_groups(meta, col_ranges={"s": ("mmm", "mmm")})
    assert sel is not None and len(sel) == 2  # groups 0 and 2

    # truncated bounds stay valid bounds
    assert arrow_stripe._bound_str("x" * 100, is_max=True) > "x" * 100
    assert arrow_stripe._bound_str("x" * 100, is_max=False) <= "x" * 100
    assert len(arrow_stripe._bound_str("x" * 100, is_max=True)) <= 64


def test_decimal_key_bounds_compare_numerically():
    """ADVICE r2: json default=str stores a Decimal key bound as e.g.
    '9.50'; lexicographic compare against Decimal('10.20') wrongly
    pruned the covering group ('9.50' <= '10.20' is False as strings).
    Bounds on decimal columns must compare in the numeric domain —
    including sign changes."""
    n = 8000
    # keys ascend -20.00 .. 59.99 step 0.01; rg_rows=700 puts group
    # boundaries at -20.00, -13.00, ..., 8.00, 15.00 — so the group
    # holding 10.20 has key_min '8.00' (str '8.00' > '10.20': the bug),
    # and the group holding -19.50 has key_min '-20.00' (str > '-19.50')
    vals = [decimal.Decimal(i - 2000).scaleb(-2) for i in range(n)]
    t = pa.table({
        "dkey": pa.array(vals, type=pa.decimal128(12, 2)),
        "turn_idx": pa.array(np.zeros(n, np.int32)),
    })
    spec = [{"name": "dkey", "kind": "decimal", "precision": 12, "scale": 2},
            {"name": "turn_idx", "kind": "int"}]
    blob, meta = arrow_stripe.encode_stripe_table(
        t, spec, rg_rows=700, key_col="dkey", ord_col="turn_idx")
    meta = json.loads(json.dumps(meta, default=str))
    for probe in (decimal.Decimal("10.20"), decimal.Decimal("-19.50"),
                  decimal.Decimal("35.00")):
        sel = arrow_stripe.select_row_groups(meta, key_value=probe)
        assert len(sel) == 1, f"probe {probe} pruned the covering group"
        got = arrow_stripe.decode_stripe_batch(blob, meta, rg_sel=sel)
        col = got.column("dkey").to_pylist()
        assert probe in col
    # IN-list probes go through the same coercion
    sel = arrow_stripe.select_row_groups(
        meta, key_values=[decimal.Decimal("9.00"), decimal.Decimal("11.00")])
    assert len(sel) == 1


def _sliced_stripe():
    """A grouped stripe cut the way perfbench's orc_library cuts its
    table: a slice of a larger transcripts table, so each group's columns
    are slices of buffers that hold the whole table."""
    pdf = transcripts.synthesize_pandas(n_convs=600, seed=1)
    t = pa.Table.from_pandas(pdf, preserve_index=False).slice(0, 6000)
    blob, meta = arrow_stripe.encode_stripe_table(
        t, transcripts.TRANSCRIPTS_SPEC, rg_rows=1000, key_col="conv_id",
        ord_col="turn_idx")
    return t, blob, json.loads(json.dumps(meta, default=str))


def test_short_string_ranges_on_sliced_groups():
    """Short string columns get group ranges when each group is a slice
    of a larger table: a slice reports its parent's whole buffers, so
    the rule reads the values' own bytes. Free text gets none."""
    _, _, meta = _sliced_stripe()
    groups = meta["row_groups"]
    for g in groups:
        assert {"conv_id", "role", "tool"} <= set(g["ranges"])
        assert "text" not in g["ranges"]
    select = arrow_stripe.select_row_groups
    assert select(meta, col_ranges={"role": ("zz", None)}) == []
    assert select(meta, col_ranges={"tool": (None, "a")}) == []
    assert len(select(meta, col_ranges={"role": ("user", "user")})) \
        == len(groups)


def test_key_and_order_ranges_select_like_their_bounds():
    """col_ranges (what read_where probes) on the key or the order column
    selects the groups their key/order bounds select."""
    _, _, meta = _sliced_stripe()
    n = len(meta["row_groups"])
    select = arrow_stripe.select_row_groups
    for lo, hi in ((200, None), (None, 3), (150, 160), (400, None)):
        want = select(meta, ord_lo=lo, ord_hi=hi)
        assert select(meta, col_ranges={"turn_idx": (lo, hi)}) == want
    assert 0 < len(select(meta, ord_lo=200)) < n
    for key in ("conv-00000040", "conv-00000117", "conv-00000040x"):
        want = select(meta, key_value=key)
        assert select(meta, col_ranges={"conv_id": (key, key)}) == want
        assert 0 < len(want) < n


def _legacy_group_bloom(keys, fpp=0.01) -> dict:
    """A row group's `key_bloom` entry as earlier writers recorded it:
    murmur3 words over the group's distinct keys, sized for `fpp`."""
    import base64

    from goorc_spark.codecs import murmur3

    hashes = arrow_stripe._key_hashes(keys)
    m, k = murmur3.bloom_params(max(len(hashes), 1), fpp)
    words = murmur3.build_bloom(hashes, k, m)
    return {"k": k, "b64": base64.b64encode(words.tobytes()).decode()}


def test_legacy_group_blooms_are_ignored():
    """A group meta that still carries `key_bloom` entries selects by its
    bounds alone: the groups the same meta without them selects, a
    superset of what its blooms would keep, and every row of the key
    decodes."""
    import base64

    import pyarrow.compute as pc

    from goorc_spark.codecs import murmur3

    t, blob, meta = _sliced_stripe()
    legacy = json.loads(json.dumps(meta))
    start = 0
    for g in legacy["row_groups"]:
        g["key_bloom"] = _legacy_group_bloom(
            t.column("conv_id").slice(start, g["n_rows"]))
        start += g["n_rows"]
    groups = legacy["row_groups"]
    select = arrow_stripe.select_row_groups

    def bloom_select(key):  # what a reader that probed the blooms kept
        h = arrow_stripe._key_hash(key)
        return [i for i in select(meta, key_value=key)
                if murmur3.might_contain(np.frombuffer(base64.b64decode(
                    groups[i]["key_bloom"]["b64"]), "<u8"),
                    groups[i]["key_bloom"]["k"], h)]

    for key in ("conv-00000040", "conv-00000117"):
        sel = select(legacy, key_value=key)
        assert sel == select(meta, key_value=key)
        assert set(bloom_select(key)) <= set(sel)
        dec = arrow_stripe.decode_stripe_batch(blob, legacy, rg_sel=sel)
        assert dec.filter(pc.equal(dec["conv_id"], key)).num_rows \
            == t.filter(pc.equal(t["conv_id"], key)).num_rows > 0
    # an absent key inside a group's bounds: its bloom dropped the group
    absent = "conv-00000040x"
    assert bloom_select(absent) == [] != select(legacy, key_value=absent)
    keys = ["conv-00000040", "conv-00000117"]
    assert select(legacy, key_values=keys) == select(meta, key_values=keys)


def test_read_where_prunes_stripes_on_the_key(spark, tmp_path):
    """read_where on a range-partitioned key column: the id pass keeps
    only the stripes whose groups' key ranges meet the predicate."""
    from pyspark.sql import functions as F
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cfg = engine.EncodeConfig(key_col="value", order_cols=(),
                              range_partition=True, partitions=4,
                              rg_rows=100, run_id="rwk")
    path = str(tmp_path / "stripes")
    engine.encode_df(ev, cfg).write.parquet(path)
    stripes = spark.read.parquet(path)
    spec = engine.spec_from_schema(ev.schema)
    m: dict = {}
    got = engine.read_where(stripes, spec, "value", lo=10.0, hi=30.0,
                            metrics=m)
    want = ev.filter((F.col("value") >= 10.0) & (F.col("value") <= 30.0))
    assert got.count() == want.count() > 0
    assert 0 < m["stripes_kept"] < stripes.count()


def test_read_where_keeps_nan_rows(spark, tmp_path):
    """Spark's >= keeps NaN rows (NaN sorts above every value), while
    pc.min_max skips NaN: a float group holding a NaN records no range,
    so read_where keeps it, on a bare scan and on a cached frame."""
    from pyspark.sql import functions as F
    df = spark.range(1000).select(
        F.col("id").alias("i"),
        F.when(F.col("id") % 50 == 0, F.lit(float("nan")))
        .otherwise((F.col("id") % 5).cast("double")).alias("f"))
    assert df.filter(F.col("f") >= 5.0).count() == 20
    cfg = engine.EncodeConfig(key_col="i", partitions=2, rg_rows=100,
                              run_id="nanrw")
    path = str(tmp_path / "stripes")
    engine.encode_df(df, cfg).write.parquet(path)
    spec = engine.spec_from_schema(df.schema)
    bare = spark.read.parquet(path)
    cached = spark.read.parquet(path).cache()
    try:
        for stripes in (bare, cached):
            got = engine.read_where(stripes, spec, col="f", lo=5.0)
            assert got.count() == 20
    finally:
        cached.unpersist()


def test_read_rows_at_absolute_seek(spark):
    """reference Seek(rowNumber) parity (orc/reader.go:199-212): global
    slice [lo, hi) over range-partitioned order-sorted stripes equals the
    sorted source slice."""
    df = transcripts.transcripts_from_events(spark, "/root/testdata/sf0.001")
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              range_partition=True, partitions=3,
                              rg_rows=100, stripe_bytes=64 * 1024,
                              run_id="seekpt")
    stripes = engine.encode_df(df, cfg)
    src = df.orderBy("conv_id", "turn_idx").collect()
    for lo, hi in ((0, 10), (123, 456), (990, 1000), (995, 5000)):
        got = engine.read_rows_at(stripes, transcripts.TRANSCRIPTS_SPEC,
                                  lo, hi)
        rows = sorted(got.collect(), key=lambda r: (r.conv_id, r.turn_idx))
        want = src[lo:hi]
        assert [(r.conv_id, r.turn_idx, r.text) for r in rows] == \
            [(r.conv_id, r.turn_idx, r.text) for r in want], (lo, hi)
    # degenerate + beyond-end ranges
    assert engine.read_rows_at(stripes, transcripts.TRANSCRIPTS_SPEC,
                               50, 50).count() == 0
    assert engine.read_rows_at(stripes, transcripts.TRANSCRIPTS_SPEC,
                               2_000_000, 2_000_100).count() == 0
    # projection decodes only requested columns
    proj = engine.read_rows_at(stripes, transcripts.TRANSCRIPTS_SPEC,
                               10, 20, columns=["conv_id", "text"])
    assert proj.columns == ["conv_id", "text"] and proj.count() == 10


def test_read_rows_at_scans_only_covering_stripes(spark, tmp_path):
    """From a parquet stripe table, the seek decodes `stripe_id IN
    (covering)` pushed into the scan, with no join back to the table: the
    other stripes' blobs are never read."""
    df = transcripts.transcripts_from_events(spark, "/root/testdata/sf0.001")
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              range_partition=True, partitions=4,
                              rg_rows=100, run_id="seekscan")
    path = str(tmp_path / "stripes")
    engine.encode_df(df, cfg).write.parquet(path)
    stripes = spark.read.parquet(path)
    assert stripes.count() >= 4
    src = df.orderBy("conv_id", "turn_idx").collect()
    for lo, hi in ((100, 200), (0, 1000)):
        got = engine.read_rows_at(stripes, transcripts.TRANSCRIPTS_SPEC,
                                  lo, hi)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan
        pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
        assert len(pushed) == 1, plan
        assert re.search(r"(In|EqualTo)\(stripe_id", pushed[0]), plan
        rows = sorted(got.collect(), key=lambda r: (r.conv_id, r.turn_idx))
        assert [(r.conv_id, r.turn_idx, r.text) for r in rows] == \
            [(r.conv_id, r.turn_idx, r.text) for r in src[lo:hi]]


def test_stripe_col_stats_and_run_stats(spark):
    """Per-run stats rollup (reference file-footer stats,
    orc/writer.go:140-177): typed per-column aggregates from meta only."""
    import pandas as pd
    from pyspark.sql import functions as F
    pdf = pd.DataFrame({
        "k": [f"k{i:04d}" for i in range(1000)],
        "i": np.arange(1000),
        "f": np.linspace(-1.0, 1.0, 1000),
        "b": [True, False] * 500,
        "s_null": pd.array([None] * 1000, dtype="string"),
        "long_text": ["word " * 20 + str(i) for i in range(1000)],
    })
    df = spark.createDataFrame(pdf)
    cfg = engine.EncodeConfig(key_col="k", order_cols=("i",),
                              stripe_bytes=64 * 1024, partitions=3,
                              run_id="cst")
    rs = {r["column"]: r for r in
          engine.run_stats(engine.encode_df(df, cfg)).collect()}
    assert rs["i"]["min_long"] == 0 and rs["i"]["max_long"] == 999
    assert rs["i"]["sum_long"] == 999 * 1000 // 2
    assert rs["f"]["min_dbl"] == -1.0 and rs["f"]["max_dbl"] == 1.0
    assert abs(rs["f"]["sum_dbl"]) < 1e-9
    assert rs["b"]["sum_long"] == 500  # true count
    assert rs["s_null"]["n_values"] == 0 and rs["s_null"]["null_count"] == 1000
    assert rs["k"]["min_str"] == "k0000" and rs["k"]["max_str"] == "k0999"
    # >32 B/value strings skip bounds in every stripe -> NULL, bytes kept
    assert rs["long_text"]["min_str"] is None
    assert rs["long_text"]["bytes_sum"] == int(
        pdf["long_text"].str.len().sum())


def test_run_stats_float_bounds_follow_spark_nan_order(spark):
    """A double column holding NaN rolls up to Spark's min/max of the
    decoded rows: NaN sorts above every value, so the max is NaN and the
    min stays finite; an all-NaN column has both NaN."""
    from pyspark.sql import functions as F
    nan = F.lit(float("nan"))
    # built in Spark: an Arrow hand-off from pandas would turn NaN to null
    df = spark.range(600).select(
        F.format_string("k%04d", "id").alias("k"), F.col("id").alias("i"),
        F.when(F.col("id").isin(7, 300, 555), nan)
        .otherwise(F.col("id") / 75.0 - 3.0).alias("f"),
        nan.alias("g"))
    cfg = engine.EncodeConfig(key_col="k", order_cols=("i",),
                              stripe_bytes=8 * 1024, partitions=3,
                              rg_rows=64, run_id="nanstat")
    stripes = engine.encode_df(df, cfg)
    rs = {r["column"]: r for r in engine.run_stats(stripes).collect()}
    want = engine.decode_df(stripes).agg(
        *[F.min(c).alias(f"min_{c}") for c in ("f", "g")],
        *[F.max(c).alias(f"max_{c}") for c in ("f", "g")]).first()
    for c in ("f", "g"):
        got = (rs[c]["min_dbl"], rs[c]["max_dbl"])
        exp = (want[f"min_{c}"], want[f"max_{c}"])
        assert [math.isnan(v) for v in got] == [math.isnan(v) for v in exp]
        assert [v for v in got if not math.isnan(v)] == \
            [v for v in exp if not math.isnan(v)], c
    assert rs["f"]["min_dbl"] == -3.0 and math.isnan(rs["f"]["max_dbl"])


def test_run_stats_decimal_bounds_numeric(spark):
    """Decimal bounds roll up numerically (unscaled ints), not as strings
    ('9.50' vs '10.20' lexicographic — the _coerce_bound trap)."""
    import pandas as pd
    pdf = pd.DataFrame({
        "k": [f"k{i:04d}" for i in range(400)],
        "i": np.arange(400),
        "d": [decimal.Decimal(i - 200).scaleb(-2) * 105
              for i in range(400)],   # -210.00 .. 208.95 step 1.05
    })
    df = spark.createDataFrame(
        pdf, schema="k string, i long, d decimal(12,2)")
    cfg = engine.EncodeConfig(key_col="k", order_cols=("i",),
                              stripe_bytes=8 * 1024, partitions=3,
                              run_id="decstat")
    rs = {r["column"]: r for r in
          engine.run_stats(engine.encode_df(df, cfg)).collect()}
    assert rs["d"]["min_long"] == -21000   # unscaled at scale 2
    assert rs["d"]["max_long"] == 20895
    assert rs["d"]["min_str"] is None


def test_read_rows_in_batch_lookup(spark):
    """engine.read_rows_in: one job fetches a batch of keys with the same
    three-level pruning as read_rows generalized to any-of-the-keys; the
    result equals the brute isin filter over the decoded table."""
    from goorc_spark import engine, transcripts

    df = transcripts.transcripts_from_events(spark, "/root/testdata/sf0.001")
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              stripe_bytes=1 << 20, partitions=4,
                              rg_rows=500, run_id="t_multi")
    stripes = engine.encode_df(df, cfg).cache()
    stripes.count()
    keys = ["conv-00000001", "conv-00000007"]
    got = engine.read_rows_in(stripes, transcripts.TRANSCRIPTS_SPEC,
                              "conv_id", keys)
    want = df.filter(df.conv_id.isin(keys))
    a = got.toPandas().sort_values(["conv_id", "turn_idx"]) \
        .reset_index(drop=True)
    b = want.toPandas().sort_values(["conv_id", "turn_idx"]) \
        .reset_index(drop=True)
    assert a.equals(b[a.columns])
    import pytest
    with pytest.raises(ValueError):
        engine.read_rows_in(stripes, transcripts.TRANSCRIPTS_SPEC,
                            "conv_id", [])
