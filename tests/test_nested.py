"""Nested column kinds: struct (PRESENT-only, recursing children), list and
map (PRESENT + LENGTH + recursed children) — the reference's C11-C13 stream
compositions (/root/reference/orc/column/{struct,list,map}.go), here
supported for both write and read (the reference's list/map are read-only).
"""

import numpy as np
import pyarrow as pa
import pytest

from goorc_spark import arrow_stripe, engine


def _nested_table(n=200, seed=3):
    rng = np.random.default_rng(seed)
    ints = pa.array([None if i % 7 == 0 else int(rng.integers(0, 1000))
                     for i in range(n)], pa.int64())
    strs = pa.array([None if i % 5 == 0 else f"s{i % 13}" for i in range(n)])
    struct = pa.StructArray.from_arrays([ints, strs], names=["a", "b"])
    struct = struct.take(pa.array([None if i % 11 == 0 else i
                                   for i in range(n)], pa.int64()))
    lists = pa.array([None if i % 9 == 0 else
                      [int(x) for x in rng.integers(0, 50, i % 6)]
                      for i in range(n)], pa.list_(pa.int64()))
    maps = pa.array([None if i % 8 == 0 else
                     [(f"k{j}", float(j) * 1.5) for j in range(i % 4)]
                     for i in range(n)], pa.map_(pa.string(), pa.float64()))
    los = pa.array([None if i % 13 == 0 else
                    [{"x": i + j, "y": f"t{j}"} for j in range(i % 3)]
                    for i in range(n)],
                   pa.list_(pa.struct([("x", pa.int64()), ("y", pa.string())])))
    return pa.table({"st": struct, "ls": lists, "mp": maps, "los": los})


NESTED_SPEC = [
    {"name": "st", "kind": "struct",
     "children": [{"name": "a", "kind": "long"}, {"name": "b", "kind": "string"}]},
    {"name": "ls", "kind": "list", "child": {"name": "item", "kind": "long"}},
    {"name": "mp", "kind": "map",
     "key": {"name": "key", "kind": "string"},
     "value": {"name": "value", "kind": "double"}},
    {"name": "los", "kind": "list",
     "child": {"name": "item", "kind": "struct",
               "children": [{"name": "x", "kind": "long"},
                            {"name": "y", "kind": "string"}]}},
]


def test_nested_roundtrip():
    table = _nested_table()
    blob, meta = arrow_stripe.encode_stripe_table(table, NESTED_SPEC)
    rb = arrow_stripe.decode_stripe_batch(blob, meta)
    for name in table.schema.names:
        orig = table.column(name).combine_chunks()
        assert rb.column(name).cast(orig.type).to_pylist() == orig.to_pylist(), name


def test_nested_projection():
    table = _nested_table()
    blob, meta = arrow_stripe.encode_stripe_table(table, NESTED_SPEC)
    rb = arrow_stripe.decode_stripe_batch(blob, meta, include=["mp"])
    assert rb.schema.names == ["mp"]
    orig = table.column("mp").combine_chunks()
    assert rb.column("mp").cast(orig.type).to_pylist() == orig.to_pylist()


def test_spec_from_schema_nested():
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.LongType()), True),
        T.StructField("pt", T.StructType([
            T.StructField("x", T.DoubleType(), True),
            T.StructField("y", T.DoubleType(), True)]), True),
    ])
    spec = engine.spec_from_schema(schema)
    assert spec[0]["kind"] == "list" and spec[0]["child"]["kind"] == "string"
    assert spec[1]["kind"] == "map" and spec[1]["value"]["kind"] == "long"
    assert spec[2]["kind"] == "struct" and len(spec[2]["children"]) == 2
    assert engine.schema_from_spec(spec) == schema


@pytest.mark.usefixtures("spark")
def test_spark_e2e_nested(spark, tmp_path):
    from pyspark.sql import functions as F

    df = (spark.range(500)
          .select(
              F.col("id"),
              F.concat(F.lit("g"), (F.col("id") % 20).cast("string")).alias("grp"),
              F.when(F.col("id") % 9 == 0, F.lit(None).cast("array<string>"))
               .otherwise(F.array(F.lit("a"), F.concat(F.lit("t"),
                          (F.col("id") % 7).cast("string")))).alias("tags"),
              F.create_map(F.lit("n"), F.col("id"),
                           F.lit("m"), F.col("id") * 2).alias("attrs"),
              F.struct((F.col("id") * 1.5).alias("x"),
                       F.when(F.col("id") % 4 == 0, None)
                        .otherwise(F.col("id").cast("double")).alias("y"))
               .alias("pt"),
          ))
    spec = engine.spec_from_schema(df.schema)
    cfg = engine.EncodeConfig(key_col="grp", order_cols=("id",),
                              partitions=4, run_id="nested")
    stripes = engine.encode_df(df, cfg)
    out = engine.decode_df(stripes, spec)
    a = sorted([tuple(str(x) for x in r) for r in df.collect()])
    b = sorted([tuple(str(x) for x in r) for r in out.collect()])
    assert a == b


def test_stripe_pruning(spark):
    from pyspark.sql import functions as F

    from goorc_spark import transcripts as tx

    df = tx.transcripts_from_events(spark, "/root/testdata/sf0.001")
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              stripe_bytes=64 * 1024, partitions=8,
                              run_id="prune", range_partition=True)
    stripes = engine.encode_df(df, cfg).cache()
    target = df.select("conv_id").first()[0]
    pruned = engine.prune_stripes(stripes, key_value=target)
    n_all, n_pruned = stripes.count(), pruned.count()
    assert n_pruned < n_all  # skipped stripes never decoded
    out = engine.decode_df(pruned, tx.TRANSCRIPTS_SPEC) \
        .filter(F.col("conv_id") == target)
    expected = df.filter(F.col("conv_id") == target).count()
    assert out.count() == expected
    stripes.unpersist()


def test_streaming_incremental_encode(spark, tmp_path):
    """readStream -> foreachBatch stripe-encode -> append; decode of the
    accumulated sink equals the union of all ingested files."""
    from pyspark.sql import functions as F

    from goorc_spark import streaming, transcripts as tx

    src = tmp_path / "in"
    out = tmp_path / "stripes"
    ck = tmp_path / "ck"
    full = tx.transcripts_from_events(spark, "/root/testdata/sf0.001")
    spec = engine.spec_from_schema(full.schema)
    # two "arrivals"
    half = F.crc32(F.col("conv_id")) % 2 == 0
    full.filter(half).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(full.schema).parquet(str(src))
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              partitions=4, run_id="st")
    q = streaming.stream_encode(stream, str(out), str(ck), cfg)
    q.awaitTermination(120)
    full.filter(~half).write.mode("append").parquet(str(src))
    q2 = streaming.stream_encode(
        spark.readStream.schema(full.schema).parquet(str(src)),
        str(out), str(ck), cfg)
    q2.awaitTermination(120)
    stripes = spark.read.parquet(str(out))
    assert stripes.select("batch_id").distinct().count() >= 2
    decoded = engine.decode_df(stripes, spec)
    assert decoded.count() == full.count()
    a = sorted(str(r) for r in decoded.collect())
    b = sorted(str(r) for r in full.collect())
    assert a == b


def test_streaming_retry_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (fresh checkpoint => batch 0 reruns) must
    overwrite its own batch_id partition, not append duplicates."""
    from goorc_spark import streaming, transcripts as tx

    src = tmp_path / "in2"
    out = tmp_path / "stripes2"
    full = tx.transcripts_from_events(spark, "/root/testdata/sf0.001")
    full.write.mode("append").parquet(str(src))
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              partitions=4, run_id="retry")
    spec = engine.spec_from_schema(full.schema)
    for ck in ("ckA", "ckB"):  # second run replays batch 0 from scratch
        q = streaming.stream_encode(
            spark.readStream.schema(full.schema).parquet(str(src)),
            str(out), str(tmp_path / ck), cfg)
        q.awaitTermination(120)
    stripes = spark.read.parquet(str(out))
    assert engine.decode_df(stripes, spec).count() == full.count()


def test_stateful_conv_stats_stream(spark, tmp_path):
    """applyInPandasWithState accumulates per-conversation stats across two
    micro-batch arrivals; final state equals the batch-computed aggregate."""
    from pyspark.sql import functions as F

    from goorc_spark import streaming, transcripts as tx

    src = tmp_path / "in3"
    sink = tmp_path / "convstats"
    full = tx.transcripts_from_events(spark, "/root/testdata/sf0.001")
    half = F.crc32(F.col("conv_id")) % 2 == 0

    def write_updates(batch_df, batch_id):
        batch_df.write.mode("append").parquet(str(sink))

    def run_pass():
        stream = spark.readStream.schema(full.schema).parquet(str(src))
        q = (streaming.conv_stats_stream(stream)
             .writeStream.foreachBatch(write_updates)
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ck3"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    full.filter(half).write.mode("append").parquet(str(src))
    run_pass()
    full.filter(~half).write.mode("append").parquet(str(src))
    run_pass()  # state recovered from checkpoint: counts keep accumulating
    got = (spark.read.parquet(str(sink))
           .groupBy("conv_id")
           .agg(F.max("turns").alias("turns"), F.max("max_turn").alias("max_turn"),
                F.max("text_bytes").alias("text_bytes")))
    want = full.groupBy("conv_id").agg(
        F.count("*").alias("turns"),
        F.max("turn_idx").alias("max_turn"),
        F.sum(F.length(F.encode("text", "utf-8"))).alias("text_bytes"))
    a = sorted(map(str, got.collect()))
    b = sorted(map(str, want.collect()))
    assert a == b


def test_map_offset_ceiling_error_pinned(monkeypatch):
    """Arrow has no LargeMap: a stripe whose map children total >= 2^31
    must fail with the actionable re-encode hint (lists fall back to
    LargeList instead). Pinned via a lowered ceiling — the real threshold
    needs 2^31 child entries."""
    import pyarrow as pa
    import pytest
    from goorc_spark import arrow_stripe

    t = pa.table({"m": pa.array(
        [[("a", 1), ("b", 2)], [("c", 3)]] * 50,
        type=pa.map_(pa.utf8(), pa.int64()))})
    spec = [{"name": "m", "kind": "map",
             "key": {"name": "key", "kind": "string"},
             "value": {"name": "value", "kind": "long"}}]
    blob, meta = arrow_stripe.encode_stripe_table(t, spec)
    # sanity: decodes fine at the real ceiling
    assert arrow_stripe.decode_stripe_batch(blob, meta).num_rows == 100
    monkeypatch.setattr(arrow_stripe, "MAP_OFFSET_LIMIT", 100)
    with pytest.raises(ValueError, match="re-encode with a smaller"):
        arrow_stripe.decode_stripe_batch(blob, meta)


def _sliced_lists_table() -> pa.Table:
    """List and map columns with nulls inside the elements but none at the
    top level, sliced so the offsets start past 0: the encoder must read
    the children through the logical offsets window."""
    rng = np.random.default_rng(17)
    n = 700
    ls = pa.array([[None if (i + j) % 5 == 0 else int(x)
                    for j, x in enumerate(rng.integers(0, 50, i % 6))]
                   for i in range(n)], pa.list_(pa.int64()))
    mp = pa.array([[(f"k{j}", None if (i + j) % 4 == 0 else j * 1.5)
                    for j in range(i % 4)] for i in range(n)],
                  pa.map_(pa.string(), pa.float64()))
    return pa.table({"ls": ls, "mp": mp}).slice(37, 600)


SLICED_SPEC = [NESTED_SPEC[1], NESTED_SPEC[2]]

# sha256 of the stripe blobs below, recorded before the list/map children
# became zero-copy slices of the offsets window
SLICED_LIST_PINS = {
    None: "da829b2bbfa3184ce8aaa854ce931522c98d6fc760a3c2fa65e275300cb185f4",
    100: "6ed010c479168d3867ed8d554dfc8235a3cba52f1abf0bf4783aaa626067d17f",
}


def test_sliced_list_map_stripe_bytes_pinned():
    import hashlib

    t = _sliced_lists_table()
    for rg_rows, want in SLICED_LIST_PINS.items():
        blob, meta = arrow_stripe.encode_stripe_table(t, SLICED_SPEC,
                                                      rg_rows=rg_rows)
        assert hashlib.sha256(blob).hexdigest() == want, rg_rows
        rb = arrow_stripe.decode_stripe_batch(blob, meta)
        for name in t.schema.names:
            assert rb.column(name).to_pylist() == \
                t.column(name).to_pylist(), (rg_rows, name)
