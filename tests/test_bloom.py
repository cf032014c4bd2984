"""Per-stripe Bloom filter on the key column (the ORC spec's bloom-filter
index idea — pb/orc_proto.proto BloomFilter — lifted to stripe granularity):
under hash partitioning every stripe's [key_min, key_max] spans the key
space, so range pruning keeps everything; the bloom is what skips stripes.
"""

from __future__ import annotations

import pytest

from goorc_spark import engine, transcripts

pytestmark = pytest.mark.usefixtures("spark")


def _hash_stripes(spark, n_convs=60):
    pdf = transcripts.synthesize_pandas(n_convs=n_convs, seed=21)
    df = spark.createDataFrame(pdf)
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              stripe_bytes=64 * 1024, partitions=6,
                              run_id="bloom", range_partition=False)
    return pdf, engine.encode_df(df, cfg).cache()


def test_bloom_positions_deterministic():
    a = engine.bloom_positions("conv-00000007")
    assert a == engine.bloom_positions("conv-00000007")
    assert len(a) == engine.BLOOM_K
    assert all(0 <= p < engine.BLOOM_BITS for p in a)
    assert a != engine.bloom_positions("conv-00000008")


def test_bloom_prunes_hash_partitioned_stripes(spark):
    pdf, stripes = _hash_stripes(spark)
    total = stripes.count()
    key = sorted(pdf["conv_id"].unique())[3]
    pruned = engine.prune_stripes(stripes, key_value=key)
    kept = pruned.count()
    # hash partitioning: range pruning alone keeps ~everything; the bloom
    # must cut the candidate set hard (the key lives in ~1 partition's
    # stripes) while never dropping a covering stripe
    assert kept < total / 2
    rows = engine.decode_df(pruned, transcripts.TRANSCRIPTS_SPEC) \
        .filter(f"conv_id = '{key}'").count()
    assert rows == int((pdf["conv_id"] == key).sum())
    assert rows > 0


def test_bloom_never_false_negative_for_any_key(spark):
    pdf, stripes = _hash_stripes(spark, n_convs=30)
    per_key = pdf.groupby("conv_id").size()
    for key, want in list(per_key.items())[::5]:
        got = engine.decode_df(
            engine.prune_stripes(stripes, key_value=key),
            transcripts.TRANSCRIPTS_SPEC).filter(f"conv_id = '{key}'").count()
        assert got == want, key


# lexicographically INSIDE every stripe's [key_min, key_max] under hash
# partitioning, but present in no stripe — only the bloom can prune it
ABSENT_IN_RANGE = "conv-00000010-missing"


def test_bloom_absent_key_prunes_everything(spark):
    _, stripes = _hash_stripes(spark)
    kept = engine.prune_stripes(stripes, key_value=ABSENT_IN_RANGE).count()
    assert kept <= 1  # false positives allowed, expected ~0


def test_bloom_null_column_keeps_stripes(spark):
    """Legacy stripe tables without a bloom (or keyless encodes) must never
    be skipped by the probe."""
    import pyspark.sql.functions as F

    _, stripes = _hash_stripes(spark, n_convs=30)
    k = ABSENT_IN_RANGE
    range_only = stripes.filter(
        (F.col("key_min") <= k) & (F.col("key_max") >= k)).count()
    assert range_only > 0  # the key is inside some stripes' ranges
    legacy = stripes.drop("key_bloom")
    assert engine.prune_stripes(legacy, key_value=k).count() == range_only
    nulled = stripes.withColumn("key_bloom", F.lit(None).cast("binary"))
    assert engine.prune_stripes(nulled, key_value=k).count() == range_only


def test_compact_stripes_merges_and_roundtrips(spark):
    """Streaming-shaped tiny stripes -> compact -> fewer stripes, identical
    rows, and untouched big stripes pass through without a decode."""
    import pyspark.sql.functions as F

    pdf = transcripts.synthesize_pandas(n_convs=80, seed=31)
    df = spark.createDataFrame(pdf)
    tiny = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                               stripe_bytes=32 * 1024, partitions=16,
                               run_id="pre")
    stripes = engine.encode_df(df, tiny).cache()
    n_before = stripes.count()
    big = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              stripe_bytes=8 * 1024 * 1024, partitions=2,
                              run_id="post")
    compacted = engine.compact_stripes(
        stripes, transcripts.TRANSCRIPTS_SPEC, big).cache()
    n_after = compacted.count()
    assert n_after < n_before / 3
    got = engine.decode_df(compacted, transcripts.TRANSCRIPTS_SPEC) \
        .orderBy("conv_id", "turn_idx").toPandas()
    want = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert got["text"].tolist() == want["text"].tolist()
    assert len(got) == len(want)
    # all recoded stripes carry the new run_id; lineage still queryable
    assert compacted.filter(F.col("run_id") == "post").count() == n_after \
        or compacted.filter(F.col("run_id") == "pre").count() > 0


def test_decode_coerces_schema_drift(spark):
    """Stripes written under a LongType turn_idx (pandas int64 inferred as
    bigint) must decode AND row-access under the canonical int32 spec —
    regression for ArrowColumnVector.getInt throwing on a long vector —
    through decode_df and the row-number seek read_rows_at alike."""
    pdf = transcripts.synthesize_pandas(n_convs=10, seed=5)
    pdf = pdf.assign(turn_idx=pdf["turn_idx"].astype("int64"))
    df = spark.createDataFrame(pdf)
    assert dict(df.dtypes)["turn_idx"] == "bigint"
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              stripe_bytes=1 << 20, partitions=2, run_id="dr")
    stripes = engine.encode_df(df, cfg)
    dec = engine.decode_df(stripes, transcripts.TRANSCRIPTS_SPEC)
    seek = engine.read_rows_at(stripes, transcripts.TRANSCRIPTS_SPEC, 3,
                               len(pdf) - 2)
    for got, n in ((dec, len(pdf)), (seek, len(pdf) - 5)):
        # groupBy forces row access through the arrow vector (the old
        # failure)
        assert got.groupBy("turn_idx").count().count() > 0
        assert dict(got.dtypes)["turn_idx"] == "int"
        assert got.count() == n


def test_read_rows_id_pushdown_from_file_scan(spark, tmp_path,
                                              monkeypatch):
    """From a parquet stripe table, read_rows must re-scan with a
    stripe_id IN (...) predicate (parquet-pushable) instead of filtering
    bloom/range expressions after reading blob bytes. Small survivors
    decode on the driver and scan nothing; a zero byte bound sends the
    read to that Spark decode."""
    pdf, stripes = _hash_stripes(spark, n_convs=40)
    path = str(tmp_path / "stripes")
    stripes.write.mode("overwrite").parquet(path)
    st = spark.read.parquet(path)
    assert engine._bare_scan_plan(st) is not None
    # derived frame: no id pass
    assert engine._bare_scan_plan(stripes) is None
    key = sorted(pdf["conv_id"].unique())[7]
    want = int((pdf["conv_id"] == key).sum())
    m: dict = {}
    out = engine.read_rows(st, transcripts.TRANSCRIPTS_SPEC, "conv_id", key,
                           metrics=m)
    assert out.count() == want
    assert m["served_on"] == "driver"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan and "MapInArrow" not in plan, plan
    monkeypatch.setattr(engine, "DRIVER_DECODE_BYTES", 0)
    out = engine.read_rows(st, transcripts.TRANSCRIPTS_SPEC, "conv_id", key,
                           metrics=m)
    assert out.count() == want
    assert (m["served_on"], m["fallback"]) == ("spark", "over_byte_bound")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the id predicate must reach the parquet scan's DataFilters (Catalyst
    # simplifies a 1-element isin to EqualTo)
    assert "DataFilters: [isnotnull(stripe_id" in plan, plan[:800]


def test_read_where_id_pushdown_from_file_scan(spark, tmp_path):
    """Range scan from parquet: non-covering stripes are dropped via a
    meta-only first pass and a pushed stripe_id filter (no blob reads)."""
    import pandas as pd

    pdf = transcripts.synthesize_pandas(n_convs=60, seed=41)
    df = spark.createDataFrame(pdf)
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              stripe_bytes=64 * 1024, partitions=6,
                              rg_rows=200, run_id="rw",
                              range_partition=True)
    path = str(tmp_path / "stripes")
    engine.encode_df(df, cfg).write.parquet(path)
    st = spark.read.parquet(path)
    lo, hi = "conv-00000005", "conv-00000008"
    out = engine.read_where(st, transcripts.TRANSCRIPTS_SPEC, "conv_id",
                            lo=lo, hi=hi)
    want = pdf[(pdf.conv_id >= lo) & (pdf.conv_id <= hi)]
    assert out.count() == len(want)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("DataFilters: [stripe_id" in plan
            or "DataFilters: [isnotnull(stripe_id" in plan), plan[:800]


def _scalar_bloom(values) -> bytes:
    """The stripe bloom a key set must produce, from the probe math."""
    bits = bytearray(engine.BLOOM_BITS // 8)
    for v in values:
        for p in engine.bloom_positions(v):
            bits[p >> 3] |= 1 << (p & 7)
    return bytes(bits) + b"\x01"


def test_build_bloom_matches_scalar():
    """The vectorized murmur3 bloom builder is bit-exact with the scalar
    probe math (encode writes with the former, queries probe with the
    latter — a single differing bit would wrongly skip a stripe)."""
    import pyarrow as pa

    strs = ["conv-%08d" % i for i in range(2000)] + ["", "é漢字", "x" * 300]
    ints = list(range(-50, 4000, 7))
    for arr in (pa.array(strs), pa.array(strs, pa.large_string()),
                pa.chunked_array([strs[:700], strs[700:]]),
                pa.array(ints), pa.array([s.encode() for s in strs])):
        got = engine._build_bloom(arr)
        assert len(got) == engine.BLOOM_BYTES
        assert got == _scalar_bloom(arr.to_pylist())
    assert engine._build_bloom(pa.array([None], pa.string())) \
        == _scalar_bloom([])
    assert engine._build_bloom(pa.array([None, 7])) \
        == engine._build_bloom(pa.array([7, 7]))


def test_build_bloom_canonical_equal_values():
    """ADVICE r4: equal-comparing values must probe the same bits —
    Decimal('1.50') vs Decimal('1.5'), tz-aware instants in different
    zones, 1.0 vs 1 — or the bloom falsely prunes and reads silently drop
    matching rows."""
    import datetime as dt
    from decimal import Decimal

    from goorc_spark.codecs.primitives import canonical_key_bytes

    pairs = [
        (Decimal("1.50"), Decimal("1.5")),
        (Decimal("100"), Decimal("1E+2")),
        (Decimal("5.00"), 5),
        (1.0, 1),
        (True, 1),
        (dt.datetime(2020, 1, 1, 12, tzinfo=dt.timezone.utc),
         dt.datetime(2020, 1, 1, 4,
                     tzinfo=dt.timezone(dt.timedelta(hours=-8)))),
    ]
    for a, b in pairs:
        assert a == b, (a, b)
        assert canonical_key_bytes(a) == canonical_key_bytes(b), (a, b)
        assert engine.bloom_positions(a) == engine.bloom_positions(b), (a, b)
    # the builder hashes Arrow columns of these kinds to the same bits
    import pyarrow as pa

    for a, b in pairs[:5]:
        assert (engine._build_bloom(pa.array([a]))
                == engine._build_bloom(pa.array([b]))), (a, b)
    # unequal values still (overwhelmingly) hash apart
    assert canonical_key_bytes(Decimal("1.5")) != canonical_key_bytes(
        Decimal("1.51"))


def test_build_bloom_long_outlier_bounded_memory():
    """ADVICE r4: one long key among many short ones must not allocate an
    n x max_len padded matrix; the scalar-cutoff + bucketed path stays
    bit-exact with the scalar probes."""
    import pyarrow as pa

    vals = ["conv-%06d" % i for i in range(5000)] + ["z" * 200_000, ""]
    assert engine._build_bloom(pa.array(vals)) == _scalar_bloom(vals)


def test_key_hash_canonical_decimal():
    """_key_hash, which every stripe-bloom probe goes through, hashes the
    canonical key bytes: equal-comparing Decimal and int keys hash alike
    (false-prune regression)."""
    from decimal import Decimal

    from goorc_spark import arrow_stripe

    assert (arrow_stripe._key_hash(Decimal("2.50"))
            == arrow_stripe._key_hash(Decimal("2.5")))
    assert (arrow_stripe._key_hash(Decimal("3"))
            == arrow_stripe._key_hash(3))


# ------------------------------------------- driver-side stripe prune --
# read_rows / read_rows_in over a bare stripe-table scan evaluate
# prune_stripes' predicate in Python on the driver; its survivors must be
# exactly prune_stripes' survivors on every layout.


@pytest.fixture(scope="module")
def parquet_tables(spark, tmp_path_factory):
    """(pdf, {layout: bare parquet scan}) for hash- and range-partitioned
    encodes of one frame."""
    pdf = transcripts.synthesize_pandas(n_convs=60, seed=21)
    df = spark.createDataFrame(pdf)
    tables = {}
    for name, ranged in (("hash", False), ("range", True)):
        cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                                  stripe_bytes=64 * 1024, partitions=6,
                                  run_id=name, range_partition=ranged)
        path = str(tmp_path_factory.mktemp(name) / "stripes")
        engine.encode_df(df, cfg).write.parquet(path)
        tables[name] = spark.read.parquet(path)
    return pdf, tables


def _spark_survivors(stripes, **keys):
    return sorted(r[0] for r in engine.prune_stripes(stripes, **keys)
                  .select("stripe_id").collect())


def _driver_survivors(stripes, **keys):
    rows, total, _ = engine._prune_on_driver(stripes, **keys)
    assert total == stripes.count()
    return sorted(r.stripe_id for r in rows)


def _probe_keys(pdf):
    present = sorted(pdf["conv_id"].unique())[::3]
    absent = ["conv-%08d-missing" % i for i in range(0, 60, 6)] + [
        "", "a", "zzz"]
    return present, absent


@pytest.mark.parametrize("layout", ["hash", "range"])
def test_driver_prune_matches_prune_stripes(parquet_tables, layout):
    pdf, tables = parquet_tables
    st = tables[layout]
    present, absent = _probe_keys(pdf)
    assert len(present) + len(absent) >= 30
    for key in present + absent:
        want = _spark_survivors(st, key_value=key)
        assert _driver_survivors(st, key_value=key) == want, key
        if key in present:
            assert want, key


def test_driver_prune_int_keys(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    for ranged in (True, False):
        cfg = engine.EncodeConfig(key_col="k", order_cols=("v",),
                                  partitions=4, stripe_bytes=8 * 1024,
                                  range_partition=ranged, run_id="intkey")
        path = str(tmp_path / f"int_{ranged}")
        engine.encode_df(df, cfg).write.parquet(path)
        st = spark.read.parquet(path)
        assert dict(st.dtypes)["key_min"] == "bigint"
        for key in (0, 9, 10, 1499, 2999, -5, 3000, 10**12):
            assert (_driver_survivors(st, key_value=key)
                    == _spark_survivors(st, key_value=key)), (ranged, key)
        # a key kind the driver does not range-compare keeps the stripe:
        # never fewer survivors than prune_stripes
        assert set(_driver_survivors(st, key_value=9.0)) >= set(
            _spark_survivors(st, key_value=9.0))
        got = engine.read_rows(st, engine.spec_from_schema(df.schema),
                               "k", 1499).collect()
        assert [(r.k, r.v) for r in got] == [(1499, 2998)]


def test_driver_prune_without_bloom(parquet_tables):
    """NULL blooms and a dropped key_bloom column never skip a stripe on
    either side; the range bounds still prune."""
    import pyspark.sql.functions as F

    pdf, tables = parquet_tables
    present, absent = _probe_keys(pdf)
    for st in tables.values():
        for legacy in (st.drop("key_bloom"),
                       st.withColumn("key_bloom",
                                     F.lit(None).cast("binary"))):
            for key in present[:5] + absent:
                assert (_driver_survivors(legacy, key_value=key)
                        == _spark_survivors(legacy, key_value=key)), key


def test_driver_prune_multi_key(parquet_tables):
    """read_rows_in: a stripe survives if ANY key matches; above
    MAX_BLOOM_KEYS keys only the keys' envelope range is checked."""
    pdf, tables = parquet_tables
    keys = sorted(pdf["conv_id"].unique())
    many = keys[5:5 + engine.MAX_BLOOM_KEYS // 2] + [
        "conv-%08d-missing" % i for i in range(engine.MAX_BLOOM_KEYS)]
    assert len(many) > engine.MAX_BLOOM_KEYS
    for st in tables.values():
        for ks in ([keys[3], keys[40]], [keys[3], ABSENT_IN_RANGE],
                   ["conv-x", ABSENT_IN_RANGE], many):
            assert (_driver_survivors(st, key_values=ks)
                    == _spark_survivors(st, key_values=ks)), ks
    st = tables["hash"]
    m: dict = {}
    got = engine.read_rows_in(st, transcripts.TRANSCRIPTS_SPEC, "conv_id",
                              [keys[3], keys[40]], metrics=m).count()
    assert got == int(pdf["conv_id"].isin([keys[3], keys[40]]).sum())
    assert m["pruned_on"] == "driver"
    assert m["stripes_total"] == st.count()
    assert m["stripes_kept"] == len(_spark_survivors(
        st, key_values=[keys[3], keys[40]]))
    got = engine.read_rows_in(st, transcripts.TRANSCRIPTS_SPEC, "conv_id",
                              many).count()
    assert got == int(pdf["conv_id"].isin(many).sum())


def test_read_rows_metrics_and_spark_fallback(parquet_tables, monkeypatch):
    """More stripes than MAX_PUSHDOWN_IDS: the driver pass hands over to
    today's Spark-side prune; the rows are identical either way."""
    pdf, tables = parquet_tables
    st = tables["hash"]
    key = sorted(pdf["conv_id"].unique())[7]
    cols = ["conv_id", "turn_idx", "text"]

    def read(m):
        return sorted(tuple(r) for r in engine.read_rows(
            st, transcripts.TRANSCRIPTS_SPEC, "conv_id", key,
            columns=cols, metrics=m).select(*cols).collect())

    m1: dict = {}
    want = read(m1)
    assert len(want) == int((pdf["conv_id"] == key).sum())
    assert (m1.pop("lineage_cache_hits")
            + m1.pop("lineage_cache_misses")) == 1
    assert m1.pop("kernel") in ("native", "numpy")
    assert m1 == {"pruned_on": "driver", "stripes_total": st.count(),
                  "stripes_kept": len(_spark_survivors(st, key_value=key)),
                  "served_on": "driver"}
    monkeypatch.setattr(engine, "MAX_PUSHDOWN_IDS", 1)
    m2: dict = {}
    assert read(m2) == want
    assert m2["pruned_on"] == "spark"
    assert (m2["served_on"], m2["fallback"]) == ("spark", "too_many_stripes")
    assert "kernel" not in m2
    assert "stripes_total" not in m2
    assert "lineage_cache_hits" not in m2
    assert "lineage_cache_misses" not in m2
    assert m2.get("stripes_kept", 1) <= 1


def test_legacy_fnv_blooms_never_skip(spark, parquet_tables, tmp_path,
                                      monkeypatch):
    """Stripe tables written before the stripe bloom moved to murmur3 hold
    8192-byte FNV-1a blooms: they must skip no stripe on the driver path,
    the Spark path or the single-pass plan of a non-bare frame, and read
    the unpruned rows.
    All-zero blooms would skip every stripe if they were honored."""
    import pyspark.sql.functions as F

    pdf, tables = parquet_tables
    path = str(tmp_path / "legacy")
    tables["hash"].withColumn(
        "key_bloom", F.lit(bytes(engine.BLOOM_BITS // 8))).write.parquet(path)
    legacy = spark.read.parquet(path)
    no_bloom = legacy.drop("key_bloom")
    keys = sorted(pdf["conv_id"].unique())
    batch = [keys[3], keys[40], ABSENT_IN_RANGE]
    for kw in ({"key_value": keys[7]}, {"key_value": ABSENT_IN_RANGE},
               {"key_values": batch}):
        want = _spark_survivors(no_bloom, **kw)
        assert want
        assert _driver_survivors(legacy, **kw) == want, kw
        assert _spark_survivors(legacy, **kw) == want, kw

    cols = ["conv_id", "turn_idx", "text"]
    full = engine.decode_df(legacy, transcripts.TRANSCRIPTS_SPEC)

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    want_one = rows(full.filter(F.col("conv_id") == keys[7]))
    want_batch = rows(full.filter(F.col("conv_id").isin(batch)))
    assert want_one and want_batch
    for where in ("driver", "spark", "off"):
        if where == "spark":
            monkeypatch.setattr(engine, "MAX_PUSHDOWN_IDS", 1)
        frame = _spark_view(legacy) if where == "off" else legacy
        m: dict = {}
        assert rows(engine.read_rows(
            frame, transcripts.TRANSCRIPTS_SPEC, "conv_id", keys[7],
            columns=cols, metrics=m)) == want_one, where
        assert rows(engine.read_rows_in(
            frame, transcripts.TRANSCRIPTS_SPEC, "conv_id", batch,
            columns=cols)) == want_batch, where
        assert m["pruned_on"] == ("spark" if where == "off" else where)
        if where == "driver":
            assert m["stripes_kept"] == len(
                _spark_survivors(no_bloom, key_value=keys[7]))


# ------------------------------------------------- driver lineage cache --


def _keyed_pdf(n_convs=30, seed=21, prefix="conv"):
    pdf = transcripts.synthesize_pandas(n_convs=n_convs, seed=seed)
    pdf["conv_id"] = pdf["conv_id"].str.replace("conv", prefix)
    return pdf


def _write_table(spark, path, pdf, run_id="cache", mode="error"):
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              stripe_bytes=64 * 1024, partitions=4,
                              run_id=run_id, range_partition=False)
    engine.encode_df(spark.createDataFrame(pdf), cfg) \
        .write.mode(mode).parquet(path)


def _jobs_of(spark, fn):
    """(fn(), number of Spark jobs fn submitted). A marker job in a second
    group closes the count: once the status tracker lists it, every
    earlier job is listed too (listener events arrive in order)."""
    import time
    import uuid

    sc = spark.sparkContext
    group = "lineage-" + uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc.setJobGroup(group + "-end", group)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for _ in range(200):
        if sc.statusTracker().getJobIdsForGroup(group + "-end"):
            return out, len(sc.statusTracker().getJobIdsForGroup(group))
        time.sleep(0.05)
    raise AssertionError("marker job never reported")


def _spark_view(st):
    """`st` as a frame that is no bare file scan (a Repartition over it):
    a point read of it takes the single-pass Spark decode."""
    view = st.repartition(2)
    assert engine._bare_scan_plan(view) is None
    return view


def _point(stripes, key, metrics=None):
    cols = ["conv_id", "turn_idx", "text"]
    return sorted(tuple(r) for r in engine.read_rows(
        stripes, transcripts.TRANSCRIPTS_SPEC, "conv_id", key,
        columns=cols, metrics=metrics).select(*cols).collect())


def _cache_use(m):
    return m.get("lineage_cache_hits", 0), m.get("lineage_cache_misses", 0)


def _n(pdf, key):
    return int((pdf["conv_id"] == key).sum())


def test_lineage_cache_second_read_runs_no_lineage_job(spark, tmp_path):
    path = str(tmp_path / "t")
    pdf = _keyed_pdf()
    _write_table(spark, path, pdf)
    st = spark.read.parquet(path)
    key = sorted(pdf["conv_id"].unique())[4]
    m: dict = {}
    _, cold = _jobs_of(spark, lambda: engine.read_rows(
        st, transcripts.TRANSCRIPTS_SPEC, "conv_id", key, metrics=m))
    _, warm = _jobs_of(spark, lambda: engine.read_rows(
        st, transcripts.TRANSCRIPTS_SPEC, "conv_id", key, metrics=m))
    assert cold >= 1 and warm == 0, (cold, warm)
    assert _cache_use(m) == (1, 1)
    got = _point(st, key)
    assert got == _point(_spark_view(st), key)
    assert len(got) == _n(pdf, key) > 0


def test_lineage_cache_misses_after_overwrite(spark, tmp_path):
    path = str(tmp_path / "t")
    old = _keyed_pdf()
    _write_table(spark, path, old)
    old_key = sorted(old["conv_id"].unique())[4]
    assert _point(spark.read.parquet(path), old_key)
    new = _keyed_pdf(seed=5, prefix="other")
    _write_table(spark, path, new, mode="overwrite")
    st = spark.read.parquet(path)
    new_key = sorted(new["conv_id"].unique())[4]
    m: dict = {}
    assert len(_point(st, new_key, m)) == _n(new, new_key) > 0
    assert _cache_use(m) == (0, 1)
    assert _point(st, old_key, m) == []
    assert _cache_use(m) == (1, 1)


def test_lineage_cache_misses_after_append_and_refresh(spark, tmp_path):
    """refreshByPath re-lists the file index of a cached plan over the
    path, which a frame planned before it was cached shares. While it is
    cached, Spark serves reads of every frame over the path from memory,
    so none is a bare scan (never cached here). Once unpersisted, its
    input files are the grown list — a new snapshot. An old frame nobody
    refreshed keeps its listing: Spark reads the old files, and so does
    the cache."""
    path = str(tmp_path / "t")
    _write_table(spark, path, _keyed_pdf())
    st, plain = spark.read.parquet(path), spark.read.parquet(path)
    new = _keyed_pdf(n_convs=10, seed=5, prefix="added")
    new_key = sorted(new["conv_id"].unique())[2]
    m: dict = {}
    for frame in (st, plain, st):
        assert _point(frame, new_key, m) == []
    assert _cache_use(m) == (2, 1)
    st.cache()
    try:
        _write_table(spark, path, new, run_id="appended", mode="append")
        spark.catalog.refreshByPath(path)
        m = {}
        for frame in (st, plain):
            assert len(_point(frame, new_key, m)) == _n(new, new_key) > 0
        assert _cache_use(m) == (0, 2)
    finally:
        st.unpersist(blocking=True)
    m = {}
    for _ in range(2):
        assert len(_point(st, new_key, m)) == _n(new, new_key)
    assert _cache_use(m) == (1, 1)
    m = {}
    assert _point(plain, new_key, m) == []
    assert _point(_spark_view(plain), new_key) == []
    assert _cache_use(m) == (1, 0)


def test_lineage_cache_filtered_frames_never_share(parquet_tables):
    from pyspark.sql import functions as F

    pdf, tables = parquet_tables
    st = tables["hash"]
    a = st.filter(F.col("part_id") == 0)
    b = st.filter(F.col("part_id") == 1)
    assert engine._snapshot(a)[0] != engine._snapshot(b)[0]
    for key in sorted(pdf["conv_id"].unique())[::6]:
        for frame in (a, b):
            assert (_point(frame, key)
                    == _point(_spark_view(frame), key)), key
    ids = []
    for frame in (a, b):
        rows, _, hit = engine._prune_on_driver(frame)  # no key: keep all
        got = [r.stripe_id for r in rows]
        assert hit
        assert sorted(got) == sorted(
            r[0] for r in frame.select("stripe_id").collect())
        ids.append(set(got))
    assert ids[0] and ids[1] and ids[0].isdisjoint(ids[1])


def test_lineage_cache_lru_bound_evicts(parquet_tables, monkeypatch):
    from pyspark.sql import functions as F

    pdf, tables = parquet_tables
    st = tables["range"]
    a = st.filter(F.col("part_id") == 2)
    b = st.filter(F.col("part_id") == 3)
    key = sorted(pdf["conv_id"].unique())[0]
    monkeypatch.setattr(engine, "LINEAGE_CACHE_ENTRIES", 1)
    m: dict = {}
    for frame in (a, a, b, a):
        _point(frame, key, m)
    assert _cache_use(m) == (1, 3)
    assert len(engine._lineage_cache) == 1


def test_lineage_cache_skips_in_flight_frames(spark):
    pdf = _keyed_pdf(n_convs=20, seed=3)
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              stripe_bytes=64 * 1024, partitions=2,
                              run_id="inflight", range_partition=False)
    inflight = engine.encode_df(spark.createDataFrame(pdf), cfg)
    assert engine._snapshot(inflight) is None
    before = list(engine._lineage_cache)
    key = sorted(pdf["conv_id"].unique())[1]
    assert engine._lineage(inflight)[1:] == (None, None)
    m: dict = {}
    for _ in range(2):
        got = _point(inflight, key, m)
        assert len(got) == _n(pdf, key) > 0
    assert (m["served_on"], m["fallback"]) == ("spark", "not_bare_scan")
    assert _cache_use(m) == (0, 0)
    assert list(engine._lineage_cache) == before


def test_lineage_cache_not_consulted_by_a_new_session(tmp_path):
    """After spark.stop() and a new session the application id differs,
    so entries of the old session never match — even for the same files —
    and the JVM handles the snapshot key is built with are the new
    session's, not the stopped one's. Runs in its own interpreter:
    stopping the shared test session would break every later test."""
    import os
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    script = textwrap.dedent("""
        import sys

        from pyspark.sql import SparkSession

        from goorc_spark import engine, transcripts

        def session():
            return (SparkSession.builder.master("local[1]")
                    .config("spark.ui.enabled", "false")
                    .config("spark.sql.session.timeZone", "UTC")
                    .getOrCreate())

        path = sys.argv[1]
        spark = session()
        pdf = transcripts.synthesize_pandas(n_convs=12, seed=4)
        cfg = engine.EncodeConfig(key_col="conv_id",
                                  order_cols=("turn_idx",), partitions=2,
                                  stripe_bytes=64 * 1024, run_id="s")
        engine.encode_df(spark.createDataFrame(pdf), cfg).write.parquet(path)
        key = sorted(pdf["conv_id"].unique())[3]
        want = int((pdf["conv_id"] == key).sum())

        def read(spark):
            m = {}
            n = engine.read_rows(spark.read.parquet(path),
                                 transcripts.TRANSCRIPTS_SPEC, "conv_id",
                                 key, metrics=m).count()
            assert n == want > 0, (n, want)
            return m["lineage_cache_hits"], m["lineage_cache_misses"]

        def handles(spark):
            owner, (app, cache_manager, _) = engine._handles_of
            assert owner is spark
            assert app == spark.sparkContext.applicationId
            assert cache_manager.equals(
                spark._jsparkSession.sharedState().cacheManager())
            return cache_manager

        assert read(spark) == (0, 1)
        assert read(spark) == (1, 0)
        old_app = spark.sparkContext.applicationId
        old_cache_manager = handles(spark)
        spark.stop()
        spark = session()
        assert spark.sparkContext.applicationId != old_app
        assert len(engine._lineage_cache) == 1
        assert read(spark) == (0, 1)
        assert not handles(spark).equals(old_cache_manager)
        assert read(spark) == (1, 0)
        spark.stop()
    """)
    root = Path(__file__).resolve().parents[1]
    env = dict(os.environ, PYTHONPATH=str(root))
    r = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "t")], env=env,
        capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]


def test_spec_from_stripes_cached_per_snapshot(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_table(spark, path, _keyed_pdf())
    first, second = spark.read.parquet(path), spark.read.parquet(path)
    spec, cold = _jobs_of(spark, lambda: engine.spec_from_stripes(first))
    again, warm = _jobs_of(spark, lambda: engine.spec_from_stripes(second))
    assert cold >= 1 and warm == 0, (cold, warm)
    assert again == spec
    assert [c["name"] for c in spec] == [
        c["name"] for c in transcripts.TRANSCRIPTS_SPEC]
