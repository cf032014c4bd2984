"""Warm point reads over a bare stripe-table scan decode their surviving
stripes on the driver (engine._decode_on_driver): no Spark decode job, the
same rows and schema as the Spark decode of a non-bare view of the same
table (`_spark_view`), and every case the driver may not serve falls back
to that decode with its reason in `metrics["fallback"]`.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from goorc_spark import arrow_stripe, engine, transcripts
from test_bloom import _jobs_of, _spark_view

pytestmark = pytest.mark.usefixtures("spark")

ABSENT_IN_RANGE = "conv-00000010-missing"


def _source(spark):
    """Transcripts plus nested columns (struct, list, map)."""
    pdf = transcripts.synthesize_pandas(n_convs=40, seed=17)
    df = spark.createDataFrame(pdf).select(
        "*",
        F.struct(F.col("turn_idx").alias("i"),
                 F.col("role").alias("r")).alias("nested"),
        F.array(F.col("role"), F.col("tool")).alias("tags"),
        F.create_map(F.lit("turn"), F.col("turn_idx").cast("long"))
        .alias("kv"))
    return pdf, df


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """(pdf, spec, {layout: bare parquet scan}): hash placement and range
    placement, both with small row groups so the row-group select has work
    to do."""
    pdf, df = _source(spark)
    out = {}
    for name, ranged in (("hash", False), ("range", True)):
        cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                                  stripe_bytes=64 * 1024, partitions=4,
                                  rg_rows=100, run_id="drv" + name,
                                  range_partition=ranged)
        path = str(tmp_path_factory.mktemp(name) / "stripes")
        engine.encode_df(df, cfg).write.parquet(path)
        out[name] = spark.read.parquet(path)
    return pdf, engine.spec_from_schema(df.schema), out


def _rows(df):
    return sorted(repr(r) for r in df.collect())


def _same_as_spark(read, st):
    """read(st, metrics=...) served on the driver gives the rows and
    schema of the Spark decode (read over _spark_view(st))."""
    m: dict = {}
    got = read(st, metrics=m)
    assert m["served_on"] == "driver", m
    assert "fallback" not in m
    assert m["kernel"] in ("native", "numpy")
    ref_m: dict = {}
    want = read(_spark_view(st), metrics=ref_m)
    assert (ref_m["served_on"], ref_m["fallback"]) == ("spark",
                                                        "not_bare_scan")
    assert got.schema == want.schema
    rows = _rows(got)
    assert rows == _rows(want)
    return rows


def _keys(pdf):
    return sorted(pdf["conv_id"].unique())


@pytest.mark.parametrize("layout", ["hash", "range"])
def test_driver_rows_equal_spark_decode(tables, layout):
    pdf, spec, st = tables
    st = st[layout]
    keys = _keys(pdf)
    for key in keys[::7] + [ABSENT_IN_RANGE, "zzz"]:
        rows = _same_as_spark(lambda t, **kw: engine.read_rows(
            t, spec, "conv_id", key, **kw), st)
        assert len(rows) == int((pdf["conv_id"] == key).sum()), key
    # spec=None recovers the spec from the stripes' meta, as decode_df does
    assert _rows(engine.read_rows(st, None, "conv_id", keys[0])) == _rows(
        engine.read_rows(_spark_view(st), spec, "conv_id", keys[0]))
    batch = [keys[2], keys[21], ABSENT_IN_RANGE]
    rows = _same_as_spark(lambda t, **kw: engine.read_rows_in(
        t, spec, "conv_id", batch, **kw), st)
    assert len(rows) == int(pdf["conv_id"].isin(batch).sum())


def test_driver_projection_and_order_range(tables):
    """Projected `columns` and an ord_lo/ord_hi window: the exact Catalyst
    filter, not the row-group select, decides which rows come back."""
    pdf, spec, st = tables
    key = max(_keys(pdf), key=lambda k: int((pdf["conv_id"] == k).sum()))
    n = int((pdf["conv_id"] == key).sum())
    assert n > 20
    lo, hi = 3, n - 5
    for layout in ("hash", "range"):
        rows = _same_as_spark(lambda t, **kw: engine.read_rows(
            t, spec, "conv_id", key, ord_col="turn_idx",
            ord_lo=lo, ord_hi=hi, columns=["conv_id", "turn_idx", "kv"],
            **kw), st[layout])
        assert len(rows) == hi - lo + 1
        got = engine.read_rows(st[layout], spec, "conv_id", key,
                               ord_col="turn_idx", ord_lo=lo, ord_hi=hi,
                               columns=["conv_id", "turn_idx", "kv"])
        assert got.columns == ["conv_id", "turn_idx", "kv"]
        assert sorted(r.turn_idx for r in got.collect()) == list(
            range(lo, hi + 1))


def test_driver_non_prefiltered_key_kind(spark, tmp_path):
    """A float key on a long key column skips the Arrow pre-filter; the
    Catalyst filter alone picks the rows, on the driver as in Spark."""
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    cfg = engine.EncodeConfig(key_col="k", order_cols=("v",), partitions=2,
                              stripe_bytes=8 * 1024, rg_rows=100,
                              range_partition=True, run_id="fk")
    path = str(tmp_path / "t")
    engine.encode_df(df, cfg).write.parquet(path)
    st = spark.read.parquet(path)
    spec = engine.spec_from_schema(df.schema)
    assert engine._key_set(spec, "k", [9.0], "UTC") is None
    assert engine._key_set(spec, "k", [9], "UTC") is not None
    for key in (9.0, 9, 1999):
        rows = _same_as_spark(lambda t, **kw: engine.read_rows(
            t, spec, "k", key, **kw), st)
        assert len(rows) == 1, key


def test_driver_timestamps_under_non_utc_session(spark, tables):
    pdf, spec, st = tables
    key = _keys(pdf)[5]
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        for layout in ("hash", "range"):
            def read(t, **kw):
                return engine.read_rows(
                    t, spec, "conv_id", key, **kw).select(
                    "turn_idx", F.unix_micros("ts").alias("us"),
                    F.col("ts").cast("string").alias("local"))
            rows = _same_as_spark(read, st[layout])
            assert len(rows) == int((pdf["conv_id"] == key).sum())
        got = {r.turn_idx: r.us for r in read(st["range"]).collect()}
        src = pdf[pdf["conv_id"] == key]
        want = {int(t): int(ts.value // 1000)
                for t, ts in zip(src["turn_idx"], src["ts"])}
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_null_key_reads_no_stripe(spark, tables):
    """read_rows(key_value=None) and an all-NULL read_rows_in list return
    the empty frame of the decode schema without a Spark job; NULLs
    mixed into a key list are dropped, as SQL IN drops them."""
    pdf, spec, st = tables
    st = st["hash"]
    cols = ["conv_id", "turn_idx", "nested"]
    m: dict = {}
    out, jobs = _jobs_of(spark, lambda: engine.read_rows(
        st, spec, "conv_id", None, ord_col="turn_idx", ord_lo=1,
        columns=cols, metrics=m))
    assert jobs == 0
    assert m["stripes_kept"] == 0 and m["served_on"] == "driver"
    assert "stripes_total" not in m
    want = engine.read_rows(_spark_view(st), spec, "conv_id", None,
                            ord_col="turn_idx", ord_lo=1, columns=cols)
    assert out.schema == want.schema
    assert out.collect() == [] and want.collect() == []
    _, jobs = _jobs_of(spark, lambda: engine.read_rows_in(
        st, spec, "conv_id", [None, None]).collect())
    assert jobs == 0
    key = _keys(pdf)[3]
    mixed = engine.read_rows_in(st, spec, "conv_id", [key, None])
    assert _rows(mixed) == _rows(engine.read_rows_in(
        _spark_view(st), spec, "conv_id", [key]))
    assert mixed.count() == int((pdf["conv_id"] == key).sum()) > 0
    with pytest.raises(ValueError):
        engine.read_rows_in(st, spec, "conv_id", [])


def test_legacy_blooms_on_the_driver(spark, tables, tmp_path):
    """8192-byte blooms of the old hash family never skip a stripe on the
    driver path either; rows equal the Spark decode."""
    pdf, spec, st = tables
    path = str(tmp_path / "legacy")
    st["hash"].withColumn(
        "key_bloom", F.lit(bytes(engine.BLOOM_BITS // 8))).write.parquet(path)
    legacy = spark.read.parquet(path)
    key = _keys(pdf)[9]
    m: dict = {}
    engine.read_rows(legacy, spec, "conv_id", key, metrics=m)
    assert m["stripes_kept"] == m["stripes_total"]
    rows = _same_as_spark(lambda t, **kw: engine.read_rows(
        t, spec, "conv_id", key, **kw), legacy)
    assert len(rows) == int((pdf["conv_id"] == key).sum()) > 0


def test_legacy_group_blooms_on_the_driver(spark, tables, tmp_path):
    """Group metas that still carry `key_bloom` entries, as earlier
    writers recorded them, are read by their bounds alone. The entries
    here have no bit set, so a reader that probed them would keep no
    group; the driver returns every row of the key, as the Spark decode
    does."""
    pdf, spec, st = tables
    empty = '{"k": 3, "b64": "%s"}' % ("A" * 86 + "==")  # 64 zero bytes
    path = str(tmp_path / "legacy_groups")
    st["hash"].withColumn("meta", F.regexp_replace(
        "meta", r'\{"n_rows": ', '{"key_bloom": %s, "n_rows": ' % empty)
    ).write.parquet(path)
    legacy = spark.read.parquet(path)
    metas = [json.loads(r.meta) for r in legacy.select("meta").collect()]
    groups = [g for m in metas for g in m["row_groups"]]
    assert groups and all("key_bloom" in g for g in groups)
    keys = _keys(pdf)
    for key in keys[::9]:
        rows = _same_as_spark(lambda t, **kw: engine.read_rows(
            t, spec, "conv_id", key, **kw), legacy)
        assert len(rows) == int((pdf["conv_id"] == key).sum()) > 0
    batch = [keys[1], keys[30], ABSENT_IN_RANGE]
    rows = _same_as_spark(lambda t, **kw: engine.read_rows_in(
        t, spec, "conv_id", batch, **kw), legacy)
    assert len(rows) == int(pdf["conv_id"].isin(batch).sum()) > 0


def test_driver_verifies_stripe_crc(spark, tables, tmp_path):
    """A stored blob whose bytes no longer match its CRC32 raises on the
    driver path, as it does in a Spark task."""
    pdf, spec, st = tables
    path = str(tmp_path / "corrupt")
    st["range"].withColumn("blob", F.concat(
        F.substring("blob", 1, 40), F.lit(b"\x00\x01"),
        F.expr("substring(blob, 43)"))).write.parquet(path)
    bad = spark.read.parquet(path)
    with pytest.raises(arrow_stripe.CorruptStripeError):
        engine.read_rows(bad, spec, "conv_id", _keys(pdf)[4])


# ------------------------------------------------------------ fallbacks --


def _served_on_spark(read, reason, want):
    m: dict = {}
    got = read(metrics=m)
    assert (m["served_on"], m.get("fallback")) == ("spark", reason), m
    assert "kernel" not in m
    assert _rows(got) == want


def test_fallback_over_byte_bound(tables, monkeypatch):
    """Both byte checks: the survivors' lineage enc_bytes, then the blob
    bytes of the parquet row groups holding them (a row group is read
    whole, so it costs more than its survivors)."""
    pdf, spec, st = tables
    st = st["hash"]
    key = _keys(pdf)[11]

    def read(t=st, **kw):
        return engine.read_rows(t, spec, "conv_id", key, **kw)

    want = _same_as_spark(read, st)
    rows, _, _ = engine._prune_on_driver(st, key_value=key)
    survivors = sum(r.enc_bytes for r in rows)
    monkeypatch.setattr(engine, "DRIVER_DECODE_BYTES", survivors - 1)
    _served_on_spark(read, "over_byte_bound", want)
    monkeypatch.setattr(engine, "DRIVER_DECODE_BYTES", survivors)
    _served_on_spark(read, "over_byte_bound", want)


def test_fallback_too_many_stripes(tables, monkeypatch):
    pdf, spec, st = tables
    key = _keys(pdf)[12]

    def read(t=st["range"], **kw):
        return engine.read_rows(t, spec, "conv_id", key, **kw)

    want = _same_as_spark(read, st["range"])
    monkeypatch.setattr(engine, "MAX_PUSHDOWN_IDS", 1)
    _served_on_spark(read, "too_many_stripes", want)


def test_fallback_unreadable_files(spark, tables, tmp_path, monkeypatch):
    """A stripe table stored as ORC is a bare scan pyarrow.parquet cannot
    open; a part file whose URI scheme has no pyarrow filesystem is the
    same case."""
    pdf, spec, st = tables
    key = _keys(pdf)[13]
    path = str(tmp_path / "orc")
    st["range"].write.orc(path)
    orc = spark.read.orc(path)

    def read(t=orc, **kw):
        return engine.read_rows(t, spec, "conv_id", key, **kw)

    want = _rows(read(_spark_view(orc)))
    assert want
    _served_on_spark(read, "unreadable", want)

    real = engine._prune_on_driver

    class _Row(dict):
        __getattr__ = dict.__getitem__

    def elsewhere(*a, **kw):
        rows, total, hit = real(*a, **kw)
        return [_Row(r.asDict(), file="nosuchscheme://bucket/part.parquet")
                for r in rows], total, hit

    monkeypatch.setattr(engine, "_prune_on_driver", elsewhere)

    def read_pq(**kw):
        return engine.read_rows(st["range"], spec, "conv_id", key, **kw)

    _served_on_spark(read_pq, "unreadable", want)


def test_fallback_not_bare_scan(spark, tables):
    """In-flight frames and frames whose meta or blob a Project computes
    decode in Spark."""
    pdf, spec, st = tables
    key = _keys(pdf)[14]
    _, df = _source(spark)
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              stripe_bytes=64 * 1024, partitions=2,
                              rg_rows=100, run_id="inflight")
    inflight = engine.encode_df(df, cfg)
    want = _rows(engine.read_rows(st["hash"], spec, "conv_id", key))
    _served_on_spark(lambda **m: engine.read_rows(
        inflight, spec, "conv_id", key, **m), "not_bare_scan", want)
    rewritten = st["hash"].withColumn(
        "meta", F.regexp_replace("meta", "^x", "x"))
    assert engine._bare_scan_plan(rewritten) is not None
    assert not engine._reads_stored(rewritten, ("stripe_id", "meta", "blob"))
    assert engine._reads_stored(st["hash"].drop("key_bloom"),
                                ("stripe_id", "meta", "blob"))
    _served_on_spark(lambda **m: engine.read_rows(
        rewritten, spec, "conv_id", key, **m), "not_bare_scan", want)


# ------------------------------------------------------------ job count --


def test_warm_driver_point_read_count_is_one_job(spark, tables):
    pdf, spec, st = tables
    st = st["range"]
    key = _keys(pdf)[15]
    engine.read_rows(st, spec, "conv_id", key)  # warm the lineage cache
    m: dict = {}
    out, jobs = _jobs_of(spark, lambda: engine.read_rows(
        st, spec, "conv_id", key, metrics=m))
    assert jobs == 0 and m["served_on"] == "driver"
    assert m["lineage_cache_hits"] == 1
    n, jobs = _jobs_of(spark, out.count)
    assert n == int((pdf["conv_id"] == key).sum()) > 0
    assert jobs <= 1, jobs
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "Scan" not in plan.replace(
        "LocalTableScan", ""), plan


def _round_trips(monkeypatch, fn):
    """(fn(), Py4J commands the main thread sent while fn ran). Commands
    of other threads (the gateway's garbage-collection messages) are not
    this read's."""
    import threading

    from py4j.clientserver import ClientServerConnection

    real, main, sent = ClientServerConnection.send_command, \
        threading.main_thread(), [0]

    def spy(self, command):
        if threading.current_thread() is main:
            sent[0] += 1
        return real(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", spy)
        out = fn()
    return out, sent[0]


def test_warm_driver_point_read_py4j_budget(spark, tables, tmp_path,
                                            monkeypatch):
    """A warm, driver-served point read plus its count() crosses into the
    JVM at most 50 times, for read_rows and a three-key read_rows_in, and
    as often whatever the number of stored or decoded columns."""
    pdf, spec, st = tables
    st = st["range"]
    narrow_path = str(tmp_path / "narrow")
    st.drop("run_id", "encode_ms", "raw_bytes").write.parquet(narrow_path)
    narrow = spark.read.parquet(narrow_path)
    keys = _keys(pdf)
    reads = {
        "read_rows": lambda t, cols, m: engine.read_rows(
            t, spec, "conv_id", keys[16], columns=cols, metrics=m),
        "read_rows_in": lambda t, cols, m: engine.read_rows_in(
            t, spec, "conv_id", keys[17:20], columns=cols, metrics=m),
    }
    for name, read in reads.items():
        trips = []
        for table, cols in ((st, None), (narrow, ["conv_id", "turn_idx"])):
            want = read(table, cols, None).count()  # warms the lineage cache
            m: dict = {}
            n, sent = _round_trips(
                monkeypatch, lambda: read(table, cols, m).count())
            assert n == want > 0
            assert m["served_on"] == "driver" and m["lineage_cache_hits"]
            trips.append(sent)
        assert 0 < trips[0] <= 50, (name, trips)
        assert trips[0] == trips[1], (name, trips)

def test_warm_read_rows_in_py4j_budget_flat_in_keys(tables, monkeypatch):
    """A warm, driver-served read_rows_in plus its count() crosses into the
    JVM as often for 64 keys as for 3, at most 50 times: its key list
    reaches the JVM as one list, not one round trip per key."""
    pdf, spec, st = tables
    st = st["range"]
    keys = _keys(pdf)
    batches = [keys[17:20],
               keys + [f"{k}-missing" for k in keys[:64 - len(keys)]]]
    assert len(batches[1]) == 64
    trips = []
    for batch in batches:
        def read(m):
            return engine.read_rows_in(st, spec, "conv_id", batch,
                                       metrics=m).count()

        want = read(None)  # warms the lineage cache
        m: dict = {}
        n, sent = _round_trips(monkeypatch, lambda: read(m))
        assert n == want == int(pdf["conv_id"].isin(batch).sum()) > 0
        assert m["served_on"] == "driver" and m["lineage_cache_hits"]
        trips.append(sent)
    assert trips[0] == trips[1] <= 50, trips


def test_reads_stored_derived_once_per_snapshot(spark, tmp_path,
                                                monkeypatch):
    """The stored-columns verdict is kept with the lineage cache entry:
    warm reads do not derive it again, and an overwrite or an append
    (a new snapshot) does."""
    from test_bloom import _keyed_pdf, _write_table

    calls = []
    real = engine._reads_stored
    monkeypatch.setattr(engine, "_reads_stored",
                        lambda *a: calls.append(1) or real(*a))
    path = str(tmp_path / "t")
    pdf = _keyed_pdf()
    _write_table(spark, path, pdf)
    key = _keys(pdf)[4]

    def reads(n):
        st = spark.read.parquet(path)
        for _ in range(2):
            m: dict = {}
            got = engine.read_rows(st, transcripts.TRANSCRIPTS_SPEC,
                                   "conv_id", key, metrics=m).count()
            assert m["served_on"] == "driver"
            assert got == n
        return len(calls)

    assert reads(int((pdf["conv_id"] == key).sum())) == 1
    _write_table(spark, path, _keyed_pdf(seed=5, prefix="other"),
                 mode="overwrite")
    assert reads(0) == 2
    _write_table(spark, path, pdf, run_id="again", mode="append")
    spark.catalog.refreshByPath(path)
    assert reads(int((pdf["conv_id"] == key).sum())) == 3


def test_part_file_rewritten_in_place_gets_a_new_footer(spark, tables,
                                                        tmp_path):
    """A part file's footer is kept only while its size and mtime hold: a
    file rewritten under the same name with other bytes (the same row,
    uncompressed, so every column chunk moves) is read through its new
    footer, not the stale one."""
    import os
    import shutil

    import pyarrow.parquet as pq

    pdf, spec, st = tables
    path = str(tmp_path / "t")
    shutil.copytree(st["range"].inputFiles()[0].rsplit("/", 1)[0].replace(
        "file:", ""), path)
    table = spark.read.parquet(path)
    key = _keys(pdf)[18]
    want = _rows(engine.read_rows(_spark_view(table), spec, "conv_id",
                                  key))
    assert _rows(engine.read_rows(table, spec, "conv_id", key)) == want
    _, hit, state = engine._lineage(table)
    assert hit
    (uri,) = {r.file for r in engine._prune_on_driver(
        table, key_value=key)[0]}
    stale = state["parts"][uri]
    local = stale.path
    size = os.path.getsize(local)
    pq.write_table(pq.read_table(local), local, compression="none")
    assert os.path.getsize(local) != size
    m: dict = {}
    got = engine.read_rows(table, spec, "conv_id", key, metrics=m)
    assert m["served_on"] == "driver" and m["lineage_cache_hits"] == 1
    assert _rows(got) == want
    fresh = state["parts"][uri]
    assert fresh is not stale
    assert fresh.footer.equals(pq.ParquetFile(local).metadata)
    blob = fresh.footer.num_columns - 1
    assert fresh.footer.row_group(0).column(blob).path_in_schema == "blob"
    assert (fresh.footer.row_group(0).column(blob).data_page_offset
            != stale.footer.row_group(0).column(blob).data_page_offset)


def test_snapshot_state_under_concurrent_reads(spark, tables, tmp_path):
    """Threads reading one fresh snapshot at once share its state: every
    read is right, and the meta bytes it counts are exactly those of the
    metas it keeps (no lost or doubled update)."""
    import shutil
    import sys
    import threading

    pdf, spec, st = tables
    path = str(tmp_path / "t")
    shutil.copytree(st["hash"].inputFiles()[0].rsplit("/", 1)[0].replace(
        "file:", ""), path)
    table = spark.read.parquet(path)
    keys = _keys(pdf)[:12]
    want = {k: int((pdf["conv_id"] == k).sum()) for k in keys}
    got, errors = {}, []

    def reader(mine):
        try:
            for k in mine:
                m: dict = {}
                got[k] = (engine.read_rows(table, spec, "conv_id", k,
                                           metrics=m).count(),
                          m["served_on"])
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(keys[i::6],))
                   for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert got == {k: (n, "driver") for k, n in want.items()}
    _, hit, state = engine._lineage(table)
    assert hit
    metas = {r.stripe_id: r.meta for r in
             table.select("stripe_id", "meta").collect()}
    kept = [sid for part in state["parts"].values() for sid in part.metas]
    assert kept and len(kept) == len(set(kept))
    assert state["meta_bytes"] == sum(len(metas[sid]) for sid in kept)


def test_frame_bound_filter_is_the_column_filter(spark):
    """_filter_exact builds the Catalyst filter PySpark's Column operators
    build over the same frame."""
    import datetime as dt

    df = spark.range(0, 50).selectExpr("CAST(id AS STRING) AS k",
                                       "id % 7 AS o")

    def same(a, b):
        return a._jdf.queryExecution().optimizedPlan().sameResult(
            b._jdf.queryExecution().optimizedPlan())

    assert same(engine._filter_exact(df, [("k", "equalTo", "3"),
                                          ("o", "geq", 1),
                                          ("o", "leq", 5)]),
                df.filter((F.col("k") == F.lit("3")) & (F.col("o") >= F.lit(1))
                          & (F.col("o") <= F.lit(5))))
    assert same(engine._filter_exact(df, [("k", "isInCollection",
                                           ["1", "12", "3"])]),
                df.filter(F.col("k").isin(["1", "12", "3"])))
    # a key list reaches the JVM as one pickled list: the literals keep
    # the types Py4J gives, and other types keep the Python list
    wide = spark.range(0, 50).selectExpr(
        "id AS i", "CAST(id AS DOUBLE) / 4 AS f",
        "CAST(CAST(id AS STRING) AS BINARY) AS b", "id % 2 = 0 AS t",
        "timestamp_seconds(id * 3600) AS ts")
    for col, keys in (("i", [3, 2 ** 40, -7]), ("f", [0.5, 1.25]),
                      ("b", [b"\x00", b"12", b"3"]), ("t", [True]),
                      ("ts", [dt.datetime(1970, 1, 1, 5)])):
        got = engine._filter_exact(wide, [(col, "isInCollection", keys)])
        assert same(got, wide.filter(F.col(col).isin(keys))), col
        assert got.count() == wide.filter(F.col(col).isin(keys)).count()
    assert engine._jvm_values(spark, [dt.date(2020, 1, 1)]) == [
        dt.date(2020, 1, 1)]
    assert not same(engine._filter_exact(df, [("k", "equalTo", "4")]),
                    df.filter(F.col("k") == F.lit("3")))
    assert engine._filter_exact(df, [("k", "equalTo", None)]).count() == 0


def _column_prune(stripes, lo, hi, probes):
    """prune_stripes' predicate as PySpark Column operators build it."""
    cond = F.lit(True)
    if hi is not None:
        cond = cond & (F.col("key_min").isNull()
                       | (F.col("key_min") <= F.lit(hi)))
    if lo is not None:
        cond = cond & (F.col("key_max").isNull()
                       | (F.col("key_max") >= F.lit(lo)))
    if probes:
        any_probe = F.lit(False)
        for kv in probes:
            probe = F.lit(True)
            for p in engine.bloom_positions(kv):
                byte = F.conv(
                    F.hex(F.substring(F.col("key_bloom"), p // 8 + 1, 1)),
                    16, 10).cast("int")
                probe = probe & (byte.bitwiseAND(F.lit(1 << (p & 7))) != 0)
            any_probe = any_probe | probe
        cond = cond & (F.col("key_bloom").isNull()
                       | (F.length("key_bloom") != engine.BLOOM_BYTES)
                       | any_probe)
    return stripes.filter(cond)


def test_prune_stripes_predicate_is_the_column_predicate(tables,
                                                         monkeypatch):
    """prune_stripes builds the filter PySpark's Column operators build,
    for 1, 3 and 64 keys and for range bounds, in as many Py4J round
    trips for 64 keys as for one."""
    pdf, spec, st = tables
    st = st["hash"]
    keys = _keys(pdf)
    many = keys + [f"{k}-missing" for k in keys[:64 - len(keys)]]

    def same(a, b):
        return a._jdf.queryExecution().optimizedPlan().sameResult(
            b._jdf.queryExecution().optimizedPlan())

    engine.prune_stripes(st, key_value=keys[0])  # first-call lookups
    trips = {}
    for name, kw, want in (
            ("one", {"key_value": keys[5]}, (keys[5], keys[5], [keys[5]])),
            ("three", {"key_values": keys[3:6]},
             (keys[3], keys[5], keys[3:6])),
            ("many", {"key_values": many}, (min(many), max(many), many)),
            ("range", {"lo": keys[2], "hi": keys[9]},
             (keys[2], keys[9], [])),
            ("open", {"hi": keys[9]}, (None, keys[9], []))):
        got, trips[name] = _round_trips(
            monkeypatch, lambda: engine.prune_stripes(st, **kw))
        ref = _column_prune(st, *want)
        assert same(got, ref), name
        assert not same(got, _column_prune(st, None, None, [])), name
        assert got.count() == ref.count() > 0, name
    assert trips["one"] == trips["three"] == trips["many"], trips
    assert engine.prune_stripes(st) is st


def test_driver_order_bounds_and_key_lists(tables):
    """One-sided ord windows, and key lists with duplicates and NULLs,
    give the Spark decode's rows under the frame-bound filter."""
    pdf, spec, st = tables
    keys = _keys(pdf)
    key = max(keys, key=lambda k: int((pdf["conv_id"] == k).sum()))
    n = int((pdf["conv_id"] == key).sum())
    assert n > 20
    for bounds, want in (({"ord_lo": 4}, n - 4), ({"ord_hi": 4}, 5)):
        rows = _same_as_spark(lambda t, **kw: engine.read_rows(
            t, spec, "conv_id", key, ord_col="turn_idx", **bounds,
            **kw), st["hash"])
        assert len(rows) == want, bounds
    batch = [keys[20], None, keys[3], keys[20], ABSENT_IN_RANGE, None]
    for layout in ("hash", "range"):
        rows = _same_as_spark(lambda t, **kw: engine.read_rows_in(
            t, spec, "conv_id", batch, **kw), st[layout])
        assert len(rows) == int(pdf["conv_id"].isin(batch).sum())


def test_read_where_metrics(spark, tables):
    """read_where's id pass records where it pruned and what it kept; the
    single-pass plan runs no id pass and records nothing."""
    pdf, spec, st = tables
    st = st["range"]
    lo, hi = 60, None
    m: dict = {}
    got = engine.read_where(st, spec, "turn_idx", lo=lo, hi=hi, metrics=m)
    assert got.count() == int((pdf.turn_idx >= lo).sum()) > 0
    kept = [r.stripe_id for r in st.select("stripe_id", "meta").collect()
            if arrow_stripe.select_row_groups(
                json.loads(r.meta), col_ranges={"turn_idx": (lo, hi)}) != []]
    assert m == {"pruned_on": "spark", "stripes_kept": len(kept)}
    assert 0 < len(kept)
    engine.read_where(st, spec, "turn_idx", lo=lo, hi=hi, metrics=m)
    assert m["stripes_kept"] == 2 * len(kept)
    single_pass: dict = {}
    single = engine.read_where(_spark_view(st), spec, "turn_idx", lo=lo,
                               hi=hi, metrics=single_pass)
    assert single_pass == {}
    assert _rows(single) == _rows(got)


def test_read_where_filter_is_the_column_filter(spark, monkeypatch):
    """read_where's exact filter, built on the JVM Column, is the filter
    PySpark's Column operators build over the decoded frame, for int,
    float, string and timestamp bounds; an all-open range leaves the
    decoded frame unfiltered."""
    import datetime as dt

    decoded = spark.range(0, 50).selectExpr(
        "id AS i", "CAST(id AS DOUBLE) / 4 AS f", "CAST(id AS STRING) AS s",
        "timestamp_seconds(id * 3600) AS ts")
    monkeypatch.setattr(engine, "decode_df", lambda *a, **kw: decoded)

    def column_filter(ranges):
        cond = F.lit(True)
        for c, (lo, hi) in ranges.items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
        return decoded.filter(cond)

    def same(a, b):
        return a._jdf.queryExecution().optimizedPlan().sameResult(
            b._jdf.queryExecution().optimizedPlan())

    cases = [{"i": (3, 40)}, {"f": (1.5, None)}, {"s": (None, "3")},
             {"ts": (dt.datetime(1970, 1, 1, 5), dt.datetime(1970, 1, 2))}]
    cases.append({k: v for c in cases for k, v in c.items()})
    for ranges in cases:
        got = engine.read_where(decoded, None, col_ranges=ranges)
        assert same(got, column_filter(ranges)), ranges
        assert got.count() == column_filter(ranges).count() > 0, ranges
    assert not same(engine.read_where(decoded, None, "i", lo=4),
                    column_filter({"i": (3, None)}))
    assert engine.read_where(decoded, None, "i") is decoded
