"""Round-6 optimization pins: every operator whose INTERNALS changed this
round keeps its externally observable behavior bit-identical.

- FSST: compiled-table compress == list-table compress, byte-for-byte, and
  the two-stage candidate LUT never changes matching decisions (roundtrip
  + cross-check on adversarial inputs).
- RLEv2: sorted-key conversation boundaries, tiny tails and small
  patched-outlier segments round-trip, and the goorc vectors stay exact
  (tests/test_native.py pins the same shapes numpy-vs-native byte-equal).
- similarity: the driver-side fold/rounding twins (_py_dot/_round6) are
  bit-identical to the in-plan SQL fold and Spark's round(double, 6).
- orc_native.read_orc_stripes: the packed multi-file task plan decodes
  every row exactly once.
"""

from __future__ import annotations

import numpy as np
import pytest


# ----------------------------------------------------------------- fsst --


def test_fsst_compiled_table_identical_bytes():
    from goorc_spark.codecs import fsst

    rng = np.random.default_rng(42)
    text = (b"the quick brown fox jumps over the lazy dog " * 200
            + bytes(rng.integers(0, 256, 2000, dtype=np.uint8).tolist())
            + b"\xff" * 7 + b"tool-call { name: bash } " * 30)
    table = fsst.train(text)
    ct = fsst.compile_table(table)
    assert fsst.compress(text, ct) == fsst.compress(text, table)
    assert fsst.decompress(fsst.compress(text, ct)) == text
    # compiled table reused across different payloads (the stripe writer's
    # per-partition cache pattern)
    for cut in (0, 1, 13, 999, len(text)):
        blob = fsst.compress(text[:cut], ct)
        assert fsst.decompress(blob) == text[:cut]


def test_fsst_two_stage_lut_no_lost_matches():
    """Symbols sharing a 2-byte prefix but differing at bytes 2-3 — the
    exact shape the second-stage LUT filters — must all still match."""
    from goorc_spark.codecs import fsst

    data = (b"abcdefgh" * 50 + b"abXYijkl" * 50 + b"ab" * 30
            + b"abc" * 20 + b"Q" * 40)
    blob = fsst.compress(data)
    assert fsst.decompress(blob) == data
    # with a hand-built table containing the conflicting symbols
    table = [b"abcdefgh", b"abXYijkl", b"abc", b"ab", b"Q", b"a", b"b"]
    ct = fsst.compile_table(table)
    out = fsst.compress(data, ct)
    assert fsst.decompress(out) == data
    # every 8-byte repeat must have been coded as ONE symbol byte: the
    # payload for the first 400 bytes is exactly 100 code bytes
    # (an unmatched occurrence would cost >1 byte)
    n_payload = len(out) - len(ct.header) - 4
    assert n_payload <= 100 + 30 + 20 + 40 + 10


# ---------------------------------------------------------------- rlev2 --


def _roundtrip(arr, signed):
    from goorc_spark.codecs import rlev2

    enc = rlev2.encode(arr, signed=signed)
    dec = rlev2.decode(enc, len(arr), signed=signed)
    assert np.array_equal(dec.astype(arr.dtype), arr)
    return enc


def test_rlev2_scalar_twin_shapes():
    """Sorted-key conversation boundaries (short var-delta runs + 2-4-value
    wiggles), tiny direct tails, small patched-base segments."""
    rng = np.random.default_rng(5)
    parts = []
    for _ in range(60):
        start = int(rng.integers(1_300_000_000, 1_750_000_000))
        m = int(rng.integers(1, 70))
        deltas = rng.integers(1, 240, m)
        parts.append(start + np.concatenate(([0], np.cumsum(deltas))))
    conv_shaped = np.concatenate(parts).astype(np.int64)
    _roundtrip(conv_shaped, True)

    # tiny segments incl. negatives
    for vals in ([3, 1], [5, -5, 7], [0, 0, 0, 9, -(2 ** 62)],
                 [2 ** 62, 1, 2, 3], [-1], list(range(12, 0, -1))):
        _roundtrip(np.array(vals, dtype=np.int64), True)

    # a small patched-base segment
    small_patch = np.array([7, 9, 8, 6, 7, 9, 1 << 40, 8, 6, 7],
                           dtype=np.int64)
    enc = _roundtrip(small_patch, True)
    assert enc[0] >> 6 == 2  # PATCHED_BASE chosen

    # unsigned with huge values
    huge = rng.integers(0, 1 << 63, 300, dtype=np.uint64) * 2 + (1 << 62)
    _roundtrip(huge, False)


def test_rlev2_reference_vectors_still_exact():
    """The ported goorc byte vectors stay exact."""
    from goorc_spark.codecs import rlev2

    # short repeat: 10000 x5 -> 0a 27 10 (reference TestIntRunLengthV2)
    enc = rlev2.encode(np.full(5, 10000, dtype=np.uint64), signed=False)
    assert enc == bytes([0x0A, 0x27, 0x10])
    # direct: deadbeef vector (reference TestIntRunLengthV2 direct)
    vals = np.array([23713, 57005, 43806, 48879], dtype=np.uint64)
    enc = rlev2.encode(vals, signed=False)
    assert enc == bytes([0x5E, 0x03, 0x5C, 0xA1, 0xDE, 0xAD, 0xAB, 0x1E,
                         0xBE, 0xEF])


# ----------------------------------------------------------- similarity --


def test_py_dot_and_round6_match_spark(spark):
    """The driver-side probe math must reproduce the in-plan algebra
    bit-for-bit: left-to-right double fold and HALF_UP round(x, 6)."""
    from pyspark.sql import functions as F

    from goorc_spark.pipeline_ops import similarity

    rng = np.random.default_rng(11)
    rows = []
    for _ in range(50):
        a = [float(np.float32(x)) for x in rng.normal(size=64)]
        b = [float(np.float32(x)) for x in rng.normal(size=64)]
        rows.append((a, b))
    df = spark.createDataFrame(rows, "a array<float>, b array<float>")
    got = df.select(
        F.round(similarity._dot(F.col("a"), F.col("b")), 6).alias("r"),
        similarity._dot(F.col("a"), F.col("b")).alias("raw")).collect()
    for (a, b), r in zip(rows, got):
        assert similarity._py_dot(a, b) == r["raw"]
        assert similarity._round6(r["raw"]) == r["r"]
    # tie-ish / edge values through round6
    edge = [0.1234565, -0.1234565, 1.0000005, 2.5e-7, -2.5e-7, 0.0]
    edf = spark.createDataFrame([(v,) for v in edge], "v double")
    sr = [r["r"] for r in edf.select(F.round("v", 6).alias("r")).collect()]
    assert [similarity._round6(v) for v in edge] == sr


def test_ivf_trained_equals_assign_via_public_api(spark):
    """ivf_topk_trained's inlined assignment/probe equals composing the
    public pieces (trainer DataFrame + _assign_cells)."""
    from goorc_spark.pipeline_ops import similarity

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.ivf_train_centroids(embs)
    assign = {r["vec_id"]: r["cell"]
              for r in similarity._assign_cells(embs, cents).collect()}
    top = similarity.ivf_topk_trained(embs).collect()
    assert len(top) == 10
    for r in top:
        assert assign[r["vec_id"]] == r["cell"]


# ------------------------------------------------------------ orc files --


def test_read_orc_stripes_packed_tasks_complete(spark, tmp_path):
    """Many tiny files pack into at most defaultParallelism tasks; every
    row decodes exactly once, and column projection still works through
    the packed plan."""
    import pyarrow as pa

    from goorc_spark import orc_native

    n_files, rows_per = 17, 50
    for i in range(n_files):
        t = pa.table({
            "k": pa.array([i * rows_per + j for j in range(rows_per)],
                          pa.int64()),
            "s": pa.array([f"v{i}-{j}" for j in range(rows_per)]),
        })
        (tmp_path / f"part-{i:03d}.orc").write_bytes(
            orc_native.write_orc(t))
    df = orc_native.read_orc_stripes(spark, str(tmp_path / "*.orc"))
    assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    got = sorted(r["k"] for r in df.collect())
    assert got == list(range(n_files * rows_per))
    proj = orc_native.read_orc_stripes(spark, str(tmp_path / "*.orc"),
                                       columns=["s"])
    assert proj.columns == ["s"]
    assert proj.count() == n_files * rows_per


# ----------------------------------------------------------------- dedup --


def test_spread_noop_when_wide(spark):
    from goorc_spark.pipeline_ops.dedup import _spread

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(par + 4)
    assert _spread(wide).rdd.getNumPartitions() == par + 4  # untouched
    narrow = spark.range(1000, numPartitions=1)
    assert _spread(narrow).rdd.getNumPartitions() == par


# uses the session-scoped `spark` fixture from tests/conftest.py — a
# module-local fixture calling stop() would kill the SHARED SparkContext
# that getOrCreate() returns and break every later test module


def test_static_salt_matches_detection_on_row_index_data(spark,
                                                         monkeypatch):
    """Integral order columns get the jobless static bucket salt; stripes
    must be identical to the exact detection path's (same mega-key
    buckets, salt 0 for every key smaller than bucket_rows)."""
    import hashlib

    from pyspark.sql import functions as F

    from goorc_spark import engine, transcripts

    df = transcripts.synthesize_spark(spark, n_convs=60,
                                      mega_conv_turns=3_000).cache()
    df.count()

    def digest(exact: bool):
        with monkeypatch.context() as m:
            if exact:
                # turn_idx taken as non-integral gets the detection
                # pre-pass, exact below SALT_SAMPLE_BYTES
                m.setattr(engine, "_INTEGRAL_TYPES", ())
                m.setattr(engine, "SALT_SAMPLE_BYTES", 1 << 62)
                assert engine._skew_detection_mode(df) == "exact"
            cfg = engine.EncodeConfig(
                key_col="conv_id", order_cols=("turn_idx",),
                stripe_bytes=256 * 1024, partitions=4, run_id="x",
                salt_threshold=2_000, bucket_rows=1_000)
            rows = engine.encode_df(df, cfg).select(
                "part_id", "seq", "n_rows", "key_min", "key_max",
                "blob").collect()
        h = hashlib.sha256()
        for r in sorted(rows, key=lambda r: (r["part_id"], r["seq"])):
            h.update(str((r["part_id"], r["seq"], r["n_rows"],
                          r["key_min"], r["key_max"])).encode())
            h.update(bytes(r["blob"]))
        return h.hexdigest()

    assert digest(exact=False) == digest(exact=True)
    df.unpersist()


def test_auto_salt_keeps_detection_for_timestamp_order(spark):
    """Non-integral order0 (ts) must NOT bucket unconditionally — 'auto'
    keeps the sampled/exact detection pre-pass there."""
    from pyspark.sql import functions as F

    from goorc_spark import engine

    sdf = spark.range(100).select(
        F.concat(F.lit("u"), (F.col("id") % 5).cast("string")).alias("uid"),
        F.timestamp_seconds(F.col("id") + 1_700_000_000).alias("ts"),
        F.col("id").alias("payload"))
    cfg = engine.EncodeConfig(key_col="uid", order_cols=("ts",),
                              salt_threshold=1_000_000, bucket_rows=500_000)
    salted = engine._with_salt(sdf, cfg)
    # detection found no mega keys -> all salt 0 (static would have
    # bucketed by floor(epoch/bucket_rows) != 0)
    vals = {r[0] for r in salted.select(engine.SALT_COL).distinct().collect()}
    assert vals == {0}


def test_synthesize_rebalance_keeps_stripes_byte_identical(spark):
    """synthesize_spark's round-robin rebalance (map-stage skew fix for the
    mega-conversation partition) must not change encode output: stripe
    placement is decided by the (key, salt) hash exchange + total-order
    sort, so input partitioning is free. Pin blob byte-identity."""
    import hashlib

    from goorc_spark import engine, transcripts

    def digest(rebalance):
        df = transcripts.synthesize_spark(spark, n_convs=60,
                                          mega_conv_turns=3_000,
                                          rebalance=rebalance)
        cfg = engine.EncodeConfig(
            key_col="conv_id", order_cols=("turn_idx",),
            stripe_bytes=256 * 1024, partitions=4, run_id="x",
            salt_threshold=2_000, bucket_rows=1_000)
        rows = engine.encode_df(df, cfg).select(
            "part_id", "seq", "n_rows", "key_min", "key_max", "blob").collect()
        h = hashlib.sha256()
        for r in sorted(rows, key=lambda r: (r["part_id"], r["seq"])):
            h.update(str((r["part_id"], r["seq"], r["n_rows"],
                          r["key_min"], r["key_max"])).encode())
            h.update(bytes(r["blob"]))
        return h.hexdigest()

    assert digest(True) == digest(False)


def test_synthesize_rebalance_partitions_even(spark):
    """With the mega conversation, the raw generator leaves one partition
    ~mega_conv_turns heavier; the rebalanced frame must be even."""
    from goorc_spark import transcripts

    df = transcripts.synthesize_spark(spark, n_convs=40,
                                      mega_conv_turns=5_000)
    sizes = (df.rdd.glom().map(len).collect())
    # round-robin starts at a random offset per input split: sizes are even
    # to within a handful of rows — nothing like the +mega_conv_turns skew
    # of the raw generator output
    assert max(sizes) - min(sizes) < 0.01 * (sum(sizes) / len(sizes))


def test_synthesize_rebalances_only_with_a_mega_conversation(spark):
    """The round-robin rebalance spreads the mega-conversation straggler;
    without one there is nothing to spread, so the plan has no shuffle."""
    import re

    from goorc_spark import transcripts

    def repartitions(mega):
        df = transcripts.synthesize_spark(spark, n_convs=40,
                                          mega_conv_turns=mega)
        plan = df._jdf.queryExecution().optimizedPlan().treeString()
        return len(re.findall(r"\bRepartition\b", plan))

    assert repartitions(0) == 0
    assert repartitions(5_000) == 1
