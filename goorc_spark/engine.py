"""Spark pipeline: partition-parallel stripe encode/decode with skew salting
and lineage-based exact resume.

Architecture (SURVEY.md §3.1 re-architected Spark-first): the reference's
single-threaded writer row-loop (/root/reference/orc/writer.go:67 "cannot
used concurrently") becomes
    df.repartition(N, key, salt).sortWithinPartitions(key, order)
      .mapInArrow(encode_stripes)
— all parallelism comes from Spark partitioning; each task emits one stripe
row (blob + metadata + lineage) per ~stripe_bytes of input. Everything
relational stays in Catalyst (shuffle, sort, AQE); all encoding runs inside
Arrow-native UDFs on RecordBatch buffers — no per-row Python anywhere.

Skew: mega-conversations (>salt_threshold rows) are split into salt buckets
by floor(order_col / bucket_rows) — deterministic, no window function, and
intra-bucket order is preserved so decode + sort restores the exact source
order (bit-identical round-trip).

Resume: Spark hash-partitioning is deterministic (pmod(murmur3(cols), n)),
so lineage records completed partition ids; a resumed run recomputes each
row's partition id with F.hash and anti-filters completed ones. Task-commit
atomicity of the parquet sink guarantees lineage rows only exist for fully
encoded partitions.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from goorc_spark.codecs import chunk

SALT_COL = "__gsalt"

def stripe_schema(key_type: T.DataType | None = None) -> T.StructType:
    """Stripe-table schema; key_min/key_max carry the key column's NATIVE
    type so prune_stripes comparisons are typed (a stringified int key would
    compare lexicographically and prune wrong stripes)."""
    kt = key_type or T.StringType()
    return T.StructType([
        T.StructField("stripe_id", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("seq", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("enc_bytes", T.LongType(), False),
        T.StructField("key_min", kt, True),
        T.StructField("key_max", kt, True),
        T.StructField("key_bloom", T.BinaryType(), True),
        T.StructField("encode_ms", T.DoubleType(), False),
        T.StructField("meta", T.StringType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ])


STRIPE_SCHEMA = stripe_schema()

# Per-stripe Bloom filter over the DISTINCT key values (the ORC spec's
# bloom-filter index, lifted to stripe granularity): fixed m so the query
# side can precompute its k probe positions once and test them with pure
# built-ins (no UDF — the filter pushes into the stripe-table parquet scan).
# 64 Kbit / k=6: ~0% false positives at 1k distinct keys per stripe, ~6% at
# 50k; a saturated filter only costs a wasted read, never a wrong skip.
# Same murmur3 hash and probe math as the row-group and ORC blooms; bit p
# lives at byte p >> 3, bit p & 7. A trailing version byte makes a bloom
# BLOOM_BYTES long: any other length (the 8192-byte blooms an earlier hash
# family wrote, with no version byte) never skips a stripe.
BLOOM_BITS = 1 << 16
BLOOM_K = 6
_BLOOM_TRAILER = b"\x01"
BLOOM_BYTES = BLOOM_BITS // 8 + len(_BLOOM_TRAILER)


def bloom_positions(key_value) -> list[int]:
    """The k probe bit positions for a key (same math at encode and query;
    canonical_key_bytes so equal-comparing Decimal/datetime/float forms
    probe the same bits — ADVICE r4)."""
    from goorc_spark import arrow_stripe
    from goorc_spark.codecs import murmur3

    return murmur3.positions(arrow_stripe._key_hash(key_value), BLOOM_K,
                             BLOOM_BITS)


def _build_bloom(keys) -> bytes:
    """Stripe bloom bytes over an Arrow key column's distinct non-null
    values; bit-exact with bloom_positions (pinned by
    tests/test_bloom.py::test_build_bloom_matches_scalar)."""
    from goorc_spark import arrow_stripe
    from goorc_spark.codecs import murmur3

    words = murmur3.build_bloom(arrow_stripe._key_hashes(keys), BLOOM_K,
                                BLOOM_BITS)
    return words.astype("<u8", copy=False).tobytes() + _BLOOM_TRAILER


@dataclass
class EncodeConfig:
    stripe_bytes: int = 8 * 1024 * 1024   # raw bytes per stripe (256 MB in prod)
    chunk_size: int = chunk.DEFAULT_CHUNK_SIZE
    compression: str = chunk.DEFAULT       # zstd outer layer (zlib = parity mode)
    policy: str = "balanced"               # string-codec cost policy (selector.POLICIES)
    partitions: int | None = None          # default: spark.sql.shuffle.partitions
    key_col: str | None = None             # co-location / lineage key (conv_id)
    order_cols: tuple = ()                 # stable intra-key order (turn_idx)
    salt_threshold: int = 500_000          # rows per key before salting kicks in
    bucket_rows: int = 250_000             # rows per salt bucket
    range_partition: bool = False          # range-cluster by key (narrow stripe
                                           # key ranges -> prune_stripes works)
    rg_rows: int = 10_000                  # row-group stride: intra-stripe seek
                                           # granularity (reference index stride,
                                           # /root/reference/orc/config/opts.go:19);
                                           # 0 disables (one group per stripe)
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])

    def __post_init__(self) -> None:
        chunk.validate_chunk_size(self.chunk_size)


# ------------------------------------------------------------ schema spec --

_SPARK_TO_KIND = {
    T.ByteType: "byte", T.ShortType: "short", T.IntegerType: "int",
    T.LongType: "long", T.BooleanType: "bool", T.FloatType: "float",
    T.DoubleType: "double", T.StringType: "string", T.BinaryType: "binary",
    T.DateType: "date", T.TimestampType: "timestamp",
    T.TimestampNTZType: "timestamp_ntz",
}

_KIND_TO_SPARK = {
    "byte": T.ByteType(), "short": T.ShortType(), "int": T.IntegerType(),
    "long": T.LongType(), "bool": T.BooleanType(), "float": T.FloatType(),
    "double": T.DoubleType(), "string": T.StringType(), "binary": T.BinaryType(),
    "date": T.DateType(), "timestamp": T.TimestampType(),
    "timestamp_ntz": T.TimestampNTZType(),
}


def _spec_from_type(name: str, dt: T.DataType) -> dict:
    if isinstance(dt, T.DecimalType):
        return {"name": name, "kind": "decimal",
                "precision": dt.precision, "scale": dt.scale}
    if isinstance(dt, T.ArrayType):
        return {"name": name, "kind": "list",
                "child": _spec_from_type("item", dt.elementType)}
    if isinstance(dt, T.MapType):
        return {"name": name, "kind": "map",
                "key": _spec_from_type("key", dt.keyType),
                "value": _spec_from_type("value", dt.valueType)}
    if isinstance(dt, T.StructType):
        return {"name": name, "kind": "struct",
                "children": [_spec_from_type(f.name, f.dataType)
                             for f in dt.fields]}
    if isinstance(dt, (T.VarcharType, T.CharType)):
        # reference falls through CHAR/VARCHAR to the string writer
        # (/root/reference/orc/column/package.go:224-235)
        return {"name": name, "kind": "string"}
    if type(dt) in _SPARK_TO_KIND:
        return {"name": name, "kind": _SPARK_TO_KIND[type(dt)]}
    raise NotImplementedError(f"unsupported Spark type {dt} for {name}")


def spec_from_schema(schema: T.StructType) -> list[dict]:
    return [_spec_from_type(f.name, f.dataType) for f in schema.fields]


def _type_from_spec(col: dict) -> T.DataType:
    kind = col["kind"]
    if kind == "decimal":
        return T.DecimalType(col["precision"], col["scale"])
    if kind == "list":
        return T.ArrayType(_type_from_spec(col["child"]))
    if kind == "map":
        return T.MapType(_type_from_spec(col["key"]),
                         _type_from_spec(col["value"]))
    if kind == "struct":
        return T.StructType([
            T.StructField(c["name"], _type_from_spec(c), True)
            for c in col["children"]])
    return _KIND_TO_SPARK[kind]


def schema_from_spec(spec: list[dict]) -> T.StructType:
    return T.StructType([
        T.StructField(col["name"], _type_from_spec(col), True)
        for col in spec])


def _spec_of_colmeta(c: dict) -> dict:
    out = {"name": c["name"], "kind": c["kind"]}
    if c["kind"] == "decimal":
        out["precision"] = int(c.get("precision", 18))
        out["scale"] = int(c.get("scale", 0))
    elif c["kind"] == "struct":
        out["children"] = [_spec_of_colmeta(k) for k in c["children"]]
    elif c["kind"] == "list":
        out["child"] = _spec_of_colmeta(c["children"][0])
    elif c["kind"] == "map":
        out["key"] = _spec_of_colmeta(c["children"][0])
        out["value"] = _spec_of_colmeta(c["children"][1])
    return out


def spec_from_stripes(stripes: DataFrame) -> list[dict]:
    """Recover the column spec from a stripe's embedded meta — the analog of
    the reference reading schemas out of the file footer
    (/root/reference/orc/reader.go:254-343). One driver-side read of a
    single meta JSON; blob bytes untouched. Makes maintenance jobs
    (compaction, decode CLIs) schema-agnostic: the stripe table is
    self-describing. The meta read is cached per table snapshot
    (_collect_cached), so a repeat call on a bare file scan runs no job."""
    row, _, _ = _collect_cached(stripes, ["meta"], 1)
    if not row:
        raise ValueError("empty stripe table: no meta to derive a spec from")
    meta = json.loads(row[0][0])
    cols = meta.get("columns") or meta["row_groups"][0]["columns"]
    return [_spec_of_colmeta(c) for c in cols]


# ----------------------------------------------------------------- encode --


def _make_encoder(spec: list[dict], cfg: EncodeConfig):
    """Arrow-native encoder for mapInArrow: accumulates RecordBatches to the
    stripe budget, encodes via arrow_stripe (zero-copy buffer extraction, no
    per-row Python), emits one stripe row per flush."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from goorc_spark import arrow_stripe

    key = cfg.key_col
    ordc = cfg.order_cols[0] if cfg.order_cols else None

    def encode_stripes(batches):
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else -1
        pending: list = []
        pending_bytes = 0
        seq = 0
        codec_cache: dict = {}  # per-task: codec choices + FSST tables

        def flush():
            nonlocal pending, pending_bytes, seq
            if not pending:
                return None
            t0 = time.monotonic()
            table = pa.Table.from_batches(pending)
            raw_bytes = pending_bytes  # summed per input batch
            pending, pending_bytes = [], 0
            blob, meta = arrow_stripe.encode_stripe_table(
                table, spec, compression=cfg.compression,
                chunk_size=cfg.chunk_size, policy=cfg.policy,
                cache=codec_cache, rg_rows=cfg.rg_rows,
                key_col=key, ord_col=ordc)
            ms = (time.monotonic() - t0) * 1000
            if key and table.num_rows:
                # TRUE stripe key bounds (pc.min_max), valid even when the
                # partition isn't sorted — first/last-row bounds would make
                # prune_stripes silently drop covering stripes
                mm = pc.min_max(table.column(key))
                kmin = pa.array([mm["min"].as_py()], type=table.column(key).type)
                kmax = pa.array([mm["max"].as_py()], type=table.column(key).type)
                # bloom over DISTINCT keys (few per stripe: rows cluster by
                # key) — lets point reads skip hash-partitioned stripes
                # whose [key_min, key_max] spans the whole key space
                bloom = _build_bloom(table.column(key))
            else:
                kmin = kmax = pa.array([None], pa.string())
                bloom = None
            row = pa.RecordBatch.from_pydict({
                "stripe_id": [f"{cfg.run_id}-p{part_id:05d}-s{seq:05d}"],
                "run_id": [cfg.run_id],
                "part_id": pa.array([part_id], pa.int32()),
                "seq": pa.array([seq], pa.int32()),
                "n_rows": pa.array([table.num_rows], pa.int64()),
                "raw_bytes": pa.array([raw_bytes], pa.int64()),
                "enc_bytes": pa.array([len(blob)], pa.int64()),
                "key_min": kmin,
                "key_max": kmax,
                "key_bloom": pa.array([bloom], pa.binary()),
                "encode_ms": pa.array([ms], pa.float64()),
                "meta": [json.dumps(meta, default=str)],
                "blob": pa.array([blob], pa.binary()),
            })
            seq += 1
            return row

        for rb in batches:
            if rb.num_rows == 0:
                continue
            pending.append(rb)
            pending_bytes += rb.get_total_buffer_size()
            if pending_bytes >= cfg.stripe_bytes:
                out = flush()
                if out is not None:
                    yield out
        out = flush()
        if out is not None:
            yield out

    return encode_stripes


SALT_SAMPLE_BYTES = 256 * 1024 * 1024
SALT_SAMPLE_FRACTION = 0.01


def _skew_detection_mode(df: DataFrame) -> str:
    """'exact' (full groupBy-count pre-pass) or 'sample' (1% sample —
    ~100x cheaper; a key at salt_threshold shows ~threshold*fraction
    sampled rows, flagged at half that to bias recall: over-salting
    splits a key into deterministic buckets anyway, under-salting is the
    only harmful direction). Picked by Catalyst's input-size estimate
    against SALT_SAMPLE_BYTES, so small inputs keep the exact pass
    (SCALE.md: at 10^9 convs the exact pre-pass is ~30s per encode; the
    sample is seconds)."""
    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()))
    except Exception:
        return "exact"
    return "sample" if size > SALT_SAMPLE_BYTES else "exact"


def _skew_counts(df: DataFrame, cfg: EncodeConfig, mode: str) -> DataFrame:
    """Frame of keys exceeding salt_threshold under the chosen mode
    (separate from _with_salt so tests can plan-assert the Sample node)."""
    key = cfg.key_col
    if mode == "sample":
        frac = SALT_SAMPLE_FRACTION
        return (df.sample(fraction=frac, seed=7).groupBy(key).count()
                .filter(F.col("count") > cfg.salt_threshold * frac * 0.5))
    return df.groupBy(key).count().filter(F.col("count") > cfg.salt_threshold)


_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _with_salt(df: DataFrame, cfg: EncodeConfig) -> DataFrame:
    """Split mega-keys into deterministic buckets of bucket_rows using the
    (monotone-per-key) first order column.

    'static' mode (INTEGRAL order columns): salt = floor(order0 /
    bucket_rows) unconditionally — NO detection job.
    A per-key 0-based row index (turn_idx) yields salt 0 for every key
    smaller than bucket_rows and exactly the detection path's buckets for
    mega keys, so the encode loses its per-call skew pre-pass (an extra
    Spark job + collect: ~0.3 s fixed at bench scale, ~30 s EXACT-mode at
    10^9 keys per SCALE.md) while placements stay identical for row-index
    ordered data. Keys between bucket_rows and salt_threshold now split
    at bucket boundaries — same stripes (the writer cuts by bytes first),
    one extra partition spill per boundary. Non-integral order columns
    (ts) keep the sampled/exact detection: bucketing a timestamp only
    makes sense for keys already known to be mega, which is what the
    detection pass established."""
    key = cfg.key_col
    if not key or not cfg.order_cols:
        return df.withColumn(SALT_COL, F.lit(0))
    order0 = cfg.order_cols[0]
    if isinstance(df.schema[order0].dataType, _INTEGRAL_TYPES):
        return df.withColumn(
            SALT_COL,
            F.coalesce(
                F.floor(F.col(order0).cast("long")
                        / F.lit(cfg.bucket_rows)).cast("int"),
                F.lit(0)))
    counts = _skew_counts(df, cfg, _skew_detection_mode(df))
    skewed = [r[0] for r in counts.select(key).collect()]  # mega-keys only: tiny
    if not skewed:
        return df.withColumn(SALT_COL, F.lit(0))
    return df.withColumn(
        SALT_COL,
        F.when(
            F.col(key).isin(skewed),
            F.floor(F.col(order0).cast("long") / F.lit(cfg.bucket_rows)).cast("int"),
        ).otherwise(F.lit(0)),
    )


def partition_count(df: DataFrame, cfg: EncodeConfig) -> int:
    if cfg.partitions:
        return cfg.partitions
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def encode_df(df: DataFrame, cfg: EncodeConfig | None = None,
              pending_parts: list[int] | None = None) -> DataFrame:
    """Encode a DataFrame into a stripe table (one row per stripe)."""
    cfg = cfg or EncodeConfig()
    spec = spec_from_schema(df.schema)
    n = partition_count(df, cfg)
    key_type = df.schema[cfg.key_col].dataType if cfg.key_col else None
    if cfg.key_col:
        df = _with_salt(df, cfg)
        if pending_parts is not None:
            if cfg.range_partition:
                # hash-derived partition ids don't match repartitionByRange
                # placement — a resumed range run would filter wrong rows
                raise ValueError(
                    "pending_parts resume requires hash partitioning "
                    "(range_partition=False); range boundaries are not "
                    "reproducible from lineage alone")
            pid = F.pmod(F.hash(F.col(cfg.key_col), F.col(SALT_COL)), F.lit(n))
            df = df.filter(pid.isin(pending_parts))
        if cfg.range_partition:
            # disjoint key ranges per partition -> prune_stripes becomes
            # effective (each stripe's [key_min, key_max] is narrow); hash
            # partitioning (default) spreads skew better but every stripe
            # spans the key space
            df = df.repartitionByRange(n, F.col(cfg.key_col), F.col(SALT_COL))
        else:
            df = df.repartition(n, F.col(cfg.key_col), F.col(SALT_COL))
        # always sort when a key exists: stripe/row-group key ranges stay
        # narrow and decode + sort restores source order deterministically
        # the salt only places rows: drop it before the Arrow hand-off
        df = df.sortWithinPartitions(cfg.key_col, *cfg.order_cols) \
            .drop(SALT_COL)
    else:
        df = df.repartition(n)
    return df.mapInArrow(_make_encoder(spec, cfg), schema=stripe_schema(key_type))


# ----------------------------------------------------------------- decode --


def _coerce_to_spec(batch, spec: list[dict], tz: str | None):
    """The schema-drift rule: the DECLARED spec wins over a stripe's
    embedded meta. Stripes written from a differently-typed source (pandas
    Int32 inferred as LongType, schema evolution across runs) decode to
    their stored width, but Spark wants the declared type (in mapInArrow,
    ArrowColumnVector's row accessors throw on a long vector under an int
    column). Cast any mismatched column to the spec type — a narrowing
    overflow is a real type error and should raise. Nested kinds keep
    their decoded layout."""
    import pyarrow as pa

    from goorc_spark import arrow_stripe

    want = {c["name"]: arrow_stripe.spec_arrow_type(c, tz) for c in spec}
    arrays, changed = [], False
    for f, arr in zip(batch.schema, batch.columns):
        w = want.get(f.name)
        if w is not None and arr.type != w:
            arr = arr.cast(w)
            changed = True
        arrays.append(arr)
    if not changed:
        return batch
    return pa.RecordBatch.from_arrays(
        arrays, schema=pa.schema(
            [pa.field(f.name, a.type, f.nullable)
             for f, a in zip(batch.schema, arrays)]))


def _decode_stripe(blob, meta: dict, spec: list[dict], tz: str | None,
                   include: list[str] | None, rg_predicate: dict | None,
                   rg_sel: list[int] | None = None):
    """One stripe's rows as a RecordBatch of the declared spec (CRC32
    verified), restricted to the row groups `rg_predicate` can match (or,
    without one, to the groups `rg_sel` names); None when it matches none.
    The body of decode_df's and read_rows_at's executor tasks and of the
    driver-side point read alike."""
    from goorc_spark import arrow_stripe

    if rg_predicate:
        rg_sel = arrow_stripe.select_row_groups(meta, **rg_predicate)
        if rg_sel is not None and not rg_sel:
            return None
    return _coerce_to_spec(arrow_stripe.decode_stripe_batch(
        blob, meta, tz=tz, include=include, rg_sel=rg_sel), spec, tz)


def decode_df(stripes: DataFrame, spec: list[dict] | None = None,
              columns: list[str] | None = None,
              rg_predicate: dict | None = None) -> DataFrame:
    """Decode a stripe table back into rows (order: stripe order; sort by
    your key columns afterwards for the canonical view). Arrow-native: each
    stripe blob becomes one RecordBatch with no per-row Python.

    `spec=None` self-describes: the spec is recovered from the stripes'
    embedded meta (`spec_from_stripes`) — one extra driver-side read of a
    single meta JSON (none on a repeat over the same table snapshot), the
    way an ORC reader parses the file footer first.
    Pass the spec explicitly in hot loops or when coercing schema drift.

    `columns` projects the decode: only those columns' streams are
    decompressed (the reference's BatchOption.Includes, column pruning at
    the storage layer — Catalyst prunes the relational side on top).

    `rg_predicate` (kwargs of arrow_stripe.select_row_groups) restricts the
    decode to row groups whose key/order ranges overlap the predicate — the
    reference's row-index seek/skip (/root/reference/orc/stripe.go:369-388)
    at row-group granularity: non-covering groups' streams are never
    decompressed."""
    if spec is None:
        spec = spec_from_stripes(stripes)
    if columns is not None:
        spec = [c for c in spec if c["name"] in columns]
    out_schema = schema_from_spec(spec)
    include = [c["name"] for c in spec] if columns is not None else None
    tz = stripes.sparkSession.conf.get("spark.sql.session.timeZone")

    def decode_stripes(batches):
        for rb in batches:
            metas = rb.column("meta").to_pylist()
            blobs = rb.column("blob")
            for i, meta_json in enumerate(metas):
                out = _decode_stripe(blobs[i].as_buffer(),
                                     json.loads(meta_json), spec, tz,
                                     include, rg_predicate)
                if out is not None:
                    yield out

    return stripes.select("meta", "blob").mapInArrow(decode_stripes,
                                                     schema=out_schema)


MAX_PUSHDOWN_IDS = 2048

# logical-plan node names that mean "reading storage, cheap to scan twice"
_SCAN_NODES = ("LogicalRelation", "DataSourceV2Relation",
               "DataSourceV2ScanRelation", "HiveTableRelation")


def _bare_scan_plan(df: DataFrame):
    """The frame's optimized JVM plan when it is a storage scan (optionally
    under Project/Filter) — the only shape where a second pass costs one
    more scan instead of recomputing an upstream job — else None."""
    try:
        top = plan = df._jdf.queryExecution().optimizedPlan()
        while True:
            name = plan.getClass().getSimpleName()
            if name in _SCAN_NODES:
                return top
            if name in ("Project", "Filter") and plan.children().size() == 1:
                plan = plan.children().head()
                continue
            return None
    except Exception:
        return None


# Driver-side cache of lineage/meta collects, the analog of an ORC reader
# parsing a file's tail once and seeking from memory afterwards (the
# reference's orc/reader.go:199-212, 254-343). Bounded: an entry holds at
# most MAX_PUSHDOWN_IDS + 1 lineage rows of ~8 KB bloom each, and the
# per-snapshot state _decode_on_driver derives from them.
LINEAGE_CACHE_ENTRIES = 16
_lineage_cache: OrderedDict = OrderedDict()  # key -> (JVM plan, rows, state)
_lineage_lock = threading.Lock()

# (SparkSession, its _session_handles) of the last session _snapshot served
_handles_of: tuple = (None, None)


def _session_handles(spark: SparkSession) -> tuple:
    """(application id, CacheManager, Scala ArraySeq class) of `spark`,
    resolved once per session: each lookup costs Py4J round trips, and a
    new session (after stop(), a new SparkContext on the gateway) resolves
    its own instead of reusing the stopped one's."""
    global _handles_of
    owner, handles = _handles_of
    if owner is not spark:
        handles = (spark.sparkContext.applicationId,
                   spark._jsparkSession.sharedState().cacheManager(),
                   spark._jvm.scala.collection.immutable.ArraySeq)
        _handles_of = (spark, handles)
    return handles


def _snapshot(df: DataFrame, plan=None):
    """(key, optimized JVM plan) naming exactly what a bare file scan
    reads, or None for any other frame (derived, in-flight, without input
    files, or one whose plan Spark would now answer from its in-memory
    cache). `plan` is the frame's _bare_scan_plan when the caller has
    already walked it. The key is the application id, the plan's semantic
    hash and the frame's input files: Spark-written part files are
    immutable and get fresh names on overwrite or append, and a refreshed
    file index lists the new ones, so the key changes whenever the data
    Spark would read does."""
    if plan is None:
        plan = _bare_scan_plan(df)
    if plan is None:
        return None
    try:
        app_id, cache_manager, array_seq = _session_handles(df.sparkSession)
        analyzed = df._jdf.queryExecution().analyzed()
        if not cache_manager.useCachedData(analyzed).fastEquals(analyzed):
            return None
        # one round trip for the whole list (DataFrame.inputFiles() fetches
        # the Java array element by element)
        files = array_seq.unsafeWrapArray(df._jdf.inputFiles()).mkString("\n")
        if not files:
            return None
        return (app_id, plan.semanticHash(), files), plan
    except Exception:
        return None


def _collect_cached(stripes: DataFrame, cols: list[str], limit: int,
                    plan=None) -> tuple[list, bool | None, dict | None]:
    """(stripes.selectExpr(*cols).limit(limit).collect(), whether the rows
    came from the driver cache — None when the frame has no snapshot to
    cache them under —, the entry's state dict). A hit is confirmed with
    Catalyst's sameResult against the stored plan; a failed check is a
    miss and replaces the entry. The state starts empty with each entry
    and is evicted with it, so what a caller keeps there is derived from
    this snapshot only (None without a snapshot). `plan` as in _snapshot."""
    snap = _snapshot(stripes, plan)
    if snap is None:
        return stripes.selectExpr(*cols).limit(limit).collect(), None, None
    key, plan = snap
    key += (tuple(cols), limit)
    with _lineage_lock:
        entry = _lineage_cache.get(key)
        if entry is not None:
            _lineage_cache.move_to_end(key)
    if entry is not None and plan.sameResult(entry[0]):
        return entry[1], True, entry[2]
    rows = stripes.selectExpr(*cols).limit(limit).collect()
    state: dict = {}
    with _lineage_lock:
        _lineage_cache[key] = (plan, rows, state)
        _lineage_cache.move_to_end(key)
        while len(_lineage_cache) > LINEAGE_CACHE_ENTRIES:
            _lineage_cache.popitem(last=False)
    return rows, False, state


def read_rows(stripes: DataFrame, spec: list[dict], key_col: str,
              key_value, ord_col: str | None = None,
              ord_lo=None, ord_hi=None,
              columns: list[str] | None = None,
              metrics: dict | None = None) -> DataFrame:
    """Point/range read: the reference's Seek(row)+Skip path
    (/root/reference/orc/reader.go:199-212, orc/stripe.go:369-388) expressed
    over the stripe table. Three pruning levels, each cutting work before
    the next: (1) stripe-level lineage range + bloom prune; (2) row-group
    index prune — only covering groups' streams are decompressed; (3) an
    exact Catalyst filter over the decoded rows. A NULL `key_value` matches
    no row (SQL equality): the empty frame comes back without reading a
    stripe.

    When `stripes` is a bare file scan (_bare_scan_plan), the read takes
    an id pass: the range/bloom predicates are expressions parquet cannot
    push, so a single-pass plan still READS the blob column of pruned
    stripes before filtering them. Instead, a first pass collects the
    lineage columns of every stripe (stripe_id, key_min, key_max,
    key_bloom, enc_bytes and the part file holding it — column pruning
    drops the blobs: 8 KB of bloom vs 256 MB of blob per stripe at prod
    shape) with no filter, so its plan is the same for every key;
    prune_stripes' range + bloom predicate then runs in Python on the
    driver, and the survivors are decoded — on the driver (below) or by a
    second scan filtering `stripe_id IN (survivors)`, a predicate parquet
    pushes into row-group stats and dictionary filters. Any other frame
    (derived, in-flight) takes the single-pass plan: two passes would
    recompute the upstream job. A table of more than MAX_PUSHDOWN_IDS
    stripes prunes in Spark instead (prune_stripes, then the same id pass
    over its survivors), and beyond MAX_PUSHDOWN_IDS survivors in the
    single-pass plan.

    The lineage rows of the first pass are cached on the driver, the way an
    ORC reader parses a file's tail once: the cache key is the table
    snapshot — the Spark application id, the semantic hash of the frame's
    optimized plan and the frame's input files (Spark-written part files
    are immutable and get fresh names on overwrite or append) — and a hit
    is confirmed with Catalyst's sameResult against the stored plan. So
    the first read of a snapshot runs the lineage job and every later read
    of it runs at most the decode. Only bare file scans with input files
    are cached (not frames Spark serves from its in-memory cache), in a
    bounded LRU of LINEAGE_CACHE_ENTRIES snapshots. With a snapshot's
    lineage rows the cache keeps what the driver-side decode below derives
    from the snapshot alone: whether its stripe_id/meta/blob columns are
    the stored ones, each part file's parquet footer (read again when the
    file's size or mtime changes) and the parsed meta of the stripes it
    decoded (up to DRIVER_DECODE_BYTES of JSON). The rows themselves are
    not cached: every call reads and decodes its surviving stripes.

    Small survivors decode on the driver, with no Spark job: when the frame
    is such a cached bare scan, its stripe_id/meta/blob columns are the
    stored ones, the survivors' lineage `enc_bytes` and the blob bytes of
    the parquet row groups holding them are each at most
    DRIVER_DECODE_BYTES, and every survivor's part file opens through
    `pyarrow.fs.FileSystem.from_uri`, this process reads those row groups
    with pyarrow, runs the same row-group select, CRC32-checked decode and
    declared-spec cast as decode_df's tasks, and returns a single-partition
    local frame under the same exact Catalyst filter. The part files are
    read when read_rows is CALLED, not when the frame is evaluated; that
    is safe because part files are immutable and the snapshot key names
    them, so the rows are the ones the Spark decode would read. Any other
    case runs the Spark decode unchanged.

    Pass a dict as `metrics` (read_orc_eq's shape: counts accumulate over
    calls) to get `stripes_total` and `stripes_kept` of the id pass,
    `lineage_cache_hits` / `lineage_cache_misses` of the driver-side pass,
    `pruned_on` ("driver" or "spark") and `served_on` ("driver" or "spark":
    where the rows were decoded). A Spark-served read names its `fallback`
    — "not_bare_scan", "too_many_stripes" (more than MAX_PUSHDOWN_IDS),
    "over_byte_bound" or "unreadable" (a part file pyarrow cannot open);
    a driver-decoded one names its `kernel` ("native" or "numpy",
    goorc_spark.codecs._native.status()). Labels describe the
    last call; a count the plan never computed — the Spark side's total,
    its cache use, the single-pass plan's survivors — is absent."""
    pred: dict = {"key_value": key_value}
    if ord_lo is not None:
        pred["ord_lo"] = ord_lo
    if ord_hi is not None:
        pred["ord_hi"] = ord_hi
    cond = [(key_col, "equalTo", key_value)]
    if ord_col is not None and ord_lo is not None:
        cond.append((ord_col, "geq", ord_lo))
    if ord_col is not None and ord_hi is not None:
        cond.append((ord_col, "leq", ord_hi))
    keys = [] if key_value is None else [key_value]
    return _point_read(stripes, spec, key_col, keys, cond, pred, columns,
                       metrics, key_value=key_value)


def read_rows_in(stripes: DataFrame, spec: list[dict], key_col: str,
                 key_values, columns: list[str] | None = None,
                 metrics: dict | None = None) -> DataFrame:
    """Batch point read `key IN (...)` — the training-pipeline shape
    (fetch a batch of conversations by id) as ONE job instead of N point
    reads. Same three pruning levels as read_rows, each generalized to
    any-of-the-keys: (1) stripe lineage envelope range + per-key bloom OR
    (up to MAX_BLOOM_KEYS keys; beyond that the [min, max] envelope alone
    — still prunes sorted/range-partitioned layouts); (2) row-group index
    prune where ANY key fits the group's [key_min, key_max]; (3) one exact Catalyst isin filter. NULL keys are dropped
    (SQL IN never matches NULL); an all-NULL list reads no stripe.
    The id pass, `metrics` and the driver-side decode of small survivors
    (files read at call time) as in read_rows."""
    key_values = list(key_values)
    if not key_values:
        raise ValueError("key_values must be non-empty")
    keys = sorted({k for k in key_values if k is not None})
    return _point_read(stripes, spec, key_col, keys,
                       [(key_col, "isInCollection", keys)],
                       {"key_values": keys}, columns, metrics,
                       key_values=keys)


def read_where(stripes: DataFrame, spec: list[dict], col: str | None = None,
               lo=None, hi=None,
               columns: list[str] | None = None,
               col_ranges: dict | None = None,
               metrics: dict | None = None) -> DataFrame:
    """Value-predicate seek on ANY orderable column(s) (the reference's
    row-index statistics pruning, RowIndexEntry stats in
    pb/orc_proto.proto:92-99): row groups whose recorded [min, max] cannot
    intersect the predicate are never decompressed, then the exact filter
    runs over the survivors. `col`/`lo`/`hi` is the single-column form;
    `col_ranges` {column: (lo, hi)} adds further conjuncts — each prunes
    row groups independently (a group survives only if EVERY probed range
    can intersect), and each becomes an exact Catalyst filter.

    Unlike read_rows there is no stripe-level lineage range for arbitrary
    columns, so when `stripes` is a bare file scan (_bare_scan_plan) a
    first pass scans stripe_id+meta ONLY (no blob bytes), evaluates the
    row-group ranges there, and the second pass decodes `stripe_id IN
    (survivors)` — the IN predicate is parquet-pushable, so fully
    non-covering stripes' blobs are never read. Any other frame decodes in
    one pass. At 10^12 rows pair this with range_partition on the hottest
    column.

    `metrics` as in read_rows: that id pass (a Spark job) records
    `pruned_on` "spark" and, when it kept at most MAX_PUSHDOWN_IDS
    stripes, `stripes_kept`; without the id pass nothing is recorded."""
    ranges: dict = dict(col_ranges or {})
    if col is not None:
        ranges[col] = (lo, hi)
    if not ranges:
        raise ValueError("read_where needs `col` or `col_ranges`")
    if columns is not None:
        columns = list(columns) + [c for c in ranges if c not in columns]
    if _bare_scan_plan(stripes) is not None:

        def probe(batches):
            import pyarrow as pa

            from goorc_spark import arrow_stripe

            for rb in batches:
                sids = rb.column("stripe_id").to_pylist()
                keep = []
                for i, meta_json in enumerate(rb.column("meta").to_pylist()):
                    sel = arrow_stripe.select_row_groups(
                        json.loads(meta_json), col_ranges=ranges)
                    if sel is None or sel:
                        keep.append(sids[i])
                yield pa.RecordBatch.from_pydict(
                    {"stripe_id": pa.array(keep, pa.string())})

        ids_df = stripes.select("stripe_id", "meta").mapInArrow(
            probe, "stripe_id string")
        ids = [r[0] for r in ids_df.limit(MAX_PUSHDOWN_IDS + 1).collect()]
        kept = len(ids) if len(ids) <= MAX_PUSHDOWN_IDS else None
        _count_prune(metrics, "spark", None, kept)
        if kept is not None:
            stripes = _filter_exact(stripes,
                                    [("stripe_id", "isInCollection", ids)])
    out = decode_df(stripes, spec, columns=columns,
                    rg_predicate={"col_ranges": ranges})
    cond = [(c, op, bound) for c, (clo, chi) in ranges.items()
            for op, bound in (("geq", clo), ("leq", chi)) if bound is not None]
    return _filter_exact(out, cond) if cond else out


def read_rows_at(stripes: DataFrame, spec: list[dict] | None,
                 row_lo: int, row_hi: int,
                 columns: list[str] | None = None) -> DataFrame:
    """Absolute row-number seek — the reference's third public entry point,
    `Seek(rowNumber)` (/root/reference/orc/reader.go:199-212: cumulative
    stripe rows -> stride -> skip), over the stripe table: returns global
    rows [row_lo, row_hi) where global order is stripes ordered by
    (part_id, seq) with stored row order inside each stripe. Under a
    range-partitioned, order-sorted encode that equals ORDER BY
    (key, *order_cols) over the source.

    Plan: (1) a prefix-sum window over LINEAGE columns only — one row per
    stripe, blobs never read (at 10^12 turns / 256 MB stripes that is
    ~300k metadata rows through a single-partition window: bounded, and
    the blob column is pruned from the scan) — whose covering stripes'
    (stripe_id, row_start) are collected when read_rows_at is called (a
    seek touches few stripes); (2) the decode scans `stripe_id IN
    (covering)`, a predicate parquet pushes into the scan, so the other
    stripes' blobs are never read, with the starts passed into the task;
    (3) inside each stripe, row-group prefix sums pick covering groups,
    only their streams decompress, and the exact slice is cut from the
    decoded batch."""
    from pyspark.sql import Window

    if spec is None:
        spec = spec_from_stripes(stripes)
    if columns is not None:
        spec = [c for c in spec if c["name"] in columns]
    out_schema = schema_from_spec(spec)
    if row_hi <= row_lo:
        return decode_df(stripes.limit(0), spec, columns=columns)
    w = (Window.orderBy("part_id", "seq")
         .rowsBetween(Window.unboundedPreceding, -1))
    starts = dict(
        stripes.select("stripe_id", "part_id", "seq", "n_rows")
        .withColumn("row_start",
                    F.coalesce(F.sum("n_rows").over(w), F.lit(0)))
        .filter((F.col("row_start") < row_hi)
                & (F.col("row_start") + F.col("n_rows") > row_lo))
        .select("stripe_id", "row_start").collect())
    sel = _filter_exact(stripes,
                        [("stripe_id", "isInCollection", list(starts))])
    include = [c["name"] for c in spec] if columns is not None else None
    tz = stripes.sparkSession.conf.get("spark.sql.session.timeZone")

    def decode_slices(batches):
        for rb in batches:
            metas = rb.column("meta").to_pylist()
            blobs = rb.column("blob")
            sids = rb.column("stripe_id").to_pylist()
            ns = rb.column("n_rows").to_pylist()
            for i, meta_json in enumerate(metas):
                meta = json.loads(meta_json)
                start = starts[sids[i]]
                slo = max(0, row_lo - start)
                shi = min(ns[i], row_hi - start)
                groups = meta.get("row_groups")
                rg_sel, first_off = None, 0
                if groups:
                    p, rg_sel = 0, []
                    for j, g in enumerate(groups):
                        if p < shi and p + g["n_rows"] > slo:
                            if not rg_sel:
                                first_off = p
                            rg_sel.append(j)
                        p += g["n_rows"]
                out = _decode_stripe(blobs[i].as_buffer(), meta, spec, tz,
                                     include, None, rg_sel=rg_sel)
                yield out.slice(slo - first_off, shi - slo)

    return (sel.select("meta", "blob", "stripe_id", "n_rows")
            .mapInArrow(decode_slices, schema=out_schema))


RUN_STATS_SCHEMA = ("column string, n_values bigint, null_count bigint, "
                    "min_long bigint, max_long bigint, sum_long bigint, "
                    "min_dbl double, max_dbl double, sum_dbl double, "
                    "min_str string, max_str string, "
                    "min_dec decimal(38,0), max_dec decimal(38,0), "
                    "bytes_sum bigint, has_str_bounds int, sum_overflow int")
_RUN_STATS_COLS = ["column", "n_values", "null_count", "min_long",
                   "max_long", "sum_long", "min_dbl", "max_dbl", "sum_dbl",
                   "min_str", "max_str", "min_dec", "max_dec", "bytes_sum",
                   "has_str_bounds", "sum_overflow"]


def run_stats(stripes: DataFrame) -> DataFrame:
    """Whole-run per-column statistics rolled up from each stripe's
    `col_stats` meta — the reference's file-footer aggregate statistics
    (/root/reference/orc/writer.go:140-177) over the stripe table. Pure
    metadata: only the `meta` JSON column is scanned, blobs are pruned.

    One row per column: n_values/null_count always; typed min/max/sum
    slots (longs for integer kinds — timestamps as epoch-micros, dates as
    days, decimals (precision<=18) as UNSCALED ints at the column scale;
    doubles for floats; strings for string/binary; sum_long for bool =
    true count; bytes_sum = total string/binary payload). String bounds
    are NULL unless EVERY stripe recorded one (long free text skips
    per-stripe bounds; see arrow_stripe.stripe_col_stats)."""

    def expand(batches):
        import pyarrow as pa

        names = _RUN_STATS_COLS
        for rb in batches:
            rows: dict = {k: [] for k in names}
            for meta_json in rb.column("meta").to_pylist():
                for name, st in (json.loads(meta_json).get("col_stats")
                                 or {}).items():
                    mn, mx, sm = st.get("min"), st.get("max"), st.get("sum")
                    is_int = isinstance(mn, int) and not isinstance(mn, bool)
                    rows["column"].append(name)
                    rows["n_values"].append(st["n"])
                    rows["null_count"].append(st["nulls"])
                    rows["min_long"].append(mn if is_int else None)
                    rows["max_long"].append(mx if is_int else None)
                    rows["sum_long"].append(sm if isinstance(sm, int) else None)
                    # explicit None marker = the stripe's exact sum overflowed
                    # int64 (arrow_stripe.stripe_col_stats); the whole-run sum
                    # must then be omitted, not summed over the survivors
                    rows["sum_overflow"].append(
                        1 if ("sum" in st and sm is None) else 0)
                    rows["min_dbl"].append(mn if isinstance(mn, float) else None)
                    rows["max_dbl"].append(mx if isinstance(mx, float) else None)
                    rows["sum_dbl"].append(sm if isinstance(sm, float) else None)
                    rows["min_str"].append(mn if isinstance(mn, str) else None)
                    rows["max_str"].append(mx if isinstance(mx, str) else None)
                    rows["min_dec"].append(st.get("min_dec"))
                    rows["max_dec"].append(st.get("max_dec"))
                    rows["bytes_sum"].append(st.get("bytes"))
                    rows["has_str_bounds"].append(
                        0 if ("bytes" in st and mn is None and st["n"])
                        else 1)
            yield pa.RecordBatch.from_pydict(
                {"column": pa.array(rows["column"], pa.string()),
                 "n_values": pa.array(rows["n_values"], pa.int64()),
                 "null_count": pa.array(rows["null_count"], pa.int64()),
                 "min_long": pa.array(rows["min_long"], pa.int64()),
                 "max_long": pa.array(rows["max_long"], pa.int64()),
                 "sum_long": pa.array(rows["sum_long"], pa.int64()),
                 "min_dbl": pa.array(rows["min_dbl"], pa.float64()),
                 "max_dbl": pa.array(rows["max_dbl"], pa.float64()),
                 "sum_dbl": pa.array(rows["sum_dbl"], pa.float64()),
                 "min_str": pa.array(rows["min_str"], pa.string()),
                 "max_str": pa.array(rows["max_str"], pa.string()),
                 "min_dec": pa.array(rows["min_dec"], pa.decimal128(38, 0)),
                 "max_dec": pa.array(rows["max_dec"], pa.decimal128(38, 0)),
                 "bytes_sum": pa.array(rows["bytes_sum"], pa.int64()),
                 "has_str_bounds": pa.array(rows["has_str_bounds"],
                                            pa.int32()),
                 "sum_overflow": pa.array(rows["sum_overflow"], pa.int32())})

    long_rows = stripes.select("meta").mapInArrow(expand, RUN_STATS_SCHEMA)
    agg = long_rows.groupBy("column").agg(
        F.sum("n_values").alias("n_values"),
        F.sum("null_count").alias("null_count"),
        F.min("min_long").alias("min_long"),
        F.max("max_long").alias("max_long"),
        # rollup in decimal(38,0): the per-stripe sums are exact int64 but
        # their SUM can overflow int64 across stripes — Spark's long sum
        # wraps silently; the wide sum is checked back into range below
        # (reference semantics: omit the sum on overflow)
        F.sum(F.col("sum_long").cast("decimal(38,0)")).alias("_sum_dec"),
        F.max("sum_overflow").alias("_soflow"),
        F.min("min_dbl").alias("min_dbl"),
        F.max("max_dbl").alias("max_dbl"),
        F.sum("sum_dbl").alias("sum_dbl"),
        F.min("min_str").alias("_min_str"),
        F.max("max_str").alias("_max_str"),
        F.min("min_dec").alias("min_dec"),
        F.max("max_dec").alias("max_dec"),
        F.sum("bytes_sum").alias("bytes_sum"),
        F.min("has_str_bounds").alias("_complete"))
    i64 = (F.col("_sum_dec") >= F.lit(-(1 << 63)).cast("decimal(38,0)")) & \
          (F.col("_sum_dec") <= F.lit((1 << 63) - 1).cast("decimal(38,0)"))
    return agg.select(
        "column", "n_values", "null_count", "min_long", "max_long",
        F.when((F.col("_soflow") == 0) & i64,
               F.col("_sum_dec").cast("long")).alias("sum_long"),
        "min_dbl", "max_dbl", "sum_dbl",
        F.when(F.col("_complete") == 1, F.col("_min_str")).alias("min_str"),
        F.when(F.col("_complete") == 1, F.col("_max_str")).alias("max_str"),
        "min_dec", "max_dec", "bytes_sum")


# ---------------------------------------------------------------- lineage --


MAX_BLOOM_KEYS = 64  # per-key OR bloom predicates above this would bloat
#                        the Catalyst expression; fall back to the keys'
#                        [min, max] envelope range (still prunes sorted /
#                        range-partitioned layouts)


def _prune_bounds(key_value=None, lo=None, hi=None, key_values=None):
    """(lo, hi, bloom probe keys) of a stripe prune — one definition for
    prune_stripes and its driver-side twin _prune_on_driver."""
    if key_value is not None:
        lo = hi = key_value
    if key_values is not None:
        key_values = sorted(set(key_values))
        lo, hi = key_values[0], key_values[-1]
    probes = [key_value] if key_value is not None else (
        key_values if key_values is not None
        and len(key_values) <= MAX_BLOOM_KEYS else [])
    return lo, hi, probes


def _bound_ok(bound, kv, keep_if) -> bool:
    """One lineage range test in Python. Only str/bytes/int (not bool) key
    values against a bound of the same kind compare here — the orders where
    Python and Spark agree (UTF-8 byte order is code-point order); any other
    pair keeps the stripe: a wasted read, never a wrong skip."""
    if bound is None or isinstance(kv, bool) or isinstance(bound, bool):
        return True
    for kinds in (str, (bytes, bytearray), int):
        if isinstance(kv, kinds) and isinstance(bound, kinds):
            return keep_if(bound, kv)
    return True


def _lineage(stripes: DataFrame, plan=None) -> tuple[list, bool | None,
                                                       dict | None]:
    """The lineage columns of every stripe, from one unfiltered collect
    cached per table snapshot -> _collect_cached's (rows, hit, state). A
    row carries the stripe's `stripe_id`, key range, `enc_bytes` (NULL
    when the frame has no such column), the `file` that stores it and,
    when the frame has one, its `key_bloom`. `plan` as in _snapshot."""
    present = stripes.columns
    cols = ["stripe_id", "key_min", "key_max",
            "enc_bytes" if "enc_bytes" in present
            else "CAST(NULL AS BIGINT) AS enc_bytes",
            "input_file_name() AS file"]
    if "key_bloom" in present:
        cols.append("key_bloom")
    return _collect_cached(stripes, cols, MAX_PUSHDOWN_IDS + 1, plan)


def _prune_on_driver(stripes: DataFrame, key_value=None, key_values=None,
                     lineage=None) -> tuple[list, int, bool | None] | None:
    """prune_stripes' predicate evaluated in Python over the `lineage`
    rows (_lineage(stripes) when not given) -> (surviving lineage rows,
    stripes seen, whether the lineage came from the driver cache — None
    for a frame with no snapshot), or None when the table has more than
    MAX_PUSHDOWN_IDS stripes. The bloom probe as Column expressions
    differs per key, so every read would plan and codegen a new
    expression tree; the lineage pass's plan is the same for every key
    and carries no filter at all, and its rows are cached per table
    snapshot."""
    lo, hi, probes = _prune_bounds(key_value, None, None, key_values)
    if "key_bloom" not in stripes.columns:
        probes = []
    rows, hit, _ = lineage or _lineage(stripes)
    if len(rows) > MAX_PUSHDOWN_IDS:
        return None
    positions = [bloom_positions(kv) for kv in probes]
    keep = []
    for r in rows:
        if hi is not None and not _bound_ok(r.key_min, hi,
                                            lambda b, v: b <= v):
            continue
        if lo is not None and not _bound_ok(r.key_max, lo,
                                            lambda b, v: b >= v):
            continue
        bloom = r.key_bloom if positions else None
        if bloom is not None and len(bloom) == BLOOM_BYTES and not any(
                all(bloom[p >> 3] >> (p & 7) & 1 for p in pos)
                for pos in positions):
            continue
        keep.append(r)
    return keep, len(rows), hit


def _filter_exact(frame: DataFrame, cond: list) -> DataFrame:
    """`frame` under the conjunction of `cond`, (column, JVM Column method,
    value) triples: ("k", "equalTo", v) is frame["k"] == v, the same
    Catalyst expression bound to the frame's own attributes. Built on the
    JVM Column: a PySpark Column operator also records its Python call
    site for error messages, at ten more Py4J round trips an operator. A
    list value ("k", "isInCollection", [...]) crosses as one JVM list
    (_jvm_values)."""
    jdf = frame._jdf
    terms = []
    for col, op, value in cond:
        if isinstance(value, list):
            value = _jvm_values(frame.sparkSession, value)
        terms.append(getattr(jdf.apply(col), op)(value))
    return _filter_jvm(frame, terms)


def _filter_jvm(frame: DataFrame, terms: list) -> DataFrame:
    """`frame` under the conjunction of JVM Columns `terms`, in order;
    `frame` itself when there are none."""
    from pyspark.sql import Column

    if not terms:
        return frame
    where = terms[0]
    for term in terms[1:]:
        where = getattr(where, "and")(term)
    return frame.filter(Column(where))


# Python types that Spark's bundled Pyrolite unpickles to the Java types
# Py4J converts them to (String, Integer/Long, Double, byte[], Boolean)
_PICKLED_KINDS = (str, int, float, bytes, bool)


def _jvm_values(spark: SparkSession, values: list):
    """`values` as one java.util.List made in a fixed number of Py4J round
    trips, where Py4J converts a Python list with one ArrayList.add round
    trip per item: pickled here, unpickled in the JVM by the Pyrolite
    library Spark ships for its Python workers. A list holding any other
    type than _PICKLED_KINDS is returned as it is. The class is named in
    full, where a lookup through `spark._jvm` asks the JVM once per name
    part."""
    import pickle

    from py4j.java_gateway import JavaClass

    if not all(type(v) in _PICKLED_KINDS for v in values):
        return values
    unpickler = JavaClass("net.razorvine.pickle.Unpickler",
                          spark._jvm._gateway_client)
    return unpickler().loads(bytearray(pickle.dumps(values, protocol=3)))


def _point_read(stripes: DataFrame, spec: list[dict], key_col: str,
                keys: list, cond: list, rg_predicate: dict,
                columns: list[str] | None, metrics: dict | None,
                **prune) -> DataFrame:
    """read_rows / read_rows_in once their non-NULL `keys` are known:
    prune stripes (`prune` are prune_stripes' key_value / key_values),
    decode the survivors on the driver or in Spark, and apply the exact
    filter `cond` (_filter_exact). The optimized plan is walked once, for
    both the bare-scan test and the snapshot key."""
    if spec is None:
        spec = spec_from_stripes(stripes)
    if columns is not None:
        spec = [c for c in spec if c["name"] in columns]
    if not keys:  # NULL never equals anything: no stripe can match
        _count_prune(metrics, "driver", None, 0)
        _count_served(metrics, "driver")
        return _filter_exact(_local_frame(stripes.sparkSession, [], spec),
                             cond)
    fallback, pruned = "not_bare_scan", None
    plan = _bare_scan_plan(stripes)
    if plan is not None:
        lineage = _lineage(stripes, plan)
        got = _prune_on_driver(stripes, lineage=lineage, **prune)
        if got is None:
            fallback = "too_many_stripes"
        else:
            rows, total, hit = got
            _count_prune(metrics, "driver", total, len(rows), bool(hit))
            if hit is not None:
                local, fallback = _decode_on_driver(
                    stripes, rows, spec, columns, key_col, keys, rg_predicate,
                    lineage[2])
                if local is not None:
                    _count_served(metrics, "driver", decoded=True)
                    return _filter_exact(local, cond)
            pruned = _filter_exact(stripes, [
                ("stripe_id", "isInCollection",
                 [r.stripe_id for r in rows])])
    if pruned is None:
        pruned = _prune_in_spark(stripes, plan, metrics, **prune)
    _count_served(metrics, "spark", fallback)
    return _filter_exact(decode_df(pruned, spec, columns=columns,
                                   rg_predicate=rg_predicate), cond)


# Survivors of a point read decode on the driver (read_rows) when their
# lineage enc_bytes, and the blob bytes of the parquet row groups holding
# them, are each at most this: small enough that reading and decoding in
# the driver process beats planning a Spark job (reading and decoding a
# 1.3 MB stripe took ~10 ms against ~200 ms for the Spark decode query
# on a 4-CPU box), and that the driver's memory stays bounded.
DRIVER_DECODE_BYTES = 16 << 20


class _PartFile:
    """A stripe-table part file as a snapshot's state holds it: its
    pyarrow filesystem and path, the (size, mtime) its `footer` (parquet
    FileMetaData) was read at, and the parsed meta JSON of stripes decoded
    from it, by stripe_id."""

    __slots__ = ("fs", "path", "stamp", "footer", "metas")

    def __init__(self, fs, path: str, stamp: tuple):
        self.fs, self.path, self.stamp = fs, path, stamp
        self.footer, self.metas = None, {}


def _part_file(state: dict, uri: str) -> _PartFile:
    """`uri`'s _PartFile from the snapshot's state, started afresh when
    the file is new to it or its size or mtime changed (a file rewritten
    in place must not be read through its old footer)."""
    import pyarrow.fs as pafs

    parts = state.setdefault("parts", {})
    part = parts.get(uri)
    if part is None:
        fs, path = pafs.FileSystem.from_uri(uri)
    else:
        fs, path = part.fs, part.path
    info = fs.get_file_info(path)
    stamp = (info.size, info.mtime_ns)
    if part is None or part.stamp != stamp:
        part = parts[uri] = _PartFile(fs, path, stamp)
    return part


def _stripe_meta(state: dict, part: _PartFile, sid: str, cell) -> dict:
    """Stripe `sid`'s parsed meta: from `part` when an earlier read of the
    snapshot parsed it, else parsed from its JSON (`cell`, an Arrow
    scalar) and kept while the state holds at most DRIVER_DECODE_BYTES of
    JSON (metas dropped with a rewritten file still count, so the cap
    errs low)."""
    meta = part.metas.get(sid)
    if meta is None:
        text = cell.as_py()
        meta = json.loads(text)
        with _lineage_lock:  # concurrent reads of one snapshot share it
            held = state.get("meta_bytes", 0)
            if sid not in part.metas \
                    and held + len(text) <= DRIVER_DECODE_BYTES:
                part.metas[sid] = meta
                state["meta_bytes"] = held + len(text)
    return meta


def _decode_on_driver(stripes: DataFrame, rows: list, spec: list[dict],
                      columns: list[str] | None, key_col: str, keys: list,
                      rg_predicate: dict, state: dict):
    """The surviving stripes `rows` (_prune_on_driver) read from their
    part files and decoded in this process -> (single-partition local
    frame, None), or (None, the reason the Spark decode must run
    instead). `state` is the lineage snapshot's (_collect_cached): what
    depends on the snapshot alone is derived once and kept there — whether
    the frame reads stored columns, each part file's footer and the
    parsed meta of decoded stripes (at most DRIVER_DECODE_BYTES of JSON)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if sum(r.enc_bytes or 0 for r in rows) > DRIVER_DECODE_BYTES:
        return None, "over_byte_bound"
    stored = state.get("stored")
    if stored is None:
        stored = state.setdefault(
            "stored", _reads_stored(stripes, ("stripe_id", "meta", "blob")))
    if not stored:
        return None, "not_bare_scan"
    files: dict = {}
    for r in rows:
        files.setdefault(r.file, set()).add(r.stripe_id)
    spark = stripes.sparkSession
    tz = spark.conf.get("spark.sql.session.timeZone")
    include = [c["name"] for c in spec] if columns is not None else None
    key_set = _key_set(spec, key_col, keys, tz)
    batches = []
    with contextlib.ExitStack() as opened:
        reads, nbytes = [], 0
        try:
            for uri, ids in files.items():
                part = _part_file(state, uri)
                pf = pq.ParquetFile(
                    opened.enter_context(part.fs.open_input_file(part.path)),
                    metadata=part.footer, pre_buffer=False)
                part.footer = pf.metadata
                groups, size = _stripe_groups(pf.metadata, ids)
                reads.append((pf, part, groups,
                              pa.array(sorted(ids), pa.string())))
                nbytes += size
        except (OSError, ValueError):  # no pyarrow filesystem, not parquet
            return None, "unreadable"
        if nbytes > DRIVER_DECODE_BYTES:
            return None, "over_byte_bound"
        for pf, part, groups, ids in reads:
            t = pf.read_row_groups(groups, columns=["stripe_id", "meta",
                                                    "blob"],
                                   use_threads=False)
            sids, metas, blobs = (t.column(c) for c in ("stripe_id", "meta",
                                                        "blob"))
            hits = pc.indices_nonzero(pc.is_in(sids, value_set=ids))
            for i in hits.to_pylist():
                meta = _stripe_meta(state, part, sids[i].as_py(), metas[i])
                out = _decode_stripe(blobs[i].as_buffer(), meta, spec, tz,
                                     include, rg_predicate)
                if out is not None and key_set is not None:
                    out = out.filter(pc.is_in(out.column(key_col),
                                              value_set=key_set))
                if out is not None and out.num_rows:
                    batches.append(out)
            del t, metas, blobs  # this file's blobs go before the next's
    return _local_frame(spark, batches, spec), None


def _reads_stored(df: DataFrame, names: tuple) -> bool:
    """Whether the frame's `names` columns are its scanned relation's own
    columns — not values a Project above the scan computed — so reading
    them from the part files reads what Spark would."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        leaf = plan
        while leaf.children().size() == 1:
            leaf = leaf.children().head()
        stored, out = leaf.outputSet(), plan.output()
        seen = set()
        for i in range(out.size()):
            a = out.apply(i)
            if a.name() in names:
                if not stored.contains(a):
                    return False
                seen.add(a.name())
        return seen == set(names)
    except Exception:
        return False


def _stripe_groups(md, ids: set) -> tuple[list[int], int]:
    """(the row groups of a stripe-table parquet file whose stripe_id
    statistics can hold one of `ids`, the uncompressed bytes of their blob
    column chunks) — a row group's column chunk is read whole, so those
    are the bytes the read costs."""
    names = [md.schema.column(j).path for j in range(md.num_columns)]
    sid, blob = names.index("stripe_id"), names.index("blob")
    groups, size = [], 0
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = rg.column(sid).statistics
        if st is None or not st.has_min_max or any(
                st.min <= i <= st.max for i in ids):
            groups.append(g)
            size += rg.column(blob).total_uncompressed_size
    return groups, size


def _key_set(spec: list[dict], key_col: str, keys: list, tz: str | None):
    """Arrow value set of `keys` for pre-filtering decoded rows on the
    driver — only str/bytes/int keys (the kinds _bound_ok compares)
    against a key column of the matching Arrow kind, else None. It only
    shrinks what crosses into Spark; the Catalyst filter still decides."""
    import pyarrow as pa

    from goorc_spark import arrow_stripe

    col = next((c for c in spec if c["name"] == key_col), None)
    typ = arrow_stripe.spec_arrow_type(col, tz) if col else None
    if typ is None:
        return None
    for kind, fits in ((str, pa.types.is_large_string),
                       (bytes, pa.types.is_large_binary),
                       (int, pa.types.is_integer)):
        if fits(typ) and all(isinstance(k, kind) and not isinstance(k, bool)
                             for k in keys):
            try:
                return pa.array(keys, typ)
            except (OverflowError, pa.ArrowInvalid):
                return None
    return None


def _local_frame(spark: SparkSession, batches: list,
                 spec: list[dict]) -> DataFrame:
    """Decoded batches as a driver-resident frame: Catalyst plans it as a
    LocalRelation and folds filters into it on the driver; one partition
    lets count() finish in one job, and an empty frame collects with
    none."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = schema_from_spec(spec)
    if not batches:
        # from Arrow, not from a Python list: a list becomes an RDD whose
        # every action runs a Python-worker job
        empty = pa.RecordBatch.from_pylist([], schema=to_arrow_schema(schema))
        return spark.createDataFrame(pa.Table.from_batches([empty]), schema)
    return spark.createDataFrame(pa.Table.from_batches(batches),
                                 schema).coalesce(1)


def _prune_in_spark(stripes: DataFrame, plan, metrics: dict | None,
                    **keys) -> DataFrame:
    """The Spark-side stripe prune of read_rows / read_rows_in: with the
    frame's _bare_scan_plan `plan`, an id pass over prune_stripes'
    survivors (see read_rows), else the single-pass plan; `keys` are
    prune_stripes' key_value / key_values."""
    pruned = prune_stripes(stripes, **keys)
    if plan is not None:
        ids = [r[0] for r in pruned.select("stripe_id")
               .limit(MAX_PUSHDOWN_IDS + 1).collect()]
        if len(ids) <= MAX_PUSHDOWN_IDS:
            _count_prune(metrics, "spark", None, len(ids))
            return _filter_exact(stripes,
                                 [("stripe_id", "isInCollection", ids)])
    _count_prune(metrics, "spark", None, None)
    return pruned


def _count_served(metrics: dict | None, where: str,
                  fallback: str | None = None, decoded: bool = False) -> None:
    """Record where a point read's rows were decoded (read_rows'
    `served_on`), why not on the driver (`fallback`) and, when the driver
    decoded, its `kernel`. Labels describe the last call."""
    if metrics is None:
        return
    metrics["served_on"] = where
    metrics.pop("fallback", None)
    metrics.pop("kernel", None)
    if fallback is not None:
        metrics["fallback"] = fallback
    if decoded:
        from goorc_spark.codecs import _native

        metrics["kernel"] = "native" if _native.status()["loaded"] \
            else "numpy"


def _count_prune(metrics: dict | None, where: str, total: int | None,
                 kept: int | None, cache_hit: bool | None = None) -> None:
    """Accumulate read-side pruning counters (read_orc_eq's `metrics`
    shape); a count the plan never computed is left out."""
    if metrics is None:
        return
    metrics["pruned_on"] = where
    hits = misses = None
    if cache_hit is not None:
        hits, misses = int(cache_hit), int(not cache_hit)
    for k, v in (("stripes_total", total), ("stripes_kept", kept),
                 ("lineage_cache_hits", hits),
                 ("lineage_cache_misses", misses)):
        if v is not None:
            metrics[k] = metrics.get(k, 0) + v


def prune_stripes(stripes: DataFrame, key_value=None,
                  lo=None, hi=None, key_values=None) -> DataFrame:
    """Stripe-level predicate pushdown using the lineage [key_min, key_max]
    range — the analog of the reference's row-index stats-based seek/skip
    (/root/reference/orc/stripe.go:369-388): stripes whose key range cannot
    contain the predicate are filtered out BEFORE their blobs are read, so
    the parquet scan of the stripe table prunes them too (blob column never
    materialized for skipped stripes)."""
    lo, hi, probes = _prune_bounds(key_value, lo, hi, key_values)
    jdf, terms = stripes._jdf, []
    # NULL bounds (keyless encode, all-null key stripe) mean UNKNOWN, not
    # out-of-range: keep the stripe — a wasted read, never a wrong skip.
    # Built on the JVM Column, as _filter_exact's terms are
    for col, op, bound in (("key_min", "leq", hi), ("key_max", "geq", lo)):
        if bound is not None:
            c = jdf.apply(col)
            terms.append(getattr(c.isNull(), "or")(getattr(c, op)(bound)))
    if probes and "key_bloom" in stripes.columns:
        terms.append(F.expr(_bloom_probe_sql(probes))._jc)
    return _filter_jvm(stripes, terms)


def _bloom_probe_sql(probes: list) -> str:
    """prune_stripes' bloom test as one SQL expression, with built-ins
    only: the k probe positions are a driver-side constant for each key,
    so each test is one substring/hex/conv/bitwiseAND over the 8 KB filter
    and the whole predicate pushes into the stripe-table scan. Under hash
    partitioning this is what skips stripes (every stripe's [key_min,
    key_max] range spans the key space there). A NULL bloom (keyless
    encodes) or one not BLOOM_BYTES long (an older hash family) never
    skips. The text holds integers only, never a key."""
    def bit(p: int) -> str:
        return (f"(CAST(conv(hex(substring(key_bloom, {p // 8 + 1}, 1)), "
                f"16, 10) AS INT) & {1 << (p & 7)}) != 0")

    any_key = " OR ".join(
        "(" + " AND ".join(bit(p) for p in bloom_positions(kv)) + ")"
        for kv in probes)
    return (f"key_bloom IS NULL OR length(key_bloom) != {BLOOM_BYTES} "
            f"OR ({any_key})")


def lineage_view(stripes: DataFrame) -> DataFrame:
    """Per-stripe lineage/metrics (everything except the blob) — the analog
    of the reference's file footer + row index, kept as a queryable table."""
    return stripes.select(
        "stripe_id", "run_id", "part_id", "seq", "n_rows", "raw_bytes",
        "enc_bytes", "key_min", "key_max", "encode_ms",
        (F.col("raw_bytes") / F.col("enc_bytes")).alias("compression_ratio"),
    )


def compact_stripes(stripes: DataFrame, spec: list[dict],
                    cfg: EncodeConfig,
                    min_bytes: int | None = None) -> DataFrame:
    """Merge undersized stripes into full ones — the maintenance pass a
    streaming ingest needs (each micro-batch flushes whatever it holds, so
    a 10-second trigger writes stripes far below stripe_bytes; per-stripe
    overheads — footer, dictionaries, bloom, row groups — then dominate and
    point reads touch many blobs).

    Stripes at or above `min_bytes` (default stripe_bytes/2 of RAW size)
    pass through untouched — no decode cost for data that is already
    well-shaped; the rest are decoded and re-encoded under `cfg`, which
    re-clusters them by key and rebuilds lineage/bloom under cfg.run_id.
    The result is a valid stripe table: decode_df(compact(s)) is row-equal
    to decode_df(s) (pytest + the compact_roundtrip gate query pin this).

    At 10^12-turn scale this is an incremental job: filter small stripes by
    lineage (a parquet metadata scan — blobs of passing stripes are never
    read), compact, atomically swap the affected partitions."""
    if min_bytes is None:
        min_bytes = cfg.stripe_bytes // 2
    small = stripes.filter(F.col("raw_bytes") < min_bytes)
    big = stripes.filter(F.col("raw_bytes") >= min_bytes)
    recoded = encode_df(decode_df(small, spec), cfg)
    return big.select(*recoded.columns).union(recoded)


_TABLE_IDENT = re.compile(r"^[A-Za-z_]\w*(\.[A-Za-z_]\w*){1,2}$")


def _is_table_target(target: str) -> bool:
    """Catalog table identifier vs filesystem path. Tables must be
    explicit: a dotted identifier (`db.tbl`, `catalog.db.tbl`) or a
    `table:` prefix. A bare relative name ('stripes_out') is a path —
    earlier versions classified it as a table and silently created a
    managed table when the caller meant a relative directory."""
    return target.startswith("table:") or bool(_TABLE_IDENT.match(target))


def _table_name(target: str) -> str:
    return target[6:] if target.startswith("table:") else target


def write_encoded(stripes: DataFrame, target: str,
                  mode: str = "append") -> None:
    """Write the stripe table to a parquet directory or a catalog TABLE.

    Catalog targets use the DataSourceV2 `writeTo` API — the exact call an
    Iceberg sink takes (`spark.sql.catalog.<name>` configured and
    iceberg-spark-runtime on the classpath make the identifier an Iceberg
    table with snapshot-isolated commits, which is what the resume path
    wants at 10^12-turn scale: a killed run's partial append never becomes
    visible). This container has no Iceberg jar, so tests exercise the same
    code path through the V2 session catalog backed by parquet."""
    from pyspark.errors import AnalysisException

    if not _is_table_target(target):
        stripes.write.mode(mode).parquet(target)
        return
    target = _table_name(target)
    spark = stripes.sparkSession
    exists = spark.catalog.tableExists(target)
    if mode == "error" and exists:
        raise ValueError(f"table {target} already exists (mode='error')")
    try:
        if mode == "overwrite" and exists:
            stripes.writeTo(target).using("parquet").createOrReplace()
        elif exists:
            stripes.writeTo(target).append()
        else:
            stripes.writeTo(target).using("parquet").create()
    except AnalysisException:
        # the V2 session catalog registers parquet tables as v1, which
        # rejects writeTo append/replace; Iceberg (a true v2 catalog)
        # takes the branch above
        stripes.write.mode("append" if mode == "append" else "overwrite") \
            .saveAsTable(target)


def read_encoded(spark: SparkSession, target: str) -> DataFrame:
    """Load a stripe table written by `write_encoded` (path or catalog
    table)."""
    return (spark.read.table(_table_name(target)) if _is_table_target(target)
            else spark.read.parquet(target))


def resume_encode(spark: SparkSession, df: DataFrame, target: str,
                  cfg: EncodeConfig) -> DataFrame:
    """Encode only partitions not yet present at `target` (exact resume
    after a failed/killed run), append them, and return the full stripe
    table. `target` may be a parquet directory or a catalog table."""
    n = partition_count(df, cfg)
    try:
        existing = read_encoded(spark, target)
        done = [r[0] for r in existing.select("part_id").distinct().collect()]
    except Exception:
        existing, done = None, []
    pending = [p for p in range(n) if p not in done]
    if pending:
        stripes = encode_df(df, cfg, pending_parts=pending)
        write_encoded(stripes, target, mode="append")
    return read_encoded(spark, target)
