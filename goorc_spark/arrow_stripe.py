"""Arrow-native stripe assembly: pyarrow RecordBatch/Table <-> stripe blob.

Extraction is zero-copy from Arrow buffers:

- string contents/lengths come straight from the Arrow utf8 layout (the
  reference's DIRECT_V2 layout IS Arrow's: contents + lengths,
  /root/reference/orc/encoding/string.go:18-43);
- dictionary encoding uses pyarrow.compute.dictionary_encode (C++ hash) +
  sort_indices, then a vectorized index remap — same sorted-dict semantics
  as the reference writer (/root/reference/orc/column/string.go:661-689)
  without its per-row map;
- ints/timestamps/floats view the validity-compacted values as numpy.

No per-row Python anywhere on the hot path (BASELINE.json input_hint);
decimal is the one object-typed fallback.
"""

from __future__ import annotations

import decimal as _decimal
import math
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from goorc_spark import _fanout, selector
from goorc_spark.codecs import (
    boolrle,
    byterle,
    chunk,
    floats,
    fsst,
    rlev2,
    timestamps,
)
from goorc_spark.codecs.primitives import decode_svarints, encode_svarints

FORMAT_VERSION = 1

_PA_BY_KIND = {
    "byte": pa.int8(), "short": pa.int16(), "int": pa.int32(),
    "long": pa.int64(), "bool": pa.bool_(), "float": pa.float32(),
    "double": pa.float64(), "string": pa.large_string(),
    "binary": pa.large_binary(), "date": pa.date32(),
}

INT_CAST = {"short", "int", "long", "date"}


def spec_arrow_type(col: dict, tz: str | None = None):
    """Arrow type a DECLARED spec column must decode to (None for nested
    kinds — those keep their decoded layout). Used by engine.decode_df to
    coerce stripes whose embedded meta was written under a different source
    type (schema drift) to the spec the mapInArrow schema promises Spark."""
    kind = col["kind"]
    if kind == "timestamp":
        return pa.timestamp("us", tz=tz)
    if kind == "timestamp_ntz":
        return pa.timestamp("us")
    if kind == "decimal":
        return pa.decimal128(int(col.get("precision", 18)),
                             int(col.get("scale", 0)))
    return _PA_BY_KIND.get(kind)

# kinds whose per-row-group [min, max] is recorded for predicate seek
_RANGE_KINDS = {"byte", "short", "int", "long", "float", "double", "date",
                "timestamp", "timestamp_ntz", "string"}

_STAT_STR_MAX = 64


def _bound_str(s: str, is_max: bool) -> str:
    """Truncate a string statistic the ORC way: the stored bound must stay
    a valid bound, so a min truncates to its prefix (prefix <= original)
    and a max bumps the last kept char (greater than every string sharing
    the prefix). Falls back to the full string at the codepoint ceiling."""
    if len(s) <= _STAT_STR_MAX:
        return s
    t = s[:_STAT_STR_MAX]
    if not is_max:
        return t
    for i in range(len(t) - 1, -1, -1):
        c = ord(t[i])
        if c < 0x10FFFF:
            nc = c + 1
            if 0xD800 <= nc <= 0xDFFF:  # skip the surrogate gap
                nc = 0xE000
            return t[:i] + chr(nc)
    return s


def _as_array(x) -> pa.Array:
    """x as one Array: a ChunkedArray's only chunk as it is (combine_chunks
    copies even a single chunk), more chunks combined."""
    if not isinstance(x, pa.ChunkedArray):
        return x
    return x.chunk(0) if x.num_chunks == 1 else x.combine_chunks()


def _valid_mask(arr: pa.Array) -> np.ndarray | None:
    if arr.null_count == 0:
        return None
    return np.asarray(pc.is_valid(arr))


def _list_parts(vals: pa.Array) -> tuple[np.ndarray, list[pa.Array]]:
    """(lengths, [child arrays]) for a no-null ListArray/MapArray. Offsets
    are logical (windowed) while .values/.keys/.items are physical, and
    the rows' children are the contiguous range [offsets[0], offsets[-1]),
    so each child is a zero-copy slice of that window."""
    physical = [vals.keys, vals.items] if pa.types.is_map(vals.type) \
        else [vals.values]
    if len(vals) == 0:
        return np.empty(0, np.uint64), [p.slice(0, 0) for p in physical]
    off = np.asarray(vals.offsets).astype(np.int64)
    lo, hi = int(off[0]), int(off[-1])
    return np.diff(off).astype(np.uint64), \
        [p.slice(lo, hi - lo) for p in physical]


def _offsets(arr: pa.Array) -> np.ndarray:
    """The len(arr) + 1 offsets of a non-empty string/binary array (either
    offset width) — zero-copy from its Arrow buffer."""
    odt = np.int32 if pa.types.is_string(arr.type) or \
        pa.types.is_binary(arr.type) else np.int64
    return np.frombuffer(arr.buffers()[1], dtype=odt, count=len(arr) + 1,
                         offset=np.dtype(odt).itemsize * arr.offset)


def _varwidth_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(contents uint8, lengths) from a string/binary array (either offset
    width) with no nulls — zero-copy from the Arrow buffers."""
    if len(arr) == 0:
        return np.empty(0, np.uint8), np.empty(0, np.uint64)
    offsets = _offsets(arr)
    buf = arr.buffers()[2]
    data = np.frombuffer(buf, dtype=np.uint8) if buf is not None \
        else np.empty(0, np.uint8)
    lengths = np.diff(offsets.astype(np.int64))
    return data[offsets[0]:offsets[-1]], lengths.astype(np.uint64)


# ----------------------------------------------------------------- encode --


def _key_hashes(arr) -> np.ndarray:
    """murmur3 hash64 of an Arrow key column's DISTINCT non-null values —
    the hash the stripe key bloom (engine._build_bloom) is built from.
    Canonical hash bytes: raw UTF-8/bytes for string/binary keys
    (vectorized off the Arrow buffers), primitives.canonical_key_bytes for
    anything else (equal-comparing values hash identically —
    Decimal('1.50')==Decimal('1.5'), tz-aware instants, 1.0==1; ADVICE
    r4). _key_hash is the one-key form the probes use."""
    from goorc_spark.codecs import murmur3
    from goorc_spark.codecs.primitives import canonical_key_bytes

    dist = pc.unique(arr).drop_null()
    t = dist.type
    if (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)):
        return murmur3.hash64_arrow(dist)
    return murmur3.hash64_many(
        [canonical_key_bytes(v) for v in dist.to_pylist()])


def _key_hash(key_value) -> int:
    """Writer-domain 64-bit hash of one probe key (mirrors _key_hashes)."""
    from goorc_spark.codecs import murmur3
    from goorc_spark.codecs.primitives import canonical_key_bytes

    return murmur3.hash64(canonical_key_bytes(key_value))


# streams of this many raw bytes or more compress on the _fanout pool while
# the column walk goes on; smaller ones compress inline, where a pool
# round trip would cost more than it saves
_JOB_MIN_BYTES = 64 * 1024


class _Fsst:
    """A DATA payload still to be FSST-compressed with a compiled table."""

    __slots__ = ("contents", "table")

    def __init__(self, contents: bytes, table):
        self.contents = contents
        self.table = table


def _fsst_stream(payload: _Fsst, compression: str, chunk_size: int):
    """(kept FSST?, raw length, compressed stream) of one FSST payload;
    when FSST does not shrink it, the stored original."""
    data = fsst.compress(payload.contents, payload.table)
    kept = len(data) < len(payload.contents)
    if not kept:
        data = payload.contents
    return kept, len(data), chunk.compress(data, compression, chunk_size)


class _StreamSink:
    """A stripe's streams in blob order. The column walk stays on the
    calling thread; each stream's heavy kernel — FSST compress, or
    chunk.compress of _JOB_MIN_BYTES or more — goes to `jobs` as soon as
    its payload exists. stitch() joins the compressed streams in order
    and fills in what only the results tell: each directory entry's
    offset/length (and raw_length after FSST), and codec "raw" where FSST
    fell back to the stored original."""

    def __init__(self, jobs, compression: str, chunk_size: int):
        self._jobs = jobs
        self._comp = (compression, chunk_size)
        self._streams: list = []  # (directory entry, FSST col meta, result)
        self.offsets: list[int] = []  # filled by stitch(), one past the end

    def __len__(self) -> int:
        return len(self._streams)

    def add(self, skind: str, raw, col_meta: dict) -> dict:
        entry = {"kind": skind, "offset": None, "length": None,
                 "raw_length": None}
        if isinstance(raw, _Fsst):
            self._streams.append((entry, col_meta, self._jobs.submit(
                _fsst_stream, raw, *self._comp)))
            return entry
        raw = bytes(raw)
        entry["raw_length"] = len(raw)
        if len(raw) >= _JOB_MIN_BYTES and self._comp[0] != chunk.NONE:
            out = self._jobs.submit(chunk.compress, raw, *self._comp)
        else:
            out = chunk.compress(raw, *self._comp)
        self._streams.append((entry, None, out))
        return entry

    def stitch(self) -> bytes:
        parts, pos = [], 0
        for entry, fsst_meta, out in self._streams:
            if not isinstance(out, bytes):
                out = out.result()
            if fsst_meta is not None:
                kept, entry["raw_length"], out = out
                if not kept:
                    fsst_meta["codec"] = "raw"
            entry["offset"], entry["length"] = pos, len(out)
            self.offsets.append(pos)
            parts.append(out)
            pos += len(out)
        self.offsets.append(pos)
        return b"".join(parts)


def encode_stripe_table(
    table: pa.Table,
    spec: list[dict],
    compression: str = chunk.DEFAULT,
    chunk_size: int = chunk.DEFAULT_CHUNK_SIZE,
    policy: str = "balanced",
    cache: dict | None = None,
    rg_rows: int | None = None,
    key_col: str | None = None,
    ord_col: str | None = None,
) -> tuple[bytes, dict]:
    """`cache` (optional, per-task) reuses codec decisions and trained FSST
    symbol tables across consecutive stripes of one partition — the data is
    a uniform hash-sample of the same keys, so the table stays good, and
    the stored-original fallback bounds any drift.

    `rg_rows` splits the stripe into row groups of that many rows, each
    independently decodable (its own stream segments in the shared blob) and
    carrying key/order min-max — the analog of the reference's row-index
    stride + positions (/root/reference/orc/stream/writer.go:29-41,
    pb/orc_proto.proto RowIndexEntry). Design difference, deliberate: the
    reference records (chunk offset, decompressed offset, run offset)
    triples into continuous streams; we restart codecs at group boundaries
    so one offset suffices — a small compression cost (measured in
    BASELINE.md) for a far simpler seek path. Codec choices + FSST tables
    are shared across groups via `cache`, so the selector runs once.

    The heavy stream kernels run on the `_fanout` pool beside the column
    walk (_StreamSink); bytes and meta do not depend on the pool width."""
    n = table.num_rows
    grouped = bool(rg_rows) and n > rg_rows
    if grouped:
        cache = {} if cache is None else cache  # force sharing across groups
    spans = []  # (group meta, first stream, end stream)
    with _fanout.Jobs() as jobs:
        sink = _StreamSink(jobs, compression, chunk_size)
        if not grouped:
            body = {"columns": [
                _write_column(_as_array(table.column(col["name"])), col,
                              sink, policy, cache) for col in spec]}
            groups = [body]
        else:
            groups = []
            for start in range(0, n, rg_rows):
                sub = table.slice(start, min(rg_rows, n - start))
                first = len(sink)
                cols_meta = [
                    _write_column(_as_array(sub.column(col["name"])), col,
                                  sink, policy, cache)
                    for col in spec
                ]
                if start > 0:
                    # sub-encoding histograms live in group 0 only — decode
                    # never reads them and N groups x M columns of them
                    # would dominate the meta
                    _strip_diagnostics(cols_meta)
                g: dict = {"n_rows": sub.num_rows, "offset": None,
                           "length": None, "columns": cols_meta}
                spans.append((g, first, len(sink)))
                groups.append(g)
            body = {"row_groups": groups}
        # the one statistics pass, while the pool compresses
        cuts = np.append(np.arange(0, n, rg_rows) if grouped else [0], n)
        stats = _row_group_stats(table, spec, groups, cuts)
        if grouped:
            for g, st in zip(groups, stats):
                _group_index(g, st, spec, table.schema, key_col, ord_col)
        meta = {
            "version": FORMAT_VERSION,
            "n_rows": n,
            "compression": compression,
            "chunk_size": chunk_size,
            **body,
            "col_stats": stripe_col_stats(table, spec, stats),
        }
        blob = sink.stitch()
    for g, first, end in spans:
        g["offset"] = sink.offsets[first]
        g["length"] = sink.offsets[end] - g["offset"]
    meta["crc32"] = zlib.crc32(blob)
    return blob, meta


def _row_group_stats(table: pa.Table, spec: list[dict], groups: list[dict],
                     cuts: np.ndarray) -> list[dict]:
    """Each row group's segment_stats by column name (an ungrouped stripe
    is one group, rows cuts[g]:cuts[g + 1]), the kernel run once per column
    over the whole stripe. The cuts through a column's non-null values come
    from the groups' null counts, and only one column's compacted values
    are alive at a time."""
    per_col = []
    for j, col in enumerate(spec):
        arr = table.column(col["name"])
        nulls = np.cumsum([0] + [g["columns"][j]["null_count"]
                                 for g in groups])
        per_col.append(segment_stats(
            _as_array(arr.drop_null() if arr.null_count else arr),
            cuts, cuts - nulls))
    return [{col["name"]: segs[i] for col, segs in zip(spec, per_col)}
            for i in range(len(groups))]


_INT_STAT_KINDS = {"byte", "short", "int", "long"}
_NESTED_KINDS = {"struct", "list", "map"}
_I64_MIN, _I64_MAX = -(1 << 63), (1 << 63) - 1

# mean payload bytes per value up to which a string column is "short"
# (ids, roles, tags) and gets min/max statistics; range predicates don't
# target free text, whose bounds would only add meta
_SHORT_STR_BYTES = 32


def segment_stats(vals: pa.Array, cuts: np.ndarray,
                  vcuts: np.ndarray) -> list[dict]:
    """The statistics kernel of both writers: one column's statistics over
    each segment of its rows cuts[g]:cuts[g + 1] (the stripe writer's row
    groups, the ORC writer's index strides), from the column's non-null
    values `vals` and the cuts through them `vcuts`, which each writer
    has already derived from the column's nulls. Every segment gets n (its
    non-null values) and nulls. A segment of a scalar column that holds
    values also gets, over them:
    - min/max as Python values, dates and timestamps as their integer
      storage; floats over the non-NaN values (None when all are NaN);
    - sum: the exact integer sum as a Python int, which may leave int64
      (bools: the true count), or the float sum;
    - nan (floats): whether a value is NaN;
    - bytes (string/binary): the payload bytes.
    Ints, bools, dates and timestamps reduce the values with numpy;
    floats, strings, binaries and decimals reduce each segment of them in
    pyarrow, whose float min_max picks among tied ±0.0 and whose float sum
    rounds the way the ORC pins were recorded."""
    t = vals.type
    counts = np.diff(vcuts).tolist()
    out = [{"n": c, "nulls": r - c}
           for c, r in zip(counts, np.diff(cuts).tolist())]
    live = [i for i, c in enumerate(counts) if c]
    if not live or pa.types.is_nested(t):
        return out
    # live segments are non-empty, so each start's run of the values ends
    # at the next live start (or the end)
    starts = vcuts[live]

    def put(key: str, values) -> None:
        for i, v in zip(live, values):
            out[i][key] = v

    if pa.types.is_date32(t) or pa.types.is_timestamp(t):
        v = np.asarray(vals.view(pa.int32() if pa.types.is_date32(t)
                                 else pa.int64()))
        put("min", np.minimum.reduceat(v, starts).tolist())
        put("max", np.maximum.reduceat(v, starts).tolist())
    elif pa.types.is_signed_integer(t) or pa.types.is_boolean(t):
        v = np.asarray(vals).astype(np.int64, copy=False)
        mins = np.minimum.reduceat(v, starts).tolist()
        maxs = np.maximum.reduceat(v, starts).tolist()
        if len(v) * max(-min(mins), max(maxs)) <= _I64_MAX:
            sums = np.add.reduceat(v, starts).tolist()  # provably no wrap
        else:
            # limb sums: v = (v >> 32)·2^32 + (v & 0xffffffff); each limb's
            # sum is exact for any realistic row count (< 2^31 rows)
            lo = np.add.reduceat((v & 0xFFFFFFFF).astype(np.uint64), starts)
            hi = np.add.reduceat(v >> 32, starts)
            sums = [h * (1 << 32) + x
                    for h, x in zip(hi.tolist(), lo.tolist())]
        if pa.types.is_boolean(t):
            mins, maxs = map(bool, mins), map(bool, maxs)
        put("min", mins)
        put("max", maxs)
        put("sum", sums)
    elif pa.types.is_floating(t):
        f = vals.cast(pa.float64())
        nans = np.diff(np.searchsorted(
            np.flatnonzero(np.isnan(np.asarray(f))), vcuts)).tolist()
        for i in live:
            seg = f.slice(int(vcuts[i]), counts[i])
            mm = pc.min_max(seg)
            every = nans[i] == counts[i]
            out[i].update(min=None if every else float(mm["min"].as_py()),
                          max=None if every else float(mm["max"].as_py()),
                          sum=float(pc.sum(seg).as_py()), nan=nans[i] > 0)
    else:
        for i in live:
            mm = pc.min_max(vals.slice(int(vcuts[i]), counts[i]))
            out[i].update(min=mm["min"].as_py(), max=mm["max"].as_py())
        if pa.types.is_string(t) or pa.types.is_large_string(t) or \
                pa.types.is_binary(t) or pa.types.is_large_binary(t):
            put("bytes", np.diff(_offsets(vals)[vcuts])[live].tolist())
    return out


def _short(st: dict) -> bool:
    """Whether a string/binary column's values average _SHORT_STR_BYTES
    or less."""
    return st.get("bytes", 0) <= _SHORT_STR_BYTES * st["n"]


def _bounds(st: dict, t: pa.DataType) -> tuple:
    """A group's [min, max] as Python values of Arrow type t; (None, None)
    when it has no non-null values, or holds a NaN, which sorts above
    every value in Spark."""
    if "min" not in st or st.get("nan"):
        return None, None
    lo, hi = st["min"], st["max"]
    if pa.types.is_date32(t) or pa.types.is_timestamp(t):
        return pa.scalar(lo, t).as_py(), pa.scalar(hi, t).as_py()
    return lo, hi


def _group_index(g: dict, stats: dict, spec: list[dict], schema: pa.Schema,
                 key_col: str | None, ord_col: str | None) -> None:
    """A row group's key/order bounds and value ranges, from its
    segment_stats.

    The ranges are the reference's RowIndexEntry statistics
    (pb/orc_proto.proto:92-99), recorded for every orderable column so
    read_where prunes groups on any of them; the key and order columns'
    ranges are their bounds. Other strings get ranges only when short,
    and string bounds are truncated the ORC way (prefix for min; prefix
    with last char bumped for max) so a bound costs <=64 chars of meta per
    group. A float group holding a NaN records no range."""
    for label, cname in (("key", key_col), ("ord", ord_col)):
        if cname in stats:
            g[f"{label}_min"], g[f"{label}_max"] = _bounds(
                stats[cname], schema.field(cname).type)
    rng = {}
    for col in spec:
        name, kind = col["name"], col["kind"]
        st = stats[name]
        if kind not in _RANGE_KINDS or (
                kind == "string" and name not in (key_col, ord_col)
                and not _short(st)):
            continue
        lo, hi = _bounds(st, schema.field(name).type)
        if lo is not None:
            if kind == "string":
                lo = _bound_str(lo, is_max=False)
                hi = _bound_str(hi, is_max=True)
            rng[name] = [lo, hi]
    if rng:
        g["ranges"] = rng


def _unscaled(d: _decimal.Decimal, scale: int) -> int:
    """A decimal as its unscaled integer at the column scale: exact and
    order-preserving under the rollup's numeric min/max (str() of Decimal
    is NOT — the same trap _coerce_bound guards)."""
    # wide context: default scaleb ROUNDS at 28 significant digits,
    # silently corrupting 38-digit bounds
    return int(d.scaleb(scale, _decimal.Context(prec=60)))


def stripe_col_stats(table: pa.Table, spec: list[dict],
                     groups: list[dict]) -> dict:
    """Whole-stripe per-column statistics — the engine's analog of the
    reference's file-footer ColumnStatistics rollup
    (/root/reference/orc/writer.go:140-177), merged from the row groups'
    segment_stats: n/nulls always; typed min/max for orderable scalars
    (timestamps as epoch-micros, dates as days, decimals as unscaled
    integers, _unscaled); sum for integer kinds (None when the exact
    total leaves int64, which the run_stats rollup reads as overflow;
    bool: true-count); byte totals for string/binary. Decimals above
    precision 18 exceed int64 unscaled, so their bounds go to the wide
    min_dec/max_dec slots (Python big ints in the JSON; the rollup carries
    them as decimal(38,0)). String min/max is recorded only when the
    stripe's strings are short, so `engine.run_stats` surfaces a string
    bound only when EVERY stripe recorded one. Float min/max/sum are one
    pyarrow pass over the stripe column: the order values are visited in
    decides a sum's last bits and which of ±0.0 a tie returns. A float
    column holding a NaN records max NaN, and min NaN when every value
    is NaN: Spark sorts NaN above every value, where min_max skips it.
    Nested kinds carry n/nulls only."""
    out: dict = {}
    for col in spec:
        name, kind = col["name"], col["kind"]
        parts = [g[name] for g in groups]
        st: dict = {"n": sum(p["n"] for p in parts),
                    "nulls": sum(p["nulls"] for p in parts)}
        out[name] = st
        if st["n"] == 0 or kind in _NESTED_KINDS:
            continue
        live = [p for p in parts if p["n"]]
        if kind in ("float", "double"):
            arr = table.column(name)
            mm = pc.min_max(arr)
            st["min"] = float(mm["min"].as_py())
            st["max"] = float(mm["max"].as_py())
            st["sum"] = float(pc.sum(arr).as_py())
            if any(p["nan"] for p in live):
                st["max"] = math.nan
                if all(p["min"] is None for p in live):
                    st["min"] = math.nan
            continue
        if kind in ("string", "binary"):
            st["bytes"] = sum(p["bytes"] for p in live)
            if not _short(st):
                continue
        if kind != "bool":
            lo = min(p["min"] for p in live)
            hi = max(p["max"] for p in live)
            if kind == "binary":
                lo, hi = lo.hex(), hi.hex()
            elif kind == "decimal":
                scale = int(col.get("scale", 0))
                lo, hi = _unscaled(lo, scale), _unscaled(hi, scale)
            if kind == "decimal" and int(col.get("precision", 38)) > 18:
                st["min_dec"], st["max_dec"] = lo, hi
            else:
                st["min"], st["max"] = lo, hi
        if kind in _INT_STAT_KINDS or kind == "bool":
            total = sum(p["sum"] for p in live)
            st["sum"] = total if _I64_MIN <= total <= _I64_MAX else None
    return out


def _strip_diagnostics(cols_meta: list[dict]) -> None:
    for c in cols_meta:
        c.pop("sub_encodings", None)
        if "children" in c:
            _strip_diagnostics(c["children"])


def _coerce_bound(stored, probe):
    """JSON round-trips datetimes/decimals as strings (json default=str).
    ISO timestamps/dates are fixed-width, so string comparison preserves
    order; Decimal str() is NOT order-preserving when integer-digit counts
    or signs differ ('9.50' > '10.20' lexicographically), so decimal probes
    parse the stored bound back into the numeric domain."""
    if isinstance(stored, str) and not isinstance(probe, str):
        if isinstance(probe, _decimal.Decimal):
            try:
                return _decimal.Decimal(stored), probe
            except _decimal.InvalidOperation:
                pass
        return stored, str(probe)
    return stored, probe


def select_row_groups(meta: dict, key_value=None,
                      ord_lo=None, ord_hi=None,
                      col_ranges: dict | None = None,
                      key_values=None) -> list[int] | None:
    """Indices of row groups whose [key_min,key_max] x [ord_min,ord_max]
    (and any `col_ranges` {column: (lo, hi)}) ranges can contain the
    predicate. `key_values` (IN-list) keeps a group when ANY key fits its
    range. Conservative: a group with no recorded range for a probed
    column is kept, so the result is a superset of the matching groups;
    the `key_bloom` entries of older group metas are ignored, which keeps
    it one. Returns None for an ungrouped stripe, which has nothing to
    skip: encode_stripe_table writes one whenever the stripe holds at most
    `rg_rows` rows or `rg_rows` is 0/None."""
    groups = meta.get("row_groups")
    if groups is None:
        return None
    if key_value is not None:
        key_values = [key_value]
    sel = []
    for i, g in enumerate(groups):
        ok = True
        if key_values is not None:
            gmin, gmax = g.get("key_min"), g.get("key_max")

            def _fits(kv):
                if gmin is not None:
                    lo, p = _coerce_bound(gmin, kv)
                    if lo > p:
                        return False
                if gmax is not None:
                    hi, p = _coerce_bound(gmax, kv)
                    if hi < p:
                        return False
                return True
            ok = any(_fits(kv) for kv in key_values)
        if ord_hi is not None and g.get("ord_min") is not None:
            lo, p = _coerce_bound(g["ord_min"], ord_hi)
            ok = ok and lo <= p
        if ord_lo is not None and g.get("ord_max") is not None:
            hi, p = _coerce_bound(g["ord_max"], ord_lo)
            ok = ok and hi >= p
        if col_ranges:
            for cname, (vlo, vhi) in col_ranges.items():
                r = g.get("ranges", {}).get(cname)
                if r is None:
                    continue  # no stats recorded -> keep (conservative)
                if vhi is not None:
                    lo, p = _coerce_bound(r[0], vhi)
                    ok = ok and lo <= p
                if vlo is not None:
                    hi, p = _coerce_bound(r[1], vlo)
                    ok = ok and hi >= p
        if ok:
            sel.append(i)
    return sel


def _write_column(arr: pa.Array, col: dict, sink: _StreamSink,
                  policy: str, cache: dict | None = None) -> dict:
    """Recursive column writer: scalar kinds produce value streams; nested
    kinds (struct/list/map — the reference's C11-C13 stream compositions:
    PRESENT-only for struct, PRESENT+LENGTH for list/map,
    /root/reference/orc/column/{struct,list,map}.go) recurse into children,
    all streams added to the same stripe sink, children's before the
    column's own."""
    kind = col["kind"]
    valid = _valid_mask(arr)
    has_nulls = valid is not None
    vals = arr.drop_null() if has_nulls else arr

    children_meta = None
    if kind == "struct":
        streams: list = []
        children_meta = [
            _write_column(_as_array(vals.field(i)), child, sink, policy,
                          cache)
            for i, child in enumerate(col["children"])
        ]
        col_meta: dict = {"codec": "struct"}
    elif kind in ("list", "map"):
        lengths, kids = _list_parts(vals)
        streams = [("LENGTH", rlev2.encode(lengths, signed=False))]
        childspecs = [col["child"]] if kind == "list" \
            else [col["key"], col["value"]]
        children_meta = [
            _write_column(_as_array(kid), cs, sink, policy, cache)
            for kid, cs in zip(kids, childspecs)
        ]
        col_meta = {"codec": kind}
    else:
        streams, col_meta = _encode_column_arrow(vals, col, policy, cache)

    if has_nulls:
        streams.insert(0, ("PRESENT", boolrle.encode(valid)))
    directory = [sink.add(skind, raw, col_meta) for skind, raw in streams]
    col_meta.update(
        {"name": col["name"], "kind": kind, "has_nulls": has_nulls,
         "null_count": int(arr.null_count), "n_values": len(arr),
         "streams": directory}
    )
    if children_meta is not None:
        col_meta["children"] = children_meta
    return col_meta


def _np_int64(vals: pa.Array) -> np.ndarray:
    if len(vals) == 0:
        return np.empty(0, dtype=np.int64)
    return np.asarray(vals.cast(pa.int64(), safe=False))


def _decimal_limbs(vals: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(lo uint64, hi int64) limbs of a no-null decimal128 array, straight
    from the 16-byte little-endian values buffer — no per-row Python."""
    n = len(vals)
    if n == 0:
        return np.empty(0, np.uint64), np.empty(0, np.int64)
    if not pa.types.is_decimal(vals.type):
        raise TypeError(f"expected decimal128 array, got {vals.type}")
    raw = np.frombuffer(vals.buffers()[1], dtype=np.uint64,
                        count=2 * n, offset=16 * vals.offset).reshape(-1, 2)
    return raw[:, 0].copy(), raw[:, 1].copy().view(np.int64)


def _decimal_from_limbs(lo: np.ndarray, hi: np.ndarray,
                        present: np.ndarray | None, n_rows: int,
                        precision: int, scale: int) -> pa.Array:
    """Rebuild a decimal128 array from limbs + null mask via raw buffers."""
    if present is None:
        full_lo, full_hi, validity, nulls = lo, hi, None, 0
    else:
        full_lo = np.zeros(n_rows, dtype=np.uint64)
        full_hi = np.zeros(n_rows, dtype=np.int64)
        full_lo[present] = lo
        full_hi[present] = hi
        validity = pa.py_buffer(
            np.packbits(present, bitorder="little").tobytes())
        nulls = int((~present).sum())
    packed = np.empty((n_rows, 2), dtype=np.uint64)
    packed[:, 0] = full_lo
    packed[:, 1] = full_hi.view(np.uint64)
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale), n_rows,
        [validity, pa.py_buffer(packed.tobytes())], null_count=nulls)


def _encode_column_arrow(vals: pa.Array, col: dict, policy: str,
                         cache: dict | None = None):
    kind = col["kind"]
    info: dict = {}
    if kind in INT_CAST:
        if kind == "date":  # date32 is physically int32 days — reinterpret
            v = np.asarray(vals.view(pa.int32())).astype(np.int64) \
                if len(vals) else np.empty(0, np.int64)
        else:
            v = _np_int64(vals)
        data = rlev2.encode(v, signed=True, info=info)
        return [("DATA", data)], {"codec": "rlev2", "sub_encodings": info}
    if kind == "byte":
        v = _np_int64(vals)
        return [("DATA", byterle.encode(v.astype(np.uint8)))], \
            {"codec": "byte_rle"}
    if kind == "bool":
        v = np.asarray(vals, dtype=bool) if len(vals) else np.empty(0, bool)
        return [("DATA", boolrle.encode(v))], {"codec": "bool_rle"}
    if kind == "float":
        v = np.asarray(vals, dtype=np.float32)
        return [("DATA", floats.encode_f32(v))], {"codec": "raw_f32"}
    if kind == "double":
        v = np.asarray(vals, dtype=np.float64)
        return [("DATA", floats.encode_f64(v))], {"codec": "raw_f64"}
    if kind in ("timestamp", "timestamp_ntz"):
        us = _np_int64(vals)
        sec, nanos = timestamps.micros_to_sec_nanos(us)
        info2: dict = {}
        d = rlev2.encode(sec, signed=True, info=info)
        s = rlev2.encode(timestamps.pack_nanos(nanos), signed=False, info=info2)
        return [("DATA", d), ("SECONDARY", s)], {
            "codec": "rlev2",
            "sub_encodings": {"seconds": info, "nanos": info2},
        }
    if kind == "decimal":
        scale = int(col.get("scale", 0))
        precision = int(col.get("precision", 18))
        lo, hi = _decimal_limbs(vals)
        sec = rlev2.encode(np.full(len(lo), scale, dtype=np.int64), signed=True)
        if precision <= 18:
            # mantissa fits the low limb (reference decimal64 parity:
            # signed varint DATA + RLEv2 scale SECONDARY,
            # /root/reference/orc/column/decimal.go:32-58)
            mant64 = lo.view(np.int64)
            return [("DATA", encode_svarints(mant64)), ("SECONDARY", sec)], {
                "codec": "varint_decimal",
                "precision": precision,
                "scale": scale,
            }
        # decimal128 (beyond the reference's 64-bit ceiling): two RLEv2
        # limb streams — hi signed, lo unsigned
        return [("DATA", rlev2.encode(hi, signed=True)),
                ("LO", rlev2.encode(lo, signed=False)),
                ("SECONDARY", sec)], {
            "codec": "rlev2_decimal128",
            "precision": precision,
            "scale": scale,
        }
    if kind == "binary":
        contents, lengths = _varwidth_parts(vals)
        return [
            ("LENGTH", rlev2.encode(lengths, signed=False, info=info)),
            ("DATA", contents.tobytes()),
        ], {"codec": "raw"}
    if kind == "string":
        return _encode_string_arrow(vals, policy, cache, col["name"])
    raise NotImplementedError(f"column kind {kind!r}")


def _string_stats_arrow(vals: pa.Array, lengths: np.ndarray,
                        dict_arr: pa.DictionaryArray) -> dict:
    """What _select_codec_arrow reads of a non-empty string column."""
    n = len(vals)
    distinct = len(dict_arr.dictionary)
    return {"count": n, "distinct": distinct, "distinct_ratio": distinct / n,
            "avg_len": float(lengths.mean())}


def _encode_string_arrow(vals: pa.Array, policy: str,
                         cache: dict | None = None, colname: str = ""):
    info: dict = {}
    if len(vals) == 0:
        empty = np.empty(0, np.uint64)
        return [("LENGTH", rlev2.encode(empty, signed=False, info=info)),
                ("DATA", b"")], {"codec": "raw", "sub_encodings": info}
    contents, lengths = _varwidth_parts(vals)
    ckey = ("codec", colname)
    cached = cache.get(ckey) if cache is not None else None
    if cached is not None and cached != "dict":
        # cache hit on a non-dict codec: the C++ dictionary build existed
        # only to feed the selector, which already decided — skipping it
        # saves ~10 ms per row group on free text
        codec = cached
    else:
        dict_arr = _as_array(pc.dictionary_encode(vals))
        st = _string_stats_arrow(vals, lengths, dict_arr)
        if cached == "dict":
            codec = cached
            # dict stays data-dependent: fall back if cardinality exploded
            if st["distinct"] > selector.DICT_MAX_ENTRIES:
                codec = _select_codec_arrow(contents, st, policy)
        else:
            codec = _select_codec_arrow(contents, st, policy)
            if cache is not None:
                cache[ckey] = codec
    if codec == "dict":
        d = _as_array(dict_arr.dictionary)
        sort_idx = np.asarray(pc.sort_indices(d)).astype(np.int64)
        inv = np.empty(len(sort_idx), dtype=np.int64)
        inv[sort_idx] = np.arange(len(sort_idx), dtype=np.int64)
        idx = inv[np.asarray(dict_arr.indices.cast(pa.int64()))].astype(np.uint64)
        sorted_dict = _as_array(d.take(pa.array(sort_idx)))
        dcontents, dlens = _varwidth_parts(sorted_dict)
        streams = [
            ("DATA", rlev2.encode(idx, signed=False, info=info)),
            ("DICT_LENGTH", rlev2.encode(dlens, signed=False)),
            ("DICT_DATA", dcontents.tobytes()),
        ]
        return streams, {"codec": "dict", "dict_size": len(sorted_dict),
                         "sub_encodings": info}
    if codec == "fsst":
        table = None
        if cache is not None:
            table = cache.get(("fsst_table", colname))
        if table is None:
            # compiled once, reused across this partition's row groups /
            # stripes: the per-call LUT+hash builds were ~25% of FSST cost
            table = fsst.compile_table(fsst.train(contents.tobytes()))
            if cache is not None:
                cache[("fsst_table", colname)] = table
        # compressed beside the walk; the stored-original fallback (codec
        # "raw") is resolved when the stripe is stitched
        data = _Fsst(contents.tobytes(), table)
    else:
        data = contents.tobytes()
    streams = [
        ("LENGTH", rlev2.encode(lengths, signed=False, info=info)),
        ("DATA", data),
    ]
    return streams, {"codec": codec, "sub_encodings": info}


def _select_codec_arrow(contents: np.ndarray, st: dict, policy: str) -> str:
    if st["count"] == 0:
        return "raw"
    if (st["distinct_ratio"] <= selector.DICT_MAX_RATIO
            and st["distinct"] <= selector.DICT_MAX_ENTRIES):
        return "dict"
    if policy != "fast" and st["avg_len"] >= selector.FSST_MIN_AVG_LEN:
        raw = contents[:selector.FSST_SAMPLE_BYTES].tobytes()
        if len(raw) >= 1024:
            blob = fsst.compress(raw)
            if len(blob) < selector._FSST_GAIN.get(policy, 0.45) * len(raw):
                return "fsst"
    return "raw"


# ----------------------------------------------------------------- decode --


# Arrow MapArray offsets are int32 and no LargeMap type exists — a stripe
# row-group whose map children total >= this cannot be materialized
MAP_OFFSET_LIMIT = 1 << 31


def _child_offsets(lengths: np.ndarray) -> tuple[np.ndarray, bool]:
    """List/map child offsets with int64 accumulation — an int32 cumsum
    would silently wrap when a stripe's child-element total exceeds 2^31
    (latent at 256 MB stripes with small element types). Returns
    (offsets int64, wide) where wide=True means the total needs 64-bit
    offsets (LargeListArray)."""
    n = len(lengths)
    offsets64 = np.empty(n + 1, dtype=np.int64)
    offsets64[0] = 0
    np.cumsum(lengths.astype(np.int64), out=offsets64[1:])
    return offsets64, bool(offsets64[-1] >= (1 << 31))


def _list_array(lengths: np.ndarray, is_map: bool, children,
                what: str) -> pa.Array:
    """ListArray (LargeListArray past 2^31 children) or MapArray over
    per-row `lengths`; `children(n)` decodes the n child elements (one
    array for a list, keys and items for a map). Arrow has no LargeMap, so
    a map reaching MAP_OFFSET_LIMIT children raises before decoding them."""
    offsets64, wide = _child_offsets(lengths)
    n_child = int(offsets64[-1])
    if is_map and n_child >= MAP_OFFSET_LIMIT:
        # documented in SCALE.md as a hard ceiling
        raise ValueError(
            f"{what} has {n_child} child entries >= 2^31 in one stripe; "
            "re-encode with a smaller stripe (Arrow MapArray offsets are "
            "int32 and no LargeMap exists) or project the column away")
    kids = children(n_child)
    if wide and not is_map:
        return pa.LargeListArray.from_arrays(pa.array(offsets64), kids[0])
    offsets = pa.array(offsets64.astype(np.int32))
    if is_map:
        return pa.MapArray.from_arrays(offsets, *kids)
    return pa.ListArray.from_arrays(offsets, kids[0])


class CorruptStripeError(ValueError):
    """Stripe blob bytes do not match the CRC32 recorded at encode time."""


def decode_stripe_batch(blob: bytes, meta: dict,
                        tz: str | None = None,
                        include: list[str] | None = None,
                        rg_sel: list[int] | None = None) -> pa.RecordBatch:
    """Decode a stripe. `include` projects columns: only the named columns'
    streams are decompressed/decoded (the reference's include-list,
    /root/reference/orc/stripe.go:246-261 — skipped columns cost nothing).
    `rg_sel` restricts a row-grouped stripe to those group indices: skipped
    groups' stream bytes are never touched (the reference's Seek/Skip,
    orc/stripe.go:369-388). Column-major: each included column is read
    once over every selected group into one Arrow array (_read_column),
    so no per-group batch is built or copied. A projection that keeps no
    column returns a zero-column batch of the selected groups' rows. A
    blob whose CRC32 differs from the one meta records raises
    CorruptStripeError."""
    if "crc32" in meta and zlib.crc32(blob) != meta["crc32"]:
        raise CorruptStripeError(
            f"stripe blob CRC mismatch (expected {meta['crc32']}, got "
            f"{zlib.crc32(blob)}) — storage corruption or truncated read")
    groups = meta.get("row_groups")
    if groups is None:
        parts = [(meta["columns"], meta["n_rows"])]
    else:
        parts = [(groups[i]["columns"], groups[i]["n_rows"])
                 for i in (range(len(groups)) if rg_sel is None else rg_sel)]
        if not parts:
            raise ValueError("rg_sel selected no row groups")
    ns = [n for _, n in parts]
    mv = memoryview(blob)
    arrays, names = [], []
    for j, col in enumerate(parts[0][0]):
        if include is not None and col["name"] not in include:
            continue
        arrays.append(_read_column(mv, [cols[j] for cols, _ in parts], ns,
                                   meta["compression"], tz))
        names.append(col["name"])
    if not arrays:
        return pa.RecordBatch.from_arrays([pa.nulls(sum(ns))],
                                          ["_"]).select([])
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _scatter_nulls(vals: pa.Array, present: np.ndarray | None,
                   n_rows: int) -> pa.Array:
    """Expand a compacted (non-null) array to full length with nulls at the
    not-present slots, via a C++ take with masked indices."""
    if present is None:
        return vals
    pos = np.full(n_rows, -1, dtype=np.int64)
    pos[present] = np.arange(len(vals), dtype=np.int64)
    return vals.take(pa.array(pos, mask=~present))


def _cat(parts: list[np.ndarray]) -> np.ndarray:
    """np.concatenate without the copy of a single part."""
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def _join(parts: list) -> bytes:
    """b"".join without the copy of a single part."""
    return parts[0] if len(parts) == 1 else b"".join(parts)


class _Part:
    """One row group's share of a column: its meta, inflated streams by
    kind, PRESENT mask (None without nulls), value and row counts."""

    __slots__ = ("col", "streams", "present", "n", "n_rows")

    def __init__(self, mv, col: dict, n_rows: int, comp: str):
        self.col = col
        self.n_rows = n_rows
        self.streams = {
            s["kind"]: chunk.decompress(
                bytes(mv[s["offset"]: s["offset"] + s["length"]]), comp)
            for s in col["streams"]}
        if col["has_nulls"]:
            self.present = boolrle.decode(self.streams["PRESENT"], n_rows)
            self.n = int(self.present.sum())
        else:
            self.present = None
            self.n = n_rows


def _read_column(mv, cols: list[dict], ns: list[int], comp: str,
                 tz: str | None) -> pa.Array:
    """One column over one or more row groups (`cols` its meta in each,
    `ns` their row counts) as one array, mirroring _write_column. Scalar
    kinds decode every group's streams to numpy, concatenate the parts
    and build the array once; nested kinds decode per group and join
    with one concat."""
    kind = cols[0]["kind"]
    if kind in ("struct", "list", "map"):
        if len(cols) > 1:
            return pa.concat_arrays([_read_column(mv, [c], [n], comp, tz)
                                     for c, n in zip(cols, ns)])
        p = _Part(mv, cols[0], ns[0], comp)
        if kind == "struct":
            children = [_read_column(mv, [child], [p.n], comp, tz)
                        for child in p.col["children"]]
            vals = pa.StructArray.from_arrays(
                children, names=[c["name"] for c in p.col["children"]])
        else:
            lengths = rlev2.decode(p.streams["LENGTH"], p.n, signed=False)
            vals = _list_array(lengths, kind == "map", lambda _: [
                _read_column(mv, [c], [c["n_values"]], comp, tz)
                for c in p.col["children"]],
                f"map column {p.col['name']!r}")
        return _scatter_nulls(vals, p.present, p.n_rows)
    return _decode_parts([_Part(mv, c, n, comp) for c, n in zip(cols, ns)],
                         tz)


def _expand(values: np.ndarray, present: np.ndarray | None, n_rows: int,
            fill=0) -> tuple[np.ndarray, np.ndarray | None]:
    """Scatter compacted values into a full-length array + null mask."""
    if present is None:
        return values, None
    full = np.full(n_rows, fill, dtype=values.dtype)
    full[present] = values
    return full, ~present


def _varwidth_array(contents: bytes, lengths: np.ndarray,
                    present: np.ndarray | None, n_rows: int,
                    typ: pa.DataType) -> pa.Array:
    """Build a large_string/large_binary array from contents+lengths without
    creating per-row Python objects."""
    if present is None:
        full_lens = np.asarray(lengths, dtype=np.int64)
        validity = None
    else:
        full_lens = np.zeros(n_rows, dtype=np.int64)
        full_lens[present] = np.asarray(lengths, dtype=np.int64)
        validity = pa.py_buffer(np.packbits(present, bitorder="little").tobytes())
    offsets = np.empty(n_rows + 1, dtype=np.int64)
    offsets[0] = 0
    np.cumsum(full_lens, out=offsets[1:])
    return pa.Array.from_buffers(
        typ, n_rows,
        [validity, pa.py_buffer(offsets.tobytes()), pa.py_buffer(contents)],
        null_count=0 if present is None else int((~present).sum()),
    )


def _decimal_parts(p: _Part) -> tuple[np.ndarray, np.ndarray]:
    """(lo, hi) limbs of one group's decimal values."""
    if p.col["codec"] == "rlev2_decimal128":
        return (rlev2.decode(p.streams["LO"], p.n, signed=False)
                .view(np.uint64),
                rlev2.decode(p.streams["DATA"], p.n, signed=True))
    mant, _ = decode_svarints(p.streams["DATA"], p.n)
    return mant.view(np.uint64), mant >> np.int64(63)  # sign extension


def _decode_parts(parts: list[_Part], tz: str | None) -> pa.Array:
    """One scalar column's row groups as one array: each group's values
    decode to numpy, the parts are concatenated, and the Arrow array is
    built once over the stripe's PRESENT mask."""
    col = parts[0].col
    kind = col["kind"]
    n_rows = sum(p.n_rows for p in parts)
    present = None
    if any(p.present is not None for p in parts):
        present = _cat([np.ones(p.n_rows, bool) if p.present is None
                        else p.present for p in parts])

    def each(fn) -> np.ndarray:
        return _cat([fn(p) for p in parts])

    def rle(skind: str, signed: bool):
        return each(lambda p: rlev2.decode(p.streams[skind], p.n,
                                           signed=signed))

    if kind in INT_CAST and kind != "date":
        full, mask = _expand(rle("DATA", True), present, n_rows)
        return pa.array(full, mask=mask).cast(_PA_BY_KIND[kind])
    if kind == "date":
        full, mask = _expand(rle("DATA", True).astype(np.int32), present,
                             n_rows)
        return pa.array(full, mask=mask).cast(pa.date32())
    if kind == "byte":
        v = each(lambda p: byterle.decode(p.streams["DATA"], p.n))
        full, mask = _expand(v.astype(np.int8), present, n_rows)
        return pa.array(full, mask=mask)
    if kind == "bool":
        v = each(lambda p: boolrle.decode(p.streams["DATA"], p.n))
        full, mask = _expand(v, present, n_rows, fill=False)
        return pa.array(full, mask=mask)
    if kind == "float":
        v = each(lambda p: floats.decode_f32(p.streams["DATA"], p.n))
        full, mask = _expand(v, present, n_rows, fill=np.float32(np.nan))
        return pa.array(full, mask=mask)
    if kind == "double":
        v = each(lambda p: floats.decode_f64(p.streams["DATA"], p.n))
        full, mask = _expand(v, present, n_rows, fill=np.float64(np.nan))
        return pa.array(full, mask=mask)
    if kind in ("timestamp", "timestamp_ntz"):
        us = timestamps.sec_nanos_to_micros(
            rle("DATA", True),
            timestamps.unpack_nanos(rle("SECONDARY", False)))
        full, mask = _expand(us, present, n_rows)
        typ = pa.timestamp("us", tz=tz) if kind == "timestamp" \
            else pa.timestamp("us")
        return pa.array(full, mask=mask).cast(typ)
    if kind == "decimal":
        limbs = [_decimal_parts(p) for p in parts]
        return _decimal_from_limbs(
            _cat([lo for lo, _ in limbs]), _cat([hi for _, hi in limbs]),
            present, n_rows, int(col.get("precision", 18)),
            int(col.get("scale", 0)))
    if kind == "binary":
        return _varwidth_array(_join([p.streams["DATA"] for p in parts]),
                               rle("LENGTH", False), present, n_rows,
                               pa.large_binary())
    if kind == "string":
        return _decode_strings(parts, present, n_rows)
    raise NotImplementedError(f"column kind {kind!r}")


def _decode_strings(parts: list[_Part], present: np.ndarray | None,
                    n_rows: int) -> pa.Array:
    """A string column's row groups as one large_string array. Groups may
    use different codecs: FSST and raw groups (the stored-original
    fallback) share one contents buffer; when every group holding values
    is dict-coded, each group's indices are offset by the dictionary
    entries before it and one take over the joined dictionaries builds
    the column, nulls folded into the index mask. A mix of dict and
    non-dict groups decodes per group and concatenates."""
    held = [p for p in parts if p.n]  # an empty group is coded "raw"
    dict_coded = [p.col["codec"] == "dict" for p in held]
    if held and all(dict_coded):
        idx, dlens, base = [], [], 0
        for p in held:
            idx.append(rlev2.decode(p.streams["DATA"], p.n, signed=False)
                       .astype(np.int64) + base)
            dlens.append(rlev2.decode(p.streams["DICT_LENGTH"],
                                      p.col["dict_size"], signed=False))
            base += p.col["dict_size"]
        entries = _varwidth_array(
            _join([p.streams["DICT_DATA"] for p in held]), _cat(dlens), None,
            base, pa.large_string())
        full, mask = _expand(_cat(idx), present, n_rows)
        return entries.take(pa.array(full, mask=mask))
    if any(dict_coded):
        return pa.concat_arrays([
            _decode_strings([p], p.present, p.n_rows) for p in parts])
    lengths = _cat([rlev2.decode(p.streams["LENGTH"], p.n, signed=False)
                    for p in parts])
    data = _join([fsst.decompress(p.streams["DATA"])
                  if p.col["codec"] == "fsst" else p.streams["DATA"]
                  for p in parts])
    return _varwidth_array(data, lengths, present, n_rows, pa.large_string())
