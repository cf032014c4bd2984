"""The statistics kernel both writers share (arrow_stripe.segment_stats),
checked against pyarrow reductions over each segment's rows: as a
property over every scalar Arrow type the writers pass in, and read back
from the ORC writer's row index, stripe statistics and file footer."""

import decimal
import math
import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings, strategies as st

from goorc_spark import orc_native as on
from goorc_spark.arrow_stripe import segment_stats
from test_stripe import _edge_table

_WIDE = decimal.Context(prec=60)
_TYPES = [pa.int8(), pa.int16(), pa.int32(), pa.int64(), pa.bool_(),
          pa.float32(), pa.float64(), pa.string(), pa.large_string(),
          pa.binary(), pa.large_binary(), pa.decimal128(10, 2),
          pa.decimal128(38, 6), pa.date32(), pa.timestamp("us"),
          pa.timestamp("us", tz="UTC")]
_STORAGE = {pa.date32(): pa.int32()}  # temporal values drawn as storage


def _is_temporal(t) -> bool:
    return pa.types.is_date32(t) or pa.types.is_timestamp(t)


def _is_varwidth(t) -> bool:
    return pa.types.is_string(t) or pa.types.is_large_string(t) or \
        pa.types.is_binary(t) or pa.types.is_large_binary(t)


def _values(t: pa.DataType):
    """A strategy of one non-null value of Arrow type t (dates and
    timestamps as their integer storage)."""
    if pa.types.is_integer(t):
        hi = (1 << (t.bit_width - 1)) - 1
        edges = [-hi - 1, hi, 0, -1]
        if t.bit_width == 64:  # a few of these leave int64 when summed
            edges += [(1 << 62) + 3, -(1 << 62) - 5]
        return st.one_of(st.integers(-hi - 1, hi), st.sampled_from(edges))
    if pa.types.is_boolean(t):
        return st.booleans()
    if pa.types.is_floating(t):
        return st.one_of(
            st.floats(-1e6, 1e6, width=t.bit_width),
            st.sampled_from([math.nan, 0.0, -0.0, math.inf, -math.inf]))
    if _is_varwidth(t):
        return st.text(max_size=5) if pa.types.is_string(t) or \
            pa.types.is_large_string(t) else st.binary(max_size=5)
    if pa.types.is_decimal(t):
        top = 10 ** t.precision - 1
        return st.integers(-top, top).map(
            lambda u: decimal.Decimal(u).scaleb(-t.scale, _WIDE))
    if pa.types.is_date32(t):
        return st.integers(-50_000, 50_000)
    return st.integers(-(1 << 50), 1 << 50)


@st.composite
def _column(draw, t: pa.DataType):
    """(array of type t at a random offset, segment row cuts): nulls,
    a run of nulls that can cover whole segments, and empty segments."""
    vals = draw(st.lists(st.one_of(st.none(), _values(t)), max_size=80))
    n = len(vals)
    if n and draw(st.booleans()):
        a = draw(st.integers(0, n))
        b = draw(st.integers(a, n))
        vals[a:b] = [None] * (b - a)
    cuts = sorted(draw(st.lists(st.integers(0, n), max_size=6)))
    pad = draw(st.integers(0, 3))
    vals = [None] * pad + vals
    if _is_temporal(t):
        arr = pa.array(vals, _STORAGE.get(t, pa.int64())).cast(t)
    else:
        arr = pa.array(vals, t)
    if _is_varwidth(t) and draw(st.booleans()):
        # null slots that span payload bytes, which Arrow allows
        fill = "ab" if pa.types.is_string(t) or \
            pa.types.is_large_string(t) else b"ab"
        full = pa.array([fill if v is None else v for v in vals], t)
        arr = pa.Array.from_buffers(t, len(vals), [arr.buffers()[0]]
                                    + full.buffers()[1:], arr.null_count)
    return arr.slice(pad), np.array([0] + cuts + [n], dtype=np.int64)


def _reference(seg: pa.Array) -> dict:
    """segment_stats' fields of one segment, from pyarrow over its rows."""
    t = seg.type
    vals = seg.drop_null()
    out: dict = {"n": len(vals), "nulls": seg.null_count}
    if not len(vals) or pa.types.is_nested(t):
        return out
    if pa.types.is_floating(t):
        f = vals.cast(pa.float64())
        nan = pc.is_nan(f)
        mm = pc.min_max(f.filter(pc.invert(nan)))
        out.update(min=mm["min"].as_py(), max=mm["max"].as_py(),
                   sum=pc.sum(f).as_py(), nan=pc.any(nan).as_py())
    elif pa.types.is_signed_integer(t) or pa.types.is_boolean(t):
        py = vals.to_pylist()
        out.update(min=min(py), max=max(py), sum=sum(py))
    elif _is_temporal(t):
        mm = pc.min_max(vals.cast(_STORAGE.get(t, pa.int64())))
        out.update(min=mm["min"].as_py(), max=mm["max"].as_py())
    else:
        mm = pc.min_max(vals)
        out.update(min=mm["min"].as_py(), max=mm["max"].as_py())
        if not pa.types.is_decimal(t):
            out["bytes"] = pc.sum(pc.binary_length(vals)).as_py()
    return out


def _same(a, b) -> bool:
    """Equal values, NaN equal to NaN; zeros by value, as ±0.0 compare."""
    if isinstance(a, float) and isinstance(b, float) and \
            math.isnan(a) and math.isnan(b):
        return True
    return type(a) is type(b) and a == b


def _segments(arr: pa.Array, cuts: np.ndarray):
    b = cuts.tolist()
    return [arr.slice(x, y - x) for x, y in zip(b[:-1], b[1:])]


@pytest.mark.parametrize("t", _TYPES, ids=str)
@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_segment_stats_match_pyarrow_per_segment(t, data):
    arr, cuts = data.draw(_column(t))
    got = segment_stats(arr.drop_null(), cuts,
                        on._cuts_through(np.asarray(arr.is_valid()), cuts))
    assert len(got) == len(cuts) - 1
    for g, (st_, seg) in enumerate(zip(got, _segments(arr, cuts))):
        want = _reference(seg)
        assert st_.keys() == want.keys(), (g, st_, want)
        for k in want:
            assert _same(st_[k], want[k]), (g, k, st_[k], want[k])


def test_segment_stats_of_nested_columns_count_rows_only():
    arr = pa.array([[1], None, [], [2, 3], None], pa.list_(pa.int64()))
    assert segment_stats(arr.drop_null(), np.array([0, 2, 2, 5]),
                         np.array([0, 1, 1, 3])) == [
        {"n": 1, "nulls": 1}, {"n": 0, "nulls": 0}, {"n": 2, "nulls": 1}]


# ----------------------------------------------- ORC statistics read back --

def _orc_stats(cs) -> dict:
    """Every field write_orc sets in one ColumnStatistics message."""
    f = on.pb_fields(cs)
    out = {"n": f[1][0], "has_null": bool(f.get(10, [0])[0])}
    for fnum, (name, fields) in {
            2: ("int", {1: "min", 2: "max", 3: "sum"}),
            3: ("double", {1: "min", 2: "max", 3: "sum"}),
            4: ("string", {1: "min", 2: "max", 3: "sum"}),
            5: ("bucket", {1: "count"}),
            6: ("decimal", {1: "min", 2: "max"}),
            7: ("date", {1: "min", 2: "max"}),
            8: ("binary", {1: "sum"}),
            9: ("timestamp", {3: "min", 4: "max"})}.items():
        if fnum not in f:
            continue
        sub = on.pb_fields(f[fnum][0])
        typed = {}
        for k, key in fields.items():
            if k in sub:
                v = sub[k][0]
                if name == "double":
                    v = struct.unpack("<d", v)[0]
                elif name in ("string", "decimal") and key != "sum":
                    v = bytes(v).decode()
                elif name == "bucket":  # packed repeated uint64
                    v = on._uvarint(bytes(v), 0)[0]
                else:
                    v = on._unzig(v)
                typed[key] = v
        out[name] = typed
    return out


def _orc_expected(ref: dict, t: pa.DataType) -> dict:
    """A reference's ColumnStatistics under the ORC writer's rules: no int
    sum outside int64, no decimal sum, no float statistics of values that
    hold a NaN, timestamps as floored epoch millis."""
    out = {"n": ref["n"], "has_null": ref["nulls"] > 0}
    if "min" not in ref or ref.get("nan"):
        return out
    lo, hi = ref["min"], ref["max"]
    if pa.types.is_boolean(t):
        out["bucket"] = {"count": ref["sum"]}
    elif pa.types.is_integer(t):
        out["int"] = {"min": lo, "max": hi}
        if ref["sum"] is not None and -(1 << 63) <= ref["sum"] < (1 << 63):
            out["int"]["sum"] = ref["sum"]
    elif pa.types.is_floating(t):
        out["double"] = {"min": lo, "max": hi, "sum": ref["sum"]}
    elif pa.types.is_string(t):
        out["string"] = {"min": lo, "max": hi, "sum": ref["bytes"]}
    elif pa.types.is_binary(t):
        out["binary"] = {"sum": ref["bytes"]}
    elif pa.types.is_decimal(t):
        out["decimal"] = {"min": format(lo, "f"), "max": format(hi, "f")}
    elif pa.types.is_date32(t):
        out["date"] = {"min": lo, "max": hi}
    elif pa.types.is_timestamp(t):
        out["timestamp"] = {"min": lo // 1000, "max": hi // 1000}
    return out


def _rollup(refs: list[dict]) -> dict:
    """Reference statistics of the rows of `refs`' segments, with the
    ORC rollup's rule that a segment's int sum outside int64 leaves the
    whole rollup without one."""
    out = {"n": sum(r["n"] for r in refs),
           "nulls": sum(r["nulls"] for r in refs)}
    live = [r for r in refs if r["n"]]
    if not live or "min" not in live[0]:
        return out
    if any(r.get("nan") for r in live):
        return {**out, "nan": True}
    out.update(min=min(r["min"] for r in live),
               max=max(r["max"] for r in live))
    for key in ("sum", "bytes"):
        if key in live[0]:
            vals = [r[key] for r in live]
            ok = isinstance(vals[0], float) or all(
                v is not None and -(1 << 63) <= v < (1 << 63) for v in vals)
            out[key] = sum(vals) if ok else None
    return out


def _parsed_match(parsed: dict, ref: dict) -> bool:
    """The read path's parse of a ColumnStatistics equals the reference
    in what it decodes: n, has_null, and min/max where it reads them."""
    return parsed["n"] == ref["n"] and \
        parsed["has_null"] == (ref["nulls"] > 0) and \
        all(_same(parsed[k], ref[k]) for k in ("min", "max") if k in parsed)


def _close(got: dict, want: dict) -> bool:
    """ORC statistics equal; float sums to rounding (a rollup adds the
    segments' sums, pyarrow sums the rows), zeros by value."""
    if got.keys() != want.keys():
        return False
    for k, v in want.items():
        g = got[k]
        if isinstance(v, dict):
            if not _close(g, v):
                return False
        elif isinstance(v, float):
            if not math.isclose(g, v, rel_tol=1e-12, abs_tol=1e-9):
                return False
        elif g != v:
            return False
    return True


@pytest.mark.parametrize("stride", [100, 37])
def test_orc_statistics_read_back_match_pyarrow(stride):
    """Row-index entries (_RowIndex.stats and every field), stripe
    statistics (parse_stripe_stats and every field) and the file footer's
    statistics of the edge table equal pyarrow over the same rows."""
    table, _ = _edge_table()
    stripe_rows = 250
    data = on.write_orc(table, compression="none", stripe_rows=stripe_rows,
                        row_index_stride=stride)
    ps, footer = on.parse_tail(data)
    root = footer["types"][0]
    cids = dict(zip(root["field_names"], root["subtypes"]))
    stripe_stats = on.parse_stripe_stats(data)
    ps_len = data[-1]
    post = on.parse_postscript(data[-1 - ps_len:-1])
    foot_end = len(data) - 1 - ps_len
    meta_start = foot_end - post["footer_length"] - post["metadata_length"]
    raw_meta = [on.pb_fields(ss).get(1, []) for ss in on.pb_fields(
        data[meta_start:meta_start + post["metadata_length"]]).get(1, [])]
    raw_file = on.pb_fields(data[foot_end - post["footer_length"]:foot_end])[7]
    file_refs: dict = {}
    for si, s in enumerate(footer["stripes"]):
        sf = on._stripe_footer(data, s, ps["compression"])
        cur = on._StripeCursor(data, s, sf, ps["compression"])
        start = si * stripe_rows
        for name, cid in cids.items():
            t = table.schema.field(name).type
            col = table.column(name).combine_chunks().slice(start, s["n_rows"])
            cuts = np.append(np.arange(0, s["n_rows"], stride), s["n_rows"])
            refs = [_reference(seg) for seg in _segments(col, cuts)]
            ri = cur.row_index(cid)
            for g, ref in enumerate(refs):
                assert _close(_orc_stats(ri._entry(g)[2][0]),
                              _orc_expected(ref, t)), (name, si, g)
                assert _parsed_match(ri.stats()[g], ref), (name, si, g)
            stripe_ref = _rollup(refs)
            assert _close(_orc_stats(raw_meta[si][cid]),
                          _orc_expected(stripe_ref, t)), (name, si)
            assert _parsed_match(stripe_stats[si][cid], stripe_ref)
            file_refs.setdefault(name, []).append(stripe_ref)
    for name, cid in cids.items():
        t = table.schema.field(name).type
        assert _close(_orc_stats(raw_file[cid]),
                      _orc_expected(_rollup(file_refs[name]), t)), name
