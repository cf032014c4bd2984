"""ORC UNION (type kind 13) — read AND write, beyond the reference.

The reference leaves UNION unimplemented (orc/column/package.go:187-192:
the column factory returns an error for pb.Type_UNION). This repo decodes
and encodes it: the DATA stream carries one byte-RLE tag per present row,
each child stores only the rows its tag selects (dense layout, ORC spec
"Union Columns"). Spark has no union type, so the reader surfaces
struct<tag:int8, field0..fieldN> with exactly the tagged field non-null.

Oracle: pyarrow's C++ ORC writer/reader. Every test round-trips through
BOTH stacks — files written by pyarrow decode with read_orc, and files
written by write_orc decode bit-equal with pyarrow.orc.
"""
import numpy as np
import pyarrow as pa
import pyarrow.orc as orc
import pytest

from goorc_spark.orc_native import read_orc, write_orc


def _dense_union(tags: np.ndarray, children: list[pa.Array],
                 type_codes=None, field_names=None) -> pa.UnionArray:
    order = type_codes or list(range(len(children)))
    idx = {tc: i for i, tc in enumerate(order)}
    off = np.zeros(len(tags), np.int32)
    for tc in order:
        sel = tags == idx[tc]
        off[sel] = np.arange(int(sel.sum()), dtype=np.int32)
    arrow_tags = np.array([order[t] for t in tags], np.int8)
    kw = {}
    if field_names is not None:
        kw["field_names"] = field_names
    if type_codes is not None:
        kw["type_codes"] = type_codes
    return pa.UnionArray.from_dense(pa.array(arrow_tags),
                                    pa.array(off), children, **kw)


def _norm(value, typ):
    """Collapse this repo's tagged-struct surface and pyarrow's union
    pylist to the same python shape (the bare selected value)."""
    if value is None:
        return None
    if typ is not None and pa.types.is_union(typ):
        # pyarrow's to_pylist already yields the selected child's value
        return value
    if isinstance(value, dict) and set(value) >= {"tag"} and \
            all(k == "tag" or k.startswith("field") for k in value):
        return value[f"field{value['tag']}"]
    if isinstance(value, dict):
        return {k: _norm(v, None) for k, v in value.items()}
    if isinstance(value, list):
        return [_norm(v, None) for v in value]
    return value


def _assert_tables_equal(mine: pa.Table, ref: pa.Table):
    assert mine.num_rows == ref.num_rows
    for name in ref.schema.names:
        a = [_norm(v, ref.schema.field(name).type)
             for v in ref.column(name).to_pylist()]
        b = [_norm(v, None) for v in mine.column(name).to_pylist()]
        assert a == b, f"column {name!r} diverges"


def _rt_mine(tbl: pa.Table, tmp_path, **write_kw):
    """write_orc bytes must decode identically via read_orc AND the
    pyarrow C++ reader."""
    blob = write_orc(tbl, **write_kw)
    p = tmp_path / "mine.orc"
    p.write_bytes(blob)
    _assert_tables_equal(read_orc(blob), orc.read_table(str(p)))


def _rt_both_ways(tbl: pa.Table, tmp_path, **write_kw):
    """_rt_mine plus the reverse leg: a pyarrow-written file of the same
    table must decode via read_orc. (Not usable for unions nested under
    nullable structs or lists — pyarrow 16's OWN ORC writer aborts on
    those with `Check failed: buffers[0] == nullptr`,
    arrow/array/array_nested.cc:1142; this repo's writer handles them and
    pyarrow READS our bytes fine, which _rt_mine verifies.)"""
    _rt_mine(tbl, tmp_path, **write_kw)
    q = tmp_path / "cxx.orc"
    orc.write_table(tbl, str(q))
    _assert_tables_equal(read_orc(q.read_bytes()), orc.read_table(str(q)))


def test_union_read_pyarrow_written(tmp_path):
    rng = np.random.default_rng(7)
    n = 1000
    tags = rng.integers(0, 3, n).astype(np.int8)
    cnt = [int((tags == i).sum()) for i in range(3)]
    u = _dense_union(tags, [
        pa.array(rng.integers(-1000, 1000, cnt[0]), type=pa.int32()),
        pa.array([f"s{k}" for k in range(cnt[1])]),
        pa.array(rng.normal(size=cnt[2])),
    ], field_names=["i", "s", "f"])
    tbl = pa.table({"u": u, "k": pa.array(np.arange(n, dtype=np.int64))})
    p = tmp_path / "u.orc"
    orc.write_table(tbl, str(p))
    mine = read_orc(p.read_bytes())
    assert mine.schema.field("u").type == pa.struct(
        [("tag", pa.int8()), ("field0", pa.int32()),
         ("field1", pa.string()), ("field2", pa.float64())])
    got_tags = mine.column("u").combine_chunks().field("tag").to_numpy()
    assert (got_tags == tags).all()
    _assert_tables_equal(mine, orc.read_table(str(p)))


def test_union_write_nulls_in_children(tmp_path):
    rng = np.random.default_rng(11)
    n = 5000
    tags = rng.integers(0, 3, n).astype(np.int8)
    cnt = [int((tags == i).sum()) for i in range(3)]
    u = _dense_union(tags, [
        pa.array([None if k % 7 == 0 else k for k in range(cnt[0])],
                 type=pa.int32()),
        pa.array([None if k % 5 == 0 else f"str{k}" for k in range(cnt[1])]),
        pa.array(rng.normal(size=cnt[2])),
    ])
    _rt_both_ways(pa.table({"u": u}), tmp_path)


def test_union_sparse_and_custom_type_codes(tmp_path):
    # arbitrary Arrow type codes (5, 9) must remap to ORC tags 0..1
    rng = np.random.default_rng(3)
    n = 4000
    tags = (rng.random(n) < 0.5).astype(np.int8)
    arrow_tags = np.where(tags == 0, 5, 9).astype(np.int8)
    u = pa.UnionArray.from_sparse(
        pa.array(arrow_tags),
        [pa.array(rng.integers(0, 100, n), type=pa.int64()),
         pa.array([f"w{j}" for j in range(n)])],
        field_names=["a", "b"], type_codes=[5, 9])
    _rt_both_ways(pa.table({"u": u}), tmp_path)


def test_union_multistripe_dict_child(tmp_path):
    # low-cardinality string child goes DICTIONARY_V2 inside the union
    rng = np.random.default_rng(5)
    n = 4000
    tags = rng.integers(0, 2, n).astype(np.int8)
    cnt = [int((tags == i).sum()) for i in range(2)]
    u = _dense_union(tags, [
        pa.array(rng.normal(size=cnt[0])),
        pa.array([f"x{j % 7}" for j in range(cnt[1])]),
    ])
    tbl = pa.table({"u": u, "k": pa.array(np.arange(n, dtype=np.int64))})
    _rt_both_ways(tbl, tmp_path, stripe_rows=1000)


def test_union_under_nullable_struct(tmp_path):
    rng = np.random.default_rng(13)
    n = 3000
    tags = rng.integers(0, 2, n).astype(np.int8)
    cnt = [int((tags == i).sum()) for i in range(2)]
    u = _dense_union(tags, [
        pa.array(rng.normal(size=cnt[0])),
        pa.array([f"x{j}" for j in range(cnt[1])]),
    ])
    st = pa.StructArray.from_arrays(
        [u, pa.array(np.arange(n, dtype=np.int64))], names=["u", "k"],
        mask=pa.array(rng.random(n) < 0.15))
    _rt_mine(pa.table({"s": st}), tmp_path)


def test_union_as_list_child(tmp_path):
    """Oracle is the SOURCE table here, not the pyarrow reader: pyarrow
    16's C++ ORC reader corrupts union-inside-list even on its own
    written files (524/1000 rows mis-decoded to null on this exact data's
    self-roundtrip — measured), while this repo's reader decodes both
    writers' bytes exactly."""
    rng = np.random.default_rng(17)
    n_lists = 1000
    lens = rng.integers(0, 4, n_lists)
    offs = np.zeros(n_lists + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    total = int(offs[-1])
    tags = rng.integers(0, 2, total).astype(np.int8)
    cnt = [int((tags == i).sum()) for i in range(2)]
    u = _dense_union(tags, [
        pa.array(rng.integers(-5, 5, cnt[0]), type=pa.int32()),
        pa.array([f"y{j}" for j in range(cnt[1])]),
    ])
    lst = pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)), u)
    tbl = pa.table({"l": lst})
    src = lst.to_pylist()

    def collapse(rows):
        return [None if row is None else
                [None if e is None else e[f"field{e['tag']}"] for e in row]
                for row in rows]

    # my write -> my read == source
    blob = write_orc(tbl)
    assert collapse(read_orc(blob).column("l").to_pylist()) == src
    # pyarrow write -> my read == source (the C++ READER gets this wrong)
    q = tmp_path / "cxx.orc"
    orc.write_table(tbl, str(q))
    assert collapse(read_orc(q.read_bytes()).column("l").to_pylist()) == src


def test_union_stride_row_index(tmp_path):
    # stride mode: byte-RLE tag restarts per group concatenate spec-valid
    rng = np.random.default_rng(19)
    n = 4000
    tags = rng.integers(0, 2, n).astype(np.int8)
    cnt = [int((tags == i).sum()) for i in range(2)]
    u = _dense_union(tags, [
        pa.array(rng.normal(size=cnt[0])),
        pa.array([f"z{j}" for j in range(cnt[1])]),
    ])
    tbl = pa.table({"u": u, "k": pa.array(np.arange(n, dtype=np.int64))})
    blob = write_orc(tbl, stripe_rows=2000, row_index_stride=500)
    p = tmp_path / "stride.orc"
    p.write_bytes(blob)
    _assert_tables_equal(read_orc(blob), orc.read_table(str(p)))


def test_union_row_seek_indexed(tmp_path):
    """ROW_INDEX seek into a union column: _position_streams records the
    tag stream like tinyint (byte-RLE run skip), children carry their own
    per-group positions, so read_orc_rows decodes only covering groups."""
    rng = np.random.default_rng(29)
    n = 6000
    tags = rng.integers(0, 2, n).astype(np.int8)
    cnt = [int((tags == i).sum()) for i in range(2)]
    u = _dense_union(tags, [
        pa.array(rng.normal(size=cnt[0])),
        pa.array([f"q{j}" for j in range(cnt[1])]),
    ])
    tbl = pa.table({"u": u, "k": pa.array(np.arange(n, dtype=np.int64))})
    blob = write_orc(tbl, stripe_rows=2000, row_index_stride=500)
    from goorc_spark.orc_native import read_orc_rows
    got = read_orc_rows(blob, 2750, 3250)
    assert got.column("k").to_pylist() == list(range(2750, 3250))
    gu = got.column("u").combine_chunks()
    bare = [None if v is None else v[f"field{v['tag']}"]
            for v in gu.to_pylist()]
    assert bare == tbl.slice(2750, 500).column("u").to_pylist()
    # the stride file's new union positions stay JVM/C++-conformant
    p = tmp_path / "stride_seek.orc"
    p.write_bytes(blob)
    ref = orc.read_table(str(p)).column("u").combine_chunks()
    assert (ref.type_codes.to_numpy(zero_copy_only=False) == tags).all()


def test_union_empty_and_single_child_selected(tmp_path):
    # all rows pick child 0; child 1 is fully empty
    n = 100
    tags = np.zeros(n, np.int8)
    u = _dense_union(tags, [
        pa.array(np.arange(n, dtype=np.int64)),
        pa.array([], type=pa.string()),
    ])
    _rt_both_ways(pa.table({"u": u}), tmp_path)
    empty = pa.table({"u": u.slice(0, 0)})
    blob = write_orc(empty)
    assert read_orc(blob).num_rows == 0


def test_union_projection_prunes_subtree(tmp_path):
    rng = np.random.default_rng(23)
    n = 2000
    tags = rng.integers(0, 2, n).astype(np.int8)
    cnt = [int((tags == i).sum()) for i in range(2)]
    u = _dense_union(tags, [
        pa.array(rng.normal(size=cnt[0])),
        pa.array([f"p{j}" for j in range(cnt[1])]),
    ])
    tbl = pa.table({"u": u, "k": pa.array(np.arange(n, dtype=np.int64))})
    blob = write_orc(tbl)
    only_k = read_orc(blob, columns=["k"])
    assert only_k.schema.names == ["k"]
    assert only_k.column("k").to_pylist() == list(range(n))


def test_union_spark_jvm_cannot_native_reader_can(tmp_path, spark):
    """Spark's JVM ORC datasource cannot open union files AT ALL — it
    fails parsing the schema string `uniontype<double,string>`
    (ParseException, measured on Spark 4.1) because Catalyst has no
    union type. This repo's read_orc_stripes is therefore the only
    Spark-side path for such files, surfacing the tagged struct."""
    import numpy as np

    tags = np.array([0, 1] * 50, np.int8)
    u = _dense_union(tags, [
        pa.array(np.arange(50.0)),
        pa.array([f"s{j}" for j in range(50)]),
    ])
    tbl = pa.table({"u": u, "k": pa.array(np.arange(100, dtype=np.int64))})
    d = tmp_path / "uorc"
    d.mkdir()
    (d / "part-0.orc").write_bytes(write_orc(tbl))

    with pytest.raises(Exception) as ei:
        spark.read.orc(str(d)).collect()
    assert "uniontype" in str(ei.value) or "PARSE" in str(ei.value)

    from goorc_spark.orc_native import read_orc_stripes
    df = read_orc_stripes(spark, str(d) + "/*.orc")
    assert df.schema["u"].dataType.typeName() == "struct"
    assert df.count() == 100
    assert df.filter("u.tag = 1").count() == 50


def test_union_over_127_subtypes_refused():
    """ORC tags are unsigned bytes (up to 256 variants) but the surfaced
    struct uses int8 tags; >127 subtypes would make `tag == i` filters see
    negative values for fields 128+, so the footer parse refuses loudly
    (ADVICE r5) instead of surfacing a broken contract."""
    import pytest

    from goorc_spark import orc_native
    from goorc_spark.orc_native import T_INT, T_STRUCT, T_UNION, _arrow_type

    union = {"kind": T_UNION, "subtypes": list(range(2, 130)),
             "field_names": []}
    types = [{"kind": T_STRUCT, "subtypes": [1], "field_names": ["u"]},
             union] + [{"kind": T_INT, "subtypes": [], "field_names": []}
                       for _ in range(128)]
    with pytest.raises(NotImplementedError, match="128 subtypes"):
        _arrow_type(types, 1)
    # at the boundary (127) the tagged-struct surface stays available
    union["subtypes"] = list(range(2, 129))
    t = _arrow_type(types, 1)
    assert t.num_fields == 1 + 127


def test_write_orc_refuses_union_over_127_subtypes():
    """The writer never emits a file its own reader refuses: a 128-child
    union fails in the type walk, before any byte is produced."""
    tags = pa.array([0, 127], pa.int8())
    children = [pa.array([i, i], pa.int32()) for i in range(128)]
    u = pa.UnionArray.from_sparse(tags, children)
    with pytest.raises(NotImplementedError, match="128 subtypes"):
        write_orc(pa.table({"u": u}))
