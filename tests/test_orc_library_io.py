"""orc_native as a library: the writer's deflate fan-out, the parse memo
and exact row-group windows.

- `write_orc` compresses its streams on every core (`_fanout`); the bytes
  must not depend on the pool width or on who calls it.
- Metadata parses are memoized by their exact raw bytes; a hit must be
  correct for any file with those bytes, under threads, within its bound.
- Seek windows stop at the next row group's recorded position; reads of
  files from other writers must equal a full read, and inflate no more
  than the previous reader did.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import io
import subprocess
import sys
import threading
from collections import OrderedDict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as po
import pytest

from goorc_spark import _fanout
from goorc_spark import orc_native as on
from test_orc_native import WRITE_ORC_PINS, _nested_table, _pinned_table
from test_orc_union import _dense_union

FIXTURES = Path(__file__).parent / "fixtures"
REPO = Path(__file__).resolve().parent.parent


@pytest.fixture
def fresh_memo(monkeypatch):
    """An empty parse memo for this test (restored afterwards)."""
    monkeypatch.setattr(on, "_memo", OrderedDict())
    monkeypatch.setattr(on, "_memo_bytes", 0)


def _width(monkeypatch, n: int) -> None:
    monkeypatch.setattr(_fanout, "pool_width", lambda: n)


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


# ------------------------------------------------------------ write fan-out

def _union_table(n: int = 3000) -> pa.Table:
    rng = np.random.default_rng(19)
    tags = rng.integers(0, 2, n).astype(np.int8)
    cnt = [int((tags == i).sum()) for i in range(2)]
    u = _dense_union(tags, [pa.array(rng.normal(size=cnt[0])),
                            pa.array([f"z{j}" for j in range(cnt[1])])])
    return pa.table({"u": u, "k": pa.array(np.arange(n, dtype=np.int64))})


def _nulls_table(n: int = 5000) -> pa.Table:
    return pa.table({
        "x": pa.array([None if i % 3 == 0 else i for i in range(n)],
                      pa.int64()),
        "s": pa.array([None if i % 5 == 0 else f"s{i % 40}"
                       for i in range(n)]),
        "ok": pa.array([None if i % 11 == 0 else bool(i % 2)
                        for i in range(n)]),
        "d": pa.array([None if i % 4 == 0 else decimal.Decimal(i) / 100
                       for i in range(n)], pa.decimal128(12, 2)),
    })


_WIDTH_CASES = [
    ("indexed", lambda: _pinned_table(),
     dict(stripe_rows=2000, block_size=4096, row_index_stride=300)),
    ("plain", lambda: _pinned_table(),
     dict(stripe_rows=1500, block_size=4096)),
    ("nested", lambda: _nested_table(4000),
     dict(stripe_rows=2500, row_index_stride=500)),
    ("nested_plain", lambda: _nested_table(4000), dict(stripe_rows=2500)),
    ("union", _union_table, dict(stripe_rows=2000, row_index_stride=500)),
    ("nulls", _nulls_table, dict(stripe_rows=3000, row_index_stride=700)),
    ("bloom", lambda: _pinned_table(),
     dict(stripe_rows=2000, row_index_stride=250, block_size=8192,
          bloom_columns=("conv_id", "turn_idx"))),
    ("none", _nulls_table, dict(compression="none", row_index_stride=700)),
]


@pytest.mark.parametrize("name,make,kw", _WIDTH_CASES,
                         ids=[c[0] for c in _WIDTH_CASES])
def test_write_orc_bytes_independent_of_pool_width(monkeypatch, name, make,
                                                   kw):
    t = make()
    out = {}
    for w in (1, 4):
        _width(monkeypatch, w)
        out[w] = on.write_orc(t, **kw)
    assert out[1] == out[4], name
    assert on.read_orc(out[4]).num_rows == t.num_rows


@pytest.mark.parametrize("width", [1, 4])
def test_write_orc_pins_at_every_pool_width(monkeypatch, width):
    """test_write_orc_bytes_pinned's hashes, serial and fanned out."""
    _width(monkeypatch, width)
    t = _pinned_table()
    for kw, want in WRITE_ORC_PINS:
        assert _sha(on.write_orc(t, **kw)) == want, (width, kw)


def _finishes(fn, timeout: float = 120.0):
    """Run fn on a daemon thread; fail (instead of hanging) on deadlock."""
    box: dict = {}

    def run():
        try:
            box["out"] = fn()
        except BaseException as e:  # pragma: no cover - surfaced below
            box["err"] = e

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(timeout)
    assert not th.is_alive(), "deadlocked"
    if "err" in box:
        raise box["err"]
    return box["out"]


_NESTED_WRITE = """
import pyarrow as pa
from goorc_spark import _fanout, orc_native as on, transcripts

_fanout.pool_width = lambda: 4
t = pa.Table.from_pandas(transcripts.synthesize_pandas(n_convs=40, seed=11),
                         preserve_index=False)
tables = [t.slice(i * 300, 1200) for i in range(4)]
kw = dict(stripe_rows=600, block_size=4096, row_index_stride=200)
want = [on.write_orc(x, **kw) for x in tables]
seen = []

def write_in_worker(x):
    seen.append(getattr(_fanout._local, "worker", False))
    return on.write_orc(x, **kw)

assert _fanout.fan_out(write_in_worker, tables) == want
assert seen == [True] * 4, seen
print("OK")
"""


def test_write_orc_from_pool_workers_runs_serially():
    """write_orc called from the fan-out pool's own threads: a nested
    fan-out would fill the pool with callers waiting on each other; it
    runs serially there instead and finishes with the same bytes. A
    subprocess, so a deadlock fails the test instead of hanging pytest."""
    out = subprocess.run([sys.executable, "-c", _NESTED_WRITE], cwd=REPO,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0 and out.stdout.strip() == "OK", out.stderr


def test_write_orc_from_four_threads(monkeypatch):
    _width(monkeypatch, 4)
    t = _pinned_table()
    kw = dict(stripe_rows=1000, block_size=4096, row_index_stride=250,
              bloom_columns=("conv_id",))
    want = on.write_orc(t, **kw)
    results: list = [None] * 4

    def run(i):
        results[i] = on.write_orc(t, **kw)

    def all_four():
        ths = [threading.Thread(target=run, args=(i,)) for i in range(4)]
        for th in ths:
            th.start()
        for th in ths:
            th.join()
        return results

    assert _finishes(all_four) == [want] * 4


def test_fan_out_keeps_order_and_raises():
    items = list(range(37))
    assert _fanout.fan_out(lambda x: x * x, items) == [x * x for x in items]
    assert _fanout.fan_out(lambda x: x, []) == []

    def boom(x):
        if x == 5:
            raise KeyError(x)
        return x

    with pytest.raises(KeyError):
        _fanout.fan_out(boom, items)


def test_pool_width_is_one_inside_a_spark_task(spark):
    def probe(batches):
        from goorc_spark import _fanout as fo

        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"w": pa.array([fo.pool_width()], pa.int64())})

    rows = spark.range(8).repartition(4).mapInArrow(probe, "w long") \
        .collect()
    assert rows and {r.w for r in rows} == {1}
    assert _fanout.pool_width() >= 1  # the driver uses its affinity mask


# ------------------------------------------------------------- parse memo

def _swap_file(first: str, second: str) -> bytes:
    """An uncompressed indexed file whose metadata bytes do not depend on
    the order of `first`/`second` (same lengths, same per-group min/max)."""
    vals = ["aa", first, second, "zz"] * 250
    t = pa.table({"k": pa.array(vals),
                  "v": pa.array(np.full(len(vals), 7, np.int64))})
    return on.write_orc(t, compression="none", row_index_stride=100)


def test_memo_sound_for_files_sharing_metadata_bytes(fresh_memo):
    a, b = _swap_file("mm", "nn"), _swap_file("nn", "mm")
    assert a != b
    ta, tb = on.read_orc(a), on.read_orc(b)
    assert ta.column("k")[1].as_py() == "mm"
    assert tb.column("k")[1].as_py() == "nn"
    ra = on.read_orc_rows(a, 101, 103)
    mb: dict = {}
    rb = on.read_orc_rows(b, 101, 103, metrics=mb)
    assert ra.equals(ta.slice(101, 2)) and rb.equals(tb.slice(101, 2))
    assert ra.column("k").to_pylist() == ["mm", "nn"]
    assert rb.column("k").to_pylist() == ["nn", "mm"]
    # every metadata parse of b came from a's entries
    assert mb["index_cache_hits"] > 0 and "index_cache_misses" not in mb
    for f, t in ((a, ta), (b, tb)):
        for key in ("mm", "nn", ["aa", "nn"]):
            got = on.read_orc_eq(f, "k", key)
            want = t.filter(pc.is_in(t.column("k"),
                                     value_set=pa.array(
                                         key if isinstance(key, list)
                                         else [key])))
            assert got.equals(want), key


def _charged() -> int:
    return sum(size for _, size in on._memo.values())


def test_memo_evicts_by_footprint(fresh_memo, monkeypatch):
    files = [on.write_orc(_pinned_table().slice(i * 100, 1500),
                          row_index_stride=300, block_size=4096)
             for i in range(4)]
    m: dict = {}
    on.read_orc_rows(files[0], 0, 1500, metrics=m)
    one_file = on._memo_bytes
    assert one_file > 0 and m["index_cache_misses"] == len(on._memo)
    monkeypatch.setattr(on, "INDEX_CACHE_BYTES", 2 * one_file)
    for f in files[1:]:
        on.read_orc_rows(f, 0, 1500)
        assert on._memo_bytes <= on.INDEX_CACHE_BYTES
        assert on._memo_bytes == _charged()
    m = {}
    on.read_orc_rows(files[0], 0, 1500, metrics=m)  # evicted: parsed anew
    assert m.get("index_cache_misses", 0) > 0
    # an entry larger than the bound is parsed but never held
    monkeypatch.setattr(on, "INDEX_CACHE_BYTES", 8)
    on._memo.clear()
    monkeypatch.setattr(on, "_memo_bytes", 0)
    assert on.read_orc_rows(files[1], 10, 20).num_rows == 10
    assert not on._memo and on._memo_bytes == 0


def test_memo_eight_threads_agree_with_serial(fresh_memo, monkeypatch):
    t = _pinned_table()
    data = on.write_orc(t, stripe_rows=800, block_size=4096,
                        row_index_stride=100, bloom_columns=("conv_id",))
    keys = t.column("conv_id").unique().to_pylist()[:24] + ["absent"]
    serial = {k: on.read_orc_eq(data, "conv_id", k) for k in keys}
    monkeypatch.setattr(on, "_memo", OrderedDict())  # start cold again
    monkeypatch.setattr(on, "_memo_bytes", 0)
    got: list = []
    errs: list = []
    barrier = threading.Barrier(8)

    def run(i):
        try:
            barrier.wait()
            for k in keys[i:] + keys[:i]:
                got.append((k, on.read_orc_eq(data, "conv_id", k)))
        except BaseException as e:  # pragma: no cover - reported below
            errs.append(e)

    ths = [threading.Thread(target=run, args=(i,)) for i in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the memo's check-then-insert
    try:
        for th in ths:
            th.start()
        for th in ths:
            th.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in ths)
    assert not errs and len(got) == 8 * len(keys)
    for k, tbl in got:
        assert tbl.equals(serial[k]), k
    assert on._memo_bytes == _charged()


def test_point_reads_report_index_cache(fresh_memo):
    t = _pinned_table()
    data = on.write_orc(t, stripe_rows=1000, row_index_stride=200,
                        bloom_columns=("conv_id",))
    key = t.column("conv_id")[500].as_py()
    cold: dict = {}
    got = on.read_orc_eq(data, "conv_id", key, metrics=cold)
    warm: dict = {}
    assert on.read_orc_eq(data, "conv_id", key, metrics=warm).equals(got)
    assert cold["index_cache_misses"] > 0
    assert "index_cache_misses" not in warm
    assert warm["index_cache_hits"] == cold["index_cache_misses"] \
        + cold.get("index_cache_hits", 0)
    # an index served from the memo inflates nothing
    assert warm["decompressed_bytes"] < cold["decompressed_bytes"]
    rows: dict = {}
    on.read_orc_rows(data, 10, 20, metrics=rows)
    assert rows["index_cache_hits"] > 0


def _sparse_bloom_file(tag: str) -> bytes:
    """zlib, one key per 1000-row group: each group's bloom bitset is
    nearly all zero bits, so its stream inflates many times over."""
    n = 20_000
    t = pa.table({"k": pa.array([f"{tag}{i // 1000:04d}" for i in range(n)]),
                  "v": pa.array(np.arange(n, dtype=np.int64))})
    return on.write_orc(t, compression="zlib", row_index_stride=1000,
                        bloom_columns=("k",))


def _fill_row_indexes() -> None:
    for value, _ in list(on._memo.values()):
        if isinstance(value, on._RowIndex):
            value.stats()
            for g in range(len(value)):
                value.positions(g)


def test_memo_charges_what_it_holds(fresh_memo):
    """Each entry is charged at least the memory it keeps alive (measured
    by tracemalloc, row indexes fully decoded), so INDEX_CACHE_BYTES bounds
    memory, not key bytes."""
    import gc
    import tracemalloc

    data = _sparse_bloom_file("k")
    on.read_orc_eq(_sparse_bloom_file("w"), "k", "w0003")  # imports, caches
    on._memo.clear()
    on._memo_bytes = 0
    gc.collect()
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        m: dict = {}
        for key in ("k0003", "k0017", "absent"):
            on.read_orc_eq(data, "k", key, metrics=m)
        on.read_orc_rows(data, 0, 20_000)
        _fill_row_indexes()
        gc.collect()
        held = tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()
    (bloom_key, blooms), = [(k, v) for k, (v, _) in on._memo.items()
                            if isinstance(v, on._BloomIndex)]
    # the bloom index is the big inflation: far more bitset than key bytes
    assert sum(blooms[g][1].nbytes for g in range(len(blooms))) \
        > 20 * len(bloom_key[2])
    assert on._memo_bytes == _charged() <= on.INDEX_CACHE_BYTES
    assert held <= on._memo_bytes <= 4 * held, (held, on._memo_bytes)


def test_memo_values_are_frozen(fresh_memo):
    data = _sparse_bloom_file("k")
    ps, footer = on.parse_tail(data)
    s = footer["stripes"][0]
    sf = on._stripe_footer(data, s, ps["compression"])
    cur = on._StripeCursor(data, s, sf, ps["compression"])
    blooms = cur.blooms(1)
    with pytest.raises(ValueError, match="read-only"):
        blooms[0][1][0] = 0
    ri = cur.row_index(1)
    assert isinstance(ri.positions(0), tuple)
    assert isinstance(ri.stats(), tuple)


def test_cold_seek_decodes_only_its_entries(fresh_memo):
    """A cold read_orc_rows decodes the positions of the groups it bounds
    (g0 and g1) and no statistics; read_orc_eq adds the key column's."""
    data = _sparse_bloom_file("k")
    on.read_orc_rows(data, 5_500, 5_600)
    rows = [v for v, _ in on._memo.values() if isinstance(v, on._RowIndex)]
    assert len(rows) == 3  # struct root, k, v
    for ri in rows:
        assert [g for g in range(len(ri)) if ri._pos[g] is not None] \
            == [5, 6]
        assert ri._stats is None
    on.read_orc_eq(data, "k", "k0012")
    assert sum(ri._stats is not None for ri in rows) == 1


# --------------------------------------------- foreign writers: exact windows

def _cpp_table(n: int = 20_000) -> pa.Table:
    rng = np.random.default_rng(7)
    return pa.table({
        "k": pa.array([f"key_{i:06d}" for i in range(n)]),
        "wide": pa.array(rng.integers(-2**62, 2**62, n), pa.int64()),
        "small": pa.array(rng.integers(0, 50, n), pa.int32()),
        "n": pa.array([None if i % 7 == 0 else i * 3 for i in range(n)],
                      pa.int64()),
        "b": pa.array([None if i % 11 == 0 else bool(i % 3)
                       for i in range(n)]),
        "f": pa.array(rng.random(n)),
        "ts": pa.array([datetime.datetime(2020, 1, 1)
                        + datetime.timedelta(seconds=37 * i)
                        for i in range(n)], pa.timestamp("us")),
        "dec": pa.array([decimal.Decimal(i) / 100 for i in range(n)],
                        pa.decimal128(12, 2)),
        "lst": pa.array([list(range(i % 4)) if i % 5 else None
                         for i in range(n)], pa.list_(pa.int64())),
    })


def _cpp_file(comp: str) -> bytes:
    buf = io.BytesIO()
    po.write_table(_cpp_table(), buf, row_index_stride=1000,
                   compression=comp, compression_block_size=8192,
                   bloom_filter_columns=[0, 2], bloom_filter_fpp=0.05,
                   stripe_size=1 << 20)
    return buf.getvalue()


def _foreign_files() -> dict[str, bytes]:
    return {
        "cpp_zlib": _cpp_file("zlib"),
        "cpp_none": _cpp_file("uncompressed"),
        "spark_lz4": (FIXTURES / "spark_lz4.orc").read_bytes(),
        "spark_la_dst": (FIXTURES / "spark_la_dst.orc").read_bytes(),
    }


# decompressed_bytes of a cold read (empty memo) by the previous reader,
# which sized windows at 12 bytes a value and re-inflated every ROW_INDEX
# on each call; measured on these exact files (sha256 prefixes pinned)
_PREV_READER_BYTES = {
    "cpp_zlib": ("f5b4895b56bdf298", {
        ("eq", 0): 95649, ("eq", 10_000): 118286, ("eq", 19_999): 86824,
        ("in", (1, 19_998)): 181486, ("rows", (0, 1000)): 94662,
        ("rows", (3000, 20_000)): 577357}),
    "cpp_none": ("3b931c4fc8840412", {
        ("eq", 0): 94924, ("eq", 10_000): 80782, ("eq", 19_999): 41197,
        ("in", (1, 19_998)): 135185, ("rows", (0, 1000)): 93988,
        ("rows", (3000, 20_000)): 546562}),
    "spark_lz4": ("a4265f7b8fe3bcae", {
        ("eq", 0): 365671, ("eq", 2500): 365671, ("eq", 4999): 365671,
        ("in", (1, 4998)): 365671, ("rows", (0, 1000)): 307789,
        ("rows", (3000, 5000)): 365645}),
    "spark_la_dst": ("b27b2a9958e35652", {
        ("eq", 0): 153, ("eq", 5): 153, ("eq", 9): 153,
        ("in", (1, 8)): 153, ("rows", (0, 10)): 132}),
}


@pytest.mark.parametrize("name", list(_PREV_READER_BYTES))
def test_foreign_files_equal_full_read_and_inflate_less(name, monkeypatch):
    data = _foreign_files()[name]
    sha, prev = _PREV_READER_BYTES[name]
    assert _sha(data).startswith(sha), "writer output changed; re-measure"
    full = on.read_orc(data)
    col = full.column_names[0]
    keys = full.column(col)
    for (kind, arg), limit in prev.items():
        monkeypatch.setattr(on, "_memo", OrderedDict())
        monkeypatch.setattr(on, "_memo_bytes", 0)
        m: dict = {}
        if kind == "rows":
            got = on.read_orc_rows(data, *arg, metrics=m)
            want = full.slice(arg[0], arg[1] - arg[0])
        else:
            vals = [keys[i].as_py() for i in
                    (arg if kind == "in" else (arg,))]
            got = on.read_orc_eq(data, col, vals if kind == "in" else vals[0],
                                 metrics=m)
            want = full.filter(pc.is_in(keys, value_set=pa.array(
                vals, keys.type)))
        assert got.equals(want), (kind, arg)
        assert m["decompressed_bytes"] <= limit, (kind, arg, m)
        warm: dict = {}
        again = on.read_orc_rows(data, *arg, metrics=warm) \
            if kind == "rows" else \
            on.read_orc_eq(data, col, vals if kind == "in" else vals[0],
                           metrics=warm)
        assert again.equals(got)
        assert warm.get("decompressed_bytes", 0) <= m["decompressed_bytes"]


@pytest.mark.parametrize("comp", ["zlib", "uncompressed"])
def test_cpp_partial_group_reads_equal_full_read(comp):
    """Ranges starting and ending mid-group: the g0 skips and the run a
    recorded g1 value skip says straddles the boundary."""
    data = _cpp_file(comp)
    full = on.read_orc(data)
    for lo, hi in [(0, 1), (5, 6), (999, 1001), (1500, 1510),
                   (12_345, 12_678), (19_995, 20_000)]:
        assert on.read_orc_rows(data, lo, hi).equals(
            full.slice(lo, hi - lo)), (comp, lo, hi)


# -------------------------------------------------- chunk-parallel inflate

def _mixed_stream(n_chunks: int = 300) -> tuple[bytes, bytes]:
    """(a zlib ORC stream of 3000-byte chunks, every third one random and
    so stored original, the others deflated; its plain bytes)."""
    from goorc_spark.codecs import chunk

    rng = np.random.default_rng(7)
    plain = b"".join(rng.bytes(3000) if i % 3 == 0 else b"row%05d;" % i * 375
                     for i in range(n_chunks))
    return chunk.compress(plain, "zlib", 3000), plain


def test_truncated_chunks_raise():
    """A chunk cut off by the end of its stream is an error, not short
    output: a stored chunk that claims more bytes than are left, a
    deflate chunk whose deflate stream ends early (whole and windowed
    inflates) and a cut-off header."""
    import zlib

    stored = bytes(((100 << 1) | 1, 0, 0)) + b"x" * 10
    with pytest.raises(ValueError, match="offset 0 claims 100 bytes"):
        on._decompress(stored, on.COMP_ZLIB)
    deflated = zlib.compress(np.random.default_rng(3).bytes(4000), 6)[2:-4]
    cut = deflated[:len(deflated) // 2]
    h = len(cut) << 1
    bad = bytes((h & 255, (h >> 8) & 255, (h >> 16) & 255)) + cut
    good, _ = _mixed_stream()
    with pytest.raises(ValueError, match="offset 0 does not inflate"):
        on._decompress(bad, on.COMP_ZLIB)
    with pytest.raises(ValueError, match="offset 0 ends before"):
        on._decompress(bad, on.COMP_ZLIB, limit=1 << 20)
    with pytest.raises(ValueError, match=f"offset {len(good)} does not"):
        on._decompress(good + bad, on.COMP_ZLIB)
    with pytest.raises(ValueError, match="header at offset 0 is cut off"):
        on._decompress(b"\x08\x00", on.COMP_ZLIB)


def test_seek_windows_inflate_the_rest_of_the_stream():
    """Windows start at a chunk and pass the rest of the stream: they stop
    inside a chunk at `limit`, or `nbytes` into the chunk at `upto`."""
    stream, plain = _mixed_stream(40)
    starts, off, pos = [], 0, 0
    while off < len(stream):
        original, body, nxt = on._chunk_at(memoryview(stream), off)
        starts.append((off, pos))
        pos += len(body) if original else len(zlib_inflate(body))
        off = nxt
    for (c0, p0), (c1, p1) in zip(starts, starts[2:]):
        # a stored chunk is appended whole: windows are prefixes at least
        # as long as asked for
        rest = stream[c0:]
        got = on._decompress(rest, on.COMP_ZLIB, limit=777)
        assert len(got) >= 777 and plain.startswith(got, p0)
        got = on._decompress(rest, on.COMP_ZLIB, upto=(c1 - c0, 5))
        assert len(got) >= p1 + 5 - p0 and plain.startswith(got, p0)


def zlib_inflate(body) -> bytes:
    import zlib

    return zlib.decompress(body, -15)


def test_metrics_same_at_every_pool_width(monkeypatch):
    """decompressed_bytes is counted on the calling thread: a read whose
    stream inflates fan out reports what a serial read reports."""
    t = _pinned_table()
    data = on.write_orc(t, stripe_rows=1500, block_size=4096)
    monkeypatch.setattr(on, "PARALLEL_INFLATE_BYTES", 1024)
    got = {}
    for w in (1, 4):
        _width(monkeypatch, w)
        monkeypatch.setattr(on, "_memo", OrderedDict())
        monkeypatch.setattr(on, "_memo_bytes", 0)
        m: dict = {}
        tbl = on.read_orc_eq(data, "conv_id", t.column("conv_id")[7].as_py(),
                             metrics=m)
        got[w] = (m, tbl)
    assert got[1][0] == got[4][0]
    assert got[1][0]["decompressed_bytes"] > 4 * 1024
    assert got[1][1].equals(got[4][1]) and got[1][1].num_rows > 0


def test_library_jobs_inline_in_spark_tasks(spark, tmp_path):
    """write_orc_files and read_orc_stripes tasks run their deflates and
    inflates inline: no executor Python worker starts a fan-out pool."""
    t = pa.Table.from_pandas(
        __import__("goorc_spark.transcripts", fromlist=["x"])
        .synthesize_pandas(n_convs=200, seed=3), preserve_index=False)
    path = str(tmp_path / "orc")
    on.write_orc_files(spark.createDataFrame(t.to_pandas()).repartition(4),
                       path, row_index_stride=1000)
    back = on.read_orc_stripes(spark, path + "/*.orc").collect()
    assert len(back) == t.num_rows

    def probe(batches):
        import threading

        for _ in batches:
            names = [th.name for th in threading.enumerate()
                     if th.name.startswith("goorc-fanout")]
            yield pa.RecordBatch.from_pydict(
                {"n": pa.array([len(names)], pa.int64())})

    rows = spark.range(16).repartition(8).mapInArrow(probe, "n long") \
        .collect()
    assert rows and {r.n for r in rows} == {0}


# ------------------------------------------------------------ NULL values

def test_read_orc_eq_null_values():
    n = 3000
    t = pa.table({
        "s": pa.array([None if i % 9 == 0 else f"k{i % 300:03d}"
                       for i in range(n)]),
        "x": pa.array([None if i % 7 == 0 else i % 500 for i in range(n)],
                      pa.int64()),
        "v": pa.array(np.arange(n, dtype=np.int64)),
    })
    data = on.write_orc(t, stripe_rows=1000, row_index_stride=250,
                        bloom_columns=("s", "x"))
    for col, present in (("s", "k010"), ("x", 10)):
        for value in (None, [None], (None, None)):
            m: dict = {}
            got = on.read_orc_eq(data, col, value, metrics=m)
            assert got.num_rows == 0 and got.schema == on.read_orc(
                data).schema, (col, value)
            assert "decompressed_bytes" not in m and "groups_total" not in m
            proj = on.read_orc_eq(data, col, value, columns=["v"])
            assert proj.num_rows == 0 and proj.column_names == ["v"]
        got = on.read_orc_eq(data, col, [present, None])
        want = t.filter(pc.equal(t.column(col), present))
        assert got.cast(want.schema).equals(want), col
        assert got.num_rows > 0


# ---------------------------------------------------------------- tooling

def test_orc_meta_index_smoke(tmp_path):
    own = tmp_path / "own.orc"
    own.write_bytes(on.write_orc(_pinned_table(), row_index_stride=300,
                                 bloom_columns=("conv_id",)))
    for path, bloom in ((FIXTURES / "spark_lz4.orc", False), (own, True)):
        out = subprocess.run(
            [sys.executable, str(REPO / "tools" / "orc_meta.py"), str(path),
             "--index", "--streams", "--stats"],
            capture_output=True, text=True, check=True, timeout=120).stdout
        assert "row index (stride" in out
        assert "entries, positions[0:3]=[[" in out
        assert ("bloom filters" in out) == bloom
