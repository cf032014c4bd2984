"""The native ORC zlib inflate behind _StripeCursor.

A whole-stripe read inflates each zlib data stream with one GIL-free
native call per chunk range (_native.orc_inflate), started on the
_fanout pool when the cursor is made. Against the Python _decompress it
must give the same bytes, raise the same errors, fall back to it when a
chunk inflates past the bound it was given, and count the same
decompressed bytes — at pool width 1 and 4.
"""

from __future__ import annotations

import io
import zlib
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.orc as po
import pytest

from goorc_spark import _fanout
from goorc_spark import orc_native as on
from goorc_spark.codecs import _native, chunk
from test_orc_native import _pinned_table

# the rest also pass on the Python path (GOORC_NATIVE=0, no zlib build)
needs_kernel = pytest.mark.skipif(not _native.has_inflate(),
                                  reason="no native zlib inflate kernel")

WIDTHS = [1, 4]


@pytest.fixture(params=WIDTHS, ids=lambda w: f"width{w}")
def width(request, monkeypatch):
    monkeypatch.setattr(_fanout, "pool_width", lambda: request.param)
    return request.param


def _python_only(monkeypatch) -> None:
    monkeypatch.setattr(_native, "has_inflate", lambda: False)


def _header(n: int, original: bool) -> bytes:
    h = (n << 1) | original
    return bytes((h & 255, (h >> 8) & 255, h >> 16))


def _fuzz_streams(seed: int = 11) -> list[bytes]:
    """zlib ORC streams: deflate and stored chunks of random sizes (a
    chunk that does not shrink is stored), one chunk, and none."""
    rng = np.random.default_rng(seed)
    out = [b"", chunk.compress(b"x" * 5000, "zlib", 8192)]
    for _ in range(25):
        block = int(rng.choice([512, 4096, 65536]))
        parts = []
        for _ in range(int(rng.integers(1, 40))):
            n = int(rng.integers(0, 3 * block))
            parts.append(rng.bytes(n) if rng.random() < 0.3
                         else bytes(rng.integers(0, 4, n, dtype=np.uint8)))
        out.append(chunk.compress(b"".join(parts), "zlib", block))
    return out


def _cursor(stream: bytes, block: int, jobs) -> on._StripeCursor:
    """A cursor over one stripe holding `stream` as column 1's DATA."""
    sf = {"streams": [{"column": 1, "kind": on.DATA,
                       "length": len(stream)}],
          "encodings": [{"kind": on.ENC_DIRECT_V2}] * 2}
    return on._StripeCursor(stream, {"offset": 0}, sf, on.COMP_ZLIB,
                            block=block, jobs=jobs)


@needs_kernel
@pytest.mark.parametrize("k", [1, 3, 8])
def test_native_equals_python_on_fuzzed_streams(k):
    for i, stream in enumerate(_fuzz_streams()):
        want = on._decompress(stream, on.COMP_ZLIB)
        got = on._joined(on._inflate_parts(memoryview(stream), 1 << 16, k,
                                           on._inline))
        assert got is not None and bytes(got) == want, i


def _short_chunk_file() -> bytes:
    """A zlib file whose chunks all hold less than its block: with a row
    index, each 300-row segment of a stream ends its own chunk."""
    return on.write_orc(_pinned_table(), row_index_stride=300)


@needs_kernel
def test_short_chunks_read_like_pyarrow(monkeypatch):
    """A file whose chunks are shorter than its block reads like pyarrow's
    reader and the Python path, at width 4 with every stream in ranges."""
    monkeypatch.setattr(_fanout, "pool_width", lambda: 4)
    monkeypatch.setattr(on, "PARALLEL_INFLATE_BYTES", 1024)
    data = _short_chunk_file()
    got = on.read_orc(data)
    assert got.equals(po.ORCFile(io.BytesIO(data)).read().cast(got.schema))
    _python_only(monkeypatch)
    assert got.equals(on.read_orc(data))


def test_cursor_streams_equal_python(width):
    for i, stream in enumerate(_fuzz_streams(12)):
        with _fanout.Jobs() as jobs:
            got = _cursor(stream, 1 << 16, jobs).stream(1, on.DATA)
        assert bytes(got) == on._decompress(stream, on.COMP_ZLIB), i


def _cpp_zlib_file() -> bytes:
    buf = io.BytesIO()
    po.write_table(_pinned_table(), buf, compression="zlib",
                   compression_block_size=8192, stripe_size=1 << 16,
                   row_index_stride=500)
    return buf.getvalue()


def _files() -> dict[str, bytes]:
    t = _pinned_table()
    return {
        "cpp": _cpp_zlib_file(),
        "own": on.write_orc(t, stripe_rows=1500, block_size=4096,
                            row_index_stride=300),
        "own_plain": on.write_orc(t, block_size=1 << 16),
    }


@pytest.mark.parametrize("name", ["cpp", "own", "own_plain"])
def test_reads_equal_python_path(name, width, monkeypatch):
    """At width 4 every stream of 1 KB or more inflates as 4 ranges."""
    monkeypatch.setattr(on, "PARALLEL_INFLATE_BYTES", 1024)
    data = _files()[name]
    got = [on.read_orc(data), on.read_orc(data, columns=["conv_id", "ts"]),
           on.read_orc_rows(data, 10, 2000)]
    _python_only(monkeypatch)
    want = [on.read_orc(data), on.read_orc(data, columns=["conv_id", "ts"]),
            on.read_orc_rows(data, 10, 2000)]
    for g, w in zip(got, want):
        assert g.equals(w)


def _bad_streams() -> dict[str, tuple[bytes, str]]:
    good = chunk.compress(b"abc" * 3000, "zlib", 4096)
    deflated = zlib.compress(np.random.default_rng(3).bytes(4000), 6)[2:-4]
    cut = deflated[:len(deflated) // 2]
    return {
        "header": (good + b"\x08\x00", f"header at offset {len(good)}"),
        "body": (good + _header(100, True) + b"x" * 10,
                 f"offset {len(good)} claims 100 bytes"),
        "deflate": (good + _header(len(cut), False) + cut,
                    f"offset {len(good)} does not inflate"),
    }


@pytest.mark.parametrize("case", ["header", "body", "deflate"])
def test_bad_chunks_raise_the_python_error(case, width):
    stream, msg = _bad_streams()[case]
    with pytest.raises(ValueError, match=msg):
        on._decompress(stream, on.COMP_ZLIB)
    with pytest.raises(ValueError, match=msg):
        with _fanout.Jobs() as jobs:
            _cursor(stream, 4096, jobs).stream(1, on.DATA)
    assert _native.orc_inflate(stream, 1 << 20) is None


def test_chunk_past_its_bound_takes_the_python_path(width):
    """A chunk that inflates to more than the block size the cursor was
    given fails in the kernel and is read by the Python path."""
    plain = b"".join(b"row%06d|" % i for i in range(40_000))
    stream = chunk.compress(plain, "zlib", 64 * 1024)
    if _native.has_inflate():
        assert bytes(_native.orc_inflate(stream, len(plain))) == plain
    assert _native.orc_inflate(stream, len(plain) - 1) is None
    with _fanout.Jobs() as jobs:
        got = _cursor(stream, 1024, jobs).stream(1, on.DATA)
    assert got == plain and isinstance(got, bytes)


@pytest.mark.parametrize("block", [0, 1 << 40], ids=["zero", "huge"])
def test_unusable_block_size_takes_the_python_path(block, width):
    """A postscript block size of 0 or beyond 4 GB, or a bound too large
    to map, is no bound the kernel can use: the stream reads through
    the Python path."""
    plain = b"abc" * 50_000
    stream = chunk.compress(plain, "zlib", 64 * 1024)
    assert _native.orc_chunk_cuts(stream, block, 1) is None
    assert _native.orc_inflate(stream, 1 << 62) is None
    with _fanout.Jobs() as jobs:
        got = _cursor(stream, block, jobs).stream(1, on.DATA)
    assert got == plain


@needs_kernel
def test_started_streams_skip_index_and_unprojected_columns(monkeypatch):
    """At width 4 the cursor starts the projected columns' data streams,
    in column order, and never the ROW_INDEX or bloom streams."""
    monkeypatch.setattr(_fanout, "pool_width", lambda: 4)
    data = on.write_orc(_pinned_table(), row_index_stride=300,
                        bloom_columns=("conv_id",))
    ps, footer = on.parse_tail(data)
    stripe = footer["stripes"][0]
    sf = on._stripe_footer(data, stripe, ps["compression"])
    include = on._include_ids(footer["types"], ["conv_id", "ts"])
    with _fanout.Jobs() as jobs:
        cur = on._StripeCursor(data, stripe, sf, ps["compression"],
                               block=ps["block_size"], jobs=jobs,
                               include=include)
        started = list(cur._started)
    want = [(s["column"], s["kind"]) for s in sf["streams"]
            if s["column"] in include and s["kind"] in on._DATA_KINDS]
    assert started == sorted(want) and started
    kinds = {s["kind"] for s in sf["streams"]}
    assert {on.ROW_INDEX, on.BLOOM_FILTER_UTF8} <= kinds


def test_decompressed_bytes_unchanged(width, monkeypatch):
    data = _files()["own_plain"]
    t = _pinned_table()
    key = t.column("conv_id")[11].as_py()

    def counts():
        monkeypatch.setattr(on, "_memo", OrderedDict())
        monkeypatch.setattr(on, "_memo_bytes", 0)
        m1: dict = {}
        m2: dict = {}
        a = on.read_orc_eq(data, "conv_id", key, metrics=m1)
        b = on.read_orc_rows(data, 5, 900, metrics=m2)
        return m1, m2, a, b

    got = counts()
    _python_only(monkeypatch)
    want = counts()
    assert got[0] == want[0] and got[1] == want[1]
    assert got[0]["decompressed_bytes"] > 0
    assert got[2].equals(want[2]) and got[3].equals(want[3])


def test_read_orc_stripes_spark_task_matches_read_orc(spark, tmp_path):
    """Spark tasks (pool width 1) inflate inline through the kernel."""
    t = _pinned_table()
    path = tmp_path / "f.orc"
    path.write_bytes(on.write_orc(t, stripe_rows=1500))
    cols = ["conv_id", "turn_idx", "text"]
    got = on.read_orc_stripes(spark, str(path), columns=cols).collect()
    want = on.read_orc(path.read_bytes(), columns=cols).to_pylist()
    assert sorted(tuple(r) for r in got) == sorted(
        tuple(r.values()) for r in want)
    assert len(got) == t.num_rows


def _big_block_file(path) -> None:
    """A pyarrow zlib file with 1 MB compression blocks: its big data
    chunks inflate past ORC's default 256 KB block."""
    rng = np.random.default_rng(17)
    n = 200_000
    t = pa.table({"x": pa.array(rng.integers(0, 1 << 40, n)),
                  "s": pa.array([f"v{i % 5000:05d}-{i}" for i in range(n)])})
    po.write_table(t, str(path), compression="zlib",
                   compression_block_size=1 << 20)


def _data_streams(path) -> set[bytes]:
    data = path.read_bytes()
    ps, footer = on.parse_tail(data)
    out = set()
    for stripe in footer["stripes"]:
        sf = on._stripe_footer(data, stripe, ps["compression"])
        off = stripe["offset"]
        for s in sf["streams"]:
            if s["kind"] in on._DATA_KINDS:
                out.add(data[off:off + s["length"]])
            off += s["length"]
    return out


@needs_kernel
def test_scan_ranges_inflate_with_the_file_block_size(tmp_path, monkeypatch):
    """The read_orc_stripes task body decodes each range with its file's
    block size, so a 1 MB-block file's data streams inflate in the
    kernel and none reaches the Python _decompress; with the default
    256 KB bound they would."""
    path = tmp_path / "big_block.orc"
    _big_block_file(path)
    streams = _data_streams(path)
    assert max(map(len, streams)) > on.DEFAULT_BLOCK
    seen: list[bytes] = []
    python = on._decompress

    def spy(raw, *args, **kw):
        seen.append(bytes(raw))
        return python(raw, *args, **kw)

    monkeypatch.setattr(on, "_decompress", spy)
    types, ranges = on._stripe_plan_rows(str(path), None, None)
    assert {r["block_size"] for r in ranges} == {1 << 20}
    got = pa.Table.from_batches(list(on._scan_ranges(ranges, types, None)))
    assert not streams & set(seen)
    assert got.equals(on.read_orc(path.read_bytes()))
    default = [dict(r, block_size=on.DEFAULT_BLOCK) for r in ranges]
    list(on._scan_ranges(default, types, None))
    assert streams & set(seen)


def test_read_orc_stripes_big_blocks_match_read_orc(spark, tmp_path):
    path = tmp_path / "big_block.orc"
    _big_block_file(path)
    want = on.read_orc(path.read_bytes())
    got = on.read_orc_stripes(spark, str(path)).toArrow().cast(want.schema)
    keys = [("x", "ascending"), ("s", "ascending")]
    assert got.sort_by(keys).equals(want.sort_by(keys))
