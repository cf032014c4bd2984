"""The stripe writer's kernels run beside its column walk.

`arrow_stripe.encode_stripe_table` walks the columns on the calling thread
and hands each FSST compress and each large `chunk.compress` to the
`_fanout` pool as soon as its payload exists; the blob is stitched in
stream order at the end. Bytes and meta must not depend on the pool width,
a failing walk must leave no job running, and Spark tasks run every job
inline.
"""

from __future__ import annotations

import json
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pytest

from goorc_spark import _fanout, arrow_stripe, selector, transcripts
from goorc_spark.codecs import chunk, fsst
from test_orc_native import _deep_nulls_table

DEEP_SPEC = [
    {"name": "flag", "kind": "bool"},
    {"name": "st", "kind": "struct", "children": [
        {"name": "a", "kind": "int"},
        {"name": "tags", "kind": "list",
         "child": {"name": "item", "kind": "string"}}]},
    {"name": "los", "kind": "list", "child": {
        "name": "item", "kind": "struct", "children": [
            {"name": "x", "kind": "long"}, {"name": "ok", "kind": "bool"}]}},
    {"name": "mp", "kind": "map", "key": {"name": "key", "kind": "string"},
     "value": {"name": "value", "kind": "list",
               "child": {"name": "item", "kind": "double"}}},
]
SPEC = transcripts.TRANSCRIPTS_SPEC + DEEP_SPEC + [
    {"name": "tag", "kind": "string"}]
# the tag column is dictionary-coded until its cardinality passes this
DICT_MAX = 256


def _stripes() -> list[pa.Table]:
    """Three stripes of one partition: transcripts text (FSST), nested
    columns with nulls at every level, and a tag column.
    - stripe 1's text is CJK noise the cached FSST table cannot shrink,
      so it falls back to the stored original;
    - stripe 2's tag column blows past DICT_MAX distinct values, so the
      cached dict choice is re-selected."""
    out = []
    rng = np.random.default_rng(41)
    for i in range(3):
        t = pa.Table.from_pandas(
            transcripts.synthesize_pandas(n_convs=150, seed=i + 1),
            preserve_index=False).replace_schema_metadata(None)
        n = t.num_rows
        if i == 1:
            noise = [None if j % 17 == 0 else "".join(
                chr(0x4E00 + int(c)) for c in rng.integers(0, 20000, 40))
                for j in range(n)]
            t = t.set_column(t.schema.get_field_index("text"), "text",
                             pa.array(noise, pa.string()))
        deep = _deep_nulls_table(n)
        for name in [c["name"] for c in DEEP_SPEC]:
            t = t.append_column(name, deep.column(name))
        tags = [f"tag{j}" if i == 2 else f"tag{j % 40}" for j in range(n)]
        out.append(t.append_column("tag", pa.array(tags)))
    return out


def _encode_all(stripes, rg_rows) -> list[tuple[bytes, str]]:
    cache: dict = {}
    return [(blob, json.dumps(meta, default=str)) for blob, meta in (
        arrow_stripe.encode_stripe_table(
            t, SPEC, cache=cache, rg_rows=rg_rows, key_col="conv_id",
            ord_col="turn_idx")
        for t in stripes)]


def _width(monkeypatch, n: int) -> None:
    monkeypatch.setattr(_fanout, "pool_width", lambda: n)


def _codecs(meta: dict, name: str) -> list[str]:
    """The codec column `name` got in each row group of a stripe."""
    return [c["codec"] for g in meta.get("row_groups") or [meta]
            for c in g["columns"] if c["name"] == name]


@pytest.mark.parametrize("rg_rows", [None, 2000])
def test_encode_bytes_independent_of_pool_width(monkeypatch, rg_rows):
    monkeypatch.setattr(selector, "DICT_MAX_ENTRIES", DICT_MAX)
    threads: list[str] = []  # where each chunk.compress ran
    inner = chunk.compress

    def traced(*args, **kwargs):
        threads.append(threading.current_thread().name)
        return inner(*args, **kwargs)

    monkeypatch.setattr(chunk, "compress", traced)
    stripes = _stripes()
    got = {}
    for width in (1, 4):
        _width(monkeypatch, width)
        threads.clear()
        got[width] = _encode_all(stripes, rg_rows)
        on_pool = sum(n.startswith("goorc-fanout") for n in threads)
        assert (on_pool > 0) == (width > 1), (width, on_pool)
    assert got[1] == got[4]
    metas = [json.loads(m) for _, m in got[4]]
    # the cases the walk must resolve at stitch time really occur
    assert set(_codecs(metas[0], "text")) == {"fsst"}
    assert set(_codecs(metas[1], "text")) == {"raw"}  # stored original
    tags = [c for m in metas for c in _codecs(m, "tag")]
    assert tags[0] == "dict" and tags[-1] != "dict"
    for (blob, meta), t in zip(got[4], stripes):
        rb = arrow_stripe.decode_stripe_batch(blob, json.loads(meta))
        for name in t.schema.names:
            assert rb.column(name).cast(t.schema.field(name).type) \
                .equals(t.column(name).combine_chunks()), (rg_rows, name)


def test_failed_walk_drains_its_jobs(monkeypatch):
    """A column that raises after earlier columns submitted their jobs:
    the error reaches the caller, and by then every job has finished."""
    _width(monkeypatch, 4)
    running = [0]
    started = [0]
    lock = threading.Lock()
    inner = chunk.compress

    def slow(*args, **kwargs):
        if not threading.current_thread().name.startswith("goorc-fanout"):
            return inner(*args, **kwargs)  # inline: keep the walk going
        with lock:
            running[0] += 1
            started[0] += 1
        try:
            time.sleep(0.2)
            return inner(*args, **kwargs)
        finally:
            with lock:
                running[0] -= 1

    monkeypatch.setattr(chunk, "compress", slow)
    t = _stripes()[0]
    bad = SPEC + [{"name": "turn_idx", "kind": "no_such_kind"}]
    with pytest.raises(NotImplementedError, match="no_such_kind"):
        arrow_stripe.encode_stripe_table(t, bad, rg_rows=2000)
    assert started[0] > 0
    assert running[0] == 0


def test_failed_job_propagates(monkeypatch):
    """An FSST job that raises on a pool thread fails the encode."""
    _width(monkeypatch, 4)
    where = []

    def boom(data, table):
        where.append(threading.current_thread().name)
        raise RuntimeError("kernel failed")

    monkeypatch.setattr(fsst, "compress", boom)
    with pytest.raises(RuntimeError, match="kernel failed"):
        arrow_stripe.encode_stripe_table(
            _stripes()[0], [{"name": "text", "kind": "string"}],
            cache={("codec", "text"): "fsst"}, rg_rows=2000)
    assert where and all(w.startswith("goorc-fanout") for w in where)


def test_jobs_keep_order_and_run_inline_in_workers(monkeypatch):
    _width(monkeypatch, 4)
    with _fanout.Jobs() as jobs:
        handles = [jobs.submit(lambda x: x * x, i) for i in range(50)]
        assert [h.result() for h in handles] == [i * i for i in range(50)]

    def nested(i):
        with _fanout.Jobs() as inner:
            h = inner.submit(threading.current_thread)
            return h.result() is threading.current_thread()

    assert _fanout.fan_out(nested, list(range(8))) == [True] * 8


def test_encode_jobs_run_inline_in_a_spark_task(spark):
    """Inside a mapInArrow task the pool width is the task's CPU share
    (1), so every compress runs on the task's own thread."""
    def encode_in_task(batches):
        import threading as th

        from goorc_spark import arrow_stripe as ast, transcripts as tx
        from goorc_spark.codecs import chunk as ck

        for _ in batches:
            pass
        me, seen = th.current_thread(), []
        inner = ck.compress

        def traced(*args, **kwargs):
            seen.append(th.current_thread() is me)
            return inner(*args, **kwargs)

        ck.compress = traced
        try:
            t = pa.Table.from_pandas(
                tx.synthesize_pandas(n_convs=120, seed=5),
                preserve_index=False)
            ast.encode_stripe_table(t, tx.TRANSCRIPTS_SPEC, rg_rows=2000)
        finally:
            ck.compress = inner
        yield pa.RecordBatch.from_pydict(
            {"calls": pa.array([len(seen)], pa.int64()),
             "inline": pa.array([all(seen)])})

    rows = (spark.range(1, numPartitions=1)
            .mapInArrow(encode_in_task, "calls long, inline boolean")
            .collect())
    assert rows[0]["calls"] > 0 and rows[0]["inline"] is True


def test_compiled_fsst_table_shared_by_threads():
    """One compiled table (as the codec cache shares it) used by 8
    threads at once gives the bytes of a serial loop."""
    t = pa.Table.from_pandas(transcripts.synthesize_pandas(n_convs=60,
                                                           seed=9),
                             preserve_index=False)
    texts = [s.encode() for s in t.column("text").to_pylist()]
    parts = [b"".join(texts[i::16]) for i in range(16)]
    table = fsst.compile_table(fsst.train(parts[0]))
    want = [fsst.compress(p, fsst.compile_table(table.table))
            for p in parts]
    fresh = fsst.compile_table(table.table)  # never used before
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        got: dict = {}
        barrier = threading.Barrier(8, timeout=60)

        def work(k):
            barrier.wait()
            got[k] = [fsst.compress(p, fresh) for p in parts]

        threads = [threading.Thread(target=work, args=(k,))
                   for k in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
            assert not th.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert all(got[k] == want for k in range(8))
