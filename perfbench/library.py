"""`orc_library`: the goorc-equivalent library use — one Python process, no
JVM. Codecs and format framing do all the work.

One round of the closed loop runs, back to back:
  stripe_encode   arrow_stripe.encode_stripe_table over ~2 MB slices of the
                  table, one codec cache shared by the slices of the op
  stripe_decode   decode_stripe_batch of every blob
  orc_write       orc_native.write_orc (zlib, row index, conv_id bloom)
  orc_read        orc_native.read_orc of the whole file
  orc_read_proj   orc_native.read_orc of (turn_idx, ts)
Cheap kinds repeat within a round (*_REPS) so none is a sliver of it.
  orc_point_read  read_orc_eq on POINT_READS seeded keys, ~10% absent
"""

from __future__ import annotations

import io
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as pa_orc

from goorc_spark import arrow_stripe, orc_native, transcripts
from goorc_spark.codecs import (_native, boolrle, byterle, chunk, fsst,
                                rlev2, timestamps)
from perfbench import harness
from perfbench.tracer import Tracer

N_CONVS = 3000          # ~125k rows, ~17 MB of Arrow buffers
SLICE_BYTES = 2 << 20   # the engine's bench stripe size
RG_ROWS = 10_000
ORC_STRIDE = 1000
POINT_READS = 40
POINT_KEYS = 200
ABSENT_SHARE = 0.1
# repeats per round, so each kind gets ~0.1-0.9 s of every round
DECODE_REPS = 4
READ_REPS = 3
PROJ_REPS = 12
SETUP_REPS = 3
SPEC = transcripts.TRANSCRIPTS_SPEC
PROJ_COLS = ["turn_idx", "ts"]
BULK_KINDS = ("stripe_encode", "stripe_decode", "orc_write", "orc_read",
              "orc_read_proj")


class Inputs:
    """Everything an op needs, built from the seed; the expected outputs
    are computed here, outside any timed region."""

    def __init__(self, seed: int):
        t0 = time.perf_counter()
        pdf = transcripts.synthesize_pandas(n_convs=N_CONVS, seed=seed)
        self.synthesis_s = time.perf_counter() - t0
        self.table = pa.Table.from_pandas(pdf, preserve_index=False)
        n = self.table.num_rows
        step = max(1, int(SLICE_BYTES * n / self.table.nbytes))
        self.slices = [self.table.slice(i, step) for i in range(0, n, step)]
        self.raw_bytes = sum(s.nbytes for s in self.slices)
        self.proj = self.table.select(PROJ_COLS)
        rng = np.random.default_rng(seed)
        convs = pc.unique(self.table.column("conv_id")).to_pylist()
        keys = list(rng.choice(convs, size=POINT_KEYS))
        for i in range(0, len(keys), int(1 / ABSENT_SHARE)):
            keys[i] = keys[i] + "x"  # sorts inside the key range, absent
        self.keys = [str(k) for k in keys]
        self.expected = {k: self.table.filter(
            pc.equal(self.table.column("conv_id"), k)) for k in self.keys}
        # first encode/write fixes the bytes every later op must reproduce
        self.blobs = encode_slices(self.slices)
        self.stripe_bytes = sum(len(b) for b, _ in self.blobs)
        self.orc = write_orc(self.table)
        # warm the read paths too: first calls pay allocator and import
        # costs that steady-state ops do not
        arrow_stripe.decode_stripe_batch(*self.blobs[0])
        orc_native.read_orc(self.orc)
        orc_native.read_orc_eq(self.orc, "conv_id", self.keys[0])
        buf = io.BytesIO()
        pa_orc.write_table(self.table, buf, compression="zlib",
                           compression_block_size=256 * 1024,
                           stripe_size=64 * 1024 * 1024)
        self.pyarrow_orc_zlib_bytes = buf.getbuffer().nbytes


def encode_slices(slices) -> list[tuple[bytes, dict]]:
    cache: dict = {}
    return [arrow_stripe.encode_stripe_table(
        s, SPEC, cache=cache, rg_rows=RG_ROWS, key_col="conv_id",
        ord_col="turn_idx") for s in slices]


def write_orc(table: pa.Table) -> bytes:
    return orc_native.write_orc(table, compression="zlib",
                                row_index_stride=ORC_STRIDE,
                                bloom_columns=("conv_id",))


def _same(got: pa.Table, want: pa.Table) -> bool:
    return got.num_rows == want.num_rows and \
        got.cast(want.schema).equals(want)


def run_round(inp: Inputs, log: harness.OpLog, tr: Tracer | None,
              eq_metrics: dict, key_offset: int) -> None:
    """One pass of the op mix; each op is timed alone and checked after."""

    def op(kind: str, fn):
        if tr is None:
            return harness.timed_call(fn)
        with tr.span(f"bench.{kind}", "bench"):
            return harness.timed_call(fn)

    n = inp.table.num_rows
    e0, sec, blobs = op("stripe_encode", lambda: encode_slices(inp.slices))
    ok = sum(len(b) for b, _ in blobs) == inp.stripe_bytes
    log.record("stripe_encode", e0, sec, n, ok)
    for _ in range(DECODE_REPS):
        e0, sec, out = op("stripe_decode", lambda: [
            arrow_stripe.decode_stripe_batch(b, m) for b, m in blobs])
        ok = all(_same(pa.Table.from_batches([rb]), s)
                 for rb, s in zip(out, inp.slices))
        log.record("stripe_decode", e0, sec, n, ok)
    e0, sec, data = op("orc_write", lambda: write_orc(inp.table))
    log.record("orc_write", e0, sec, n, data == inp.orc)
    for _ in range(READ_REPS):
        e0, sec, tbl = op("orc_read", lambda: orc_native.read_orc(data))
        log.record("orc_read", e0, sec, n, _same(tbl, inp.table))
    for _ in range(PROJ_REPS):
        e0, sec, tbl = op("orc_read_proj", lambda: orc_native.read_orc(
            data, columns=PROJ_COLS))
        log.record("orc_read_proj", e0, sec, n, _same(tbl, inp.proj))
    for i in range(POINT_READS):
        key = inp.keys[(key_offset + i) % len(inp.keys)]
        e0, sec, tbl = op("orc_point_read", lambda: orc_native.read_orc_eq(
            data, "conv_id", key, metrics=eq_metrics))
        want = inp.expected[key]
        log.record("orc_point_read", e0, sec, want.num_rows,
                   _same(tbl, want))


_CODEC_WRAPS = [
    # module, attribute, codec, index of the argument counted as values in
    # (None: a decode-side or training call, no sizes)
    (rlev2, "encode", "rlev2", 0), (rlev2, "decode", "rlev2", None),
    (rlev2, "decode_prefix", "rlev2", None),
    (fsst, "train", "fsst", None), (fsst, "compress", "fsst", 0),
    (fsst, "decompress", "fsst", None),
    (chunk, "compress", "chunk", 0), (chunk, "decompress", "chunk", None),
    (byterle, "encode", "byterle", 0), (byterle, "decode", "byterle", None),
    (byterle, "decode_prefix", "byterle", None),
    (boolrle, "encode", "boolrle", 0), (boolrle, "decode", "boolrle", None),
    (boolrle, "decode_prefix", "boolrle", None),
    (timestamps, "pack_nanos", "timestamps", 0),
    (timestamps, "unpack_nanos", "timestamps", None),
    (_native, "rlev2_encode", "rlev2_native", 0),
    (_native, "rlev2_decode", "rlev2_native", None),
    (_native, "fsst_compress", "fsst_native", 1),
    (_native, "fsst_decompress", "fsst_native", None),
    (_native, "pack_nanos", "timestamps_native", 0),
]


def install_tracer() -> tuple[Tracer, dict]:
    tr = Tracer()
    sel = {"probes": 0, "fsst": 0}

    def on_fsst_compress(_st, _out):
        if tr.active("selector"):
            sel["probes"] += 1

    def on_selector(_st, out):
        sel["fsst"] += out == "fsst"

    for module, attr, codec, size_arg in _CODEC_WRAPS:
        tr.wrap(module, attr, f"codecs.{codec}.{attr}", "codecs",
                size_arg=size_arg,
                on_result=on_fsst_compress
                if (module, attr) == (fsst, "compress") else None)
    tr.wrap(arrow_stripe, "_select_codec_arrow", "selector", "selector",
            on_result=on_selector)
    for attr in ("encode_stripe_table", "decode_stripe_batch",
                 "stripe_col_stats"):
        tr.wrap(arrow_stripe, attr, f"arrow_stripe.{attr}", "arrow_stripe")
    for attr in ("write_orc", "read_orc", "read_orc_eq", "parse_tail"):
        tr.wrap(orc_native, attr, f"orc_native.{attr}", "orc_native")
    return tr, sel


def layer_metrics(tr: Tracer, sel: dict, rounds: int, eq_metrics: dict,
                  metas: list[dict]) -> dict:
    per = 1 / rounds
    m: dict = {}
    codec_totals: dict[str, list[float]] = {}
    for name, st in tr.stats.items():
        if st.layer == "codecs":
            codec = name.split(".")[1]
            t = codec_totals.setdefault(codec, [0, 0.0, 0, 0])
            t[0] += st.calls
            t[1] += st.self_s
            t[2] += st.n_in
            t[3] += st.n_out
    for codec, (calls, busy, vin, bout) in codec_totals.items():
        m[f"codecs.{codec}.calls"] = calls * per
        m[f"codecs.{codec}.busy_s"] = busy * per
        m[f"codecs.{codec}.values_in"] = vin * per
        m[f"codecs.{codec}.bytes_out"] = bout * per

    def stat(name):
        return tr.stats.get(name)

    for name in ("arrow_stripe.encode_stripe_table",
                 "arrow_stripe.decode_stripe_batch",
                 "arrow_stripe.stripe_col_stats",
                 "orc_native.read_orc_eq", "orc_native.parse_tail"):
        m[f"{name}.calls"] = stat(name).calls * per if stat(name) else 0
    for name in ("arrow_stripe.encode_stripe_table",
                 "arrow_stripe.decode_stripe_batch",
                 "arrow_stripe.stripe_col_stats", "orc_native.write_orc",
                 "orc_native.read_orc", "orc_native.read_orc_eq",
                 "orc_native.parse_tail"):
        m[f"{name}.busy_s"] = stat(name).busy_s * per if stat(name) else 0
    layers = tr.layer_self_s()
    for layer in ("arrow_stripe", "codecs", "orc_native"):
        m[f"{layer}.self_s"] = layers.get(layer, 0.0) * per
    enc = stat("arrow_stripe.encode_stripe_table")
    train = stat("codecs.fsst.train")
    m["arrow_stripe.encode_busy_s"] = enc.busy_s * per
    m["arrow_stripe.stripes"] = len(metas)
    m["arrow_stripe.rows_per_stripe"] = statistics.mean(
        meta["n_rows"] for meta in metas)
    m["codecs.fsst_train_per_stripe"] = \
        (train.calls if train else 0) / enc.calls
    s = stat("selector")
    m["selector.calls"] = s.calls * per if s else 0
    m["selector.busy_s"] = s.busy_s * per if s else 0
    m["selector.fsst_probed"] = sel["probes"] * per
    m["selector.fsst_chosen_per_probe"] = \
        sel["fsst"] / sel["probes"] if sel["probes"] else 0
    for codec, count in harness.chosen_codecs(metas).items():
        m[f"selector.chosen_{codec}"] = count
    for k in ("groups_decoded", "groups_total", "decompressed_bytes"):
        m[f"orc_native.{k}"] = eq_metrics.get(k, 0) * per
    return m


def run(seed: int, seconds: float, trace: bool) -> dict:
    setups = []
    for _ in range(SETUP_REPS):  # whole set-up, median reported
        s0 = time.perf_counter()
        inp = Inputs(seed)
        setups.append(time.perf_counter() - s0)

    tr = sel = None
    if trace:
        tr, sel = install_tracer()
    log = harness.OpLog()
    eq_metrics: dict = {}
    rounds = 0
    deadline = time.monotonic() + seconds
    try:
        while time.monotonic() < deadline:
            run_round(inp, log, tr, eq_metrics, rounds * POINT_READS)
            rounds += 1
    finally:
        if tr is not None:
            tr.restore()

    rates = {k: log.rate(k) for k in BULK_KINDS}
    kinds = BULK_KINDS + ("orc_point_read",)
    point = [o["sec"] for o in log.of("orc_point_read")]
    metas = [m for _, m in inp.blobs]
    tail_s, tail_note = harness.tail(point)
    out = {
        "log": log,
        "setup_s": statistics.median(setups),
        "setup_runs_s": setups,
        "throughput_rows_per_s": harness.geomean(list(rates.values())),
        # the geometric mean of every kind's median latency: an 8 ms point
        # read alone followed host phases by up to 30% between runs
        "op_p50_ms": harness.geomean([log.p50(k) for k in kinds]) * 1000,
        "stored_bytes_per_raw_byte": inp.stripe_bytes / inp.raw_bytes,
        "named": {
            "stripe_encode_rows_per_s": (rates["stripe_encode"], "rows/s", ""),
            "stripe_decode_rows_per_s": (rates["stripe_decode"], "rows/s", ""),
            "orc_write_rows_per_s": (rates["orc_write"], "rows/s", ""),
            "orc_read_rows_per_s": (rates["orc_read"], "rows/s", ""),
            "orc_read_projected_rows_per_s": (rates["orc_read_proj"],
                                              "rows/s", ""),
            "orc_point_read_p50_ms": (statistics.median(point) * 1000, "ms",
                                      f"n={len(point)}"),
            "orc_point_read_tail_ms": (
                None if tail_s is None else tail_s * 1000, "ms", tail_note),
            "stripe_size_vs_orc_zlib": (
                inp.stripe_bytes / inp.pyarrow_orc_zlib_bytes, "ratio",
                "pyarrow ORC zlib bytes of the same table"),
        },
    }
    if trace:
        layers = layer_metrics(tr, sel, rounds, eq_metrics, metas)
        layers["transcripts.synthesis_s"] = inp.synthesis_s
        out["layers"] = layers
        out["layer_table"] = [
            (name, st.layer, st.calls, st.busy_s, st.self_s)
            for name, st in sorted(tr.stats.items(),
                                   key=lambda kv: -kv[1].self_s)]
    return out
