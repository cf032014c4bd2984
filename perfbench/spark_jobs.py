"""The two Spark workloads, on `local[nproc]` with one driver process issuing
ops back to back (a closed loop with one client).

encode_write     one op = engine.encode_df at the bench stripe shape (2 MB
                 stripes, salted, hash-partitioned, rg_rows 10k), then
                 engine.write_encoded to a fresh parquet directory.
read_scan_point  over stripe tables written at setup from the same seed, one
                 round = a full decode_df scan with an all-column checksum,
                 a projected decode of (turn_idx, ts) with its checksum, and
                 POINT_READS engine.read_rows point reads against a
                 range-partitioned big-stripe layout (rg_rows 2000).

Every op's output is checked outside its timing; a miss counts as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import eventlog, harness

N_CONVS = 2000          # ~170k turns at 10..160 turns a conversation
MEGA_TURNS = 60_000     # conv 0: salted into three buckets
SALT_THRESHOLD = 50_000
BUCKET_ROWS = 25_000
STRIPE_BYTES = 2 << 20
RG_ROWS = 10_000
BIG_STRIPE_BYTES = 64 << 20
BIG_RG_ROWS = 2000
SCANS = 2               # per round of read_scan_point, each kind
POINT_READS = 2         # per round of read_scan_point
POINT_KEYS = 64
ABSENT_SHARE = 0.1
PROJ_COLS = ["turn_idx", "ts"]
SETUP_REPS = 3
DRIVER_MEMORY = "2g"    # the host has 15 GB shared with other work


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_session(trace: bool):
    from pyspark.sql import SparkSession

    work = harness.WORK
    n = cores()
    b = (SparkSession.builder.master(f"local[{n}]").appName("perfbench")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.sql.shuffle.partitions", str(2 * n))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Dderby.system.home={work}")
         .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]))
    if trace:
        log_dir = os.path.join(work, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false"))
    # every JVM spark-submit starts (the launcher too) keeps its temp and
    # perf-data files out of the host's /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def warm_workers(spark) -> None:
    """Start one Python worker per core with the codec modules imported."""

    def preload(batches):
        import goorc_spark.arrow_stripe  # noqa: F401

        yield from batches

    n = cores()
    spark.range(2 * n, numPartitions=2 * n).mapInArrow(
        preload, "id long").count()


def encode_config(n: int):
    from goorc_spark import engine

    return engine.EncodeConfig(
        key_col="conv_id", order_cols=("turn_idx",), stripe_bytes=STRIPE_BYTES,
        partitions=2 * n, run_id="bench", salt_threshold=SALT_THRESHOLD,
        bucket_rows=BUCKET_ROWS, rg_rows=RG_ROWS)


def big_config(n: int):
    from goorc_spark import engine

    return engine.EncodeConfig(
        key_col="conv_id", order_cols=("turn_idx",),
        stripe_bytes=BIG_STRIPE_BYTES, partitions=n, rg_rows=BIG_RG_ROWS,
        range_partition=True, run_id="bigstripe")


def lineage(spark, path: str):
    from pyspark.sql import functions as F

    return spark.read.parquet(path).agg(
        F.sum("n_rows").alias("rows"), F.sum("raw_bytes").alias("raw"),
        F.sum("enc_bytes").alias("enc"), F.sum("encode_ms").alias("ms"),
        F.count("*").alias("stripes")).collect()[0]


def checksum(df, cols: list[str]):
    """(rows, Σ xxhash64 over `cols`): order-independent, exact (decimal)."""
    from pyspark.sql import functions as F

    r = df.agg(F.count("*").alias("n"), F.sum(
        F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")).collect()[0]
    return r["n"], r["h"]


class Workload:
    """Setup, one measured closed loop, checks and traced extras."""

    def __init__(self, name: str, seed: int, trace: bool):
        self.name, self.seed, self.trace = name, seed, trace
        self.log = harness.OpLog()
        self.dirs = os.path.join(harness.WORK, "spark-data")
        shutil.rmtree(self.dirs, ignore_errors=True)
        os.makedirs(self.dirs)
        self.n_ops = 0

    # ---------------------------------------------------------------- setup
    def setup(self) -> dict:
        """Session and workers once; input synthesis + cache SETUP_REPS
        times (the median counts); stripe tables and warm-up once."""
        t0 = time.perf_counter()
        self.spark = make_session(self.trace)
        warm_workers(self.spark)
        session_s = time.perf_counter() - t0
        reps = []
        for _ in range(SETUP_REPS):
            s0 = time.perf_counter()
            self.prepare_data()
            reps.append(time.perf_counter() - s0)
        s0 = time.perf_counter()
        if self.name == "read_scan_point":
            self.prepare_tables()
        self.warm_up()
        once_s = time.perf_counter() - s0
        return {"session_s": session_s, "data_s": reps, "once_s": once_s}

    def prepare_data(self) -> None:
        from goorc_spark import engine, transcripts

        if getattr(self, "df", None) is not None:
            self.df.unpersist(blocking=True)
        t0 = time.perf_counter()
        self.df = transcripts.synthesize_spark(
            self.spark, n_convs=N_CONVS, seed=self.seed,
            mega_conv_turns=MEGA_TURNS).cache()
        self.n_rows = self.df.count()
        self.synthesis_s = time.perf_counter() - t0
        self.spec = engine.spec_from_schema(self.df.schema)

    def prepare_tables(self) -> None:
        from goorc_spark import engine

        df, n = self.df, cores()
        self.cols = [c["name"] for c in self.spec]
        self.want_full = checksum(df, self.cols)
        self.want_proj = checksum(df, PROJ_COLS)
        sizes = {r[0]: r[1] for r in
                 df.groupBy("conv_id").count().collect()}
        rng = np.random.default_rng(self.seed)
        keys = [f"conv-{int(i):08d}" for i in
                rng.integers(0, N_CONVS, POINT_KEYS)]
        for i in range(0, POINT_KEYS, int(1 / ABSENT_SHARE)):
            keys[i] += "x"  # sorts inside the key range, absent
        self.keys = keys
        self.want_point = {k: sizes.get(k, 0) for k in keys}
        scan_dir = os.path.join(self.dirs, "scan")
        big_dir = os.path.join(self.dirs, "big")
        engine.write_encoded(engine.encode_df(df, encode_config(n)),
                             scan_dir, mode="overwrite")
        engine.write_encoded(engine.encode_df(df, big_config(n)),
                             big_dir, mode="overwrite")
        self.scan = self.spark.read.parquet(scan_dir)
        self.big = self.spark.read.parquet(big_dir)
        stored = [lineage(self.spark, d) for d in (scan_dir, big_dir)]
        self.stored_ratio = sum(r["enc"] for r in stored) / \
            sum(r["raw"] for r in stored)

    def warm_up(self) -> None:
        """One untimed op per plan: the first run of a plan pays codegen
        and shuffle-file set-up that steady-state ops do not."""
        if self.name == "encode_write":
            path = self.encode_op()
            r = lineage(self.spark, path)
            self.want_enc = r["enc"]
            self.stored_ratio = r["enc"] / r["raw"]
            shutil.rmtree(path)
        else:
            self.full_scan()
            self.projected_scan()
            self.point_read(self.keys[0])

    # ------------------------------------------------------------------ ops
    def encode_op(self) -> str:
        from goorc_spark import engine

        path = os.path.join(self.dirs, f"enc{self.n_ops}")
        self.n_ops += 1
        engine.write_encoded(engine.encode_df(self.df, encode_config(cores())),
                             path, mode="overwrite")
        return path

    def full_scan(self):
        from goorc_spark import engine

        return checksum(engine.decode_df(self.scan, self.spec), self.cols)

    def projected_scan(self):
        from goorc_spark import engine

        return checksum(engine.decode_df(self.scan, self.spec,
                                         columns=PROJ_COLS),
                        PROJ_COLS)

    def point_read(self, key: str) -> int:
        from goorc_spark import engine

        return engine.read_rows(self.big, self.spec, "conv_id", key).count()

    # ----------------------------------------------------------------- loop
    def measure(self, seconds: float) -> None:
        log = self.log
        deadline = time.monotonic() + seconds
        i = 0
        while time.monotonic() < deadline:
            if self.name == "encode_write":
                e0, sec, path = harness.timed_call(self.encode_op)
                r = lineage(self.spark, path)  # check, outside the timing
                ok = r["rows"] == self.n_rows and r["enc"] == self.want_enc
                log.record("encode_write", e0, sec, self.n_rows, ok,
                           encode_ms=r["ms"], stripes=r["stripes"])
                if self.trace and not hasattr(self, "metas"):
                    self.metas = [json.loads(m[0]) for m in self.spark.read
                                  .parquet(path).select("meta").collect()]
                shutil.rmtree(path)
                continue
            for _ in range(SCANS):
                e0, sec, got = harness.timed_call(self.full_scan)
                log.record("full_scan", e0, sec, self.n_rows,
                           got == self.want_full)
                e0, sec, got = harness.timed_call(self.projected_scan)
                log.record("projected_scan", e0, sec, self.n_rows,
                           got == self.want_proj)
            for _ in range(POINT_READS):
                key = self.keys[i % len(self.keys)]
                i += 1
                e0, sec, got = harness.timed_call(
                    lambda: self.point_read(key))
                log.record("point_read", e0, sec, got,
                           got == self.want_point[key])

    # --------------------------------------------------------------- traced
    def pruning_layers(self) -> dict:
        """Stripe and row-group pruning of the point-read keys, untimed."""
        from goorc_spark import arrow_stripe, engine

        keys = self.keys[:8]
        metas = [json.loads(r[0])
                 for r in self.big.select("meta").collect()]
        total_b = sum(g["length"] for m in metas for g in m["row_groups"])
        sel, touched = [], []
        for k in keys:
            picks = [(m, arrow_stripe.select_row_groups(m, key_value=k) or [])
                     for m in metas]
            sel.append(sum(len(p) for _, p in picks))
            touched.append(sum(m["row_groups"][i]["length"]
                               for m, p in picks for i in p) / total_b)
        return {
            "engine.stripes_total": self.big.count(),
            "engine.stripes_after_prune": statistics.mean(
                engine.prune_stripes(self.big, key_value=k).count()
                for k in keys),
            "arrow_stripe.row_groups_selected": statistics.mean(sel),
            "arrow_stripe.row_groups_total": sum(len(m["row_groups"])
                                                 for m in metas),
            "arrow_stripe.bytes_fraction_touched": statistics.mean(touched),
        }

    def encode_layers(self) -> dict:
        ops = self.log.of("encode_write")
        busy = sum(o["encode_ms"] for o in ops) / 1000 / len(ops)
        stripes = statistics.median(o["stripes"] for o in ops)
        out = {"arrow_stripe.encode_busy_s": busy,
               "arrow_stripe.stripes": stripes,
               "arrow_stripe.rows_per_stripe": self.n_rows / stripes}
        for codec, count in harness.chosen_codecs(self.metas).items():
            out[f"selector.chosen_{codec}"] = count
        return out


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    wl = Workload(name, seed, trace)
    try:
        parts = wl.setup()
        wl.measure(seconds)
        layers = {}
        if trace:
            layers = wl.encode_layers() if name == "encode_write" \
                else wl.pruning_layers()
            layers["transcripts.synthesis_s"] = wl.synthesis_s
    finally:
        if getattr(wl, "spark", None) is not None:
            stop_session(wl.spark)
        shutil.rmtree(wl.dirs, ignore_errors=True)

    log = wl.log
    data_s = statistics.median(parts["data_s"])
    res = {
        "log": log,
        "setup_s": parts["session_s"] + data_s + parts["once_s"],
        "setup_runs_s": [parts["session_s"] + d + parts["once_s"]
                         for d in parts["data_s"]],
        "stored_bytes_per_raw_byte": wl.stored_ratio,
        "setup_parts": parts,
    }
    if name == "encode_write":
        rate = log.rate("encode_write")
        res["throughput_rows_per_s"] = rate
        res["op_p50_ms"] = log.p50("encode_write") * 1000
        res["named"] = {
            "encode_turns_per_s": (rate, "turns/s",
                                   f"{wl.n_rows} turns an op"),
            "stored_bytes_per_raw_byte": (wl.stored_ratio, "ratio",
                                          "sum enc_bytes / sum raw_bytes"),
        }
    else:
        full, proj = log.rate("full_scan"), log.rate("projected_scan")
        point = [o["sec"] for o in log.of("point_read")]
        res["throughput_rows_per_s"] = harness.geomean([full, proj])
        res["op_p50_ms"] = statistics.median(point) * 1000
        tail_s, tail_note = harness.tail(point)
        res["named"] = {
            "scan_turns_per_s": (full, "turns/s", ""),
            "projected_scan_turns_per_s": (proj, "turns/s", ""),
            "point_read_p50_s": (statistics.median(point), "s",
                                 f"n={len(point)}"),
            "point_read_tail_s": (tail_s, "s", tail_note),
        }
    if trace:
        layers.update(eventlog.summarize(
            eventlog.load(os.path.join(harness.WORK, "eventlog")), log.ops,
            point_kind="point_read"))
        if name == "encode_write":
            layers["arrow_stripe.kernel_share"] = \
                layers["arrow_stripe.encode_busy_s"] / \
                layers["engine.python_stage_run_s"]
        res["layers"] = layers
    return res
