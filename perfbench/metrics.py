"""The benchmark's metric names, units and directions — the source the
`BENCHMARK.json` lists mirror (`python3 perfbench/repeat.py --check-spec`
compares them).

End-to-end metrics are shared by every workload; each workload defines
what its op mix feeds into them (see README.md). Per-layer metrics of a
layer a workload does not run read 0.
"""

from __future__ import annotations

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("throughput_rows_per_s", "rows/s", "higher", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("stored_bytes_per_raw_byte", "ratio", "lower", 0.05),
    ("peak_rss_mb", "MB", "lower", 0.15),
]

_CODECS = ("rlev2", "fsst", "chunk", "byterle", "boolrle", "timestamps",
           "rlev2_native", "fsst_native", "timestamps_native")

# per-layer metrics carry no bound; these are better when higher, every
# other one (times, bytes, work counts) when lower
HIGHER_IS_BETTER = {
    "arrow_stripe.rows_per_stripe", "arrow_stripe.kernel_share",
    "codecs.native_loaded", "selector.fsst_chosen_per_probe",
    "trace.throughput_rows_per_s",
}

# name, unit
PER_LAYER = [
    # engine: Spark event log (traced run), per measured op
    ("engine.op_wall_s", "s"),
    ("engine.driver_s", "s"),
    ("engine.point_read_driver_s", "s"),
    ("engine.jobs", "count"),
    ("engine.executor_run_s", "s"),
    ("engine.executor_cpu_s", "s"),
    ("engine.gc_s", "s"),
    ("engine.shuffle_write_bytes", "bytes"),
    ("engine.shuffle_write_s", "s"),
    ("engine.shuffle_fetch_wait_s", "s"),
    ("engine.spill_bytes", "bytes"),
    ("engine.arrow_to_python_bytes", "bytes"),
    ("engine.arrow_from_python_bytes", "bytes"),
    ("engine.python_stage_run_s", "s"),
    ("engine.map_task_skew", "ratio"),
    ("engine.stripes_total", "count"),
    ("engine.stripes_after_prune", "count"),
    # arrow_stripe: lineage (Spark) or wrapped calls (library), per op/round
    ("arrow_stripe.encode_busy_s", "s"),
    ("arrow_stripe.stripes", "count"),
    ("arrow_stripe.rows_per_stripe", "rows"),
    ("arrow_stripe.kernel_share", "ratio"),
    ("arrow_stripe.encode_stripe_table.calls", "count"),
    ("arrow_stripe.encode_stripe_table.busy_s", "s"),
    ("arrow_stripe.decode_stripe_batch.calls", "count"),
    ("arrow_stripe.decode_stripe_batch.busy_s", "s"),
    ("arrow_stripe.stripe_col_stats.calls", "count"),
    ("arrow_stripe.stripe_col_stats.busy_s", "s"),
    ("arrow_stripe.self_s", "s"),
    ("arrow_stripe.row_groups_selected", "count"),
    ("arrow_stripe.row_groups_total", "count"),
    ("arrow_stripe.bytes_fraction_touched", "ratio"),
    # codecs: wrapped module attributes (library), per round
    *[(f"codecs.{c}.{k}", u) for c in _CODECS
      for k, u in (("calls", "count"), ("busy_s", "s"),
                   ("values_in", "count"), ("bytes_out", "bytes"))],
    ("codecs.self_s", "s"),
    ("codecs.fsst_train_per_stripe", "ratio"),
    ("codecs.native_loaded", "bool"),
    # selector: the arrow path's string-codec choice
    ("selector.calls", "count"),
    ("selector.busy_s", "s"),
    ("selector.fsst_probed", "count"),
    ("selector.fsst_chosen_per_probe", "ratio"),
    ("selector.chosen_dict", "count"),
    ("selector.chosen_fsst", "count"),
    ("selector.chosen_raw", "count"),
    # orc_native: wrapped calls and read_orc_eq(metrics=), per round
    ("orc_native.write_orc.busy_s", "s"),
    ("orc_native.read_orc.busy_s", "s"),
    ("orc_native.read_orc_eq.busy_s", "s"),
    ("orc_native.read_orc_eq.calls", "count"),
    ("orc_native.parse_tail.busy_s", "s"),
    ("orc_native.parse_tail.calls", "count"),
    ("orc_native.self_s", "s"),
    ("orc_native.groups_decoded", "count"),
    ("orc_native.groups_total", "count"),
    ("orc_native.decompressed_bytes", "bytes"),
    # transcripts
    ("transcripts.synthesis_s", "s"),
    # the traced run's own end-to-end figures: overhead = traced - untraced
    ("trace.throughput_rows_per_s", "rows/s"),
    ("trace.op_p50_ms", "ms"),
]
