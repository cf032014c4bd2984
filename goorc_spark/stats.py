"""Per-chunk column statistics of int, float and bool columns, computed
vectorized.

The reference's ColumnStatistics (min/max/sum/count,
/root/reference/orc/column/int.go:75-82) plus run count, monotonicity and
bit width. arrow_stripe records them as diagnostics in row group 0's
column meta; decode and pruning never read them, and no codec choice
depends on them. The statistics the string codec selector reads
(distinct ratio, lengths) are computed in arrow_stripe, which takes
MAX_STAT_STR from here.
"""

from __future__ import annotations

import numpy as np

from goorc_spark.codecs.primitives import bits_required_fast

MAX_STAT_STR = 1024  # string min/max are truncated bounds past this length


def int_stats(v: np.ndarray) -> dict:
    """v: non-null int64 values."""
    if len(v) == 0:
        return {"count": 0}
    d = np.diff(v) if len(v) > 1 else np.array([], dtype=np.int64)
    runs = int((d != 0).sum()) + 1
    mono_up = bool((d >= 0).all()) if len(d) else True
    mono_dn = bool((d <= 0).all()) if len(d) else True
    u = v.astype(np.uint64) if v.min() >= 0 else None
    bits = bits_required_fast(np.abs(v).astype(np.uint64)) if u is None else bits_required_fast(u)
    return {
        "count": int(len(v)),
        "min": int(v.min()),
        "max": int(v.max()),
        "sum": int(v.sum(dtype=np.int64)),
        "avg_run": float(len(v) / runs),
        "monotone": bool(mono_up or mono_dn),
        "bits_p50": int(np.percentile(bits, 50)),
        "bits_p90": int(np.percentile(bits, 90)),
        "bits_max": int(bits.max()),
    }


def float_stats(v: np.ndarray) -> dict:
    if len(v) == 0:
        return {"count": 0}
    return {
        "count": int(len(v)),
        "min": float(np.nanmin(v)),
        "max": float(np.nanmax(v)),
        "sum": float(np.nansum(v)),
    }


def bool_stats(v: np.ndarray) -> dict:
    return {
        "count": int(len(v)),
        "true_count": int(v.sum()),
        "false_count": int(len(v) - v.sum()),
    }
