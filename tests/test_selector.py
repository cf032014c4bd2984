"""Codec auto-selector stress fixtures (FIXTURES.md §6) — the component the
reference lacks (static per-column encoding; SURVEY.md §4)."""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from goorc_spark import arrow_stripe
from goorc_spark.codecs import rlev2


def _sub_hist(values, signed=True):
    info = {}
    rlev2.encode(np.asarray(values), signed=signed, info=info)
    return info


def test_sel_monotone_picks_delta():
    v = np.cumsum(np.random.default_rng(0).integers(1, 9, 2000))
    hist = _sub_hist(v)
    assert set(hist) == {"delta"}


def test_sel_constant_short_run_picks_short_repeat():
    assert set(_sub_hist(np.full(8, 42))) == {"short_repeat"}


def test_sel_constant_long_run_picks_fixed_delta():
    assert set(_sub_hist(np.full(400, 42))) == {"delta"}


def test_sel_skewed_picks_patched_base():
    rng = np.random.default_rng(1)
    v = rng.integers(0, 50, 512)
    v[rng.choice(512, 20, replace=False)] = 10**10
    hist = _sub_hist(np.asarray(v, dtype=np.int64))
    assert "patched_base" in hist


def test_sel_random_wide_picks_direct():
    rng = np.random.default_rng(2)
    v = rng.integers(-(2**60), 2**60, 512)
    hist = _sub_hist(v)
    assert set(hist) == {"direct"}


def _string_codec(values, policy="balanced"):
    """The codec the stripe writer's selector picks for a string column."""
    vals = pa.array(values, pa.string())
    contents, lengths = arrow_stripe._varwidth_parts(vals)
    st = arrow_stripe._string_stats_arrow(vals, lengths,
                                          pc.dictionary_encode(vals))
    return arrow_stripe._select_codec_arrow(contents, st, policy)


def test_sel_low_card_string_picks_dict():
    vals = [f"tool-{i % 17}" for i in range(10_000)]
    assert _string_codec(vals) == "dict"


def test_sel_long_text_picks_fsst():
    base = ("select sum(value) from events where event_type = 'purchase' "
            "group by user_id order by 1 desc; ")
    vals = [base * 8 + f"q{i}" for i in range(600)]
    assert _string_codec(vals) == "fsst"


def test_sel_unique_short_strings_pick_raw():
    rng = np.random.default_rng(3)
    vals = ["".join(chr(int(c)) for c in rng.integers(33, 127, 10))
            for _ in range(2000)]
    assert _string_codec(vals) == "raw"
