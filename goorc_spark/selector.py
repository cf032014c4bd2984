"""Per-stripe codec auto-selector.

The component the reference lacks (its encoding choice is static per column,
set by the caller before writing — /root/reference/orc/column/package.go:
224-235). Here each column chunk picks its codec from vectorized stats plus
a trial-compression probe on a small sample, per the north rule (the
string chooser is arrow_stripe._select_codec_arrow; the thresholds live
here):

- strings: DICTIONARY when the distinct ratio is low (the classic ~0.5-0.8
  distinct-ratio rule ORC-Java uses and the reference omits), else FSST for
  long repeated-substring text when a sample probe shows real gain, else
  raw contents.
- integers/timestamps: RLEv2, whose internal greedy chooser (short-repeat /
  delta / patched-base FoR / direct bit-pack) IS the per-run selector; the
  chosen sub-encodings are reported back into stripe metadata.
"""

from __future__ import annotations

DICT_MAX_RATIO = 0.5
DICT_MAX_ENTRIES = 1 << 16
FSST_MIN_AVG_LEN = 16.0
FSST_SAMPLE_BYTES = 1 << 15

# policy -> FSST gain threshold on the trial probe (sample must compress
# below this fraction to be worth FSST's CPU cost). "fast" never probes;
# "compact" accepts any real gain; "balanced" (default with the zstd outer
# layer) wants a strong win because zstd alone already compresses well.
POLICIES = ("fast", "balanced", "compact")
_FSST_GAIN = {"balanced": 0.45, "compact": 0.9}
