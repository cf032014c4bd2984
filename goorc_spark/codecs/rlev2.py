"""ORC RLEv2 integer codec: SHORT_REPEAT / DIRECT / PATCHED_BASE / DELTA,
with the greedy per-run sub-encoding chooser.

Implemented from the public ORC v1 run-length-encoding-v2 specification and
pinned by the reference's published byte-exact unit vectors (ported in
tests/test_rlev2.py; sources: /root/reference/orc/encoding/encoding_test.go:
244-537 — delta primes, direct deadbeef, patched-base 20-value w/ outlier,
short-repeat 5x10000). Encoding is fully vectorized numpy per <=512-value
run block; the Python loop is per block only.

Chooser (mirrors the greedy order the reference uses — head-repeat, then
monotonic delta, then patched-base for skewed signed data, else direct):
  1. leading run of >=3 equal values: SHORT_REPEAT if <=10 else fixed DELTA
  2. monotonic prefix: DELTA (fixed-width literals of |diff|)
  3. otherwise whole block is literals: PATCHED_BASE when signed and the
     bit-width histogram shows a skewed range (p100 width > p90 width),
     else DIRECT.
"""

from __future__ import annotations

import numpy as np

from goorc_spark.codecs import _native, bitpack
from goorc_spark.codecs.primitives import (
    bits_required_fast,
    closest_width,
    code_to_width,
    aligned_width,
    decode_svarints,
    decode_uvarints,
    svarint1,
    unzigzag,
    uvarint1,
    width_to_code,
    zigzag,
)

# a single RLEv2 run never holds more than 512 values (DIRECT/PATCHED/
# DELTA length field is 9 bits + 1; SHORT_REPEAT <= 10), so decoding into
# count+MAX_RUN slots can never overflow even when the last run overshoots
MAX_RUN = 512
MIN_REPEAT = 3
MAX_SHORT_REPEAT = 10
MIN_DELTA_RUN = 5  # shorter monotonic prefixes go to direct/patched literals

_SHORT_REPEAT = 0
_DIRECT = 1
_PATCHED_BASE = 2
_DELTA = 3


# ---------------------------------------------------------------- encode --


SUB_NAMES = ("short_repeat", "direct", "patched_base", "delta")


def encode(values, signed: bool = True, info: dict | None = None) -> bytes:
    """Encode an integer vector to RLEv2 bytes.

    If `info` is a dict, per-sub-encoding run counts are accumulated into it
    (keys: short_repeat/direct/patched_base/delta) — surfaced in stripe
    metadata so the codec auto-selection is observable.
    """
    if signed:
        v = np.asarray(values, dtype=np.int64)
    else:
        v = np.asarray(values, dtype=np.uint64)
    # C fast path (byte-identical chooser + writers; tests/test_native.py
    # pins equality against the numpy path below on fuzz + goorc vectors)
    nat = _native.rlev2_encode(v, signed, info)
    if nat is not None:
        return nat
    out = bytearray()
    pos = 0
    while pos < len(v):
        mark = len(out)
        pos += _encode_block(out, v[pos : pos + MAX_RUN], signed)
        if info is not None and len(out) > mark:
            sub = SUB_NAMES[out[mark] >> 6]
            info[sub] = info.get(sub, 0) + 1
    return bytes(out)


def encode_segments(values, cuts, signed: bool = True) -> list[bytes]:
    """[encode(values[a:b], signed) for each segment [a, b) between
    consecutive `cuts`]: the encoder restarts at every cut. With the
    native kernels loaded this is one call for all the segments."""
    v = np.asarray(values, dtype=np.int64 if signed else np.uint64)
    cuts = np.asarray(cuts, dtype=np.int64)
    if len(cuts) == 0 or cuts[0] < 0 or cuts[-1] > len(v) \
            or (np.diff(cuts) < 0).any():
        raise ValueError("rlev2 segment cuts must be a non-empty, "
                         f"non-decreasing run within [0, {len(v)}]")
    nat = _native.rlev2_encode_segments(v, cuts, signed)
    if nat is not None:
        return nat
    bounds = cuts.tolist()
    return [encode(v[a:b], signed) for a, b in zip(bounds[:-1], bounds[1:])]


def _encode_block(out: bytearray, block, signed: bool) -> int:
    """Encode one run from the head of `block` (<= MAX_RUN values); returns
    how many values it consumed."""
    n = len(block)
    if n == 1:
        # a lone trailing value: short-repeat needs count>=3, so DIRECT of 1
        _write_direct(out, block, signed)
        return 1

    change = np.flatnonzero(block[1:] != block[:-1])
    r = int(change[0]) + 1 if len(change) else n  # leading equal values
    if r >= MIN_REPEAT:
        if r <= MAX_SHORT_REPEAT:
            _write_short_repeat(out, block[0], r, signed)
            return r
        _write_fixed_delta(out, block[0], 0, r, signed)
        return r

    # adjacent deltas in int64 (uint64 blocks wrap through int64, exactly
    # as the DELTA writer stores them)
    d = np.diff(block.astype(np.int64))
    d0 = int(d[0])
    # monotonic prefix; unsigned values above 2^62 have no int64 delta
    if d0 != 0 and (signed or int(block.max()) <= (1 << 62)):
        turn = np.flatnonzero(d < 0 if d0 > 0 else d > 0)
        m = (int(turn[0]) if len(turn) else n - 1) + 1  # values in prefix
        if m >= MIN_DELTA_RUN or (m == n and m >= MIN_REPEAT):
            deltas = d[: m - 1]
            if bool((deltas == d0).all()):
                _write_fixed_delta(out, block[0], d0, m, signed)
                return m
            # width-outlier split (chooser-only; format unchanged): a
            # rare huge jump inside an otherwise-narrow monotone run
            # (e.g. a conversation boundary in a sorted timestamp
            # column) would inflate EVERY bitpacked literal to the
            # jump's aligned width. End the run just before the first
            # outlier — the jump then becomes the NEXT run's varint
            # delta_base (a few bytes once) instead of widening m-2
            # literals. Observed on transcripts ts: 28.4 -> ~11
            # bits/value.
            if m > MIN_DELTA_RUN + 1:
                absd = np.abs(deltas[1:]).astype(np.uint64)
                w_full = aligned_width(
                    max(int(absd.max()).bit_length(), 1))
                # scalar pre-check: nothing to win from splitting an
                # already-narrow run; skips the per-value bits pass
                if w_full > 8:
                    lit_bits = bits_required_fast(absd)
                    srt = np.sort(lit_bits)
                    w90 = aligned_width(
                        int(srt[int(0.9 * (len(srt) - 1))]))
                else:
                    w90 = w_full
                if w_full > w90:
                    big = np.flatnonzero(lit_bits > w90)
                    j = int(big[0]) + 1  # index into deltas
                    # worth a new block header only if the tail would
                    # have widened enough literal bits (a 2-4 value
                    # prefix run is still format-legal and beats
                    # widening the tail)
                    if (w_full - w90) * (m - 1 - j) >= 128:
                        _write_var_delta(out, block[0], deltas[:j], signed)
                        return j + 1
            _write_var_delta(out, block[0], deltas, signed)
            return m

    # whole-block PATCHED_BASE first — matches the reference chooser (and
    # its pinned byte vectors): skewed-but-narrow data patches better than
    # splitting
    if signed and _try_patched_base(out, block):
        return n
    # literal segment — bounded at the start of the next encodable run
    # (chooser-only; format unchanged). Without the bound, one ragged
    # 2-3-value head (e.g. the down-then-up wiggle at a sorted-key group
    # boundary) forced the WHOLE remaining block to literals at the
    # absolute values' width; on transcripts ts that put half the column
    # in 32-bit DIRECT blocks.
    lit_n = n
    if len(d) >= MIN_DELTA_RUN:
        # max zigzag width from two scalars — zigzag is monotone in |v|
        mx, mn = int(block.max()), int(block.min())
        zmax = max((mx << 1) ^ (mx >> 63), (mn << 1) ^ (mn >> 63)) \
            if signed else mx
        direct_w = aligned_width(max(zmax.bit_length(), 1))
        # only hunt for a cut when direct literals are actually wide —
        # bounding an already-narrow block (e.g. random 8-bit lengths)
        # would fragment it into tiny runs for no size gain
        if direct_w > 8:
            s = np.sign(d)
            change = np.flatnonzero(s[1:] != s[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(s)]))
            for st, en in zip(starts.tolist(), ends.tolist()):
                if st == 0:
                    continue  # the head run failed the branches above
                long_mono = s[st] != 0 and en - st >= MIN_DELTA_RUN - 1
                long_flat = s[st] == 0 and en - st >= MIN_REPEAT
                if long_mono or long_flat:
                    # cut only if the run really is much narrower than the
                    # literals it would otherwise widen into; judge by the
                    # run's p90 width — a late outlier INSIDE the run is
                    # the delta writer's own width-outlier split's job
                    if long_flat:
                        w_run = 0
                    else:
                        rabs = np.abs(d[st:en]).astype(np.uint64)
                        w_run = aligned_width(
                            max(int(rabs.max()).bit_length(), 1))
                        if 2 * w_run > direct_w:  # max failed; decide by p90
                            rb = np.sort(bits_required_fast(rabs))
                            w_run = aligned_width(
                                int(rb[int(0.9 * (len(rb) - 1))]))
                    if 2 * w_run <= direct_w:
                        lit_n = st  # next _encode_block starts ON the run
                    break  # evaluate the first long run only, cut or not
    seg = block[:lit_n]
    if signed and lit_n < n and _try_patched_base(out, seg):
        return lit_n
    _write_direct(out, seg, signed)
    return lit_n


def _write_short_repeat(out, value, count, signed):
    v = int(value)
    u = ((v << 1) ^ (v >> 63)) if signed else v
    nbytes = max((u.bit_length() + 7) // 8, 1)
    out.append((_SHORT_REPEAT << 6) | ((nbytes - 1) << 3) | (count - MIN_REPEAT))
    out += u.to_bytes(nbytes, "big")


def _write_fixed_delta(out, base, delta, count, signed):
    # DELTA header with width code 0 (no literals)
    h = (_DELTA << 6) | (0 << 1) | ((count - 1) >> 8)
    out.append(h)
    out.append((count - 1) & 0xFF)
    out += svarint1(int(base)) if signed else uvarint1(int(base))
    out += svarint1(int(delta))


def _write_var_delta(out, base, deltas, signed):
    count = len(deltas) + 1
    lits = np.abs(deltas[1:]).astype(np.uint64)
    w = aligned_width(max(int(lits.max()).bit_length(), 1)) if len(lits) else 2
    if w == 1:
        w = 2  # width code 0 is reserved for fixed delta
    h = (_DELTA << 6) | (width_to_code(w) << 1) | ((count - 1) >> 8)
    out.append(h)
    out.append((count - 1) & 0xFF)
    out += svarint1(int(base)) if signed else uvarint1(int(base))
    out += svarint1(int(deltas[0]))
    out += bitpack.pack(lits, w)


def _write_direct(out, block, signed):
    n = len(block)
    u = zigzag(block) if signed else block.astype(np.uint64)
    w = aligned_width(max(int(u.max()).bit_length(), 1))
    h = (_DIRECT << 6) | (width_to_code(w) << 1) | ((n - 1) >> 8)
    out.append(h)
    out.append((n - 1) & 0xFF)
    out += bitpack.pack(u, w)


def _try_patched_base(out: bytearray, block) -> bool:
    n = len(block)
    base = int(block.min())
    hi = int(block.max())
    if hi - base >= (1 << 62):  # range too wide for FoR arithmetic
        return False
    diff = (block.astype(np.int64) - base).astype(np.uint64)
    bits = bits_required_fast(diff)
    srt = np.sort(bits)
    w90 = aligned_width(int(srt[max(int(np.ceil(0.9 * n)) - 1, 0)]))
    w100 = int(srt[-1])
    if w100 <= w90:
        return False  # no outliers worth patching
    patch_idx = np.flatnonzero(bits > w90)
    patch_vals = (diff[patch_idx] >> np.uint64(w90)).astype(np.uint64)
    pw = closest_width(max(int(patch_vals.max()).bit_length(), 1))
    # gaps, chaining gaps > 255 with (255, 0) filler entries
    gaps_raw = np.diff(patch_idx, prepend=0).astype(np.int64)
    gaps_raw[0] = int(patch_idx[0])
    gaps: list[int] = []
    patches: list[int] = []
    for g, p in zip(gaps_raw.tolist(), patch_vals.tolist()):
        while g > 255:
            gaps.append(255)
            patches.append(0)
            g -= 255
        gaps.append(g)
        patches.append(p)
    if len(gaps) > 31:
        return False
    pgw = max(max(gaps).bit_length(), 1)
    if pgw + pw > 64:  # an entry must fit one uint64 (shift by pw below)
        return False
    mag = abs(base)
    bw = max((mag.bit_length() + 1 + 7) // 8, 1)
    if bw > 8:
        return False
    # header
    h1 = (_PATCHED_BASE << 6) | (width_to_code(w90) << 1) | ((n - 1) >> 8)
    out.append(h1)
    out.append((n - 1) & 0xFF)
    out.append(((bw - 1) << 5) | width_to_code(pw))
    out.append(((pgw - 1) << 5) | len(gaps))
    # base: sign-magnitude big-endian
    base_bytes = bytearray(mag.to_bytes(bw, "big"))
    if base < 0:
        base_bytes[0] |= 0x80
    out += base_bytes
    # data at w90 (truncated low bits)
    mask = np.uint64((1 << w90) - 1) if w90 < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)
    out += bitpack.pack(diff & mask, w90)
    # patch entries pack at closest_width(pgw+pw), NOT raw pgw+pw: the ORC
    # spec (and the Java/C++ readers) use getClosestFixedBits here. The
    # reference writes/reads raw (int.go:271,856) — mirroring it made our
    # files self-consistent but unreadable by pyarrow whenever pgw+pw is
    # an unaligned width >24 (hypothesis-found; pinned in test_property).
    entries = (np.array(gaps, dtype=np.uint64) << np.uint64(pw)) | np.array(
        patches, dtype=np.uint64
    )
    out += bitpack.pack(entries, closest_width(pgw + pw))
    return True


# ---------------------------------------------------------------- decode --


def decode(data, count: int, signed: bool = True) -> np.ndarray:
    """Decode `count` values from RLEv2 bytes (the stream must end exactly
    at the count-th value — whole-stream reads)."""
    out, got = _decode_runs(data, count, signed, slack=0)
    if got != count:
        raise ValueError(f"decoded {got} values, expected {count}")
    return out


def decode_prefix(data, count: int, signed: bool = True) -> np.ndarray:
    """Decode `count` values from a buffer whose runs may continue PAST
    them (row-index seek decodes a decompressed stream window starting at
    a run boundary, not a whole stream): the final run may overshoot, and
    trailing bytes are ignored."""
    out, _ = _decode_runs(data, count, signed, slack=MAX_RUN + 8)
    return out[:count]


def _decode_runs(data, count: int, signed: bool, slack: int):
    # C fast path (value-identical; returns None on truncated/odd streams
    # so the numpy path below reports the proper error)
    nat = _native.rlev2_decode(data, count, signed, slack)
    if nat is not None:
        return nat
    buf = np.frombuffer(data, dtype=np.uint8)
    out = np.empty(count + slack, dtype=np.int64 if signed else np.uint64)
    got = 0
    off = 0
    while got < count:
        enc = buf[off] >> 6
        if enc == _SHORT_REPEAT:
            off, got = _dec_short_repeat(buf, off, out, got, signed)
        elif enc == _DIRECT:
            off, got = _dec_direct(buf, off, out, got, signed)
        elif enc == _PATCHED_BASE:
            off, got = _dec_patched(buf, off, out, got)
        else:
            off, got = _dec_delta(buf, off, out, got, signed)
    return out, got


def _dec_short_repeat(buf, off, out, got, signed):
    h = int(buf[off])
    nbytes = ((h >> 3) & 0x7) + 1
    rep = (h & 0x7) + MIN_REPEAT
    u = int.from_bytes(buf[off + 1 : off + 1 + nbytes].tobytes(), "big")
    v = int(unzigzag(np.array([u], dtype=np.uint64))[0]) if signed else u
    out[got : got + rep] = v
    return off + 1 + nbytes, got + rep


def _dec_direct(buf, off, out, got, signed):
    h = int(buf[off])
    w = code_to_width((h >> 1) & 0x1F)
    n = (((h & 1) << 8) | int(buf[off + 1])) + 1
    nbytes = bitpack.packed_size(n, w)
    u = bitpack.unpack(buf[off + 2 : off + 2 + nbytes], w, n)
    out[got : got + n] = unzigzag(u) if signed else u
    return off + 2 + nbytes, got + n


def _dec_patched(buf, off, out, got):
    h = int(buf[off])
    w = code_to_width((h >> 1) & 0x1F)
    n = (((h & 1) << 8) | int(buf[off + 1])) + 1
    b3 = int(buf[off + 2])
    bw = ((b3 >> 5) & 0x7) + 1
    pw = code_to_width(b3 & 0x1F)
    b4 = int(buf[off + 3])
    pgw = ((b4 >> 5) & 0x7) + 1
    pll = b4 & 0x1F
    p = off + 4
    raw = int.from_bytes(buf[p : p + bw].tobytes(), "big")
    base = -(raw & ~(0x80 << (8 * (bw - 1)))) if raw >> (8 * bw - 1) else raw
    p += bw
    nbytes = bitpack.packed_size(n, w)
    diff = bitpack.unpack(buf[p : p + nbytes], w, n)
    p += nbytes
    # ORC spec: patch entries are packed at getClosestFixedBits(pgw+pw)
    # (matches the Java/C++ writers; the Go reference reads raw pgw+pw,
    # which misreads spec files whenever the sum is unaligned and >24)
    cw = closest_width(pgw + pw)
    ebytes = bitpack.packed_size(pll, cw)
    entries = bitpack.unpack(buf[p : p + ebytes], cw, pll)
    p += ebytes
    idx = 0
    pmask = np.uint64((1 << pw) - 1)
    for e in entries.tolist():
        gap = e >> pw
        patch = e & int(pmask)
        idx += gap
        if patch:
            diff[idx] |= np.uint64(patch) << np.uint64(w)
    out[got : got + n] = diff.astype(np.int64) + base
    return p, got + n


def _dec_delta(buf, off, out, got, signed):
    h = int(buf[off])
    w = code_to_width((h >> 1) & 0x1F, delta=True)
    n = (((h & 1) << 8) | int(buf[off + 1])) + 1
    p = off + 2
    if signed:
        basev, p = decode_svarints(buf, 1, p)
        base = int(basev[0])
    else:
        basev, p = decode_uvarints(buf, 1, p)
        base = int(basev[0])
    db, p = decode_svarints(buf, 1, p)
    delta_base = int(db[0])
    if base >= 1 << 63:  # huge unsigned base: wrap through int64 arithmetic
        base -= 1 << 64
    if w == 0:  # fixed delta
        vals = base + delta_base * np.arange(n, dtype=np.int64)
        out[got : got + n] = vals
        return p, got + n
    nlits = n - 2
    nbytes = bitpack.packed_size(nlits, w)
    lits = bitpack.unpack(buf[p : p + nbytes], w, nlits).astype(np.int64)
    p += nbytes
    sign = -1 if delta_base < 0 else 1
    steps = np.empty(n, dtype=np.int64)
    steps[0] = base
    steps[1] = delta_base
    steps[2:] = sign * lits
    out[got : got + n] = np.cumsum(steps)
    return p, got + n
