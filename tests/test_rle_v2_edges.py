"""RLEv2 decoder edges (`stream_decode._rle_v2`): hand-built run streams
of every sub-encoding, decoded against the literal values they encode.

Each run is encoded here from the public ORC v1 spec's RLEv2 tables
(header bits, big-endian bit packing, zigzag, sign-magnitude
PATCHED_BASE base, (gap, patch) entries), independently of the
native writer:

- SHORT_REPEAT of 3-10 values at every value width 1-8 bytes;
- DIRECT at every width of the 5-bit width table;
- DELTA with a fixed delta (rising, falling, zero) and with packed
  deltas (rising and falling);
- PATCHED_BASE whose patch list needs (255, 0) gap entries.

Every stream ends exactly at its segment's end and must decode to
that byte; the same stream cut one byte short must raise
`OutOfPlanError`. `RUN_COUNTER` must count each run once. The same
values written by the native writer decode equal to the input and to
`pyarrow.orc`.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow.orc as po
import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark.sources import stream_decode as sd
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_encode import write_orc_native

SEED = 20261019
WIDTHS = sd._WIDTH_TABLE


# ---------------------------------------------------------------------------
# an encoder for single runs, from the spec
# ---------------------------------------------------------------------------


def _zz(v: int) -> int:
    return v << 1 if v >= 0 else ((-v) << 1) - 1


def _unzz(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _varint(u: int) -> bytes:
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pack(vals: list[int], width: int) -> bytes:
    """Big-endian bit packing, zero-padded to a whole byte."""
    acc = 0
    for v in vals:
        assert 0 <= v < 1 << width
        acc = (acc << width) | v
    bits = len(vals) * width
    pad = -bits % 8
    return (acc << pad).to_bytes((bits + pad) // 8, "big")


def _as_i64(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= 1 << 63 else v


def _header(kind: int, code: int, count: int) -> bytes:
    return bytes([(kind << 6) | (code << 1) | ((count - 1) >> 8), (count - 1) & 0xFF])


def short_repeat(value: int, count: int, nbytes: int, signed: bool) -> bytes:
    u = _zz(value) if signed else value
    return bytes([((nbytes - 1) << 3) | (count - 3)]) + u.to_bytes(nbytes, "big")


def direct(values: list[int], code: int, signed: bool) -> bytes:
    enc = [_zz(v) if signed else v for v in values]
    return _header(1, code, len(values)) + _pack(enc, WIDTHS[code])


def delta_fixed(base: int, delta: int, count: int, signed: bool) -> bytes:
    return (_header(3, 0, count) + _varint(_zz(base) if signed else base)
            + _varint(_zz(delta)))


def delta_packed(base: int, deltas: list[int], code: int, signed: bool) -> bytes:
    """deltas[0] is stored whole; the rest share its sign and store
    their magnitudes at the code's width."""
    return (_header(3, code, len(deltas) + 1) + _varint(_zz(base) if signed else base)
            + _varint(_zz(deltas[0])) + _pack([abs(d) for d in deltas[1:]], WIDTHS[code]))


def patched_base(base: int, data: list[int], code: int, patches: dict[int, int],
                 pw_code: int, gap_width: int = 8) -> bytes:
    """Values base + ((patches.get(i, 0) << width) | data[i]); gaps over
    255 are split with (255, 0) entries."""
    pw = WIDTHS[pw_code]
    entries, prev = [], 0
    for i in sorted(patches):
        gap = i - prev
        while gap > 255:
            entries.append(255 << pw)
            gap -= 255
        entries.append((gap << pw) | patches[i])
        prev = i
    assert len(entries) < 32
    mag = abs(base)
    nbytes = max(1, (mag.bit_length() + 8) // 8)
    b = mag | (1 << (8 * nbytes - 1)) if base < 0 else mag
    cw = sd._closest_fixed_bits(pw + gap_width)
    return (_header(2, code, len(data))
            + bytes([((nbytes - 1) << 5) | pw_code, ((gap_width - 1) << 5) | len(entries)])
            + b.to_bytes(nbytes, "big") + _pack(data, WIDTHS[code]) + _pack(entries, cw))


# ---------------------------------------------------------------------------
# seeded runs: (kind, stream bytes, values)
# ---------------------------------------------------------------------------


def _runs(signed: bool) -> list[tuple[str, bytes, list[int]]]:
    rng = random.Random(SEED + signed)
    out = []
    for nbytes in range(1, 9):
        for count in range(3, 11):
            lo = 0 if nbytes == 1 else 1 << (8 * (nbytes - 1))
            u = rng.randrange(lo, 1 << (8 * nbytes))
            v = _unzz(u) if signed else u
            out.append(("SHORT_REPEAT", short_repeat(v, count, nbytes, signed),
                        [_as_i64(v)] * count))
    for code, width in enumerate(WIDTHS):
        n = rng.choice([1, 2, 7, rng.randrange(1, 513)])
        us = [rng.randrange(1 << width) for _ in range(n)]
        us[0] = (1 << width) - 1  # the widest value of this width
        vals = [_unzz(u) if signed else u for u in us]
        out.append(("DIRECT", direct(vals, code, signed), [_as_i64(v) for v in vals]))
    for delta in (0, 1, 7, -1, -123_456):
        count = rng.randrange(3, 513)
        if signed:
            base = rng.randrange(-(1 << 40), 1 << 40)
        else:  # stays non-negative when falling
            base = rng.randrange(1 << 40) + abs(delta) * count
        out.append(("DELTA", delta_fixed(base, delta, count, signed),
                    [_as_i64(base + delta * i) for i in range(count)]))
    for sign in (1, -1):
        for code in (1, 3, 9, 15):  # (code 0 is the fixed-delta form)
            count = rng.randrange(3, 300)
            mags = [rng.randrange(1 << WIDTHS[code]) for _ in range(count - 2)]
            deltas = [sign * rng.randrange(1, 1000)] + [sign * m for m in mags]
            base = rng.randrange(1 << 30) + (0 if sign > 0 else sum(map(abs, deltas)))
            vals = [base]
            for d in deltas:
                vals.append(vals[-1] + d)
            out.append(("DELTA", delta_packed(base, deltas, code, signed),
                        [_as_i64(v) for v in vals]))
    for base in (0, 5, -70_000, 1 << 50):
        count = rng.randrange(300, 513)
        code = 7  # 8-bit data
        data = [rng.randrange(256) for _ in range(count)]
        at = sorted(rng.sample(range(1, 40), 2) + [300, count - 1])
        patches = {i: rng.randrange(1, 1 << 12) for i in at}
        vals = [base + ((patches.get(i, 0) << 8) | d) for i, d in enumerate(data)]
        if not signed and base < 0:
            continue
        out.append(("PATCHED_BASE", patched_base(base, data, code, patches, 11),
                    [_as_i64(v) for v in vals]))
    return out


def _seg(stream: bytes) -> sd._Seg:
    return sd._Seg(stream + bytes(sd._PAD), "hand-built stream")


@pytest.mark.parametrize("signed", [False, True])
def test_each_run_decodes_to_its_end_and_refuses_a_cut(signed):
    for kind, stream, vals in _runs(signed):
        sd.RUN_COUNTER.clear()
        got, end = sd._rle_v2(_seg(stream), 0, len(vals), signed)
        assert got.tolist() == vals, (kind, stream[:4].hex())
        assert end == len(stream), kind
        assert sd.RUN_COUNTER == {kind: 1}
        with pytest.raises(sd.OutOfPlanError, match="planned stretch"):
            sd._rle_v2(_seg(stream[:-1]), 0, len(vals), signed)


@pytest.mark.parametrize("signed", [False, True])
def test_mixed_stream_in_pieces(signed):
    """All runs back to back in one stream: one read of everything, and
    reads of `need` values that stop after the run reaching it."""
    runs = _runs(signed)
    random.Random(SEED).shuffle(runs)
    stream = b"".join(s for _k, s, _v in runs)
    vals = [v for _k, _s, v in runs for v in v]
    sd.RUN_COUNTER.clear()
    got, end = sd._rle_v2(_seg(stream), 0, len(vals), signed)
    assert got.tolist() == vals and end == len(stream)
    for kind in sd._ENC_NAMES:
        assert sd.RUN_COUNTER[kind] == sum(k == kind for k, _s, _v in runs)
    seg, pos, done = _seg(stream), 0, 0
    rng = random.Random(SEED + 2)
    bounds = np.cumsum([len(v) for _k, _s, v in runs]).tolist()
    while done < len(vals):
        need = min(rng.randrange(1, 700), len(vals) - done)
        part, pos = sd._rle_v2(seg, pos, need, signed)
        # whole runs: up to the first run end at or past done + need
        stop = next(b for b in bounds if b >= done + need)
        assert part.tolist() == vals[done:stop]
        done = stop
    assert pos == len(stream)
    with pytest.raises(sd.OutOfPlanError):
        sd._rle_v2(_seg(stream[:-1]), 0, len(vals), signed)


def test_native_writer_streams(tmp_path):
    """The same value sequences, written by the native writer, decode
    equal to the input and to pyarrow.orc, through every sub-encoding."""
    vals = [v for _k, _s, run in _runs(True) for v in run]
    path = str(tmp_path / "runs.orc")
    write_orc_native(path, {"v": vals}, "v bigint", row_index_stride=1000)
    sd.RUN_COUNTER.clear()
    got = [v for b in sd.plan_file_scan(path, None, ["v"]).execute()
           for v in b.column("v").to_pylist()]
    assert got == vals
    assert po.ORCFile(path).read().column("v").to_pylist() == vals
    for kind in sd._ENC_NAMES:
        assert sd.RUN_COUNTER.get(kind, 0) > 0, kind
