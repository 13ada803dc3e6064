"""Columnar ORC data-stream decoder: EXECUTES the partial-read IO plan
(`sources/tools.plan_read_ranges`) — ranged reads, chunk-framed
decompression, RLE decode, row-group-aligned skipping — and returns
Arrow record batches value-equal to a full scan + filter.

This completes the reference-parity chain the repo built across rounds
8-9: per-row-group stats (s19) → pickRowGroups decisions →
RowIndexEntry seek positions (`orc_seek_explain`) → merged byte
ranges (`plan_read_ranges`) → **this module reads and decodes those
ranges**. Reference analogs, cited per layer:

- ranged fetch of the planned offsets: `readPartialDataStreams`
  (RecordReaderImpl.java:1089) + `RecordReaderUtils.readDiskRanges`;
- chunk framing: 3-byte little-endian header
  `(chunkLength << 1) | isOriginal` (InStream.java:176,
  OutStream.java:84-176);
- seek: each stream's PositionProvider slice of the RowIndexEntry
  positions (InStream.seek consumes 1 slot uncompressed / 2
  compressed; RLE readers consume one more "values into run" slot;
  the PRESENT bit reader one more bit offset —
  RecordReaderUtils.java:387-457, `seekToRowEntry`
  RecordReaderImpl.java:1286);
- decode: the RLEv2 sub-encodings SHORT_REPEAT / DIRECT /
  PATCHED_BASE / DELTA, RLEv1 (run/delta + literal varints — the
  v0.11 writer's integer encoding, selected per column by the
  pre-V2 DIRECT/DICTIONARY encoding kinds), byte RLE, the PRESENT
  bitfield, IEEE-754 float/double streams, and string
  DIRECT(_V2) / DICTIONARY(_V2) (RunLengthIntegerReaderV2.java,
  RunLengthIntegerReader.java, RunLengthByteReader.java,
  BitFieldReader.java, TreeReaderFactory.java — re-derived from the
  PUBLIC ORC v1 spec's encoding tables, not ported);
- row-group-aligned batching: decode exactly the kept groups'
  `min(stride, stripeRows - g*stride)` values, skipping pruned
  groups entirely (`nextBatch` RecordReaderImpl.java:1195-1229). A
  run of consecutive kept groups is seeked once and read straight
  through, the way the reference seeks only when it skips a group.

The decode is columnar, like the reference's `VectorizedRowBatch`
(RecordReader.java:64): each planned stream is decompressed once into
one buffer; Python only finds where each RLE run starts, numpy reads
the run headers from those offsets and does the per-value work (one
bit-unpack per width per read, `frombuffer` for floats, `unpackbits`
for PRESENT). Every column decoder returns a
`pa.Array` of its declared type (`file_job.arrow_type`). Python values
exist only at `to_pylists`, the boundary of the dict-of-lists calls
(`scan_file`, `scan_file_evolved`, `decode_stripe`); decimals (unbounded
varints) and schema-evolution converters are the only per-value loops.

The `RangeReader` REFUSES any byte outside the planned ranges — the
executable proof that `plan_read_ranges`' output is sufficient, which
is the property the round-9 verdict asked this round to establish
("verified on fractions, not on bytes-in-rows-out").

Scope: the full ORC type surface — boolean, tinyint..bigint, float,
double, date, string/char/varchar (direct and dictionary), binary,
timestamp (incl. non-UTC writer-timezone rebase), decimal,
list/struct/map composites, and union (tagged-struct surface) — in
both encoding versions (v0.11 RLEv1 and v0.12 RLEv2 files).

Plan once per file: `plan_file_scan` reads a file's tail, stripe
footers and index region ONCE — seek positions of every included
column, statistics of the predicate's columns, blooms only where an
equality leaf can use them — and resolves the whole
scan into a `FileScanPlan` (namespace map, effective SArg, level-1/2
decisions, level-3 byte ranges, converters); scanning executes that
plan and `explain_lake_scan` reports its summary. Scale: one file is
the per-task unit — `read_planned_lake` (and `read_planned`, its
one-file case) fans out one Spark task per file through the per-file
job (`file_job.map_files`, Arrow batches end to end), the same
topology as `sources/pyds.py`, so a 100-TB lake decodes planned
ranges with cluster-wide parallelism while the driver never touches
data bytes.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from orc_release_hdp_2_6_5_99_1_tag_spark.sources.file_job import (
    arrow_schema,
    arrow_type,
    map_files,
)
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
    FileTail,
    _decompress_chunk,
    open_tail,
    parse_indexes,
    parse_stripe_footers,
    parse_tail_of_file,
    position_slots,
    varint_array,
)

_COMP_CODE = {"NONE": 0, "ZLIB": 1, "SNAPPY": 2, "LZO": 3, "LZ4": 4, "ZSTD": 5}


class OutOfPlanError(IOError):
    """A decode step needed bytes the IO plan did not cover — either a
    plan_read_ranges bug or a decoder bug; never acceptable."""


class RangeReader:
    """Serves reads ONLY from the planned byte ranges of one stripe
    (the executor-side analog of the reference's zero-copy DiskRange
    list, RecordReaderUtils.readDiskRanges). Each planned range is
    fetched with ONE ranged read through the file's FileTail (the
    object-store GET shape), checked against its byte bound.
    `bytes_fetched` is the honest IO accounting the tests compare to
    `bytes_planned`; `chunks_inflated` counts decompressed chunks."""

    def __init__(self, tail: FileTail, base: int, ranges: list[tuple[int, int]]):
        self._ranges: list[tuple[int, int, bytes]] = []
        self.bytes_fetched = 0
        self.chunks_inflated = 0
        with tail.opened():
            for a, b in sorted(ranges):
                self._ranges.append((a, b, tail.read(base + a, b - a)))
                self.bytes_fetched += b - a

    def covering(self, off: int) -> tuple[int, bytes] | None:
        """(start, bytes) of the planned range holding stripe byte
        `off`, or None when no range does."""
        for a, b, buf in self._ranges:
            if a <= off < b:
                return a, buf
        return None

    def planned(self) -> list[tuple[int, int]]:
        return [(a, b) for a, b, _ in self._ranges]


# ---------------------------------------------------------------------------
# bytes: one decompressed buffer per planned stretch of a stream
# ---------------------------------------------------------------------------

_PAD = 8  # zero bytes past a segment's end: the bit gather reads ahead


class _Seg:
    """Decompressed bytes of one contiguous planned stretch of a
    stream. `buf` carries _PAD trailing zero bytes; every read must end
    at or before `end`, else the plan did not cover it. `whole`: the
    stretch runs to the end of its planned range (else it stops where
    the kept run that loaded it stops)."""

    __slots__ = ("buf", "arr", "end", "where", "whole")

    def __init__(self, padded: bytes, where: str, whole: bool = True):
        self.buf = padded
        self.end = len(padded) - _PAD
        self.arr = np.frombuffer(padded, np.uint8)
        self.where = where
        self.whole = whole

    def check(self, stop: int) -> None:
        if stop > self.end:
            raise OutOfPlanError(
                f"{self.where}: read to byte {stop} of a {self.end}-byte "
                "planned stretch"
            )


class _Stream:
    """One ORC stream of a stripe (InStream.java framing). A seek
    position resolves into a `_Seg`: compressed, the chunks from the
    position's own on that lie wholly inside the planned range holding
    it, decompressed once and joined — up to the range's end, or, given
    `stop` (the position of the first group past the kept run), only
    until they cover that position plus `slack` bytes, the most the
    reader's last run can reach past it; uncompressed, the planned
    range's bytes. Positions consume 1 slot uncompressed (byte offset)
    or 2 compressed (chunk header offset, offset into the decompressed
    chunk)."""

    def __init__(self, rr: RangeReader, start: int, length: int, compression: str):
        self._rr = rr
        self._start = start
        self._length = length
        self._comp = compression
        self._segs: dict[int, tuple[_Seg, int]] = {}  # offset -> (seg, base)
        self.origin = (0,) if compression == "NONE" else (0, 0)

    def seek(self, provider, stop=None, slack: int = 0) -> tuple[_Seg, int]:
        if self._comp == "NONE":
            pos = next(provider)
            r = self._rr.covering(self._start + pos)
            lo = pos if r is None else max(r[0] - self._start, 0)
            if lo not in self._segs:
                self._load_raw(lo, r)
            seg, _ = self._segs[lo]
            return seg, pos - lo
        header, sub = next(provider), next(provider)
        # a position AT (or past) the stream's end — zero-length
        # streams (all-null column) and row groups whose column ran dry
        # in an earlier group — has no chunk; it reads zero values
        if stop is not None:
            stop = (stop[0], stop[1] + slack)
        # a later run reuses only a stretch that runs to its range's end
        hit = self._segs.get(header)
        if hit is None or not hit[0].whole:
            self._load_chunks(header, stop)
            hit = self._segs[header]
        seg, base = hit
        return seg, base + sub

    def _where(self) -> str:
        return (
            f"stream [{self._start}, {self._start + self._length}) "
            f"(planned ranges {self._rr.planned()})"
        )

    def _load_raw(self, lo: int, covering: tuple[int, bytes] | None) -> None:
        data = b""
        if covering is not None:
            a, buf = covering
            data = buf[self._start + lo - a : self._start + self._length - a]
        self._segs[lo] = (_Seg(data + bytes(_PAD), self._where()), 0)

    def _load_chunks(self, header: int, stop) -> None:
        r = self._rr.covering(self._start + header)
        parts: list[bytes] = []
        bases: list[tuple[int, int]] = []
        total = 0
        off = header
        need = None  # decompressed bytes that cover `stop`, once known
        whole = True
        if r is not None:
            a, buf = r
            while off + 3 <= self._length:
                if stop is not None and off == stop[0]:
                    need = total + stop[1]
                if need is not None and total >= need:
                    whole = False
                    break
                i = self._start + off - a
                if i + 3 > len(buf):
                    break
                word = buf[i] | (buf[i + 1] << 8) | (buf[i + 2] << 16)
                clen = word >> 1
                if i + 3 + clen > len(buf):
                    break
                raw = buf[i + 3 : i + 3 + clen]
                if word & 1:
                    chunk = raw
                else:
                    chunk = _decompress_chunk(raw, _COMP_CODE[self._comp])
                    self._rr.chunks_inflated += 1
                bases.append((off, total))
                parts.append(chunk)
                total += len(chunk)
                off += 3 + clen
        parts.append(bytes(_PAD))
        seg = _Seg(b"".join(parts), self._where(), whole)
        self._segs[header] = (seg, 0)
        for off, base in bases:
            self._segs.setdefault(off, (seg, base))


_EMPTY_SEG = _Seg(bytes(_PAD), "unread stream")

# ---------------------------------------------------------------------------
# integer kernels (public ORC v1 spec, "Run Length Encoding v1/v2")
# ---------------------------------------------------------------------------

# decodeBitWidth: 5-bit codes 0..23 -> 1..24 bits, then the aligned widths
_WIDTH_TABLE = list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]
_M64 = (1 << 64) - 1

# encoding-coverage accounting (test-inspectable): which RLEv2
# sub-encodings the decode path actually saw — lets the tests assert
# PATCHED_BASE/DELTA/etc. were genuinely exercised, not just written
RUN_COUNTER: dict[str, int] = {}
_ENC_NAMES = ("SHORT_REPEAT", "DIRECT", "PATCHED_BASE", "DELTA")


def _closest_fixed_bits(n: int) -> int:
    for w in _WIDTH_TABLE:
        if n <= w:
            return w
    return 64


_WIDTHS = np.array(_WIDTH_TABLE, np.int64)
# _closest_fixed_bits of a patch entry: patch width (<= 64) + gap width (<= 8)
_FIXED_BITS = np.array([_closest_fixed_bits(n) for n in range(73)], np.int64)
_U1, _U8 = np.uint64(1), np.uint64(8)
# a SHORT_REPEAT header byte -> its value count, and its run's bytes
_SR_COUNT = [(b & 7) + 3 for b in range(64)]
_SR_BYTES = [2 + ((b >> 3) & 7) for b in range(64)]


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _unzigzag(v: np.ndarray) -> np.ndarray:
    """_zigzag over uint64 (the result is the int64 bit pattern)."""
    return (v >> _U1) ^ (np.uint64(0) - (v & _U1))


def _varint(seg: _Seg, pos: int) -> tuple[int, int]:
    """One unsigned base-128 varint (a run header's base or delta)."""
    buf = seg.buf
    result = shift = 0
    while True:
        seg.check(pos + 1)
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result, pos
        shift += 7


def _within(counts: np.ndarray) -> np.ndarray:
    """0..c-1 for each count c, concatenated."""
    total = int(counts.sum())
    return np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)


def _spread_index(firsts: np.ndarray, counts: np.ndarray, step: int = 1) -> np.ndarray:
    """firsts[i] + step * (0..counts[i]-1) for each i, concatenated."""
    total = int(counts.sum())
    before = np.cumsum(counts) - counts
    return np.repeat(firsts - before * step, counts) + np.arange(total) * step


def _unpack(arr: np.ndarray, offs, counts, width: int) -> np.ndarray:
    """Big-endian bit unpack (RunLengthIntegerReaderV2 readInts) of
    several packed sections of one width in one pass: section i holds
    counts[i] values starting at byte offs[i] (each section is
    byte-aligned; its trailing pad bits are never read). Each value is
    gathered from the k bytes that cover its bits, in the narrowest
    unsigned dtype that holds k bytes — O(values) memory. Returns
    uint64."""
    counts = np.asarray(counts, np.int64)
    bit = _spread_index(np.asarray(offs, np.int64) * 8, counts, width)
    byte = bit >> 3
    # bytes covering one value: a width that divides 8 (or is whole
    # bytes) never straddles a byte boundary, others may touch one more
    k = (width + 7) // 8 if width % 8 == 0 or 8 % width == 0 else (width + 14) // 8
    dt = np.uint16 if k <= 2 else np.uint32 if k <= 4 else np.uint64
    acc = arr[byte].astype(dt)
    for m in range(1, k):
        acc = (acc << dt(8)) | arr[byte + m]
    acc >>= (8 * k - width - (bit & 7)).astype(dt)
    if width < 64:
        acc &= dt((1 << width) - 1)
    return acc.astype(np.uint64, copy=False)


def _big_endian(arr: np.ndarray, offs: np.ndarray, nbytes: np.ndarray) -> np.ndarray:
    """The nbytes[i]-byte (1..8) big-endian unsigned integer at each
    byte offs[i], as uint64. Bytes past a value's own are gathered
    (they lie inside the segment or its _PAD) but not used."""
    out = np.zeros(len(offs), np.uint64)
    for m in range(int(nbytes.max())):
        out = np.where(m < nbytes, (out << _U8) | arr[offs + m], out)
    return out


def _header_varints(arr: np.ndarray, at: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The unsigned varint at each byte offset in `at` (uint64), and the
    offset after each. The run walk has already read each one to its
    last byte inside the segment; the ten-byte gather is clipped to the
    buffer, so it never reads past the _PAD."""
    b = arr[np.minimum(at[:, None] + np.arange(10), len(arr) - 1)]
    n = np.argmax(b < 0x80, axis=1) + 1
    part = (b & 0x7F).astype(np.uint64) << (7 * np.arange(10, dtype=np.uint64))
    part[np.arange(10) >= n[:, None]] = 0
    return np.bitwise_or.reduce(part, axis=1), at + n


_NO_RUNS = (np.zeros(0, np.int64),) * 7


class _Runs:
    """The run table of one integer read, as arrays; `values` assembles
    every run at once. A run of `lens[i]` values starts as `base[i]`
    repeated, then gains, where it has them, `step * i` (a fixed DELTA
    run, an RLEv1 run), unpacked bits (DIRECT, PATCHED_BASE), literals
    (RLEv1) or a running sum of deltas (a packed DELTA run). All
    arithmetic wraps modulo 2^64. Apart from `lens` (int64) and `base`
    (uint64), each table is a tuple of equal-length arrays:

    - steps: (first index, length, step);
    - packed: (width, byte offset, count, first index, mode), mode 0
      plain, 1 zigzag, 2 negated (the deltas of a falling DELTA run);
    - patches, the PATCHED_BASE patch lists: (first index, length,
      width, patch width, byte offset, entries, entry width);
    - deltas: (first index, length, first delta, base);
    - literals (RLEv1): a list of (first index, uint64 values)."""

    def __init__(self, lens, base, steps=_NO_RUNS[:3], packed=_NO_RUNS[:5],
                 patches=_NO_RUNS, deltas=_NO_RUNS[:4], literals=()):
        self.lens, self.base = lens, base
        self.steps, self.packed, self.patches = steps, packed, patches
        self.deltas, self.literals = deltas, literals

    def values(self, arr: np.ndarray) -> np.ndarray:
        out = np.repeat(self.base, self.lens)
        at, lens, step = self.steps
        if len(at):
            i = _within(lens)
            out[np.repeat(at, lens) + i] += np.repeat(step, lens) * i.astype(np.uint64)
        widths, offs, counts, ats, modes = self.packed
        for width in np.unique(widths).tolist():
            sel = widths == width
            c = counts[sel]
            vals = _unpack(arr, offs[sel], c, width)
            if modes[sel].any():
                mode = np.repeat(modes[sel], c)
                zz = mode == 1
                vals[zz] = _unzigzag(vals[zz])
                neg = mode == 2
                vals[neg] = np.uint64(0) - vals[neg]
            out[_spread_index(ats[sel], c)] += vals
        for at, vals in self.literals:
            out[at : at + len(vals)] += vals
        at, lens, width, pw, off, entries, cw = self.patches
        for w in np.unique(cw).tolist():
            # (gap, patch) entries, each gap counted from the previous
            # entry (a (255, 0) entry only advances); entries past the
            # run's end are ignored. The patch fills the bits above the
            # unpacked value's, so adding it is OR.
            sel = cw == w
            n = entries[sel]
            e = _unpack(arr, off[sel], n, w)
            shift = np.repeat(pw[sel], n).astype(np.uint64)
            gap = (e >> shift).astype(np.int64)
            patch = e & ((_U1 << shift) - _U1)
            firsts = np.cumsum(n) - n
            run_sum = np.cumsum(gap)
            where = np.repeat(at[sel], n) + run_sum - np.repeat(run_sum[firsts] - gap[firsts], n)
            hit = (where < np.repeat(at[sel] + lens[sel], n)) & (patch != 0)
            up = np.repeat(width[sel], n)[hit].astype(np.uint64)
            np.add.at(out, where[hit], patch[hit] << up)
        first, lens, delta, base = self.deltas
        if len(first):
            # out holds base + packed delta from each run's third value
            # on; turn that into base + the running sum of the deltas
            pos = _spread_index(first, lens)
            bases = np.repeat(base, lens)
            inc = out[pos] - bases
            starts = np.cumsum(lens) - lens
            inc[starts] = delta
            run_sum = np.cumsum(inc)
            out[pos] = bases + run_sum - np.repeat(run_sum[starts] - delta, lens)
        return out.view(np.int64)


def _rle_v2(seg: _Seg, pos: int, need: int, signed: bool) -> tuple[np.ndarray, int]:
    """RunLengthIntegerReaderV2: decode whole runs from byte `pos` until
    at least `need` values; the top 2 bits of each run's first byte
    select SHORT_REPEAT, DIRECT, PATCHED_BASE or DELTA. Returns (int64
    values, the byte after the last run).

    Python only finds where each run starts: it steps over a run by
    the length its header bytes give (for DELTA, past the ends of its
    two varints) and checks the run's extent against the segment's end.
    numpy then reads every header field from the array of run starts —
    kind, width, count, SHORT_REPEAT values, PATCHED_BASE base and
    patch fields, DELTA base and delta — into a `_Runs` table."""
    buf, end = seg.buf, seg.end
    starts: list[int] = []
    append = starts.append
    n = 0
    # every read below pos + 2 lands in the segment or its padding;
    # each run's extent is checked against `end` before the next one
    while n < need:
        b0 = buf[pos]
        append(pos)
        if b0 < 0x40:  # SHORT_REPEAT
            n += _SR_COUNT[b0]
            stop = pos + _SR_BYTES[b0]
        else:
            width = _WIDTH_TABLE[(b0 >> 1) & 0x1F]
            count = (((b0 & 1) << 8) | buf[pos + 1]) + 1
            n += count
            if b0 < 0x80:  # DIRECT
                stop = pos + 2 + (count * width + 7) // 8
            elif b0 < 0xC0:  # PATCHED_BASE: 2 more header bytes, the base
                seg.check(pos + 4)
                b2, b3 = buf[pos + 2], buf[pos + 3]
                stop = pos + 5 + (b2 >> 5)
                seg.check(stop)
                cw = _closest_fixed_bits(_WIDTH_TABLE[b2 & 0x1F] + (b3 >> 5) + 1)
                stop += (count * width + 7) // 8 + ((b3 & 0x1F) * cw + 7) // 8
            else:  # DELTA: base and delta varints, then packed deltas
                stop = _varint(seg, _varint(seg, pos + 2)[1])[1]
                if (b0 >> 1) & 0x1F:
                    stop += ((count - 2) * width + 7) // 8
        if stop > end:
            seg.check(stop)
        pos = stop
    if not starts:
        return np.zeros(0, np.int64), pos
    arr = seg.arr
    s = np.array(starts, np.int64)
    b0 = arr[s]
    enc = b0 >> 6
    for name, c in zip(_ENC_NAMES, np.bincount(enc, minlength=4).tolist()):
        if c:
            RUN_COUNTER[name] = RUN_COUNTER.get(name, 0) + c
    short = enc == 0
    lens = np.where(
        short, (b0 & 7) + 3, (((b0 & 1).astype(np.int64) << 8) | arr[s + 1]) + 1
    )
    first = np.cumsum(lens) - lens
    width = _WIDTHS[(b0 >> 1) & 0x1F]
    base = np.zeros(len(s), np.uint64)
    i = np.flatnonzero(short)
    if len(i):
        vals = _big_endian(arr, s[i] + 1, ((b0[i] >> 3) & 7) + 1)
        base[i] = _unzigzag(vals) if signed else vals
    d = np.flatnonzero(enc == 1)
    direct = (width[d], s[d] + 2, lens[d], first[d], np.full(len(d), int(signed)))
    patched, patches = _NO_RUNS[:5], _NO_RUNS
    p = np.flatnonzero(enc == 2)
    if len(p):
        ps, pl, pf, pwid = s[p], lens[p], first[p], width[p]
        b2, b3 = arr[ps + 2], arr[ps + 3]
        nbytes = (b2 >> 5).astype(np.int64) + 1
        mag = _big_endian(arr, ps + 4, nbytes)
        sign = _U1 << (nbytes * 8 - 1).astype(np.uint64)
        # sign-magnitude, not two's complement
        base[p] = np.where((mag & sign) != 0, np.uint64(0) - (mag & ~sign), mag)
        data = ps + 4 + nbytes
        patched = (pwid, data, pl, pf, np.zeros(len(p), np.int64))
        pw = _WIDTHS[b2 & 0x1F]
        entries = (b3 & 0x1F).astype(np.int64)
        k = entries > 0
        patches = tuple(x[k] for x in (
            pf, pl, pwid, pw, data + (pl * pwid + 7) // 8, entries,
            _FIXED_BITS[pw + (b3 >> 5) + 1],
        ))
    steps, delta_bits, deltas = _NO_RUNS[:3], _NO_RUNS[:5], _NO_RUNS[:4]
    q = np.flatnonzero(enc == 3)
    if len(q):
        ql, qf, qw = lens[q], first[q], width[q]
        dbase, after = _header_varints(arr, s[q] + 2)
        delta, after = _header_varints(arr, after)
        if signed:
            dbase = _unzigzag(dbase)
        delta = _unzigzag(delta)
        base[q] = dbase
        fixed = ((b0[q] >> 1) & 0x1F) == 0
        k = fixed & (delta != 0)
        steps = (qf[k], ql[k], delta[k])
        # index first+1 holds the first delta; the packed deltas (with
        # the first delta's sign) follow, and a running sum over the
        # run adds them onto the base
        k = ~fixed & (ql > 2)
        falling = delta[k].view(np.int64) < 0
        delta_bits = (qw[k], after[k], ql[k] - 2, qf[k] + 2, falling * 2)
        k = ~fixed & (ql > 1)
        deltas = (qf[k] + 1, ql[k] - 1, delta[k], dbase[k])
    packed = tuple(map(np.concatenate, zip(direct, patched, delta_bits)))
    runs = _Runs(lens, base, steps, packed, patches, deltas)
    return runs.values(arr), pos


def _varints(seg: _Seg, pos: int, count: int) -> tuple[np.ndarray, int]:
    """`count` consecutive unsigned varints from byte `pos`, decoded at
    once (uint64, and the byte after the last)."""
    window = seg.arr[pos : min(seg.end, pos + 10 * count)]
    ends = np.flatnonzero(window < 0x80)
    if len(ends) < count:
        raise OutOfPlanError(f"{seg.where}: {count} varints run past the planned bytes")
    stop = int(ends[count - 1]) + 1
    return varint_array(window[:stop]), pos + stop


def _rle_v1(seg: _Seg, pos: int, need: int, signed: bool) -> tuple[np.ndarray, int]:
    """RunLengthIntegerReader (version 1, the v0.11 writer's integer
    encoding): control < 128 -> a run of (control + 3) values starting
    at a varint base and stepping by the next byte read as a SIGNED
    delta (-128..127); control >= 128 -> (256 - control) literal
    varints. Reference: `RunLengthIntegerReader.java`; re-derived from
    the public ORC v1 spec's RLEv1 section, not ported."""
    buf = seg.buf
    lens: list[int] = []
    bases: list[int] = []
    steps: list[int] = []  # indexes into lens: the runs with a step
    literals: list[tuple[int, np.ndarray]] = []
    n = 0
    while n < need:
        seg.check(pos + 1)
        control = buf[pos]
        if control < 128:
            seg.check(pos + 2)
            delta = buf[pos + 1]
            if delta >= 128:  # one signed byte, not a varint
                delta -= 256
            base, pos = _varint(seg, pos + 2)
            count = control + 3
            bases.append((_zigzag(base) if signed else base) & _M64)
            if delta:
                steps += (len(lens), delta & _M64)
            RUN_COUNTER["v1_run"] = RUN_COUNTER.get("v1_run", 0) + 1
        else:
            count = 256 - control
            vals, pos = _varints(seg, pos + 1, count)
            if signed:
                vals = _unzigzag(vals)
            literals.append((n, vals))
            bases.append(0)
            RUN_COUNTER["v1_literal"] = RUN_COUNTER.get("v1_literal", 0) + 1
        lens.append(count)
        n += count
    lens_a = np.array(lens, np.int64)
    run, step = np.array(steps, np.uint64).reshape(-1, 2).T
    run = run.astype(np.int64)
    first = np.cumsum(lens_a) - lens_a
    runs = _Runs(lens_a, np.array(bases, np.uint64), (first[run], lens_a[run], step),
                 literals=literals)
    return runs.values(seg.arr), pos


def _byte_rle(seg: _Seg, pos: int, need: int) -> tuple[np.ndarray, int]:
    """RunLengthByteReader: control < 128 -> run of (control + 3)
    copies of the next byte; else (256 - control) literal bytes. One
    gather builds every run."""
    buf = seg.buf
    src: list[int] = []
    lens: list[int] = []
    steps: list[int] = []
    got = 0
    while got < need:
        seg.check(pos + 2)
        control = buf[pos]
        src.append(pos + 1)
        if control < 128:
            n, step = control + 3, 0
            pos += 2
        else:
            n, step = 256 - control, 1
            seg.check(pos + 1 + n)
            pos += 1 + n
        lens.append(n)
        steps.append(step)
        got += n
    counts = np.asarray(lens, np.int64)
    idx = np.repeat(np.asarray(src, np.int64), counts)
    if any(steps):
        idx += np.repeat(np.asarray(steps, np.int64), counts) * _within(counts)
    return seg.arr[idx], pos


# the most bytes one run of each kernel spans: an RLEv2 PATCHED_BASE run
# of 512 64-bit values with its 4-byte header, 8-byte base and 31 64-bit
# patch entries; an RLEv1 literal run of 128 ten-byte varints; a
# byte-RLE literal run of 128 bytes
_MAX_RUN_BYTES = {
    _rle_v2: 4 + 8 + 512 * 8 + 31 * 8,
    _rle_v1: 1 + 128 * 10,
    _byte_rle: 1 + 128,
}

# ---------------------------------------------------------------------------
# stream readers: a seek, then reads of whole arrays
# ---------------------------------------------------------------------------


class _Bytes:
    """A stream read as raw bytes from its seek position on. A kept
    run's reads end exactly where the next group's start (`slack` 0)."""

    slack = 0

    def __init__(self, stream: _Stream):
        self._stream = stream
        self.seg, self.pos = _EMPTY_SEG, 0

    def seek(self, provider, stop=None) -> None:
        self.seg, self.pos = self._stream.seek(provider, stop, self.slack)

    def rewind(self) -> None:
        """Seek to the stream's first byte (stripe dictionaries)."""
        self.seek(iter(self._stream.origin + (0,)))

    def take(self, n: int) -> int:
        """Claim the next n bytes; returns their offset in `seg.buf`."""
        start = self.pos
        self.seg.check(start + n)
        self.pos += n
        return start


class _Ints(_Bytes):
    """An RLE stream (integers or bytes): `seek` = stream seek + skip
    N values (the extra position slot); `next(n)` decodes whole runs
    and keeps the unread tail of the last one."""

    def __init__(self, stream: _Stream, kernel: Callable, *args):
        super().__init__(stream)
        # a run's last value may sit in a run that starts at the next
        # group's position and spans this much past it
        self.slack = _MAX_RUN_BYTES[kernel]
        self._kernel = kernel
        self._args = args
        self._none = kernel(_EMPTY_SEG, 0, 0, *args)[0]  # typed empty
        self._left = self._none

    def seek(self, provider, stop=None) -> None:
        super().seek(provider, stop)
        self._left = self._none
        skip = next(provider)
        if skip:
            self.next(skip)

    def next(self, n: int) -> np.ndarray:
        have = self._left
        if len(have) < n:
            more, self.pos = self._kernel(self.seg, self.pos, n - len(have), *self._args)
            have = np.concatenate((have, more)) if len(have) else more
        self._left = have[n:]
        return have[:n]


def _int_rle(stream: _Stream, signed: bool, encoding: str) -> _Ints:
    """RLE version switch, the TreeReaderFactory.createIntegerReader
    analog: pre-v2 column encodings (DIRECT / DICTIONARY) carry their
    integer streams in RLEv1; *_V2 encodings in RLEv2."""
    v1 = encoding in ("DIRECT", "DICTIONARY")
    return _Ints(stream, _rle_v1 if v1 else _rle_v2, signed)


class _Bits:
    """PRESENT / boolean bit stream over byte RLE, MSB first. Seek
    consumes the byte-RLE slots plus one bit-offset slot."""

    def __init__(self, stream: _Stream):
        self._bytes = _Ints(stream, _byte_rle)
        self._left = np.zeros(0, np.uint8)

    def seek(self, provider, stop=None) -> None:
        self._bytes.seek(provider, stop)
        self._left = np.zeros(0, np.uint8)
        bits = next(provider)
        if bits:
            self._left = np.unpackbits(self._bytes.next(1))[bits:]

    def next(self, n: int) -> np.ndarray:
        have = self._left
        if len(have) < n:
            more = np.unpackbits(self._bytes.next((n - len(have) + 7) // 8))
            have = np.concatenate((have, more))
        self._left = have[n:]
        return have[:n].astype(bool)


# ---------------------------------------------------------------------------
# column decoders (TreeReaderFactory analogs, data streams only)
# ---------------------------------------------------------------------------

# seconds between the Unix epoch and the ORC timestamp base
# (2015-01-01 00:00:00 in the writer timezone; UTC writers only)
_TS_BASE = 1_420_070_400
# nanos stream: value >> 3, times 10**(z + 1) when the low 3 bits z > 0
_NANO_SCALE = np.array([1] + [10 ** (z + 1) for z in range(1, 8)], np.int64)
# what datetime can hold: years 1..9999
_MIN_DAY, _MAX_DAY = -719_162, 2_932_896
_MIN_S, _MAX_S = -62_135_596_800, 253_402_300_799
_INT_DTYPES = {"smallint": np.int16, "int": np.int32, "bigint": np.int64,
               "date": np.int32}  # fmt: skip


def _validity(valid: np.ndarray | None):
    return None if valid is None else pa.py_buffer(np.packbits(valid, bitorder="little"))


def _spread(vals: np.ndarray, valid: np.ndarray | None) -> np.ndarray:
    """Non-null values -> one slot per row, zero where the row is null."""
    if valid is None:
        return vals
    full = np.zeros(len(valid), vals.dtype)
    full[valid] = vals
    return full


def _fixed(typ: pa.DataType, vals: np.ndarray, valid) -> pa.Array:
    full = np.ascontiguousarray(_spread(vals, valid))
    return pa.Array.from_buffers(typ, len(full), [_validity(valid), pa.py_buffer(full)])


def _offsets(lens: np.ndarray, valid, base: int = 0) -> pa.Buffer:
    full = _spread(lens, valid)
    out = np.empty(len(full) + 1, np.int32)
    out[0] = base
    np.cumsum(full, out=out[1:])
    out[1:] += base
    return pa.py_buffer(out)


def _gather(arr: pa.Array, sel: np.ndarray, valid) -> pa.Array:
    """Rows of `arr` (one per True in `sel`) placed at those rows; the
    other rows (and rows where `valid` is False) become null."""
    idx = _spread(np.cumsum(sel) - 1, valid)
    keep = _spread(sel, valid)
    return arr.take(pa.array(idx, mask=~keep))


class _StripeIO:
    """What building a stripe's decoders needs: its streams, the type
    tree, the include set and the range reader."""

    def __init__(self, st: dict, types: list[dict], rr: RangeReader,
                 compression: str, included: set[int] | None):
        self.st = st
        self.types = types
        self.rr = rr
        self.compression = compression
        self.included = included
        self.directory = st["directory"]

    def stream(self, cid: int, kind: str) -> _Stream:
        # an all-null column may omit its value streams entirely (e.g.
        # DICTIONARY_V2 with dictionary_size 0 writes PRESENT only) —
        # absent streams read as empty, never as KeyError
        start, length = self.directory.get(cid, {}).get(kind, (0, 0))
        return _Stream(self.rr, start, length, self.compression)


def _build_decoder(cid: int, io: _StripeIO) -> _Column:
    """TreeReaderFactory.createTreeReader analog: one decoder per
    include-tree node. list/struct/map/union decoders own their
    LENGTH/PRESENT/tag streams and recurse into subtype ids (child value
    streams hold the FLATTENED elements; child PRESENT entries exist
    only where the parent is present — the ORC v1 spec's nested-column
    contract). STRUCT children outside `io.included` (None = everything)
    are pruned — no decoder is built, none of their streams are planned
    or touched, and the struct type omits them (nested projection P2,
    reference `c++/include/orc/Reader.hh:260-281`)."""
    kind = io.types[cid]["kind"]
    enc = io.st["encodings"][cid]["kind"]
    if kind in _DECODERS:
        cls = _DECODERS[kind]
    elif kind in ("string", "char", "varchar", "binary"):
        dictionary = enc in ("DICTIONARY", "DICTIONARY_V2")
        cls = _DictStrings if dictionary else _Strings
    else:
        raise NotImplementedError(f"decode of ORC kind {kind!r} not implemented")
    return cls(cid, io)


class _Column:
    """One include-tree column's per-row-group decoder: owns the
    PRESENT reader (when the column has nulls) and its data streams,
    seeks them with the RowIndexEntry position slices, and `read(n)`
    returns n rows as an Arrow array of `self.type`."""

    def __init__(self, cid: int, io: _StripeIO):
        self.cid = cid
        self.kind = io.types[cid]["kind"]
        self.encoding = io.st["encodings"][cid]["kind"]
        self.type = arrow_type(io.types, cid, io.included)
        has_present = "PRESENT" in io.directory.get(cid, {})
        self._present = _Bits(io.stream(cid, "PRESENT")) if has_present else None
        self._seeks: dict[str, Any] = {}  # stream kind -> reader
        self._children: list[_Column] = []
        self._init(io)

    def _init(self, io: _StripeIO) -> None:
        raise NotImplementedError

    def _reader(self, kind: str, reader):
        self._seeks[kind] = reader
        return reader

    def seek_group(self, ctx: _DecodeContext) -> None:
        segs, stops = ctx.segs(self.cid, self.kind, self.encoding)
        if self._present is not None:
            self._present.seek(iter(segs["PRESENT"]), stops.get("PRESENT"))
        for kind, reader in self._seeks.items():
            if segs.get(kind):
                reader.seek(iter(segs[kind]), stops.get(kind))
        for child in self._children:
            child.seek_group(ctx)

    def read(self, n: int) -> pa.Array:
        valid = self._present.next(n) if self._present is not None else None
        m = n if valid is None else int(np.count_nonzero(valid))
        return self._values(m, valid, n)

    def _values(self, m: int, valid, n: int) -> pa.Array:
        raise NotImplementedError


class _IntColumn(_Column):
    """smallint / int / bigint / date: signed RLE."""

    def _init(self, io):
        self._data = self._reader(
            "DATA", _int_rle(io.stream(self.cid, "DATA"), True, self.encoding)
        )

    def _values(self, m, valid, n):
        vals = self._data.next(m)
        if self.kind == "date" and m and (
            vals.min() < _MIN_DAY or vals.max() > _MAX_DAY
        ):
            raise OverflowError(f"date out of range (years 1-9999) in column {self.cid}")
        return _fixed(self.type, vals.astype(_INT_DTYPES[self.kind]), valid)


class _TinyInts(_Column):
    def _init(self, io):
        self._data = self._reader("DATA", _Ints(io.stream(self.cid, "DATA"), _byte_rle))

    def _values(self, m, valid, n):
        # byte RLE yields raw 0..255; ORC tinyint is a SIGNED byte
        return _fixed(self.type, self._data.next(m).view(np.int8), valid)


class _Bools(_Column):
    def _init(self, io):
        self._data = self._reader("DATA", _Bits(io.stream(self.cid, "DATA")))

    def _values(self, m, valid, n):
        bits = _spread(self._data.next(m), valid)
        return pa.Array.from_buffers(
            self.type, n,
            [_validity(valid), pa.py_buffer(np.packbits(bits, bitorder="little"))],
        )


class _Floats(_Column):
    """IEEE-754 little-endian float/double, read straight off the buffer."""

    def _init(self, io):
        self._data = self._reader("DATA", _Bytes(io.stream(self.cid, "DATA")))
        self._dtype = np.dtype("<f4" if self.kind == "float" else "<f8")

    def _values(self, m, valid, n):
        start = self._data.take(m * self._dtype.itemsize)
        vals = np.frombuffer(self._data.seg.buf, self._dtype, m, start)
        return _fixed(self.type, vals, valid)


class _Timestamps(_Column):
    """DATA: signed seconds from the 2015-01-01 base in the WRITER
    timezone; SECONDARY: nanos with the 3-bit trailing-zero code
    (TreeReaderFactory parseNanos). ORC timestamps are wall-clock
    values: the writer serialized toEpoch(wall, writer_tz) -
    toEpoch(2015-01-01, writer_tz), so the reader rebases through the
    writer's zone rules and surfaces the zone-less wall clock
    (TimestampTreeReader's base_timestamp + readerTimezone handling,
    with the engine's reader pinned to the wall-clock convention)."""

    def _init(self, io):
        self._data = self._reader(
            "DATA", _int_rle(io.stream(self.cid, "DATA"), True, self.encoding)
        )
        self._nanos = self._reader(
            "SECONDARY",
            _int_rle(io.stream(self.cid, "SECONDARY"), False, self.encoding),
        )
        tz = io.st.get("writerTimezone")
        self._tz = None if tz in (None, "UTC", "Etc/UTC", "GMT") else tz
        self._base = _TS_BASE
        if self._tz is not None:
            import datetime as dt
            from zoneinfo import ZoneInfo

            # writer-zone base: toEpoch(2015-01-01 00:00, writer_tz)
            self._base = int(
                dt.datetime(2015, 1, 1, tzinfo=ZoneInfo(self._tz)).timestamp()
            )

    def _values(self, m, valid, n):
        secs = self._data.next(m) + self._base
        raw = self._nanos.next(m)
        nanos = (raw >> 3) * _NANO_SCALE[raw & 7]
        secs -= (secs < 0) & (nanos != 0)  # TreeReaderFactory rule
        if m and (secs.min() < _MIN_S - 86_400 or secs.max() > _MAX_S + 86_400):
            raise OverflowError(f"timestamp out of range (years 1-9999) in column {self.cid}")
        micros = secs * 1_000_000
        if self._tz is not None:
            wall = pc.local_timestamp(pa.array(micros, pa.timestamp("us", tz=self._tz)))
            micros = wall.cast(pa.int64()).to_numpy()
        micros = micros + nanos // 1000
        if m and (
            micros.min() < _MIN_S * 1_000_000
            or micros.max() > _MAX_S * 1_000_000 + 999_999
        ):
            raise OverflowError(f"timestamp out of range (years 1-9999) in column {self.cid}")
        return _fixed(self.type, micros, valid)


class _Decimals(_Column):
    """DATA: unbounded zigzag varints (unscaled values); SECONDARY:
    per-value scale, signed RLE. The one per-value loop of the decode."""

    def _init(self, io):
        self._data = self._reader("DATA", _Bytes(io.stream(self.cid, "DATA")))
        self._scales = self._reader(
            "SECONDARY",
            _int_rle(io.stream(self.cid, "SECONDARY"), True, self.encoding),
        )

    def _values(self, m, valid, n):
        from decimal import ROUND_DOWN, Context, Decimal

        # precision 38 + scale 18 can exceed the default context's 28
        # significant digits; quantize under an ORC-sized one. Rounding
        # only engages on v0.11 files whose per-value scale exceeds the
        # declared scale — the reference reader rescales by integer
        # division, i.e. truncation toward zero (the 12345678.6547456 →
        # .654745 pin in the orc-file-11-format expected dump)
        ctx = Context(prec=77, rounding=ROUND_DOWN)
        quantum = Decimal(1).scaleb(-self.type.scale)
        seg, pos = self._data.seg, self._data.pos
        buf = seg.buf
        out = []
        for sc in self._scales.next(m).tolist():
            unscaled = shift = 0
            while True:  # unbounded zigzag varint
                seg.check(pos + 1)
                b = buf[pos]
                pos += 1
                unscaled |= (b & 0x7F) << shift
                if b < 0x80:
                    break
                shift += 7
            val = Decimal(_zigzag(unscaled)).scaleb(-sc, ctx)
            out.append(val.quantize(quantum, context=ctx))
        self._data.pos = pos
        if valid is not None:
            it = iter(out)
            out = [next(it) if v else None for v in valid.tolist()]
        return pa.array(out, type=self.type)


def _string_array(typ, lens: np.ndarray, valid, reader: _Bytes) -> pa.Array:
    """Strings/binary from their lengths and the blob they index."""
    start = reader.take(int(lens.sum()))
    arr = pa.Array.from_buffers(
        typ, len(valid) if valid is not None else len(lens),
        [_validity(valid), _offsets(lens, valid, start), pa.py_buffer(reader.seg.buf)],
    )
    if typ != pa.binary():
        arr.validate(full=True)  # UTF-8, as the writer promised
    return arr


class _Strings(_Column):
    """string/char/varchar/binary, DIRECT(_V2): LENGTH + DATA blob."""

    def _init(self, io):
        self._data = self._reader("DATA", _Bytes(io.stream(self.cid, "DATA")))
        self._lengths = self._reader(
            "LENGTH", _int_rle(io.stream(self.cid, "LENGTH"), False, self.encoding)
        )

    def _values(self, m, valid, n):
        return _string_array(self.type, self._lengths.next(m), valid, self._data)


class _DictStrings(_Column):
    """DICTIONARY(_V2): DATA holds codes into the stripe dictionary
    (LENGTH + DICTIONARY_DATA, read whole from position 0 —
    plan_read_ranges loads them whole); the values are a `take`."""

    def _init(self, io):
        self._codes = self._reader(
            "DATA", _int_rle(io.stream(self.cid, "DATA"), False, self.encoding)
        )
        lengths = _int_rle(io.stream(self.cid, "LENGTH"), False, self.encoding)
        blob = _Bytes(io.stream(self.cid, "DICTIONARY_DATA"))
        lengths.rewind()
        blob.rewind()
        size = io.st["encodings"][self.cid]["dictionary_size"]
        self._dict = _string_array(self.type, lengths.next(size), None, blob)

    def _values(self, m, valid, n):
        codes = self._codes.next(m)
        if valid is None:
            return self._dict.take(pa.array(codes))
        return self._dict.take(pa.array(_spread(codes, valid), mask=~valid))


class _List(_Column):
    def _init(self, io):
        self._lengths = self._reader(
            "LENGTH", _int_rle(io.stream(self.cid, "LENGTH"), False, self.encoding)
        )
        self._children = [_build_decoder(io.types[self.cid]["subtypes"][0], io)]

    def _values(self, m, valid, n):
        lens = self._lengths.next(m)
        elems = self._children[0].read(int(lens.sum()))
        return pa.Array.from_buffers(
            self.type, n, [_validity(valid), _offsets(lens, valid)], children=[elems]
        )


class _Map(_Column):
    def _init(self, io):
        self._lengths = self._reader(
            "LENGTH", _int_rle(io.stream(self.cid, "LENGTH"), False, self.encoding)
        )
        self._children = [_build_decoder(sub, io) for sub in io.types[self.cid]["subtypes"]]

    def _values(self, m, valid, n):
        lens = self._lengths.next(m)
        total = int(lens.sum())
        keys, items = (child.read(total) for child in self._children)
        entries = pa.StructArray.from_arrays(
            [keys, items], fields=[self.type.key_field, self.type.item_field]
        )
        return pa.Array.from_buffers(
            self.type, n, [_validity(valid), _offsets(lens, valid)], children=[entries]
        )


class _Struct(_Column):
    """Include-aware: children outside `included` get no decoder — the
    pruned fields' streams are never attached or read, and the struct
    carries only the included fields (a pruned struct schema, the way
    the reference surfaces nested projection — never flattened)."""

    def _init(self, io):
        t = io.types[self.cid]
        self._children = [
            _build_decoder(sub, io)
            for sub in t["subtypes"]
            if io.included is None or sub in io.included
        ]

    def _values(self, m, valid, n):
        kids = [child.read(m) for child in self._children]
        if valid is not None:
            every = np.ones(m, bool)
            kids = [_gather(k, every, valid) for k in kids]
        return pa.Array.from_buffers(self.type, n, [_validity(valid)], children=kids)


class _Union(_Column):
    """UnionTreeReader analog (TreeReaderFactory.java:1865-1949): the
    union column's DATA stream is the byte-RLE tag per non-null row;
    each variant's values live in that SUBTYPE's own column streams,
    flattened in row order over the rows its tag selects (a variant
    column reads exactly count(tag == i) values per batch). Surfaced
    in the engine's tagged-struct convention — `{_tag, f0, f1, ...}`
    with every non-selected variant None — the one
    `functions/union_type.py` builds and `sources/union_reader.py`
    reads through this decoder. The PRESENT stream is decoded, so a
    NULL union is NULL, distinct from (tag 0, NULL variant) — the
    reference reader's own `.jsn` dumps pin both (see
    test_stream_decode)."""

    def _init(self, io):
        self._tags = self._reader("DATA", _Ints(io.stream(self.cid, "DATA"), _byte_rle))
        self._children = [_build_decoder(sub, io) for sub in io.types[self.cid]["subtypes"]]

    def _values(self, m, valid, n):
        tags = self._tags.next(m)
        kids = [_fixed(pa.int8(), tags.view(np.int8), valid)]
        for i, child in enumerate(self._children):
            sel = tags == i
            kids.append(_gather(child.read(int(sel.sum())), sel, valid))
        return pa.Array.from_buffers(self.type, n, [_validity(valid)], children=kids)


_DECODERS = {
    "smallint": _IntColumn, "int": _IntColumn, "bigint": _IntColumn,
    "date": _IntColumn, "tinyint": _TinyInts, "boolean": _Bools,
    "float": _Floats, "double": _Floats, "timestamp": _Timestamps,
    "decimal": _Decimals, "list": _List, "map": _Map, "struct": _Struct,
    "union": _Union,
}  # fmt: skip


class _DecodeContext:
    """Per-stripe seek context: hands each column its per-row-group
    position slices (`footer_tail.position_slots`), so composite
    decoders can seek their whole subtree for group `self.group`, the
    first of a kept run; `self.stop` is the first group past the run
    (None when it runs to the stripe's end)."""

    def __init__(self, st: dict, row_index: dict, is_compressed: bool):
        self.st = st
        self.row_index = row_index
        self.is_compressed = is_compressed
        self.group = 0
        self.stop: int | None = None

    def segs(self, cid: int, kind: str, encoding: str) -> tuple[dict, dict]:
        """Per stream kind, the position slices of groups `self.group`
        and `self.stop` (the latter empty without a stop)."""
        entries = self.row_index[cid]
        slots = position_slots(
            self.st["directory"].get(cid, {}), encoding, kind, self.is_compressed
        )
        segs = {sk: entries[self.group]["positions"][sl] for sk, sl in slots.items()}
        stops = {}
        if self.stop is not None:
            stops = {sk: entries[self.stop]["positions"][sl] for sk, sl in slots.items()}
        return segs, stops


def _kept_runs(keep: list[bool], stride: int, rows: int):
    """(first group, the first group past it or None at the stripe's
    end, row count) of each run of consecutive kept groups."""
    g = 0
    while g < len(keep):
        if not keep[g]:
            g += 1
            continue
        first = g
        while g < len(keep) and keep[g]:
            g += 1
        yield first, g if g < len(keep) else None, min(g * stride, rows) - first * stride


def _conform(arr: pa.Array, typ: pa.DataType) -> pa.Array:
    """A decoded column in the reader's type: widenings cast, struct
    fields pair by name (a file may order them differently)."""
    if arr.type == typ:
        return arr
    if pa.types.is_struct(typ) and pa.types.is_struct(arr.type):
        return pa.StructArray.from_arrays(
            [_conform(arr.field(f.name), f.type) for f in typ],
            fields=list(typ), mask=arr.is_null(),
        )
    return arr.cast(typ)


_NUMPY_VIEWS = {
    pa.int8(): np.int8, pa.int16(): np.int16, pa.int32(): np.int32,
    pa.int64(): np.int64, pa.float32(): np.float32, pa.float64(): np.float64,
}  # fmt: skip
_NUMPY_TEMPORAL = {pa.date32(): "datetime64[D]", pa.timestamp("us"): "datetime64[us]"}


def _pylist(arr: pa.Array) -> list:
    """One column as Python values. Flat types go through numpy: a
    nullable int64 never becomes float64 (values past 2^53 stay exact),
    and dates/timestamps become date/datetime (the decoder has already
    refused values outside years 1-9999, where numpy would yield int).
    Decimals and nested types use Arrow's own conversion."""
    t = arr.type
    if t == pa.bool_():
        vals = arr.fill_null(False).to_numpy(zero_copy_only=False)
    elif t in _NUMPY_VIEWS or t in _NUMPY_TEMPORAL:
        width = 4 if t == pa.date32() else t.bit_width // 8
        dtype = _NUMPY_VIEWS.get(t, np.int32 if width == 4 else np.int64)
        vals = np.frombuffer(arr.buffers()[1], dtype, len(arr), arr.offset * width)
        if t in _NUMPY_TEMPORAL:
            vals = vals.astype(np.int64).view(_NUMPY_TEMPORAL[t])
    elif pa.types.is_string(t) or pa.types.is_binary(t):
        return arr.to_numpy(zero_copy_only=False).tolist()
    else:
        return arr.to_pylist()
    if not arr.null_count:
        return vals.tolist()
    out = vals.astype(object)
    out[~arr.is_valid().to_numpy(zero_copy_only=False)] = None
    return out.tolist()


def to_pylists(batch: pa.RecordBatch) -> dict[str, list]:
    """The dict-of-lists boundary: a decoded batch as {name: [values]},
    None for nulls (what `scan_file`, `scan_file_evolved` and
    `decode_stripe` return, and what `perfbench` and the writer's
    rewrite read)."""
    return {name: _pylist(col) for name, col in zip(batch.schema.names, batch.columns)}


@dataclass
class FileScanPlan:
    """One file's scan, resolved ONCE from its metadata — the
    reference's per-file RecordReader plan (`pickRowGroups` →
    `planReadPartialDataStreams` → `readPartialDataStreams`,
    RecordReaderImpl.java:1027-1089). Built by `plan_file_scan`;
    `execute` runs it, `decode` runs one stripe of it, and `summary`
    is what `explain_lake_scan` reports, so a scan and its explanation
    cannot drift apart.

    `file_columns`, `tree` and every index below live in THIS file's
    namespace; `sources` maps each reader output name to the file's
    top-level column it reads (positionally reconciled `_colN` files
    rename here), `missing` outputs NULL-fill, `converters` apply the
    schema-evolution fixups and `schema` is the output Arrow schema."""

    path: str
    meta: dict                  # the file's tail parse
    file_columns: list[str]     # requested paths present in the file
    included: set[int]          # their include-tree closure
    stripes: list[dict]         # stripe footers ([] when level 1 skips)
    picks: list[list[dict]]     # level 2: keep bits per stripe per group
    ranges: list[dict]          # level 3: plan_read_ranges per stripe
    row_index: dict[int, list]  # ROW_INDEX entries per included column id:
                                # positions; SArg columns also statistics
    sources: dict[str, str] = field(default_factory=dict)
    missing: list[str] = field(default_factory=list)
    converters: dict[str, Callable] = field(default_factory=dict)
    tree: Any = None            # effective SArg; None = keep everything
    keep_all_reason: str | None = None
    positional_levels: int = 0
    truth: str = "YES_NO_NULL"  # level 1: the footer-stats verdict
    file_kept: bool = True
    schema: pa.Schema | None = None

    def summary(self) -> dict:
        """The per-file accounting explain_lake_scan reports: level-1
        verdict, stripes/groups kept, planned vs total data bytes."""
        d = {
            "path": self.path, "truth": self.truth, "keep": self.file_kept,
            "keep_all_reason": self.keep_all_reason,
        }  # fmt: skip
        if self.file_kept:
            kept = [sum(x["keep"] for x in per) for per in self.picks]
            d.update(
                stripes_total=len(kept),
                stripes_kept=sum(1 for k in kept if k),
                groups_total=sum(len(per) for per in self.picks),
                groups_kept=sum(kept),
                bytes_planned=sum(p["bytes_planned"] for p in self.ranges),
                bytes_total_data=sum(
                    p["bytes_total_data"] for p in self.ranges
                ),
            )
        return d

    def decode(self, stripe_idx: int) -> dict:
        """Decode one stripe's KEPT row groups from the planned byte
        ranges only (see decode_stripe). `batch` holds the columns
        under the file's own top-level names."""
        from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import (
            _column_ids,
            output_columns,
        )

        meta = self.meta
        st = self.stripes[stripe_idx]
        p = self.ranges[stripe_idx]
        keep = [d["keep"] for d in self.picks[stripe_idx]]
        rr = RangeReader(self.meta, st["offset"], p["ranges"])
        # row indexes for the whole subtree closure (nested columns seek
        # their element/field/key/value streams by their own entries)
        row_index = {
            cid: self.row_index[cid][stripe_idx] for cid in self.included
        }
        ctx = _DecodeContext(st, row_index, meta["compression"] != "NONE")
        # dotted sub-paths group under their top-level name and prune the
        # struct decode to the included subtree (subtree id sets of
        # distinct top columns are disjoint, so the global include set is
        # each decoder's include set)
        ids = _column_ids(meta)
        io = _StripeIO(st, meta["types"], rr, meta["compression"], self.included)
        decoders = {
            c: _build_decoder(ids[c], io)
            for c in output_columns(self.file_columns, meta)
        }
        parts: dict[str, list[pa.Array]] = {c: [] for c in decoders}
        n_rows = 0
        for g, stop, n in _kept_runs(keep, meta["row_index_stride"], st["numberOfRows"]):
            ctx.group, ctx.stop = g, stop
            for c, dec in decoders.items():
                dec.seek_group(ctx)
                parts[c].append(dec.read(n))
            n_rows += n
        batch = pa.RecordBatch.from_arrays(
            [
                pa.concat_arrays(parts[c]) if parts[c] else pa.array([], dec.type)
                for c, dec in decoders.items()
            ],
            names=list(decoders),
        )
        return {
            "batch": batch,
            "n_rows": n_rows,
            "row_groups_decoded": sum(keep),
            "row_groups_total": len(keep),
            "bytes_fetched": rr.bytes_fetched,
            "chunks_inflated": rr.chunks_inflated,
            "bytes_total_data": p["bytes_total_data"],
        }

    def execute(self, audit: dict | None = None):
        """Run the plan: yield one `pa.RecordBatch` of `schema` per
        stripe with a kept row group, every stripe read through one
        open handle of the file. `audit`, when given, is filled with
        the per-file accounting (file_kept, stripes_decoded,
        groups_decoded/total, bytes_fetched, chunks_inflated, and the
        evolution_* markers when evolution applied)."""
        if audit is None:
            audit = {}
        if self.positional_levels:
            audit["evolution_positional"] = self.positional_levels
        if self.keep_all_reason:
            audit["evolution_keep_all"] = True
        if self.converters:
            audit["evolution_converted"] = sorted(self.converters)
        audit.setdefault("file_kept", True)
        for k in ("stripes_decoded", "groups_decoded", "groups_total",
                  "bytes_fetched", "chunks_inflated"):
            audit.setdefault(k, 0)
        if not self.file_kept:
            audit["file_kept"] = False
            return
        audit["groups_total"] = sum(len(per) for per in self.picks)
        with self.meta.opened():
            for si, per_stripe in enumerate(self.picks):
                if not any(d["keep"] for d in per_stripe):
                    continue
                res = self.decode(si)
                audit["stripes_decoded"] += 1
                audit["groups_decoded"] += res["row_groups_decoded"]
                audit["bytes_fetched"] += res["bytes_fetched"]
                audit["chunks_inflated"] += res["chunks_inflated"]
                yield self._output(res["batch"])

    def _output(self, batch: pa.RecordBatch) -> pa.RecordBatch:
        """A file-namespace batch under the reader's output names and
        types: missing columns NULL-fill, converted columns run their
        converter value by value, the rest cast where they widen."""
        cols = []
        for f in self.schema:
            src = self.sources[f.name]
            if src not in batch.schema.names:
                cols.append(pa.nulls(batch.num_rows, f.type))
                continue
            arr = batch.column(src)
            conv = self.converters.get(f.name)
            if conv is not None:
                arr = pa.array([conv(v) for v in _pylist(arr)], type=f.type)
            cols.append(_conform(arr, f.type))
        return pa.RecordBatch.from_arrays(cols, schema=self.schema)


def decode_stripe(
    path: str,
    stripe_idx: int,
    tree: Any,
    columns: list[str],
    picks: list[list[dict]] | None = None,
    plan: list[dict] | None = None,
) -> dict:
    """Decode one stripe's KEPT row groups from the planned byte
    ranges only. Returns {"columns": {name: [values]}, "n_rows",
    "row_groups_decoded", "row_groups_total", "bytes_fetched",
    "bytes_total_data"} — the bytes accounting proves the partial
    read really was partial; the columns pass `to_pylists`. `picks` /
    `plan` (pick_row_groups / plan_read_ranges output) default to this
    predicate's own.

    The residual predicate still applies to the returned rows (group
    pruning is conservative — same contract as the reference, where
    `nextBatch` surfaces whole row groups and the row-level filter
    runs above)."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.functions.truth import (
        pick_row_groups,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import _plan_ranges

    full = plan_file_scan(path, None, columns)
    if picks is None and tree is not None:
        picks = pick_row_groups(full.meta, tree)
    if picks is not None:
        full.picks = picks
        full.ranges = _plan_ranges(full.meta, full.stripes, full.included, picks, full.row_index)
    if plan is not None:
        full.ranges = plan
    res = full.decode(stripe_idx)
    res["columns"] = to_pylists(res.pop("batch"))
    return res


def keep_all_picks(path: str) -> list[list[dict]]:
    """pickRowGroups-shaped keep-everything decisions (one entry per
    row group per stripe, from the root column's row index) — the
    no-predicate scan's picks, shared by decode callers that have no
    SArg (golden-corpus sweep, orc_native full scans)."""
    with open_tail(path) as tail:
        return _keep_all(parse_indexes(tail, parse_stripe_footers(tail), (0,))[0][0])


def _keep_all(row_index: list[list[dict]]) -> list[list[dict]]:
    """keep_all_picks from any one column's parsed row index (every
    column has one entry per row group)."""
    return [
        [
            {"row_group": g, "truth": "YES", "keep": True}
            for g in range(len(per_stripe))
        ]
        for per_stripe in row_index
    ]


def file_prunes(path: str, tree: Any) -> dict:
    """File-level keep/skip from the FOOTER column statistics alone —
    the cheapest pruning level (the reference's split elimination:
    evaluate the SArg against file stats before touching any index).
    One ranged tail read; no index or data bytes."""
    return _file_prunes_from_meta(parse_tail_of_file(path), tree)


def _file_prunes_from_meta(meta: dict, tree: Any) -> dict:
    """file_prunes over a parsed tail: one verdict unit, the Footer's
    per-id statistics (nested fields included, so dotted leaves prune
    whole files exactly like top-level ones)."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.functions.truth import verdicts

    return verdicts(meta, tree, [dict(enumerate(meta.get("footer_stats") or []))])[0]


def scan_file(path: str, tree: Any, columns: list[str],
              audit: dict | None = None):
    """The per-file three-level scan of one file in its own schema:
    level-1 file-stats keep/skip, level-2 pickRowGroups, level-3
    planned ranged decode (see plan_file_scan / FileScanPlan.execute).
    Yields {"columns": {name: [values]}, "n_rows"} per kept stripe
    (its decoded batch through `to_pylists`). Index-less files RAISE
    ("no row index"), and so does a requested or predicate column the
    file does not have. `audit`, when given, is filled with
    the per-file accounting (file_kept, stripes_decoded,
    groups_decoded/total, bytes_fetched)."""
    plan = _strict(plan_file_scan(path, tree, columns), tree, columns)
    yield from _as_pylists(plan.execute(audit))


def _strict(plan: FileScanPlan, tree: Any, columns: list[str]) -> FileScanPlan:
    """`plan`, which must read every requested and predicate column
    from the file itself: a missing one raises KeyError."""
    if plan.missing or plan.keep_all_reason:
        raise KeyError(
            f"{plan.path}: unknown column in {columns} / {tree!r}; file has "
            f"{[c['name'] for c in plan.meta['columns']]}"
        )
    return plan


def scan_file_evolved(path: str, tree: Any, columns: list[str],
                      audit: dict | None = None,
                      reader_meta: dict | None = None,
                      force_positional: bool = False,
                      tolerate_missing_schema: bool = True):
    """scan_file + NAME-BASED schema evolution (C1, reference
    `SchemaEvolution.java:460-514` name mapping + missing-column
    null-fill): a requested top-level column absent from THIS file's
    schema — the classic added-a-column-later lake — yields typed
    NULLs instead of a KeyError, so one reader schema scans a mixed
    lake. The rules are plan_file_scan's. Output keys are
    output_columns(columns) — identical to scan_file."""
    yield from _as_pylists(
        plan_file_scan(
            path, tree, columns, reader_meta=reader_meta,
            force_positional=force_positional,
            tolerate_missing_schema=tolerate_missing_schema,
        ).execute(audit)
    )


def _as_pylists(batches):
    """scan_file's per-stripe dicts from FileScanPlan.execute's batches."""
    for batch in batches:
        yield {"columns": to_pylists(batch), "n_rows": batch.num_rows}


def plan_file_scan(path: str, tree: Any, columns: list[str],
                   reader_meta: dict | None = None,
                   force_positional: bool = False,
                   tolerate_missing_schema: bool = True,
                   max_file_length: int | None = None) -> FileScanPlan:
    """Build one file's FileScanPlan, reading its metadata exactly
    once, through one open handle: the tail (`footer_tail.FileTail`,
    which the plan keeps as `meta` and reads its data through), the
    stripe footers, and one pass over the index region
    (`footer_tail.parse_indexes`) for the seek positions of every
    included column, the row-group statistics of the predicate's
    columns and the bloom index of the columns an equality-class leaf
    names. `max_file_length` plans the file as if it ended at that
    byte (see `footer_tail.parse_tail_of_file`). Evolution semantics,
    per the reference:

    - missing columns read as all-NULL for that file;
    - a predicate that references a missing column — or one that this
      file stores under a PPD-UNSAFE type conversion
      (`SchemaEvolution.isPPDSafeConversion:222-260`: only identity,
      int-family widening and string↔varchar may prune) — cannot
      prune this file; it falls back to a keep-all scan
      (`keep_all_reason` says why) and the caller's RESIDUAL row
      filter does the dropping (NULL comparisons are never true), so
      results stay exact;
    - with `reader_meta` (the elected reader schema's tail parse —
      `evolution_native.elect_reader_path`), evolution goes
      FIELD-LEVEL and TYPE-LEVEL (r11 verdict #3): a present struct
      missing a reader FIELD decodes PRESENT-only and the field
      NULL-fills per row (`TreeReaderFactory.java:255-288`,
      NullTreeReader analog), and safe widenings (int family,
      float→double, char/varchar→string, decimal rescale) read
      through `evolution_native.make_converter`
      (`ConvertTreeReaderFactory.java:401-2100` analog — a widening
      with no converter is an Arrow cast to the reader's type);
    - without `reader_meta`, a present top with a missing FIELD stays
      a loud error (the legacy contract — callers that never elected
      a reader schema must not get silently reshaped structs)."""
    with open_tail(path, max_file_length=max_file_length) as meta:
        return _plan_file_scan(
            meta, tree, columns, reader_meta, force_positional,
            tolerate_missing_schema,
        )


def _plan_file_scan(meta: FileTail, tree: Any, columns: list[str],
                    reader_meta: dict | None, force_positional: bool,
                    tolerate_missing_schema: bool) -> FileScanPlan:
    """plan_file_scan over the file's FileTail, held open."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.functions.truth import (
        _bloom_ids,
        _pick_groups,
        _predicate_ids,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources import (
        evolution_native as evo,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import (
        _column_ids,
        _included_ids,
        _plan_ranges,
        _resolve_partial,
        _top_name,
        output_columns,
    )

    path = meta.path
    if not meta["row_index_stride"]:
        # never a silent full (or empty) scan behind the caller's back
        raise ValueError(f"{path}: no row index; cannot plan a partial read")
    fids = _column_ids(meta)
    ref = reader_meta if reader_meta is not None else meta
    outs = output_columns(columns, ref)
    # pre-HIVE-4243 files (_col<N> names) reconcile by POSITION —
    # one level deep for plain files, TWO for ACID files (the event
    # wrapper plus the `row` struct; the missing-names check runs on
    # the base row: SchemaEvolution.java:93-113, buildConversion:
    # 398-424). `force_positional` (orc.force.positional.evolution,
    # OrcConf.java:141-145 — Hive 2.1 compat) applies the same pairing
    # even when the file carries real names. Reader paths translate
    # into the file's namespace for the scan and back for the output.
    # orc.tolerate.missing.schema (OrcConf.java:85-89, default TRUE):
    # with tolerance OFF, a missing-names FILE whose schema differs
    # from the reader's must fail loudly instead of best-effort
    # positional reconciliation (SchemaEvolution.java:98-110 — the
    # check runs on the FILE schema regardless of the reader's own
    # names, so a lake whose elected reader is itself _colN still
    # refuses; force is exempt: the caller asked for positional)
    if (
        reader_meta is not None
        and not tolerate_missing_schema
        and not force_positional
        and evo.positional_levels(meta)
        and evo.schema_signature(meta) != evo.schema_signature(reader_meta)
    ):
        raise RuntimeError(
            f"{path}: schema metadata is missing (pre-HIVE-4243 "
            "writer) and tolerate_missing_schema=False — will not "
            "reconcile schemas by position"
        )
    pos_levels = 0
    rename: dict[str, str] = {}
    if reader_meta is not None and not evo.is_positional(reader_meta):
        pos_levels = evo.positional_levels(meta, force=force_positional)
    if pos_levels:
        rename = evo.positional_name_map(reader_meta, meta, levels=pos_levels)
    present: list[str] = []   # file-side paths of the requested columns
    for c in columns:
        fc = evo.rename_path(c, rename)
        if _top_name(fids, fc) not in fids:
            continue  # whole top-level column missing: NULL-fill
        chain, full = _resolve_partial(meta, fc)
        if not full and reader_meta is None:
            t = meta["types"][chain[-1]]
            raise KeyError(
                f"{c!r}: struct has fields {t['field_names']} — "
                "field-level evolution needs an elected reader schema "
                "(pass reader_meta)"
            )
        present.append(fc)
    # reader output name -> the file's top-level column it reads
    sources = {o: _top_name(fids, evo.rename_path(o, rename)) for o in outs}
    missing = [o for o, f in sources.items() if f not in fids]
    if not present:
        raise ValueError(
            f"{path}: none of the requested columns {outs} exist in "
            f"this file (has {sorted(fids)}) — not an evolution of the "
            "reader schema"
        )
    included = _included_ids(meta, present, partial=reader_meta is not None)
    reason = None
    if tree is not None:
        reason = evo.keep_all_reason(meta, ref, tree, file_names=rename or None)
        tree = None if reason else evo.tree_rename(tree, rename)
    # per-column value fixups (struct-field NULL-fill, decimal
    # rescale); None for the identity fast path
    convs = {}
    if reader_meta is not None:
        rids = _column_ids(reader_meta)
        r_inc = _included_ids(reader_meta, columns)
        for o, fo in sources.items():
            if fo in fids and o in rids:
                conv = evo.make_converter(
                    reader_meta["types"], rids[o],
                    meta["types"], fids[fo], r_inc, included,
                    # the top level consumed one positional level via
                    # the name map; deeper struct levels (the ACID
                    # `row` case) pair by index inside the converter
                    positional_levels=max(0, pos_levels - 1),
                )
                if conv is not None:
                    convs[o] = conv
    if reader_meta is None:
        # no reader schema: a column this file lacks has no type either
        known = arrow_schema(meta, present)
        schema = pa.schema(
            [pa.field(o, pa.null()) if o in missing else known.field(o) for o in outs]
        )
    else:
        schema = arrow_schema(reader_meta, columns)
    plan = FileScanPlan(
        path, meta, present, included, [], [], [], {}, sources=sources,
        missing=missing, converters=convs, tree=tree,
        keep_all_reason=reason, positional_levels=pos_levels,
        schema=schema,
    )
    if tree is not None:
        level1 = _file_prunes_from_meta(meta, tree)
        plan.truth, plan.file_kept = level1["truth"], level1["keep"]
        if not plan.file_kept:
            return plan  # skipped on footer stats: no index bytes read
    plan.stripes = parse_stripe_footers(meta)
    if tree is None:
        plan.row_index = parse_indexes(meta, plan.stripes, included)[0]
        plan.picks = _keep_all(plan.row_index[min(included)])
    else:
        plan.row_index, blooms = parse_indexes(
            meta, plan.stripes, included,
            stats=_predicate_ids(meta, tree).values(),
            blooms=_bloom_ids(meta, tree),
        )
        plan.picks = _pick_groups(meta, tree, plan.row_index, blooms)
    plan.ranges = _plan_ranges(
        meta, plan.stripes, included, plan.picks, plan.row_index
    )
    return plan


def read_planned_lake(spark, paths: list[str], tree: Any, columns: list[str],
                      reader_path: str | None = None,
                      force_positional: bool = False):
    """Lake-scale planned partial read: ONE Spark task per FILE — the
    unit the reference plans at (one RecordReader per file/split) and
    the same topology as `sources/pyds.py`. Each task builds and
    executes ITS file's FileScanPlan, metadata first:

    1. file footer stats -> skip the whole file without reading any
       index bytes (split elimination — the orc_split_elim goldens'
       contract);
    2. pickRowGroups over ROW_INDEX stats (+ blooms) -> keep/skip bits
       per row group; stripes with no kept groups are skipped;
    3. plan_read_ranges -> ranged reads -> decode of ONLY the kept
       groups (readPartialDataStreams parity).

    The driver touches only the FILE LIST plus one tail parse for the
    schema — O(1) metadata, no per-file driver loop — so the shape
    holds at a million files: pruning work is distributed WITH the
    data IO, and a file skipped at level 1 costs its task one tail
    read. Returns the decoded rows; the caller applies the residual
    row-level predicate (pruning is conservative)."""
    _, reader_meta = _reader_schema(paths, reader_path, force_positional, spark)

    def scan(path: str):
        # per-file name-based evolution: missing columns null-fill,
        # predicates on them disable pruning for that file only
        # (residual filter stays exact)
        return plan_file_scan(
            path, tree, columns, reader_meta=reader_meta,
            force_positional=force_positional,
        ).execute()

    return map_files(spark, paths, scan, arrow_schema(reader_meta, columns))


def _reader_schema(paths: list[str], reader_path: str | None,
                   force_positional: bool, spark=None) -> tuple[str, dict]:
    """(path, tail parse) of the lake's reader schema. ELECTION (r11
    verdict #2 — no caller hint): the file whose schema is a
    widening-supertype of every other file's becomes the reader
    schema; every other file reads through the per-file evolution
    mapping (missing columns/fields NULL-fill, safe widenings convert,
    PPD-unsafe predicate columns fall back to keep-all for that file
    only). Past 64 files and given `spark`, the tail parses run as a
    Spark job and only DISTINCT schema signatures reach the driver —
    O(generations), not O(files). An explicit `reader_path` (the
    table-catalog case — the reference always reads against the
    declared table schema) skips the election; `force_positional`
    (orc.force.positional.evolution) makes every file reconcile by
    index, named or not, and is honored by the election's covers()
    too."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.evolution_native import (
        elect_reader_meta,
    )

    if reader_path is not None:
        return reader_path, parse_tail_of_file(reader_path)
    return elect_reader_meta(
        paths, spark=spark, force_positional=force_positional
    )


def explain_lake_scan(paths: list[str], tree: Any, columns: list[str],
                      force_positional: bool = False) -> list[dict]:
    """Driver-side (diagnostic) accounting of what read_planned_lake
    will do per file: the summary of each file's FileScanPlan under
    the same reader-schema election — level-1 keep/skip, stripes and
    groups kept, the planned byte fraction, and why a file keeps
    everything. Metadata reads only."""
    _, reader_meta = _reader_schema(paths, None, force_positional)
    return [
        plan_file_scan(
            path, tree, columns, reader_meta=reader_meta,
            force_positional=force_positional,
        ).summary()
        for path in paths
    ]


def read_planned(spark, path: str, tree: Any, columns: list[str]):
    """Distributed planned partial read of ONE file: read_planned_lake
    over `[path]` (one Spark task runs the file's FileScanPlan). Returns
    a DataFrame with `columns` in declared order; the caller applies the
    residual row-level predicate (group pruning is conservative)."""
    return read_planned_lake(spark, [path], tree, columns)
