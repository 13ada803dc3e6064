"""Native (JVM-free) ORC v0.12 WRITER — the parity tier's write side.

Why this exists: the engine's production writes go through Spark's
embedded Java ORC library (`sources/orc_io.write_orc`), but the parity
tier so far only READS natively (`stream_decode`, `footer_tail`,
`bloom`).  A native writer closes the loop: files this module emits are
verified value-for-value against the embedded Java reader
(`spark.read.orc`), pyarrow's C++ reader, AND the engine's own native
decoder — three independent readers over one byte stream — and give the
test suite a JVM-free way to construct adversarial layouts (exact
row-group boundaries, forced encodings, bloom-only-prunable data) that
`spark.write.orc` cannot be coaxed into. The FULL type tree is
supported: primitives plus struct/array/map/uniontype at any nesting
depth (a child's row groups hold exactly its parent's non-null rows'
values — the nested-column contract stream_decode's composite
decoders read back).

Reference analogs (behavior, not code): `WriterImpl.java` (tree
writers, dictionary cutover `checkDictionaryEncoding`, stats),
`PhysicalFsWriter.java` (file layout: index region → data region →
stripe footer; metadata → footer → postscript), `OutStream.java:84-176`
(chunk framing `(len << 1) | isOriginal`), `RunLengthIntegerWriterV2`
(all FOUR sub-encodings: SHORT_REPEAT / DIRECT / fixed-DELTA /
PATCHED_BASE — the patched form engages on mostly-narrow runs with
few wide outliers, preparePatchedBlob analog), `RunLengthByteWriter`,
`BitFieldWriter`, `SerializationUtils` (varint/zigzag),
`BloomFilter.java` (Kirsch-Mitzenmacher probe over Murmur3/Wang
hashes), and the position-recorder layout mirrored read-side by
`footer_tail.get_index_position` (RecordReaderUtils.java:387-457).

Columnar encode: like the reference's `Writer.addRowBatch`, which takes
whole `VectorizedRowBatch`es, every column arrives as one Arrow array
(Arrow arrays, record batches and tables go straight in; Python lists
are converted once, by `pa.array`, with a per-value coercion only for
the forms Arrow does not take). Each node then encodes a whole stripe
of row groups from numpy buffers: group statistics are min/max/sum
over slices, the bloom hashes run in wrapping uint64, the RLE encoders
find their runs with array kernels and pack one bit width per numpy
call, so Python visits run headers, not values. Runs are chosen by
one greedy scan (a constant run first, then a fixed delta, then
literals up to the next constant triple), and the file bytes are
pinned by tests/test_writer_bytes.py. The per-value loops left are
decimal varints and char/varchar length enforcement.
Production 100-TB writes stay on the JVM writer; this module proves
the format knowledge and manufactures precise fixtures.

Deliberate divergences from the HDP-era source (documented both ways,
following the embedded-Java-ORC pin of [[reference-divergences]]):
- double min/max EXCLUDE NaN values while the sum stays NaN-poisoned
  (the HDP-era `DoubleStatisticsImpl` let a leading NaN poison
  min/max; the embedded writer's ORC-629-era behavior — probed
  value-for-value against `spark.write.orc` in test_native_writer —
  is what this engine's own PPD planner and the production reader
  actually consume).
- timestamp stats write BOTH the legacy millis fields and the
  minUtc/maxUtc pair (ORC-135), so a writerVersion-aware reader
  (F11 guard) can trust them.
"""

from __future__ import annotations

import math
import struct
import zlib
from decimal import Context, Decimal
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .bloom import DEFAULT_SEED
from .file_job import arrow_type

# proto Type.Kind codes (orc_proto.proto:145-164), inverse of
# footer_tail.KIND
_KIND_CODE = {
    "boolean": 0, "tinyint": 1, "smallint": 2, "int": 3, "bigint": 4,
    "float": 5, "double": 6, "string": 7, "binary": 8, "timestamp": 9,
    "list": 10, "map": 11, "struct": 12, "union": 13, "decimal": 14,
    "date": 15, "varchar": 16, "char": 17,
}  # fmt: skip

_COMP_CODE = {"none": 0, "zlib": 1, "snappy": 2, "lzo": 3, "lz4": 4, "zstd": 5}

# RunLengthIntegerWriterV2 width table (encodeBitWidth): bit width ->
# 5-bit code; mirror of stream_decode._WIDTH_TABLE
_WIDTH_TABLE = list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]
_WIDTH_CODE = {w: i for i, w in enumerate(_WIDTH_TABLE)}

_STREAM_CODE = {
    "PRESENT": 0, "DATA": 1, "LENGTH": 2, "DICTIONARY_DATA": 3,
    "DICTIONARY_COUNT": 4, "SECONDARY": 5, "ROW_INDEX": 6,
    "BLOOM_FILTER": 7, "BLOOM_FILTER_UTF8": 8,
}  # fmt: skip

_ENCODING_CODE = {"DIRECT": 0, "DICTIONARY": 1, "DIRECT_V2": 2, "DICTIONARY_V2": 3}

# seconds between the Unix epoch and the ORC timestamp base
# (2015-01-01 00:00:00 UTC — the writer timezone this module pins)
_TS_BASE = 1_420_070_400


# ---------------------------------------------------------------------------
# protobuf wire-format writers (inverse of footer_tail._fields)
# ---------------------------------------------------------------------------


def _uvarint(n: int) -> bytes:
    if n < 0x80:
        return bytes((n,))
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zz_enc(n: int) -> int:
    """Zigzag encode a signed int to unsigned (inverse of _zigzag).
    Pure sign-branch arithmetic — the fixed-width `(n << 1) ^ (n >> 63)`
    trick corrupts Python ints >= 2**63 (unbounded decimal unscaled
    values are bigger than a long)."""
    return (n << 1) if n >= 0 else (((-n) << 1) - 1)


def _pb_varint(field: int, value: int) -> bytes:
    return _uvarint((field << 3) | 0) + _uvarint(value)


def _pb_svarint(field: int, value: int) -> bytes:
    """sintNN field: zigzag varint."""
    return _pb_varint(field, _zz_enc(value))


def _pb_bytes(field: int, value: bytes) -> bytes:
    return _uvarint((field << 3) | 2) + _uvarint(len(value)) + value


def _pb_string(field: int, value: str) -> bytes:
    return _pb_bytes(field, value.encode("utf-8"))


def _pb_double(field: int, value: float) -> bytes:
    return _uvarint((field << 3) | 1) + struct.pack("<d", value)


def _pb_packed(field: int, values: list[int]) -> bytes:
    return _pb_bytes(field, b"".join(_uvarint(v) for v in values))


# ---------------------------------------------------------------------------
# output streams with position recording (OutStream + PositionRecorder)
# ---------------------------------------------------------------------------


class _OutStream:
    """A single ORC stream: raw bytes in, optionally chunk-framed
    compressed bytes out. `end_group()` closes the current compression
    chunk so that a row-group boundary is always a chunk boundary —
    which makes every recorded position's decompressed-offset slot 0,
    exactly the invariant the read side's seek relies on."""

    def __init__(self, compression: str, block_size: int):
        self._comp = compression
        self._block = block_size
        self._raw = bytearray()  # current chunk (compressed mode)
        self._out = bytearray()  # final stream bytes

    def write(self, data: bytes) -> None:
        if self._comp == "none":
            self._out += data
            return
        self._raw += data
        while len(self._raw) >= self._block:
            self._flush_chunk(self._raw[: self._block])
            del self._raw[: self._block]

    def _flush_chunk(self, raw: bytes | bytearray) -> None:
        if not raw:
            return
        comp = _compress_chunk(bytes(raw), self._comp)
        if comp is not None and len(comp) < len(raw):
            hdr = (len(comp) << 1) | 0
            self._out += bytes((hdr & 0xFF, (hdr >> 8) & 0xFF, (hdr >> 16) & 0xFF))
            self._out += comp
        else:  # incompressible: original chunk (OutStream.java:131-141)
            hdr = (len(raw) << 1) | 1
            self._out += bytes((hdr & 0xFF, (hdr >> 8) & 0xFF, (hdr >> 16) & 0xFF))
            self._out += raw

    def end_group(self) -> None:
        if self._comp != "none":
            self._flush_chunk(self._raw)
            self._raw.clear()

    def pos(self) -> list[int]:
        """Position slots for a seek to the CURRENT point: [byte
        offset] uncompressed, [chunk offset, 0] compressed (the 0 is
        the in-chunk decompressed offset — always 0 at a group
        boundary because end_group() closed the chunk)."""
        if self._comp == "none":
            return [len(self._out)]
        return [len(self._out), 0]

    def finish(self) -> bytes:
        self.end_group()
        return bytes(self._out)


def _compress_chunk(raw: bytes, comp: str) -> bytes | None:
    if comp == "zlib":
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        return c.compress(raw) + c.flush()
    if comp in ("snappy", "zstd", "lz4"):
        try:
            import pyarrow as pa

            codec = {"snappy": "snappy", "zstd": "zstd", "lz4": "lz4_raw"}[comp]
            return pa.Codec(codec).compress(raw, asbytes=True)
        except Exception:
            return None  # fall back to original chunks
    raise ValueError(f"unsupported write compression {comp!r} (LZO is read-only)")


# ---------------------------------------------------------------------------
# columnar kernels: whole-array numpy forms of the reference's value
# encoders. Each returns one stripe's stream bytes plus the byte offset
# at which every row group starts, so no run crosses a group boundary
# and every run-offset position slot stays 0.
# ---------------------------------------------------------------------------

_U64 = np.uint64


def _closest_width(n: int) -> int:
    for w in _WIDTH_TABLE:
        if n <= w:
            return w
    return 64


_CLOSEST = np.array([_closest_width(b) for b in range(65)], dtype=np.int64)
_CODE_OF = np.zeros(65, dtype=np.int64)
_CODE_OF[_WIDTH_TABLE] = np.arange(len(_WIDTH_TABLE))


def _ranges(starts, lens) -> np.ndarray:
    """The concatenated index ranges [start, start + len)."""
    lens = np.asarray(lens, dtype=np.int64)
    ends = np.cumsum(lens)
    if not len(ends) or ends[-1] == 0:
        return np.zeros(0, dtype=np.int64)
    shift = np.repeat(np.asarray(starts, dtype=np.int64) - (ends - lens), lens)
    return np.arange(ends[-1], dtype=np.int64) + shift


def _next_true(flags: np.ndarray, none: int) -> np.ndarray:
    """For each i, the smallest k >= i with flags[k] (`none` if no k)."""
    idx = np.where(flags, np.arange(len(flags)), none)
    return np.minimum.accumulate(idx[::-1])[::-1]


def _bit_length(u: np.ndarray) -> np.ndarray:
    """int.bit_length of every uint64 (the float exponent overshoots by
    one just below a power of two; the shift test takes it back)."""
    u = np.asarray(u).astype(_U64, copy=False)
    e = np.minimum(np.frexp(u.astype(np.float64))[1], 64).astype(np.int64)
    over = (e > 0) & ((u >> np.maximum(e - 1, 0).astype(_U64)) == 0)
    return e - over


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.int64)
    return ((v << 1) ^ (v >> 63)).view(_U64)


def _varint_matrix(u: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 bytes of every uint64: an (m, 10) byte matrix and the
    byte count of each row."""
    u = np.asarray(u).astype(_U64, copy=False)
    nb = np.maximum(1, (_bit_length(u) + 6) // 7)
    cols = np.arange(10)
    mat = ((u[:, None] >> (7 * cols).astype(_U64)) & _U64(0x7F)).astype(np.uint8)
    mat |= (cols[None, :] < (nb - 1)[:, None]).astype(np.uint8) << 7
    return mat, nb


def _varints(u: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 bytes of every uint64, concatenated, plus each value's
    byte count."""
    mat, nb = _varint_matrix(u)
    return mat[np.arange(10)[None, :] < nb[:, None]], nb


def _pack(u: np.ndarray, lens, width: int) -> np.ndarray:
    """Big-endian bit pack of consecutive runs of `lens` values, each
    run zero-padded to a byte boundary (inverse of
    stream_decode's unpack)."""
    u = np.asarray(u).astype(_U64, copy=False)
    if width % 8 == 0:
        mat = np.empty((len(u), width // 8), dtype=np.uint8)
        for j in range(width // 8):
            mat[:, j] = (u >> _U64(width - 8 * (j + 1))) & _U64(0xFF)
        return mat.ravel()
    bits = np.empty((len(u), width), dtype=np.uint8)
    for j in range(width):
        bits[:, j] = (u >> _U64(width - 1 - j)) & _U64(1)
    flat = bits.ravel()
    lens = np.asarray(lens, dtype=np.int64)
    pad = (-lens * width) % 8
    if pad.any():
        flat = np.insert(flat, np.repeat(np.cumsum(lens) * width, pad), 0)
    return np.packbits(flat)


def _assemble(head: np.ndarray, hlen, pay_parts: list, pay_start, pay_len):
    """Interleave each run's header row (`head[i, :hlen[i]]`) with its
    payload slice (of the concatenated `pay_parts`) in run order."""
    n_runs, hw = head.shape
    src = np.concatenate([head.ravel()] + pay_parts) if pay_parts else head.ravel()
    starts = np.empty(2 * n_runs, dtype=np.int64)
    lens = np.empty(2 * n_runs, dtype=np.int64)
    starts[0::2] = np.arange(n_runs) * hw
    lens[0::2] = hlen
    starts[1::2] = np.asarray(pay_start) + n_runs * hw
    lens[1::2] = pay_len
    return src[_ranges(starts, lens)], np.asarray(hlen) + np.asarray(pay_len)


def _group_offsets(run_starts, run_bytes, bounds) -> np.ndarray:
    """Byte offset of every group boundary: runs never straddle one."""
    off = np.concatenate([[0], np.cumsum(run_bytes)])
    return off[np.searchsorted(run_starts, bounds)]


def _walk(nxt: np.ndarray, n: int) -> np.ndarray:
    """Run starts of the greedy scan: from each start the run table
    names the next one, so only run headers are visited."""
    table = nxt.tolist()
    starts = []
    i = 0
    while i < n:
        starts.append(i)
        i = table[i]
    return np.array(starts, dtype=np.int64)


def _diffs(v: np.ndarray, bounds: np.ndarray):
    """Neighbour geometry shared by the integer encoders: group end per
    value, `same[k]` (v[k+1] == v[k] inside one group), the wrapped
    differences, `dsame[k]` (d[k] == d[k+1], both exact and inside one
    group; a difference that leaves int64 can never repeat inside the
    range) and the length of the equal-difference run from each value."""
    n = len(v)
    pos = np.arange(n)
    gend = np.repeat(bounds[1:], np.diff(bounds))
    inner = pos[:-1] + 1 < gend[:-1]
    same = inner & (v[1:] == v[:-1])
    d = v[1:] - v[:-1]
    dok = inner & (((v[1:] ^ v[:-1]) & (v[1:] ^ d)) >= 0)
    dsame = dok[:-1] & dok[1:] & (d[:-1] == d[1:])  # d[k] == d[k+1]
    # values in the equal-difference run from i (diffs i.. all equal)
    dvals = np.zeros(n, dtype=np.int64)
    if n >= 2:
        dend = _next_true(np.append(~dsame, True), n - 1)
        dvals[: n - 1] = dend - pos[: n - 1] + 2
    return pos, gend, same, np.append(d, 0), dsame, dvals


def _rlev2(vals: np.ndarray, signed: bool, bounds: np.ndarray):
    """RunLengthIntegerWriterV2 over whole groups, choosing exactly the
    greedy scan's runs: a constant run of 3..512 (SHORT_REPEAT up to
    10, else DELTA with delta 0), else a fixed non-zero delta run of
    3..512, else literals up to the next constant triple (at most 512)
    as PATCHED_BASE when a few wide outliers make that smaller
    (preparePatchedBlob analog), else DIRECT."""
    v = np.asarray(vals, dtype=np.int64)
    n = len(v)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(len(bounds), dtype=np.int64)
    pos, gend, same, d, dsame, dvals = _diffs(v, bounds)
    triple = np.zeros(n, dtype=bool)
    triple[: max(n - 2, 0)] = same[:-1] & same[1:]
    const = np.minimum(_next_true(np.append(~same, True), n) + 1 - pos, 512)
    delta = np.zeros(n, dtype=bool)
    delta[: max(n - 2, 0)] = dsame & (d[: n - 2] != 0)
    lit_end = np.minimum(np.minimum(_next_true(triple, n), pos + 512), gend)
    nxt = np.where(triple, pos + const, np.where(delta, pos + np.minimum(dvals, 512), lit_end))
    s = _walk(nxt, n)
    L = nxt[s] - s
    enc = _zigzag(v) if signed else v.view(_U64)
    bl = _bit_length(enc)
    n_runs = len(s)
    head = np.zeros((n_runs, 22), dtype=np.uint8)
    hlen = np.zeros(n_runs, dtype=np.int64)
    pay_start = np.zeros(n_runs, dtype=np.int64)
    pay_len = np.zeros(n_runs, dtype=np.int64)
    pay_parts: list[np.ndarray] = []
    pay_total = 0

    # SHORT_REPEAT: width-3 bits | repeat-3, then the value big-endian
    sr = np.flatnonzero(triple[s] & (L <= 10))
    if len(sr):
        val = enc[s[sr]]
        w = np.maximum(1, (bl[s[sr]] + 7) // 8)
        head[sr, 0] = ((w - 1) << 3) | (L[sr] - 3)
        for b in range(8):
            r = b < w
            head[sr[r], 1 + b] = (val[r] >> ((w[r] - 1 - b) * 8).astype(_U64)) & _U64(0xFF)
        hlen[sr] = 1 + w

    # DELTA, fixed: 11 | width-code 0 | length-1, base varint, delta varint
    dl = np.flatnonzero((triple[s] & (L > 10)) | delta[s])
    if len(dl):
        lm1 = L[dl] - 1
        head[dl, 0] = 0xC0 | ((lm1 >> 8) & 1)
        head[dl, 1] = lm1 & 0xFF
        bmat, bnb = _varint_matrix(enc[s[dl]])  # zigzag iff signed
        dmat, dnb = _varint_matrix(_zigzag(np.where(delta[s[dl]], d[s[dl]], 0)))
        for j in range(10):
            r = j < bnb
            head[dl[r], 2 + j] = bmat[r, j]
        for j in range(10):
            r = j < dnb
            head[dl[r], 2 + bnb[r] + j] = dmat[r, j]
        hlen[dl] = 2 + bnb + dnb

    lit = np.flatnonzero(~triple[s] & ~delta[s])
    if len(lit):
        direct_w = _CLOSEST[np.maximum(np.maximum.reduceat(bl, s)[lit], 1)]
        patched = _patched_runs(v, s, L, lit, direct_w)
        for i, blob in patched.items():
            pay_parts.append(np.frombuffer(blob, dtype=np.uint8))
            pay_start[i], pay_len[i] = pay_total, len(blob)
            pay_total += len(blob)
        keep = ~np.isin(lit, list(patched))
        lit, direct_w = lit[keep], direct_w[keep]
        lm1 = L[lit] - 1
        head[lit, 0] = 0x40 | (_CODE_OF[direct_w] << 1) | ((lm1 >> 8) & 1)
        head[lit, 1] = lm1 & 0xFF
        hlen[lit] = 2
        for w in np.unique(direct_w).tolist():
            sel = lit[direct_w == w]
            packed = _pack(enc[_ranges(s[sel], L[sel])], L[sel], w)
            nbytes = (L[sel] * w + 7) // 8
            pay_start[sel] = pay_total + np.cumsum(nbytes) - nbytes
            pay_len[sel] = nbytes
            pay_parts.append(packed)
            pay_total += len(packed)
    out, run_bytes = _assemble(head, hlen, pay_parts, pay_start, pay_len)
    return out, _group_offsets(s, run_bytes, bounds)


def _patched_runs(v, s, L, lit, direct_w) -> dict[int, bytes]:
    """PATCHED_BASE blobs for the literal runs that take it. A run of
    at least 4 values is a candidate when 1..31 of its deltas (from
    the run minimum) are wider than its 90th-percentile delta width
    and the patched form can still be smaller; the rest of the
    decision (at most 31 gap entries, a size win over DIRECT) runs
    per candidate."""
    ok = L[lit] >= 4
    c, dw = lit[ok], direct_w[ok]
    if not len(c):
        return {}
    base = np.minimum.reduceat(v, s)[c]
    top = np.maximum.reduceat(v, s)[c]
    span = top.view(_U64) - base.view(_U64)
    ok = (base >= -(1 << 62)) & (span < _U64(1 << 63))
    c, dw, base = c[ok], dw[ok], base[ok]
    if not len(c):
        return {}
    lens = L[c]
    deltas = v[_ranges(s[c], lens)].view(_U64) - np.repeat(base.view(_U64), lens)
    dbits = np.maximum(1, _bit_length(deltas))
    local = np.repeat(np.arange(len(c)), lens)
    hist = np.bincount(local * 65 + dbits, minlength=len(c) * 65).reshape(-1, 65)
    p90 = (hist.cumsum(axis=1) <= ((lens * 9) // 10 - 1)[:, None]).sum(axis=1)
    width = _CLOSEST[p90]
    first = np.cumsum(lens) - lens
    n_patch = np.add.reduceat(dbits > np.repeat(width, lens), first)
    # the patched size is at least a 32-bit header, a 1-byte base, the
    # packed deltas and one 2-bit entry per patch
    take = (n_patch >= 1) & (n_patch <= 31) & (40 + lens * width + 2 * n_patch < lens * dw)
    out: dict[int, bytes] = {}
    for j in np.flatnonzero(take).tolist():
        blob = _patched_base(
            int(base[j]), deltas[first[j] : first[j] + lens[j]], int(width[j]),
            int(dw[j]),
        )  # fmt: skip
        if blob is not None:
            out[int(c[j])] = blob
    return out


def _patched_base(base: int, deltas: np.ndarray, width: int, direct_width: int):
    """One PATCHED_BASE run (RAW values: the sub-encoding is not
    zigzagged, the reader sign-extends the base), or None when there
    are no outliers, too many (> 31 entries) or no size win."""
    n = len(deltas)
    patch_idx = np.flatnonzero(_bit_length(deltas) > width)
    if not 1 <= len(patch_idx) <= 31:
        return None
    patches = deltas[patch_idx] >> _U64(width)
    patch_width = _closest_width(max(1, int(_bit_length(patches).max())))
    # gap list with (255, 0) continuation fillers
    entries: list[tuple[int, int]] = []
    prev = 0
    for i, p in zip(patch_idx.tolist(), patches.tolist()):
        gap = i - prev
        while gap > 255:
            entries.append((255, 0))
            gap -= 255
        entries.append((gap, p))
        prev = i
    if len(entries) > 31:
        return None
    gap_width = max(1, max(g for g, _ in entries).bit_length())
    entry_width = _closest_width(patch_width + gap_width)
    base_mag = -base if base < 0 else base
    base_width = max(1, (base_mag.bit_length() + 1 + 7) // 8)
    if 32 + base_width * 8 + n * width + len(entries) * entry_width >= n * direct_width:
        return None
    lm1 = n - 1
    raw = bytearray(base_mag.to_bytes(base_width, "big"))
    if base < 0:  # sign-magnitude MSB
        raw[0] |= 0x80
    mask = (1 << entry_width) - 1
    ent = np.array([((g << patch_width) | p) & mask for g, p in entries], dtype=_U64)
    return b"".join((
        bytes((
            (2 << 6) | (_WIDTH_CODE[width] << 1) | ((lm1 >> 8) & 1), lm1 & 0xFF,
            ((base_width - 1) << 5) | _WIDTH_CODE[patch_width],
            ((gap_width - 1) << 5) | len(entries),
        )),
        bytes(raw),
        _pack(deltas, [n], width).tobytes(),
        _pack(ent, [len(ent)], entry_width).tobytes(),
    ))  # fmt: skip


def _rlev1(vals: np.ndarray, signed: bool, bounds: np.ndarray):
    """RunLengthIntegerWriter (version 1, what v0.11 files carry):
    control 0..127 = a run of (control + 3) values stepping by one
    SIGNED byte delta from a varint base; control 128..255 =
    (256 - control) literal varints, up to the next place a run could
    start (at most 128)."""
    v = np.asarray(vals, dtype=np.int64)
    n = len(v)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(len(bounds), dtype=np.int64)
    pos, gend, _same, d, dsame, dvals = _diffs(v, bounds)
    run = np.zeros(n, dtype=bool)
    run[: max(n - 2, 0)] = dsame & (d[: n - 2] >= -128) & (d[: n - 2] <= 127)
    lit_end = np.minimum(np.minimum(_next_true(run, n), pos + 128), gend)
    nxt = np.where(run, pos + np.minimum(dvals, 130), lit_end)
    s = _walk(nxt, n)
    L = nxt[s] - s
    enc = _zigzag(v) if signed else v.view(_U64)
    flat, nb = _varints(enc)
    voff = np.concatenate([[0], np.cumsum(nb)])
    is_run = run[s]
    head = np.zeros((len(s), 12), dtype=np.uint8)
    hlen = np.ones(len(s), dtype=np.int64)
    head[:, 0] = np.where(is_run, L - 3, 256 - L)
    r = np.flatnonzero(is_run)
    head[r, 1] = d[s[r]] & 0xFF
    bmat, bnb = _varint_matrix(enc[s[r]])
    head[r, 2:] = bmat
    hlen[r] = 2 + bnb
    pay_start = np.where(is_run, 0, voff[s])
    pay_len = np.where(is_run, 0, voff[s + L] - voff[s])
    out, run_bytes = _assemble(head, hlen, [flat], pay_start, pay_len)
    return out, _group_offsets(s, run_bytes, bounds)


def _byte_rle(b: np.ndarray, bounds: np.ndarray):
    """RunLengthByteWriter: runs of 3..130 as [count-3][value],
    literals of 1..128 as [256-count][bytes]. A run of equal bytes
    becomes a run once two copies sit in the literal buffer and a
    third arrives, so whether (and where) it starts depends on how
    full the 128-byte literal buffer is; only runs of 3 or more are
    visited to decide that."""
    b = np.asarray(b, dtype=np.uint8)
    n = len(b)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(len(bounds), dtype=np.int64)
    gend = np.repeat(bounds[1:], np.diff(bounds))
    first = np.ones(n, dtype=bool)
    first[1:] = (b[1:] != b[:-1]) | (np.arange(1, n) >= gend[:-1])
    rs = np.flatnonzero(first)
    rl = np.diff(np.append(rs, n))
    long = rl >= 3
    cand_s, cand_l = rs[long].tolist(), rl[long].tolist()
    t_start: list[int] = []
    t_len: list[int] = []
    t_run: list[bool] = []

    def literals(a: int, z: int) -> None:
        for off in range(a, z, 128):
            t_start.append(off)
            t_len.append(min(128, z - off))
            t_run.append(False)

    ci = 0
    bl = bounds.tolist()
    for g in range(len(bl) - 1):
        region, z = bl[g], bl[g + 1]
        while ci < len(cand_s) and cand_s[ci] < z:
            start, length = cand_s[ci], cand_l[ci]
            ci += 1
            # literal-buffer fill when the run's first byte arrives: a
            # flush at 128 between its first three bytes delays it
            c = (start - region) % 128
            skip = 0 if c <= 125 else (2 if c == 126 else 1)
            rest = length - skip
            if rest < 3:
                continue
            p = start + skip
            literals(region, p)
            q, r = divmod(rest, 130)
            for k in range(q):
                t_start.append(p + 130 * k)
                t_len.append(130)
                t_run.append(True)
            if r >= 3:
                t_start.append(p + 130 * q)
                t_len.append(r)
                t_run.append(True)
                region = start + length
            else:  # 0..2 leftover copies start the next literal region
                region = p + 130 * q
        literals(region, z)
    ts = np.array(t_start, dtype=np.int64)
    tl = np.array(t_len, dtype=np.int64)
    tr = np.array(t_run, dtype=bool)
    head = np.zeros((len(ts), 2), dtype=np.uint8)
    head[:, 0] = np.where(tr, tl - 3, 256 - tl)
    head[tr, 1] = b[ts[tr]]
    out, run_bytes = _assemble(
        head, np.where(tr, 2, 1), [b], np.where(tr, 0, ts), np.where(tr, 0, tl)
    )
    return out, _group_offsets(ts, run_bytes, bounds)


def _bitfield(bits: np.ndarray, bounds: np.ndarray):
    """BitFieldWriter: bits MSB-first into bytes over byte-RLE. A
    partial byte at a group boundary stays pending and is emitted with
    the NEXT group; the position's bit-offset slot says how many of
    its bits belong to earlier groups (`stream_decode`'s bit seek).
    Returns bytes, group offsets and those bit offsets."""
    packed = np.packbits(np.asarray(bits, dtype=bool))
    byte_bounds = np.append(bounds[:-1] // 8, len(packed))
    out, offs = _byte_rle(packed, byte_bounds)
    return out, offs, bounds[:-1] % 8


def _emit(out: "_OutStream", buf: np.ndarray, offs: np.ndarray) -> list[list[int]]:
    """Write one stream group by group, closing the compression chunk
    at every boundary; returns the stream slots of each group start."""
    data = memoryview(np.ascontiguousarray(buf, dtype=np.uint8))
    pos = []
    for a, z in zip(offs[:-1].tolist(), offs[1:].tolist()):
        out.end_group()
        pos.append(out.pos())
        out.write(data[a:z])
    return pos


# ---------------------------------------------------------------------------
# bloom filters (BloomFilterUtf8 write side of sources/bloom.py): the
# Java-compatible hashes in wrapping uint64, one scatter per stripe
# ---------------------------------------------------------------------------

_C1, _C2 = _U64(0x87C37B91114253D5), _U64(0x4CF5AD432745937F)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U64(r)) | (x >> _U64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U64(33))
    h = h * _U64(0xFF51AFD7ED558CCD)
    h = h ^ (h >> _U64(33))
    h = h * _U64(0xC4CEB9FE1A85EC53)
    return h ^ (h >> _U64(33))


def wang_hashes(keys: np.ndarray) -> np.ndarray:
    """`bloom.wang_long_hash` of every int64 (Java long semantics)."""
    k = np.asarray(keys, dtype=np.int64).view(_U64)
    with np.errstate(over="ignore"):
        k = ~k + (k << _U64(21))
        k = k ^ (k >> _U64(24))
        k = k + (k << _U64(3)) + (k << _U64(8))
        k = k ^ (k >> _U64(14))
        k = k + (k << _U64(2)) + (k << _U64(4))
        k = k ^ (k >> _U64(28))
        k = k + (k << _U64(31))
    return k.view(np.int64)


def murmur3_hashes(arr: pa.Array) -> np.ndarray:
    """`bloom.murmur3_hash64` (DEFAULT_SEED) of every value of a
    non-null string or binary array, over its UTF-8 bytes."""
    offs = _offsets(arr)
    data = np.concatenate([_bytes_of(arr)[: offs[-1]], np.zeros(8, np.uint8)])
    starts, lens = offs[:-1], np.diff(offs)
    h = np.full(len(lens), DEFAULT_SEED, dtype=_U64)
    blocks = lens // 8
    shifts = (np.arange(8) * 8).astype(_U64)

    def word(at: np.ndarray, nbytes) -> np.ndarray:
        got = data[at[:, None] + np.arange(8)].astype(_U64)
        got *= np.arange(8)[None, :] < np.asarray(nbytes).reshape(-1, 1)
        return np.bitwise_or.reduce(got << shifts, axis=1)

    with np.errstate(over="ignore"):
        for i in range(int(blocks.max()) if len(blocks) else 0):
            act = np.flatnonzero(blocks > i)
            k = _rotl(word(starts[act] + 8 * i, 8) * _C1, 31) * _C2
            x = _rotl(h[act] ^ k, 27)
            h[act] = x * _U64(5) + _U64(0x52DCE729)
        tail = lens % 8
        act = np.flatnonzero(tail)
        k1 = word(starts[act] + 8 * blocks[act], tail[act])
        h[act] ^= _rotl(k1 * _C1, 31) * _C2
        h = _fmix(h ^ lens.astype(_U64))
    return h.view(np.int64)


def _blooms(hashes: np.ndarray, vbounds: np.ndarray, expected: int, fpp: float) -> list[bytes]:
    """One serialized BloomFilter per group (Kirsch-Mitzenmacher bits
    over int32 lattice arithmetic with Java overflow), set by one
    scatter over all groups."""
    m = int(math.ceil(-expected * math.log(fpp) / (math.log(2) ** 2)))
    num_bits = ((m + 63) // 64) * 64
    k = max(1, round(num_bits / expected * math.log(2)))
    h = np.asarray(hashes, dtype=np.int64).view(_U64)
    h1 = ((h & _U64(0xFFFFFFFF)).astype(np.int64) ^ 0x80000000) - 0x80000000
    h2 = ((h >> _U64(32)).astype(np.int64) ^ 0x80000000) - 0x80000000
    combined = h1[:, None] + np.arange(1, k + 1)[None, :] * h2[:, None]
    combined = ((combined + 0x80000000) & 0xFFFFFFFF) - 0x80000000
    combined = np.where(combined < 0, ~combined, combined) % num_bits
    n_groups = len(vbounds) - 1
    group = np.repeat(np.arange(n_groups), np.diff(vbounds))
    bits = np.zeros((n_groups, num_bits), dtype=bool)
    bits[np.repeat(group, k), combined.ravel()] = True
    words = np.packbits(bits, axis=1, bitorder="little")
    head = _pb_varint(1, k)
    return [head + _pb_bytes(3, row.tobytes()) for row in words]


# ---------------------------------------------------------------------------
# column statistics (ColumnStatisticsImpl analogs), computed per group
# from the group's slice and folded into stripe and file scopes
# ---------------------------------------------------------------------------


class _Stats:
    """min/max/sum/count per ORC kind; serializes to the
    ColumnStatistics proto message. One instance per (column, scope):
    row group, stripe, file — merged by accumulation, the same
    fold the reference's A4 path reads back."""

    def __init__(self, kind: str):
        self.kind = kind
        self.n = 0
        self.has_null = False
        self.min: Any = None
        self.max: Any = None
        self.sum: Any = 0
        self.true_count = 0
        self.nan_seen = False
        self.sum_overflow = False

    def merge(self, other: "_Stats") -> None:
        self.n += other.n
        self.has_null = self.has_null or other.has_null
        self.true_count += other.true_count
        self.nan_seen = self.nan_seen or other.nan_seen
        self.sum_overflow = self.sum_overflow or other.sum_overflow
        if other.min is not None:
            if self.min is None or other.min < self.min:
                self.min = other.min
            if self.max is None or other.max > self.max:
                self.max = other.max
        if self.kind in ("float", "double"):
            # numpy's scalar add returns the same NaN for the same
            # operands (the second one's when both are NaN); Python's
            # float += returns either one's, depending on whether the
            # interpreter has specialized the addition yet
            with np.errstate(invalid="ignore"):
                self.sum = float(np.float64(self.sum) + other.sum)
        elif self.kind != "boolean":
            self.sum += other.sum

    def serialize(self) -> bytes:
        out = _pb_varint(1, self.n)
        k = self.kind
        typed = b""
        if k in ("tinyint", "smallint", "int", "bigint"):
            if self.min is not None:
                typed += _pb_svarint(1, self.min) + _pb_svarint(2, self.max)
            if not self.sum_overflow:
                typed += _pb_svarint(3, self.sum)
            out += _pb_bytes(2, typed)
        elif k in ("float", "double"):
            # min/max cover the non-NaN values only; an all-NaN group
            # omits them entirely — both directions are the embedded
            # writer's serialization, probed in test_native_writer
            if self.min is not None:
                typed += _pb_double(1, self.min) + _pb_double(2, self.max)
            typed += _pb_double(3, self.sum)
            out += _pb_bytes(3, typed)
        elif k in ("string", "char", "varchar"):
            if self.min is not None:
                typed += _pb_string(1, self.min) + _pb_string(2, self.max)
            typed += _pb_svarint(3, self.sum)
            out += _pb_bytes(4, typed)
        elif k == "boolean":
            out += _pb_bytes(5, _pb_packed(1, [self.true_count]))
        elif k == "decimal":
            if self.min is not None:
                typed += _pb_string(1, _dec_str(self.min))
                typed += _pb_string(2, _dec_str(self.max))
                typed += _pb_string(3, _dec_str(self.sum))
            out += _pb_bytes(6, typed)
        elif k == "date":
            if self.min is not None:
                typed += _pb_svarint(1, self.min) + _pb_svarint(2, self.max)
            out += _pb_bytes(7, typed)
        elif k == "binary":
            out += _pb_bytes(8, _pb_svarint(1, self.sum))
        elif k == "timestamp":
            if self.min is not None:
                # legacy millis AND the ORC-135 utc pair (identical
                # under the UTC writer-timezone pin)
                typed += _pb_svarint(1, self.min) + _pb_svarint(2, self.max)
                typed += _pb_svarint(3, self.min) + _pb_svarint(4, self.max)
            out += _pb_bytes(9, typed)
        # struct: no typed message
        out += _pb_varint(10, 1 if self.has_null else 0)
        return out


def _dec_str(d: Decimal) -> str:
    """HiveDecimal.toString: plain notation, trailing zeros stripped."""
    s = format(d, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".") or "0"
    return s


def _int_sums(x: np.ndarray, vb: np.ndarray, groups: list[int]):
    """Exact per-group sums and whether any prefix sum of the group
    leaves int64 (the reference drops the sum then). int64 sums wrap
    silently, so they run in numpy only when no prefix can overflow."""
    lo, hi = int(x.min()), int(x.max())
    if max(-lo, hi) * int(np.diff(vb).max()) < (1 << 63):
        sums = np.add.reduceat(x, vb[groups]).tolist()
        return sums, [False] * len(sums)
    sums, overflow = [], []
    for g in groups:
        pre = np.cumsum(x[vb[g] : vb[g + 1]].astype(object))
        sums.append(int(pre[-1]))
        overflow.append(max(pre) >= (1 << 63) or min(pre) < -(1 << 63))
    return sums, overflow


# ---------------------------------------------------------------------------
# per-node writers (TreeWriter analogs), one stripe at a time
#
# Each node holds its stripe's values as one Arrow array plus the row
# offsets of its row groups. A child's group holds exactly the values
# of its parent's non-null rows in that group (the ORC nested-column
# contract the composite decoders in stream_decode read back), so a
# child's group offsets are its parent's counted through the parent's
# validity (struct, union) or lengths (list, map).
# ---------------------------------------------------------------------------


_INTS = ("tinyint", "smallint", "int", "bigint")
_STRINGS = ("string", "char", "varchar")


class _NodeBase:
    def __init__(self, name: str | None, node: dict, opts: dict):
        self.name = name
        self.node = node
        self.cid = node["cid"]
        self.kind = node["kind"]
        self.opts = opts
        self.encoding = "DIRECT"
        self.dictionary_size = 0
        self.index_entries: list[tuple[list[int], bytes]] = []
        self.stripe_stats = _Stats(self.kind)
        self.blooms: list[bytes] = []

    def load(self, arr: pa.Array, bounds: np.ndarray) -> None:
        """Take this stripe's values and group row offsets: `live` holds
        the non-null values, `vbounds` their group offsets."""
        self.bounds = bounds
        self.valid = arr.is_valid().to_numpy(zero_copy_only=False) if arr.null_count else None
        if self.valid is None:
            self.live, self.vbounds = arr, bounds
        else:
            self.live = arr.filter(pa.array(self.valid))
            self.vbounds = np.concatenate([[0], np.cumsum(self.valid)])[bounds]

    def _group_stats(self) -> list[_Stats]:
        nn = np.diff(self.vbounds)
        has_null = np.diff(self.bounds) > nn
        out = []
        for n, h in zip(nn.tolist(), has_null.tolist()):
            st = _Stats(self.kind)
            st.n, st.has_null = n, h
            out.append(st)
        return out

    def _present(self, streams: list) -> list[list[int]]:
        """The PRESENT stream (only when the stripe has NULLs) and its
        per-group slots."""
        if self.valid is None:
            return [[] for _ in range(len(self.bounds) - 1)]
        out = _OutStream(self.opts["compression"], self.opts["compression_block_size"])
        buf, offs, nbits = _bitfield(self.valid, self.bounds)
        pos = [p + [0, nb] for p, nb in zip(_emit(out, buf, offs), nbits.tolist())]
        streams.append(("PRESENT", out.finish()))
        return pos

    def _index(self, pos: list[list[int]], stats: list[_Stats]) -> None:
        for p, st in zip(pos, stats):
            self.stripe_stats.merge(st)
            self.index_entries.append((p, st.serialize()))

    def _rle(self) -> Callable:
        # RLE version keys off the COLUMN ENCODING, exactly like the
        # reader's _int_rle (TreeReaderFactory.createIntegerReader)
        return _rlev1 if self.encoding in ("DIRECT", "DICTIONARY") else _rlev2

    def _stream(self, name: str, buf, offs, slots: int, streams: list) -> list[list[int]]:
        out = _OutStream(self.opts["compression"], self.opts["compression_block_size"])
        pos = [p + [0] * slots for p in _emit(out, buf, offs)]
        streams.append((name, out.finish()))
        return pos


def _enforce_char_length(v: str, kind: str, max_len: int) -> str:
    """CharTreeWriter/VarcharTreeWriter write-side length enforcement
    (WriterImpl.java:1487-1616): char writes EXACTLY maximumLength
    bytes (truncate longer, space-pad shorter); varchar truncates.
    The reference truncates at BYTE offsets; this surface holds `str`
    values, so a cut that would split a multi-byte character backs
    off to the previous character boundary (the invalid-UTF-8 byte
    sequence the Java writer can emit is unreachable from `str`)."""
    b = v.encode("utf-8")
    if len(b) > max_len:
        # a cut inside a multi-byte character drops the partial
        # sequence (= back off to the previous character boundary)
        v = b[:max_len].decode("utf-8", errors="ignore")
        b = v.encode("utf-8")
    if kind == "char" and len(b) < max_len:
        v = v + " " * (max_len - len(b))
    return v


def _enforce_lengths(arr: pa.Array, kind: str, max_len: int) -> pa.Array:
    """Apply char/varchar enforcement; the per-value rewrite runs only
    when some value's byte length is off."""
    n_bytes = pc.binary_length(arr)
    bad = pc.not_equal(n_bytes, max_len) if kind == "char" else pc.greater(n_bytes, max_len)
    if not pc.any(bad).as_py():
        return arr
    return pa.array(
        [None if v is None else _enforce_char_length(v, kind, max_len) for v in arr.to_pylist()],
        type=arr.type,
    )


def _offsets(arr: pa.Array) -> np.ndarray:
    """Value offsets of a string/binary/list/map array (slice-aware)."""
    if isinstance(arr, (pa.ListArray, pa.MapArray)):
        return np.asarray(arr.offsets, dtype=np.int64)
    raw = arr.buffers()[1]
    if raw is None:
        return np.zeros(len(arr) + 1, dtype=np.int64)
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    offs = np.frombuffer(raw, dtype=np.int64 if large else np.int32)
    return offs[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)


def _bytes_of(arr: pa.Array) -> np.ndarray:
    raw = arr.buffers()[2]
    return np.frombuffer(raw, dtype=np.uint8) if raw is not None else np.zeros(0, np.uint8)


def _decimal_unscaled(arr: pa.Array) -> list[int]:
    """Unscaled integers of a non-null decimal128 array."""
    if not len(arr):
        return []
    words = np.frombuffer(arr.buffers()[1], dtype="<u8")
    words = words[2 * arr.offset : 2 * (arr.offset + len(arr))]
    lo, hi = words[0::2].tolist(), words[1::2].view(np.int64).tolist()
    return [(h << 64) | l for h, l in zip(hi, lo)]


class _PrimitiveNode(_NodeBase):
    def load(self, arr: pa.Array, bounds: np.ndarray) -> None:
        ml = self.node["max_length"]
        if self.kind in ("char", "varchar") and ml:
            arr = _enforce_lengths(arr, self.kind, ml)
        super().load(arr, bounds)

    def _elect_encoding(self) -> None:
        k = self.kind
        v11 = self.opts["version"] == "0.11"
        if k in ("smallint", "int", "bigint", "date", "timestamp", "decimal",
                 "binary"):  # fmt: skip
            # v0.11 files carry RLEv1 integer streams under the plain
            # encoding names; 0.12 the *_V2 pair (WriterImpl
            # isNewWriteFormat switch)
            self.encoding = "DIRECT" if v11 else "DIRECT_V2"
        elif k in _STRINGS:
            distinct = pc.unique(self.live)
            # checkDictionaryEncoding: distinct/total <= threshold
            if len(self.live) and len(distinct) / len(self.live) <= self.opts[
                "dictionary_key_threshold"
            ]:
                self.encoding = "DICTIONARY" if v11 else "DICTIONARY_V2"
                self._dict = distinct.take(pc.sort_indices(distinct))
                self.dictionary_size = len(self._dict)
            else:
                self.encoding = "DIRECT" if v11 else "DIRECT_V2"
        else:  # boolean, tinyint, float, double
            self.encoding = "DIRECT"

    def encode(self) -> list[tuple[str, bytes]]:
        self._elect_encoding()
        streams: list[tuple[str, bytes]] = []
        pos = self._present(streams)
        stats = self._group_stats()
        hashes = self._values(streams, pos, stats)
        if hashes is not None and self.name in self.opts["bloom_filter_columns"]:
            self.blooms = _blooms(
                hashes(), self.vbounds, self.opts["row_index_stride"],
                self.opts["bloom_filter_fpp"],
            )  # fmt: skip
        self._index(pos, stats)
        return streams

    def _values(self, streams: list, pos: list, stats: list[_Stats]):
        """Encode the non-null values into their streams, appending
        each group's slots to `pos` and filling `stats`; returns a
        function computing the values' bloom hashes (None for kinds
        without a bloom), called only for bloom columns."""
        k = self.kind
        live, vb = self.live, self.vbounds
        groups = np.flatnonzero(np.diff(vb)).tolist()
        rle = self._rle()

        def put(name, encoded, slots=1):
            for p, s in zip(pos, self._stream(name, *encoded, slots, streams)):
                p += s

        if k == "boolean":
            x = live.to_numpy(zero_copy_only=False).astype(bool)
            buf, offs, nbits = _bitfield(x, vb)
            put("DATA", (buf, offs))
            for p, nb in zip(pos, nbits.tolist()):
                p.append(nb)
            trues = np.diff(np.concatenate([[0], np.cumsum(x)])[vb]).tolist()
            for st, t in zip(stats, trues):
                st.true_count = t
            return None
        if k in _INTS or k in ("date", "timestamp"):
            x = np.asarray(live.cast(pa.int32() if k == "date" else pa.int64()), dtype=np.int64)
            if k == "tinyint":
                put("DATA", _byte_rle((x & 0xFF).astype(np.uint8), vb))
            elif k == "timestamp":
                secs, nanos = _ts_parts(x)
                put("DATA", rle(secs, True, vb))
                put("SECONDARY", rle(_enc_nanos(nanos), False, vb))
                x = np.floor_divide(x, 1000)  # stats and blooms use epoch millis
            else:
                put("DATA", rle(x, True, vb))
            if groups:
                starts = vb[groups]
                mins = np.minimum.reduceat(x, starts).tolist()
                maxs = np.maximum.reduceat(x, starts).tolist()
                for g, lo, hi in zip(groups, mins, maxs):
                    stats[g].min, stats[g].max = lo, hi
                if k in _INTS:
                    for g, sm, ov in zip(groups, *_int_sums(x, vb, groups)):
                        stats[g].sum, stats[g].sum_overflow = sm, ov
            return lambda: wang_hashes(x)
        if k in ("float", "double"):
            x = np.asarray(live, dtype=np.float64)
            width = 4 if k == "float" else 8
            put("DATA", (x.astype(f"<f{width}").view(np.uint8), vb * width), 0)
            for g in groups:
                st = stats[g]
                seg = x[vb[g] : vb[g + 1]]
                # sequential from 0, like `sum += v` (np.sum is pairwise)
                with np.errstate(invalid="ignore"):
                    st.sum = float(np.cumsum(np.append(0.0, seg))[-1])
                # embedded-writer parity (ORC-629 era): NaN is excluded
                # from min/max but still poisons the sum — probed
                # against spark.write.orc in test_native_writer's NaN test
                nan = np.isnan(seg)
                st.nan_seen = bool(nan.any())
                seg = seg[~nan]
                if len(seg):  # argmin/argmax keep the first of equal values
                    st.min, st.max = float(seg[np.argmin(seg)]), float(seg[np.argmax(seg)])
            return lambda: wang_hashes(x.view(np.int64))
        if k == "decimal":
            scale = self.node["scale"] or 0
            unscaled = _decimal_unscaled(live)
            varints = [_uvarint(_zz_enc(u)) for u in unscaled]
            ends = np.cumsum([0] + [len(b) for b in varints])
            put("DATA", (np.frombuffer(b"".join(varints), dtype=np.uint8), ends[vb]), 0)
            put("SECONDARY", rle(np.full(len(unscaled), scale), True, vb))
            dec = lambda u: Decimal(f"{u}e-{scale}")  # noqa: E731 (exact)
            for g in groups:
                seg = unscaled[vb[g] : vb[g + 1]]
                st = stats[g]
                st.min, st.max, st.sum = dec(min(seg)), dec(max(seg)), dec(sum(seg))
            return lambda: murmur3_hashes(
                pa.array([_dec_str(dec(u)) for u in unscaled], pa.string())
            )
        # string family and binary: the sum is the byte length
        offs = _offsets(live)
        glen = np.diff(offs[vb]).tolist()
        for g in groups:
            stats[g].sum = glen[g]
            if k in _STRINGS:
                mm = pc.min_max(live.slice(vb[g], vb[g + 1] - vb[g]))
                stats[g].min, stats[g].max = mm["min"].as_py(), mm["max"].as_py()
        if self.encoding in ("DICTIONARY", "DICTIONARY_V2"):
            ids = np.asarray(pc.index_in(live, value_set=self._dict), dtype=np.int64)
            put("DATA", rle(ids, False, vb))
            # the dictionary is stripe-global, read whole: no positions
            doffs = _offsets(self._dict)
            one = np.array([0, len(doffs) - 1])
            self._stream("LENGTH", *rle(np.diff(doffs), False, one), 0, streams)
            words = _bytes_of(self._dict)[doffs[0] : doffs[-1]]
            self._stream("DICTIONARY_DATA", words, np.array([0, len(words)]), 0, streams)
        else:
            put("DATA", (_bytes_of(live), offs[vb]), 0)
            put("LENGTH", rle(np.diff(offs), False, vb))
        return None if k == "binary" else lambda: murmur3_hashes(live)


def _ts_parts(micros: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Epoch microseconds → (seconds rel. the 2015-01-01 UTC base,
    nanos), the exact inverse of the reader's TreeReaderFactory rule
    (negative seconds with nanos get the +1 adjustment)."""
    secs, frac = np.divmod(micros, 1_000_000)
    secs += (secs < 0) & (frac != 0)
    return secs - _TS_BASE, frac * 1000


def _enc_nanos(nanos: np.ndarray) -> np.ndarray:
    """parseNanos inverse: strip trailing decimal zeros (count d >= 2
    encodes as d-1 in the low 3 bits)."""
    z = np.asarray(nanos, dtype=np.int64)
    d = np.zeros(len(z), dtype=np.int64)
    for _ in range(8):
        step = (z != 0) & (z % 10 == 0)
        z = np.where(step, z // 10, z)
        d += step
    return np.where(
        nanos == 0, 0, np.where(d < 2, (z * 10**d) << 3, (z << 3) | (d - 1))
    )


class _StructNode(_NodeBase):
    """StructTreeWriter analog: PRESENT only; children hold the
    values of the rows where the struct itself is non-null."""

    def __init__(self, name, node, opts, registry):
        super().__init__(name, node, opts)
        self.children = [
            _build_node_writer(
                f"{name}.{fname}" if name else fname, child, opts, registry
            )
            for fname, child in node["children"]
        ]

    def load(self, arr, bounds) -> None:
        super().load(arr, bounds)
        for i, w in enumerate(self.children):
            w.load(self.live.field(i), self.vbounds)

    def encode(self) -> list[tuple[str, bytes]]:
        streams: list[tuple[str, bytes]] = []
        pos = self._present(streams)
        self._index(pos, self._group_stats())
        return streams


class _ListNode(_NodeBase):
    """ListTreeWriter analog: PRESENT + LENGTH (unsigned RLE, one count
    per non-null row); the child holds the flattened elements. A map
    (MapTreeWriter) is the same with key and value children."""

    def __init__(self, name, node, opts, registry):
        super().__init__(name, node, opts)
        self.encoding = "DIRECT" if opts["version"] == "0.11" else "DIRECT_V2"
        suffixes = ["_elem"] if self.kind == "list" else ["_key", "_value"]
        self.children = [
            _build_node_writer(f"{name}.{sfx}" if name else None, child, opts, registry)
            for sfx, (_fn, child) in zip(suffixes, node["children"])
        ]

    def load(self, arr, bounds) -> None:
        super().load(arr, bounds)
        offs = _offsets(self.live)
        self.lengths = np.diff(offs)
        cb = np.concatenate([[0], np.cumsum(self.lengths)])[self.vbounds]
        if self.kind == "list":
            kids = [self.live.values]
        else:
            kids = [self.live.keys, self.live.items]
        for w, kid in zip(self.children, kids):
            w.load(kid.slice(offs[0], offs[-1] - offs[0]), cb)

    def encode(self) -> list[tuple[str, bytes]]:
        streams: list[tuple[str, bytes]] = []
        pos = self._present(streams)
        slots = self._stream("LENGTH", *self._rle()(self.lengths, False, self.vbounds), 1, streams)
        self._index([p + s for p, s in zip(pos, slots)], self._group_stats())
        return streams


class _UnionNode(_NodeBase):
    """UnionTreeWriter analog: PRESENT + byte-RLE tag DATA; each
    variant child holds the values of the rows its tag selects. Input
    is the engine's tagged-struct convention {_tag, f0, f1, ...}
    (stream_decode's union output shape)."""

    def __init__(self, name, node, opts, registry):
        super().__init__(name, node, opts)
        self.children = [
            _build_node_writer(
                f"{name}.f{i}" if name else None, child, opts, registry
            )
            for i, (_fn, child) in enumerate(node["children"])
        ]

    def load(self, arr, bounds) -> None:
        super().load(arr, bounds)
        self.tags = np.asarray(self.live.field("_tag"), dtype=np.int64)
        for i, w in enumerate(self.children):
            mine = self.tags == i
            cb = np.concatenate([[0], np.cumsum(mine)])[self.vbounds]
            w.load(self.live.field(f"f{i}").filter(pa.array(mine)), cb)

    def encode(self) -> list[tuple[str, bytes]]:
        streams: list[tuple[str, bytes]] = []
        pos = self._present(streams)
        tags = _byte_rle((self.tags & 0xFF).astype(np.uint8), self.vbounds)
        slots = self._stream("DATA", *tags, 1, streams)
        self._index([p + s for p, s in zip(pos, slots)], self._group_stats())
        return streams


def _build_node_writer(name, node, opts, registry) -> _NodeBase:
    kind = node["kind"]
    if kind == "struct":
        w: _NodeBase = _StructNode(name, node, opts, registry)
    elif kind in ("list", "map"):
        w = _ListNode(name, node, opts, registry)
    elif kind == "union":
        w = _UnionNode(name, node, opts, registry)
    else:
        w = _PrimitiveNode(name, node, opts)
    registry[node["cid"]] = w
    return w


# ---------------------------------------------------------------------------
# input: Arrow arrays, record batches or tables, or Python lists
# converted once
# ---------------------------------------------------------------------------

_DEC_CTX = Context(prec=77)  # precision 38 + scale headroom


def _arrow_type(node: dict) -> pa.DataType:
    """The writer's Arrow form of a type-tree node: `file_job.arrow_type`
    with float read as double (statistics and blooms see float values
    at double precision; only the DATA stream narrows them) and
    decimals at precision 38 (the declared precision is file metadata,
    not a bound the writer enforces)."""
    types: list[dict] = []

    def add(n: dict) -> int:
        tid = len(types)
        t = {
            "kind": "double" if n["kind"] == "float" else n["kind"],
            "precision": 38 if n["kind"] == "decimal" else None,
            "scale": n["scale"],
        }
        types.append(t)
        t["subtypes"] = [add(c) for _fn, c in n["children"]]
        t["field_names"] = [fn for fn, _c in n["children"]]
        return tid

    add(node)
    return arrow_type(types, 0)


def _field_of(v: Any, idx: int, fname: str) -> Any:
    """Struct member access: engine dicts by name, Row/tuple by
    position (a pyspark Row is a tuple subclass)."""
    if isinstance(v, dict):
        return v.get(fname)
    return v[idx]


def _coerce(vals: list, node: dict) -> list:
    """Python values in the forms Arrow's converter does not take:
    Decimal/str/float/int decimals (quantized to the column scale),
    truthy booleans, and struct rows that mix dicts with Row/tuples."""
    k = node["kind"]
    if k == "decimal":
        q = Decimal(1).scaleb(-(node["scale"] or 0))
        return [None if v is None else Decimal(v).quantize(q, context=_DEC_CTX) for v in vals]
    if k == "boolean":
        return [None if v is None else bool(v) for v in vals]
    if k == "struct":
        kids = node["children"]
        cols = [
            _coerce([None if v is None else _field_of(v, i, fn) for v in vals], c)
            for i, (fn, c) in enumerate(kids)
        ]
        rows = zip(*cols) if cols else ([] for _ in vals)
        return [
            None if v is None else dict(zip([fn for fn, _c in kids], row))
            for v, row in zip(vals, rows)
        ]
    if k == "list":
        child = node["children"][0][1]
        return [None if v is None else _coerce(list(v), child) for v in vals]
    if k == "map":
        (_k, kn), (_v, vn) = node["children"]
        out = []
        for v in vals:
            if v is None:
                out.append(None)
                continue
            pairs = list(v.items()) if isinstance(v, dict) else list(v)
            keys = _coerce([p[0] for p in pairs], kn)
            out.append(list(zip(keys, _coerce([p[1] for p in pairs], vn))))
        return out
    if k == "union":
        out = []
        for v in vals:
            if v is None:
                out.append(None)
                continue
            t = v["_tag"]
            out.append({"_tag": t, f"f{t}": _coerce([v[f"f{t}"]], node["children"][t][1])[0]})
        return out
    return list(vals)


def _to_arrow(values: Any, node: dict) -> pa.Array:
    """One column as an Arrow array of the writer's type."""
    typ = _arrow_type(node)
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if isinstance(values, pa.Array):
        return values if values.type == typ else values.cast(typ)
    try:
        return pa.array(values, type=typ)
    except (pa.ArrowInvalid, pa.ArrowTypeError, TypeError, ValueError):
        return pa.array(_coerce(values, node), type=typ)


def _column_arrays(columns: Any, top: list[tuple[str, dict]]) -> list[pa.Array]:
    """`columns` (a name → values mapping, a RecordBatch or a Table) as
    one Arrow array per top-level column, all of one length."""
    if isinstance(columns, (pa.RecordBatch, pa.Table)):
        get = columns.column
    else:
        get = columns.__getitem__
    arrays = [_to_arrow(get(name), node) for name, node in top]
    for (name, _n), a in zip(top, arrays):
        if len(a) != len(arrays[0]):
            raise ValueError(
                f"column {name!r} has {len(a)} values, expected {len(arrays[0])}"
            )
    return arrays


# ---------------------------------------------------------------------------
# schema
# ---------------------------------------------------------------------------


def _split_top(s: str) -> list[str]:
    """Split on commas at angle/paren depth 0."""
    parts: list[str] = []
    depth = 0
    cur = ""
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
        else:
            cur += ch
    if cur.strip():
        parts.append(cur)
    return [p.strip() for p in parts]


def _parse_type_node(ts: str) -> dict:
    """One type expression → a tree node {kind, children, precision,
    scale, max_length}. Nested syntax matches TypeDescription
    .fromString / Spark simpleString: struct<a:int,...>, array<t>,
    map<k,v>, uniontype<t0,t1,...>."""
    ts = ts.strip()
    low = ts.lower()
    node: dict = {
        "kind": None, "children": [], "precision": None, "scale": None,
        "max_length": None,
    }  # fmt: skip
    if low.startswith("struct<") and ts.endswith(">"):
        node["kind"] = "struct"
        for field in _split_top(ts[7:-1]):
            fname, fts = field.split(":", 1)
            node["children"].append((fname.strip(), _parse_type_node(fts)))
    elif low.startswith("array<") and ts.endswith(">"):
        node["kind"] = "list"
        node["children"] = [(None, _parse_type_node(ts[6:-1]))]
    elif low.startswith("map<") and ts.endswith(">"):
        k, v = _split_top(ts[4:-1])
        node["kind"] = "map"
        node["children"] = [(None, _parse_type_node(k)), (None, _parse_type_node(v))]
    elif low.startswith("uniontype<") and ts.endswith(">"):
        node["kind"] = "union"
        node["children"] = [(None, _parse_type_node(t)) for t in _split_top(ts[10:-1])]
    elif low.startswith("decimal"):
        node["kind"] = "decimal"
        if "(" in ts:
            p, s = ts[ts.index("(") + 1 : ts.index(")")].split(",")
            node["precision"], node["scale"] = int(p), int(s)
        else:
            node["precision"], node["scale"] = 38, 10
    elif low.startswith(("char", "varchar")):
        node["kind"] = "char" if low.startswith("char") else "varchar"
        node["max_length"] = (
            int(ts[ts.index("(") + 1 : ts.index(")")]) if "(" in ts else 255
        )
    else:
        alias = {"long": "bigint", "integer": "int", "short": "smallint",
                 "byte": "tinyint", "bool": "boolean"}  # fmt: skip
        node["kind"] = alias.get(low, low)
        if node["kind"] not in _KIND_CODE or node["kind"] in (
            "list", "map", "struct", "union"
        ):
            raise ValueError(f"unsupported ORC type {ts!r}")
    return node


def parse_schema(schema: str | list[tuple[str, Any]]) -> list[tuple[str, dict]]:
    """Schema → [(column name, type-tree node)]. Accepts a DDL-ish
    string "a int, s struct<x:int,y:string>, l array<double>",
    [(name, type-string), ...], or [(name, node-dict), ...] (already-
    built trees, e.g. from schema_from_type_tree). Full composite
    nesting (struct/array/map/uniontype) is supported."""
    import copy

    if isinstance(schema, str):
        schema = [
            tuple(p.split(None, 1)) for p in _split_top(schema)
        ]  # type: ignore[misc]
    return [
        (
            name,
            _parse_type_node(ts) if isinstance(ts, str) else copy.deepcopy(ts),
        )
        for name, ts in schema
    ]


def schema_from_type_tree(types: list[dict]) -> list[tuple[str, dict]]:
    """footer_tail.parse_tail's flattened `types` array → the writer's
    [(name, node)] top-level schema. v0.11 decimals carry no declared
    scale — default to (38, 6), the same pin the native decoder
    quantizes to (see stream_decode._Decimals)."""

    def node_of(tid: int) -> dict:
        t = types[tid]
        node: dict = {
            "kind": t["kind"], "children": [],
            "precision": t.get("precision"), "scale": t.get("scale"),
            "max_length": t.get("max_length"),
        }  # fmt: skip
        if node["kind"] == "decimal" and node["scale"] is None:
            node["precision"], node["scale"] = 38, 6
        if node["kind"] == "struct":
            node["children"] = [
                (fn, node_of(s))
                for fn, s in zip(t["field_names"], t["subtypes"])
            ]
        elif node["kind"] in ("list", "map", "union"):
            node["children"] = [(None, node_of(s)) for s in t["subtypes"]]
        return node

    root = types[0]
    if root["kind"] != "struct":
        raise ValueError(
            f"native rewrite requires a struct root, got {root['kind']!r}"
        )
    return [
        (fn, node_of(s)) for fn, s in zip(root["field_names"], root["subtypes"])
    ]


def rewrite_orc_native(src: str, dst: str, **write_opts: Any) -> dict:
    """Rewrite an ORC file end-to-end WITHOUT the JVM: native decode
    (every column, full composite tree) → native re-encode under this
    writer's defaults (or `write_opts`). The closed loop is the
    strongest format proof the parity tier has — a file written by ANY
    historical writer (v0.11 RLEv1/legacy dictionary included) comes
    out as a fresh v0.12 file with identical values, which is also the
    reference's file-rewrite/compaction shape (`orc-tools convert`)."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_tail_of_file,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.stream_decode import (
        plan_file_scan,
    )

    meta = parse_tail_of_file(src)
    top = schema_from_type_tree(meta["types"])
    names = [n for n, _t in top]
    batches = list(plan_file_scan(src, None, names).execute()) if meta["n_rows"] else []
    columns = pa.Table.from_batches(batches) if batches else {n: [] for n in names}
    return write_orc_native(dst, columns, top, **write_opts)


def _flatten_schema(top: list[tuple[str, dict]]) -> tuple[dict, list[dict]]:
    """Root struct + depth-first id assignment (the ORC column-id
    order the readers' type arrays use)."""
    root: dict = {
        "kind": "struct", "children": list(top), "precision": None,
        "scale": None, "max_length": None,
    }  # fmt: skip
    flat: list[dict] = []

    def assign(node: dict) -> None:
        node["cid"] = len(flat)
        flat.append(node)
        for _fn, child in node["children"]:
            assign(child)

    assign(root)
    return root, flat


# ---------------------------------------------------------------------------
# file writer
# ---------------------------------------------------------------------------


def _encode_stripe(
    top: list[tuple[str, dict]], n_ids: int, opts: dict,
    arrays: list[pa.Array], srows: int,
) -> dict:
    """Encode ONE stripe: load each column's array into the node-writer
    tree with its row-group offsets, encode every node, then assemble
    index region + data region + stripe footer. Returns the stripe body
    bytes plus the per-stripe metadata the file tail needs."""
    comp = opts["compression"]
    block = opts["compression_block_size"]
    stride = opts["row_index_stride"]
    registry: dict[int, _NodeBase] = {}
    writers = [
        _build_node_writer(name, node, opts, registry) for name, node in top
    ]
    bounds = np.append(np.arange(0, srows, stride), srows)
    for w, a in zip(writers, arrays):
        w.load(a, bounds)
    streams_by_cid = {cid: registry[cid].encode() for cid in sorted(registry)}

    # root struct (column 0): no streams; row-group stats only
    n_groups = max(1, math.ceil(srows / stride))
    root_entries: list[tuple[list[int], bytes]] = []
    root_stripe = _Stats("struct")
    for g in range(n_groups):
        gs = _Stats("struct")
        gs.n = min(stride, srows - g * stride)
        root_entries.append(([], gs.serialize()))
        root_stripe.n += gs.n

    # index region: per column id ROW_INDEX (+ BLOOM_FILTER_UTF8)
    index_parts: list[tuple[str, int, bytes]] = []
    for cid in range(n_ids):
        entries = root_entries if cid == 0 else registry[cid].index_entries
        msg = b"".join(
            _pb_bytes(
                1, (_pb_packed(1, pos) if pos else b"") + _pb_bytes(2, st)
            )
            for pos, st in entries
        )
        index_parts.append(("ROW_INDEX", cid, _frame(msg, comp, block)))
        if cid > 0 and registry[cid].blooms:
            bmsg = b"".join(
                _pb_bytes(1, b) for b in registry[cid].blooms
            )
            index_parts.append(("BLOOM_FILTER_UTF8", cid, _frame(bmsg, comp, block)))

    # data region: column-id order, fixed stream order per column
    data_parts: list[tuple[str, int, bytes]] = []
    order = {"PRESENT": 0, "DATA": 1, "LENGTH": 2,
             "DICTIONARY_DATA": 3, "SECONDARY": 4}  # fmt: skip
    for cid in range(1, n_ids):
        for kind, payload in sorted(
            streams_by_cid[cid], key=lambda kv: order[kv[0]]
        ):
            data_parts.append((kind, cid, payload))

    # stripe footer
    sf = b"".join(
        _pb_bytes(
            1,
            _pb_varint(1, _STREAM_CODE[kind])
            + _pb_varint(2, cid)
            + _pb_varint(3, len(payload)),
        )
        for kind, cid, payload in index_parts + data_parts
    )
    sf += _pb_bytes(2, _pb_varint(1, _ENCODING_CODE["DIRECT"]))  # root
    encodings: dict[str, str] = {}
    for cid in range(1, n_ids):
        w = registry[cid]
        encm = _pb_varint(1, _ENCODING_CODE[w.encoding])
        if w.dictionary_size:
            encm += _pb_varint(2, w.dictionary_size)
        sf += _pb_bytes(2, encm)
        encodings[w.name or f"col{cid}"] = w.encoding
    sf += _pb_string(3, "UTC")  # writerTimezone
    sf_framed = _frame(sf, comp, block)

    body = bytearray()
    index_len = sum(len(p) for _, _, p in index_parts)
    data_len = sum(len(p) for _, _, p in data_parts)
    for _, _, p in index_parts:
        body += p
    for _, _, p in data_parts:
        body += p
    body += sf_framed
    col_stats = [root_stripe] + [registry[cid].stripe_stats for cid in range(1, n_ids)]
    return {
        "body": bytes(body),
        "info": {
            "indexLength": index_len,
            "dataLength": data_len,
            "footerLength": len(sf_framed),
            "numberOfRows": srows,
        },
        "stats_msg": b"".join(_pb_bytes(1, st.serialize()) for st in col_stats),
        "col_stats": col_stats,
        "encodings": encodings,
    }


def _encode_tail(
    flat: list[dict], stripe_infos: list[dict], file_stats: list[_Stats],
    stripe_stats_msgs: list[bytes], n_rows: int, content_length: int,
    opts: dict,
) -> bytes:
    """Metadata + Footer + PostScript + 1-byte postscript length."""
    comp = opts["compression"]
    block = opts["compression_block_size"]
    metadata = b"".join(_pb_bytes(1, m) for m in stripe_stats_msgs)
    metadata_framed = _frame(metadata, comp, block)

    footer = _pb_varint(1, 3) + _pb_varint(2, content_length)
    for si in stripe_infos:
        footer += _pb_bytes(
            3,
            _pb_varint(1, si["offset"])
            + _pb_varint(2, si["indexLength"])
            + _pb_varint(3, si["dataLength"])
            + _pb_varint(4, si["footerLength"])
            + _pb_varint(5, si["numberOfRows"]),
        )
    # types: the flattened tree in column-id order
    for node in flat:
        t = _pb_varint(1, _KIND_CODE[node["kind"]])
        if node["children"]:
            t += _pb_bytes(
                2, b"".join(_uvarint(c["cid"]) for _fn, c in node["children"])
            )
            if node["kind"] == "struct":
                for fn, _c in node["children"]:
                    t += _pb_string(3, fn)
        if node["max_length"] is not None:
            t += _pb_varint(4, node["max_length"])
        if node["precision"] is not None:
            t += _pb_varint(5, node["precision"]) + _pb_varint(6, node["scale"])
        footer += _pb_bytes(4, t)
    footer += _pb_varint(6, n_rows)
    for st in file_stats:
        footer += _pb_bytes(7, st.serialize())
    footer += _pb_varint(8, opts["row_index_stride"])
    footer_framed = _frame(footer, comp, block)

    ps = _pb_varint(1, len(footer_framed))
    ps += _pb_varint(2, _COMP_CODE[comp])
    ps += _pb_varint(3, block)
    minor = 11 if opts["version"] == "0.11" else 12
    ps += _pb_bytes(4, _uvarint(0) + _uvarint(minor))  # file version
    ps += _pb_varint(5, len(metadata_framed))
    ps += _pb_varint(6, 6)  # WriterVersion ORC_135 (OrcFile.java:177)
    ps += _pb_bytes(8000, b"ORC")
    if len(ps) > 255:
        raise ValueError("postscript too large")
    return metadata_framed + footer_framed + ps + bytes((len(ps),))


def _writer_opts(
    compression, compression_block_size, row_index_stride,
    dictionary_key_threshold, bloom_filter_columns, bloom_filter_fpp,
    version="0.12",
) -> dict:
    comp = compression.lower()
    if comp not in ("none", "zlib", "snappy", "lz4", "zstd"):
        raise ValueError(f"unsupported write compression {compression!r}")
    if version not in ("0.11", "0.12"):
        raise ValueError(f"unsupported ORC file version {version!r}")
    if row_index_stride <= 0:
        raise ValueError(
            f"Invalid ORC row index stride: row_index_stride={row_index_stride!r} "
            "must be positive"
        )
    return {
        "version": version,
        "compression": comp,
        "compression_block_size": compression_block_size,
        "row_index_stride": row_index_stride,
        "dictionary_key_threshold": dictionary_key_threshold,
        "bloom_filter_columns": tuple(bloom_filter_columns),
        "bloom_filter_fpp": bloom_filter_fpp,
    }


def write_orc_native(
    path: str,
    columns: Any,
    schema: str | list[tuple[str, Any]],
    *,
    compression: str = "zlib",
    stripe_rows: int = 100_000,
    row_index_stride: int = 10_000,
    dictionary_key_threshold: float = 0.8,
    bloom_filter_columns: tuple[str, ...] = (),
    bloom_filter_fpp: float = 0.05,
    compression_block_size: int = 262_144,
    version: str = "0.12",
) -> dict:
    """Write an ORC file without the JVM (file version 0.12 by
    default; `version="0.11"` emits the pre-RLEv2 format — RLEv1
    integer streams under the plain DIRECT/DICTIONARY encodings, the
    exact shape the reference's 0.11 writer produced and the golden
    orc-file-11-format.orc carries). `columns` is a `pa.Table` or
    `pa.RecordBatch`, or maps column name → Arrow array or list of
    Python values (None = NULL); all columns must share one length.
    Returns a summary {n_rows, n_stripes, bytes, encodings}. Layout
    per PhysicalFsWriter: "ORC" header, stripes
    (index region → data region → stripe footer), Metadata, Footer,
    PostScript, 1-byte postscript length."""
    top = parse_schema(schema)
    _root, flat = _flatten_schema(top)
    n_ids = len(flat)
    opts = _writer_opts(
        compression, compression_block_size, row_index_stride,
        dictionary_key_threshold, bloom_filter_columns, bloom_filter_fpp,
        version,
    )
    arrays = _column_arrays(columns, top)
    n_rows = len(arrays[0]) if arrays else 0

    buf = bytearray(b"ORC")  # header (headerLength = 3)
    stripe_infos: list[dict] = []
    file_stats = [_Stats(node["kind"]) for node in flat]
    stripe_stats_msgs: list[bytes] = []
    encodings_seen: dict[str, str] = {}

    for s0 in range(0, n_rows, stripe_rows) if n_rows else []:
        s1 = min(s0 + stripe_rows, n_rows)
        enc = _encode_stripe(
            top, n_ids, opts, [a.slice(s0, s1 - s0) for a in arrays], s1 - s0
        )
        stripe_infos.append({"offset": len(buf), **enc["info"]})
        buf += enc["body"]
        stripe_stats_msgs.append(enc["stats_msg"])
        for fs, st in zip(file_stats, enc["col_stats"]):
            fs.merge(st)
        encodings_seen.update(enc["encodings"])

    buf += _encode_tail(
        flat, stripe_infos, file_stats, stripe_stats_msgs, n_rows,
        len(buf), opts,
    )
    with open(path, "wb") as fh:
        fh.write(buf)
    return {
        "n_rows": n_rows,
        "n_stripes": len(stripe_infos),
        "bytes": len(buf),
        "encodings": encodings_seen,
    }


class NativeOrcAppender:
    """Readable-while-writing native writer — the reference's
    streaming-ingest mechanics (`OrcFile.MAX_FILE_LENGTH` side-file
    protocol, honored read-side at `ReaderImpl.extractFileTail:515`).
    APPEND-ONLY, like the reference on HDFS: `publish()` appends a
    durable intermediate tail (metadata + footer + postscript) and
    returns the committed byte length — the value the streaming writer
    records in its `_flush_length` side file; the next `add_stripe`
    simply continues PAST that tail, which stays behind as dead bytes
    the next footer's explicit StripeInformation offsets skip over.
    Every published length therefore stays valid forever: a reader
    bounded by ANY earlier published length parses exactly that
    committed prefix, even while newer stripes (or a torn write) sit
    past it — the write half of the bounded-tail read path the s23/r1
    surfaces grade.

        ap = NativeOrcAppender(path, "k bigint, s string")
        ap.add_stripe({"k": [...], "s": [...]})
        side_file_value = ap.publish()
        ap.add_stripe({...})          # appends past the tail
        ap.close()                    # final tail
    """

    def __init__(
        self,
        path: str,
        schema: str | list[tuple[str, Any]],
        *,
        compression: str = "zlib",
        row_index_stride: int = 10_000,
        dictionary_key_threshold: float = 0.8,
        bloom_filter_columns: tuple[str, ...] = (),
        bloom_filter_fpp: float = 0.05,
        compression_block_size: int = 262_144,
        version: str = "0.12",
    ):
        self._top = parse_schema(schema)
        _root, self._flat = _flatten_schema(self._top)
        self._opts = _writer_opts(
            compression, compression_block_size, row_index_stride,
            dictionary_key_threshold, bloom_filter_columns, bloom_filter_fpp,
            version,
        )
        self._fh = open(path, "wb")
        self._fh.write(b"ORC")
        self._len = 3  # current end of file (stripes + any dead tails)
        self._published = None  # committed length of the newest tail
        self._stripe_infos: list[dict] = []
        self._file_stats = [_Stats(n["kind"]) for n in self._flat]
        self._stripe_stats_msgs: list[bytes] = []
        self._encodings: dict[str, str] = {}
        self._n_rows = 0

    def add_stripe(self, columns: Any) -> None:
        """Encode `columns` (the forms `write_orc_native` takes) as one
        stripe; no rows, no stripe."""
        arrays = _column_arrays(columns, self._top)
        srows = len(arrays[0]) if arrays else 0
        if srows == 0:
            return
        enc = _encode_stripe(
            self._top, len(self._flat), self._opts, arrays, srows
        )
        self._stripe_infos.append({"offset": self._len, **enc["info"]})
        self._fh.write(enc["body"])
        self._len += len(enc["body"])
        self._published = None  # the old tail is now interior dead bytes
        self._stripe_stats_msgs.append(enc["stats_msg"])
        for fs, st in zip(self._file_stats, enc["col_stats"]):
            fs.merge(st)
        self._encodings.update(enc["encodings"])
        self._n_rows += srows

    def publish(self) -> int:
        """Append a durable intermediate tail and return the committed
        byte length (the side-file value). Idempotent between
        add_stripe calls."""
        import os as _os

        if self._published is not None:
            return self._published
        tail = _encode_tail(
            self._flat, self._stripe_infos, self._file_stats,
            self._stripe_stats_msgs, self._n_rows, self._len, self._opts,
        )
        self._fh.write(tail)
        self._fh.flush()
        _os.fsync(self._fh.fileno())
        self._len += len(tail)
        self._published = self._len
        return self._published

    def close(self) -> dict:
        final_len = self.publish()
        self._fh.close()
        return {
            "n_rows": self._n_rows,
            "n_stripes": len(self._stripe_infos),
            "bytes": final_len,
            "encodings": self._encodings,
        }


def _frame(msg: bytes, comp: str, block: int) -> bytes:
    """Chunk-frame a metadata message with the file codec. The block
    size must be the file's declared compressionBlockSize: the Java
    reader allocates its decompression buffers from the PostScript
    value, so no chunk may decompress to more than that."""
    if comp == "none":
        return msg
    out = _OutStream(comp, block)
    out.write(msg)
    return out.finish()
