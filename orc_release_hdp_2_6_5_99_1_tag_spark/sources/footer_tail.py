"""Pure-Python ORC file-tail parser: PostScript → Footer → per-column
file statistics, without the JVM.

Why this exists: metadata-only statistics (reference `orc-tools meta`,
`Footer.statistics` — proto `orc_proto.proto:71-91,194-231`) must run
ON EXECUTORS to scale to million-file lakes, but Spark executors'
Python workers have no py4j gateway to the ORC Java library, and
pyarrow.orc exposes file-level facts only (no column statistics). The
tail is a few KiB of protobuf; parsing it needs ~150 lines of wire
format + the ORC chunk framing, both documented in the reference
(`proto/orc_proto.proto`; compression framing `OutStream.java:84-176`:
3-byte little-endian header `(chunkLength << 1) | isOriginal`).

Scope: every chunk codec the postscript can name — NONE, ZLIB (stdlib
raw deflate), SNAPPY/ZSTD (pyarrow codecs), and pure-Python LZ4/LZO1X
block decoders below (both self-terminating, written from the public
format docs; corrupt chunks whose match distance exceeds the decoded
prefix raise instead of wrapping around).

Wire format: field key = varint `(field_number << 3) | wire_type`;
wire types 0=varint, 1=fixed64, 2=length-delimited, 5=fixed32.
sintNN fields are zigzag-encoded.
"""

from __future__ import annotations

import struct
import zlib
from contextlib import contextmanager
from typing import Any

import numpy as np

# proto enum CompressionKind (orc_proto.proto:205-212)
_COMPRESSION = {0: "NONE", 1: "ZLIB", 2: "SNAPPY", 3: "LZO", 4: "LZ4", 5: "ZSTD"}

# proto Footer.writer ids, named as pyarrow.orc names them; a Footer
# without the field was written by the Java writer
_WRITER = {
    0: "ORC_JAVA", 1: "ORC_CPP", 2: "PRESTO", 3: "SCRITCHLEY_GO", 4: "TRINO",
    5: "CUDF",
}  # fmt: skip

# proto Type.Kind (orc_proto.proto:145-164)
KIND = {
    0: "boolean", 1: "tinyint", 2: "smallint", 3: "int", 4: "bigint",
    5: "float", 6: "double", 7: "string", 8: "binary", 9: "timestamp",
    10: "list", 11: "map", 12: "struct", 13: "union", 14: "decimal",
    15: "date", 16: "varchar", 17: "char",
}  # fmt: skip


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _zigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _fields(buf: bytes):
    """Yield (field_number, wire_type, value) over a protobuf message.
    value is int for wire types 0/1/5 (raw, not zigzag-decoded) and
    bytes for wire type 2."""
    pos = 0
    while pos < len(buf):
        key, pos = _varint(buf, pos)
        field, wt = key >> 3, key & 7
        if wt == 0:
            v, pos = _varint(buf, pos)
        elif wt == 1:
            v = struct.unpack_from("<Q", buf, pos)[0]
            pos += 8
        elif wt == 2:
            ln, pos = _varint(buf, pos)
            v = buf[pos : pos + ln]
            pos += ln
        elif wt == 5:
            v = struct.unpack_from("<I", buf, pos)[0]
            pos += 4
        else:  # pragma: no cover - groups don't occur in ORC protos
            raise ValueError(f"unsupported protobuf wire type {wt}")
        yield field, wt, v


def _packed_varints(v: Any) -> list[int]:
    """repeated uint32 [packed] arrives as one length-delimited blob;
    unpacked encodings arrive as individual varints."""
    if isinstance(v, int):
        return [v]
    out, pos = [], 0
    while pos < len(v):
        n, pos = _varint(v, pos)
        out.append(n)
    return out


def _span(buf: bytes, pos: int, wire_type: int) -> tuple[int, int]:
    """Start and end of the value of a field whose key ends at `pos`."""
    if wire_type == 2:
        n, pos = _varint(buf, pos)
        return pos, pos + n
    if wire_type == 0:
        return pos, _varint(buf, pos)[1]
    if wire_type == 1:
        return pos, pos + 8
    if wire_type == 5:
        return pos, pos + 4
    raise ValueError(f"unsupported protobuf wire type {wire_type}")


def varint_array(b: np.ndarray) -> np.ndarray:
    """Every unsigned varint in the uint8 array `b`, decoded at once
    (uint64); bytes after the last terminating byte are ignored."""
    ends = np.flatnonzero(b < 0x80)
    if not len(ends):
        return np.zeros(0, np.uint64)
    b = b[: ends[-1] + 1]
    firsts = np.concatenate(([0], ends[:-1] + 1))
    shifts = np.arange(len(b)) - np.repeat(firsts, ends - firsts + 1)
    parts = (b & 0x7F).astype(np.uint64) << (7 * shifts).astype(np.uint64)
    return np.bitwise_or.reduceat(parts, firsts)


def _lz4_block_decompress(src: bytes) -> bytes:
    """LZ4 raw-block decode (the frame the ORC chunk holds): token =
    (literal_len << 4) | match_len, 255-extension bytes, 2-byte LE
    match offset, min-match 4, overlap-tolerant match copy. The block
    self-terminates (the final sequence is literals-only), so no
    decompressed-size hint is needed — re-derived from the public LZ4
    block format spec."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        if i + lit > n:
            raise ValueError(
                f"corrupt LZ4 chunk: literal run of {lit} exceeds the "
                f"{n - i} input bytes left"
            )
        out += src[i : i + lit]
        i += lit
        if i >= n:  # last sequence: literals only
            break
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0 or offset > len(out):
            raise ValueError(
                f"corrupt LZ4 chunk: match distance {offset} vs "
                f"{len(out)} decoded bytes"
            )
        mlen = token & 15
        if mlen == 15:
            while True:
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        mlen += 4
        start = len(out) - offset
        if offset >= mlen:  # no overlap: one slice
            out += out[start : start + mlen]
        else:  # overlapping match copies byte-by-byte semantics
            for k in range(mlen):
                out.append(out[start + k])
    return bytes(out)


def _lzo1x_decompress(src: bytes) -> bytes:
    """LZO1X block decode, re-derived from the PUBLIC format
    documentation (the LZO stream description distributed with
    liblzo2 / Documentation/lzo.txt): instruction-byte state machine
    where `state` is the literal count of the previous op (0, 1-3, or
    4+), matches carry 2-bit trailing-literal counts, and the stream
    terminates on the distance-16384 marker of the 16..31 opcode."""
    out = bytearray()
    i = 0
    state = 0

    b = src[i]
    if b > 17:  # initial literal run
        i += 1
        t = b - 17
        out += src[i : i + t]
        i += t
        state = 4 if t >= 4 else t

    while True:
        b = src[i]
        i += 1
        if b >= 64:
            # 1LLDDDSS / 01LDDDSS: short match within 2kB
            if b >= 128:
                length = 5 + ((b >> 5) & 3)
            else:
                length = 3 + ((b >> 5) & 1)
            h = src[i]
            i += 1
            distance = (h << 3) + ((b >> 2) & 7) + 1
            s = b & 3
        elif b >= 32:
            # 001LLLLL: match within 16kB
            l = b & 31
            if l == 0:
                zeros = 0
                while src[i] == 0:
                    zeros += 1
                    i += 1
                l = 31 + zeros * 255 + src[i]
                i += 1
            length = 2 + l
            d = src[i] | (src[i + 1] << 8)
            i += 2
            distance = (d >> 2) + 1
            s = d & 3
        elif b >= 16:
            # 0001HLLL: match within 16..48kB, or end-of-stream
            l = b & 7
            if l == 0:
                zeros = 0
                while src[i] == 0:
                    zeros += 1
                    i += 1
                l = 7 + zeros * 255 + src[i]
                i += 1
            length = 2 + l
            d = src[i] | (src[i + 1] << 8)
            i += 2
            distance = 16384 + ((b & 8) << 11) + (d >> 2)
            s = d & 3
            if distance == 16384:
                break  # end of stream
        else:
            # 0000LLLL: long literals (state 0) or tiny match (1..4)
            if state == 0:
                l = b & 15
                if l == 0:
                    zeros = 0
                    while src[i] == 0:
                        zeros += 1
                        i += 1
                    l = 15 + zeros * 255 + src[i]
                    i += 1
                t = 3 + l
                out += src[i : i + t]
                i += t
                state = 4
                continue
            h = src[i]
            i += 1
            if state == 4:
                length = 3
                distance = (h << 2) + ((b >> 2) & 3) + 2049
            else:
                length = 2
                distance = (h << 2) + ((b >> 2) & 3) + 1
            s = b & 3
        # copy the match (overlap-tolerant), then S trailing literals
        if distance > len(out):
            raise ValueError(
                f"corrupt LZO chunk: match distance {distance} exceeds "
                f"{len(out)} decoded bytes"
            )
        start = len(out) - distance
        if distance >= length:
            out += out[start : start + length]
        else:
            for k in range(length):
                out.append(out[start + k])
        if s:
            out += src[i : i + s]
            i += s
        state = s
    return bytes(out)


def _decompress_chunk(chunk: bytes, compression: int) -> bytes:
    if compression == 1:  # ZLIB: raw deflate
        return zlib.decompress(chunk, -15)
    if compression == 2:  # SNAPPY: raw block, uvarint length prefix
        import pyarrow as pa

        size, _ = _varint(chunk, 0)
        return pa.Codec("snappy").decompress(chunk, decompressed_size=size).to_pybytes()
    if compression == 3:  # LZO: LZO1X block, self-terminating
        return _lzo1x_decompress(chunk)
    if compression == 4:  # LZ4: raw block, self-terminating
        return _lz4_block_decompress(chunk)
    if compression == 5:  # ZSTD: stream-decode (no size needed)
        import pyarrow as pa

        with pa.CompressedInputStream(pa.BufferReader(chunk), "zstd") as s:
            return s.read()
    raise ValueError(
        f"unknown ORC compression code {compression!r} "
        f"({_COMPRESSION.get(compression, '?')})"
    )


def _decompress_tail(data: bytes, compression: int) -> bytes:
    """Undo ORC stream framing: sequence of [3-byte LE header][chunk],
    header = (chunkLength << 1) | isOriginal (OutStream.java:84-176)."""
    if compression == 0:
        return data
    out, pos = [], 0
    while pos + 3 <= len(data):
        hdr = data[pos] | (data[pos + 1] << 8) | (data[pos + 2] << 16)
        pos += 3
        is_original, length = hdr & 1, hdr >> 1
        chunk = data[pos : pos + length]
        pos += length
        out.append(chunk if is_original else _decompress_chunk(chunk, compression))
    return b"".join(out)


def _parse_postscript(buf: bytes) -> dict:
    ps = {
        "footerLength": 0, "compression": 0, "compressionBlockSize": 262_144,
        "metadataLength": 0, "writerVersion": 0, "magic": "",
    }  # fmt: skip
    for field, _wt, v in _fields(buf):
        if field == 1:
            ps["footerLength"] = v
        elif field == 2:
            ps["compression"] = v
        elif field == 3:
            ps["compressionBlockSize"] = v
        elif field == 5:
            ps["metadataLength"] = v
        elif field == 6:
            # OrcFile.WriterVersion ordinal (orc_proto.proto:232);
            # ORC_135 = 6 is the utc-timestamp-stats cutoff PPD needs
            ps["writerVersion"] = v
        elif field == 8000:
            ps["magic"] = v.decode("utf-8", "replace")
    return ps


def _parse_type(buf: bytes) -> dict:
    t = {
        "kind": 0,
        "subtypes": [],
        "fieldNames": [],
        "precision": None,
        "scale": None,
        "maximumLength": None,  # char/varchar (orc_proto Type.maximumLength=4)
    }
    for field, _wt, v in _fields(buf):
        if field == 1:
            t["kind"] = v
        elif field == 2:
            t["subtypes"] += _packed_varints(v)
        elif field == 3:
            t["fieldNames"].append(v.decode("utf-8"))
        elif field == 4:
            t["maximumLength"] = v
        elif field == 5:
            t["precision"] = v
        elif field == 6:
            t["scale"] = v
    return t


def _f64(raw: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", raw))[0]


def _parse_typed_stats(kind_field: int, buf: bytes) -> dict:
    """One of the typed sub-messages of ColumnStatistics
    (orc_proto.proto:22-69). Returns {min,max,sum,true_count} subset."""
    out: dict = {}
    for field, wt, v in _fields(buf):
        if kind_field == 2:  # IntegerStatistics: sint64 min/max/sum
            if field in (1, 2, 3):
                out[("min", "max", "sum")[field - 1]] = _zigzag(v)
        elif kind_field == 3:  # DoubleStatistics: double min/max/sum
            if field in (1, 2, 3):
                out[("min", "max", "sum")[field - 1]] = _f64(v)
        elif kind_field == 4:  # StringStatistics: str min/max, sint64 len-sum
            if field in (1, 2):
                out[("min", "max")[field - 1]] = v.decode("utf-8")
            elif field == 3:
                out["sum"] = _zigzag(v)
        elif kind_field == 5:  # BucketStatistics: repeated uint64 count
            out["true_count"] = sum(_packed_varints(v))
        elif kind_field == 6:  # DecimalStatistics: strings
            if field in (1, 2, 3):
                out[("min", "max", "sum")[field - 1]] = v.decode("utf-8")
        elif kind_field == 7:  # DateStatistics: sint32 days
            if field in (1, 2):
                out[("min", "max")[field - 1]] = _zigzag(v)
        elif kind_field == 8:  # BinaryStatistics: sint64 byte-sum
            if field == 1:
                out["sum"] = _zigzag(v)
        elif kind_field == 9:  # TimestampStatistics: sint64 millis (+UTC)
            if field in (1, 2, 3, 4):
                out[("min", "max", "min_utc", "max_utc")[field - 1]] = _zigzag(v)
    return out


def _parse_column_statistics(buf: bytes) -> dict:
    s: dict = {"n_values": 0, "has_null": False, "typed": {}, "typed_kind": None}
    for field, _wt, v in _fields(buf):
        if field == 1:
            s["n_values"] = v
        elif field == 10:
            s["has_null"] = bool(v)
        elif 2 <= field <= 9:
            s["typed_kind"] = field
            s["typed"] = _parse_typed_stats(field, v)
    return s


def parse_tail(data: bytes, include_stripe_stats: bool = False) -> dict:
    """Parse an ORC file tail (the last bytes of the file; pass at
    least PostScript+Footer — 16 KiB covers typical schemas, callers
    should retry with `1 + ps_len + footerLength` on a short buffer).

    Returns {compression, magic, n_rows, n_stripes, content_length,
    writer, columns: [{name, kind, col_id, n_values, has_null, typed,
    typed_kind, precision, scale}]} for the root struct's top-level
    fields, exactly the slice the reference surfaces per file in
    `orc-tools meta`. A postscript whose magic is not "ORC", or a
    Footer without a root type, raises ValueError. With
    `include_stripe_stats`, also parses the Metadata section (the
    per-stripe ColumnStatistics the reference's A4 merge folds into
    file stats, `OrcProto.Metadata`/`StripeStatistics`) into
    `stripe_stats: [[per-column dict, ...] per stripe]`.
    """
    return _parse_tail(data, include_stripe_stats)[0]


def _parse_tail(data: bytes, include_stripe_stats: bool) -> tuple[dict, dict, list[dict]]:
    """parse_tail, plus the postscript and the Footer's
    StripeInformation list it parsed on the way."""
    if len(data) < 4:  # "ORC" + postscript length byte at minimum
        # the reference's ReaderImpl.ensureOrcFooter rejects files
        # shorter than the magic + postscript (zero.orc golden)
        raise ValueError(
            f"not a valid ORC file: {len(data)} bytes is smaller than "
            "the magic + postscript"
        )
    ps_len = data[-1]
    ps = _parse_postscript(data[-1 - ps_len : -1])
    if ps["magic"] != "ORC":
        # ReaderImpl.ensureOrcFooter: noise can parse as a protobuf
        raise ValueError(
            f"not a valid ORC file: postscript magic is {ps['magic']!r}, not 'ORC'"
        )
    need = 1 + ps_len + ps["footerLength"]
    if include_stripe_stats:
        need += ps["metadataLength"]
    if need > len(data):
        raise _NeedMoreTail(need)
    footer_end = len(data) - (1 + ps_len)
    footer_raw = data[footer_end - ps["footerLength"] : footer_end]
    footer = _decompress_tail(footer_raw, ps["compression"])

    stripe_stats: list[list[dict]] = []
    if include_stripe_stats and ps["metadataLength"]:
        meta_end = footer_end - ps["footerLength"]
        meta_raw = data[meta_end - ps["metadataLength"] : meta_end]
        meta = _decompress_tail(meta_raw, ps["compression"])
        for field, _wt, v in _fields(meta):
            if field == 1:  # StripeStatistics
                stripe_stats.append(
                    [
                        _parse_column_statistics(b)
                        for f, _w, b in _fields(v)
                        if f == 1
                    ]
                )

    types: list[dict] = []
    stats: list[dict] = []
    stripes: list[dict] = []
    n_rows = content_length = row_index_stride = writer = 0
    for field, _wt, v in _fields(footer):
        if field == 2:
            content_length = v
        elif field == 3:  # one StripeInformation per stripe
            stripes.append(_parse_stripe_information(v))
        elif field == 4:
            types.append(_parse_type(v))
        elif field == 6:
            n_rows = v
        elif field == 7:
            stats.append(_parse_column_statistics(v))
        elif field == 8:  # Footer.rowIndexStride (orc_proto.proto:118)
            row_index_stride = v
        elif field == 9:
            writer = v
    if not types:
        raise ValueError("not a valid ORC file: the footer has no root type")

    columns = []
    if types[0]["kind"] == 12:  # root struct
        root = types[0]
        for name, col_id in zip(root["fieldNames"], root["subtypes"]):
            t = types[col_id]
            col = {
                "name": name,
                "kind": KIND.get(t["kind"], str(t["kind"])),
                "col_id": col_id,
                "precision": t["precision"],
                "scale": t["scale"],
                "max_length": t["maximumLength"],
            }
            if col_id < len(stats):
                col.update(
                    n_values=stats[col_id]["n_values"],
                    has_null=stats[col_id]["has_null"],
                    typed=stats[col_id]["typed"],
                    typed_kind=stats[col_id]["typed_kind"],
                )
            columns.append(col)
    out = {
        "compression": _COMPRESSION.get(ps["compression"], str(ps["compression"])),
        "magic": ps["magic"],
        "n_rows": n_rows,
        "n_stripes": len(stripes),
        "content_length": content_length,
        "writer": _WRITER.get(writer, str(writer)),
        "row_index_stride": row_index_stride,
        "writer_version": ps["writerVersion"],
        "compression_block_size": ps["compressionBlockSize"],
        "columns": columns,
        # the FULL per-id footer statistics (Footer.statistics is
        # indexed by column id incl. nested fields) — what nested
        # SArg leaves ("st.a") evaluate at the file level; `columns`
        # above carries the top-level slice merged in
        "footer_stats": stats,
        # the FULL flattened type tree, indexed by column id (0 = root
        # struct): what nested-type consumers (stream_decode's
        # composite readers, subtree IO planning) walk; `columns`
        # above stays the top-level slice orc-tools meta prints
        "types": [
            {
                "kind": KIND.get(t["kind"], str(t["kind"])),
                "subtypes": t["subtypes"],
                "field_names": t["fieldNames"],
                "precision": t["precision"],
                "scale": t["scale"],
                "max_length": t["maximumLength"],  # char/varchar
            }
            for t in types
        ],
    }
    if include_stripe_stats:
        out["stripe_stats"] = stripe_stats
    return out, ps, stripes


class _NeedMoreTail(Exception):
    def __init__(self, needed: int):
        super().__init__(f"need {needed} tail bytes")
        self.needed = needed


class FileTail(dict):
    """One file's parsed tail (the reference's `FileTail`,
    `ReaderImpl.extractFileTail:446-560`): the `parse_tail` dict, plus
    `path`, `length` (the byte bound every read is checked against:
    the file's size, or a smaller `max_file_length`), `codec` (the
    postscript's compression code) and `stripe_info` (the Footer's
    StripeInformation list). `opened()` keeps one handle open across
    the reads of a block."""

    def __init__(self, meta: dict, path: str, length: int, codec: int,
                 stripe_info: list[dict]):
        super().__init__(meta)
        self.path = path
        self.length = length
        self.codec = codec
        self.stripe_info = stripe_info
        self._fh = None

    @contextmanager
    def opened(self):
        """Serve every read inside the block from one handle (the one
        already open, if any)."""
        if self._fh is not None:
            yield self
            return
        with open(self.path, "rb") as fh:
            self._fh = fh
            try:
                yield self
            finally:
                self._fh = None

    def read(self, offset: int, n: int) -> bytes:
        """`n` bytes from `offset`; a read past the bound raises."""
        if offset < 0 or offset + n > self.length:
            raise ValueError(
                f"{self.path}: bytes [{offset}, {offset + n}) pass the "
                f"{self.length}-byte bound"
            )
        with self.opened():
            self._fh.seek(offset)
            return self._fh.read(n)


@contextmanager
def open_tail(
    src: str | FileTail,
    include_stripe_stats: bool = False,
    max_file_length: int | None = None,
):
    """Yield `src`'s FileTail with one handle open for the block, which
    serves the tail and every read made inside. A path is opened here
    and its tail located and parsed — the only code that finds where a
    tail is (see parse_tail_of_file); a FileTail passes through."""
    if isinstance(src, FileTail):
        with src.opened():
            yield src
        return
    with open(src, "rb") as fh:
        size = fh.seek(0, 2)
        if max_file_length is not None:
            size = min(size, max_file_length)
        n = min(size, 16 * 1024)
        fh.seek(size - n)
        data = fh.read(n)
        try:
            meta, ps, stripes = _parse_tail(data, include_stripe_stats)
        except _NeedMoreTail as need:
            n = min(size, need.needed)
            fh.seek(size - n)
            meta, ps, stripes = _parse_tail(fh.read(n), include_stripe_stats)
        tail = FileTail(meta, src, size, ps["compression"], stripes)
        tail._fh = fh
        try:
            yield tail
        finally:
            tail._fh = None


def parse_tail_of_file(
    path: str,
    include_stripe_stats: bool = False,
    max_file_length: int | None = None,
) -> FileTail:
    """Read + parse a file's tail into its FileTail, growing the read
    if the footer is larger than the first 16 KiB (as the reference
    does, `ReaderImpl.extractFileTail:446-560`). Later metadata and
    data reads of the file take this value, so a plan parses one
    postscript.

    `max_file_length` is the reference's readable-while-writing bound
    (`OrcConf.MAX_FILE_LENGTH:118-121`, honored at
    `ReaderImpl.extractFileTail:515`): the file is read AS IF it ended
    at that byte, so a reader pointed at a still-growing or torn file
    parses the last durable footer — the length a streaming writer
    publishes in its side file — and sees exactly the committed
    prefix's schema, stripes, and row count. Reads through the value
    never pass the bound, so a growing file is read in place."""
    with open_tail(path, include_stripe_stats, max_file_length) as tail:
        return tail


# ---------------------------------------------------------------------------
# Stripe footers: the per-column encodings the writer ACTUALLY chose
# ---------------------------------------------------------------------------

_ENCODING = {0: "DIRECT", 1: "DICTIONARY", 2: "DIRECT_V2", 3: "DICTIONARY_V2"}


def _parse_stripe_information(buf: bytes) -> dict:
    """OrcProto.StripeInformation (proto/orc_proto.proto): offset=1,
    indexLength=2, dataLength=3, footerLength=4, numberOfRows=5."""
    names = {
        1: "offset",
        2: "indexLength",
        3: "dataLength",
        4: "footerLength",
        5: "numberOfRows",
    }
    s = dict.fromkeys(names.values(), 0)
    for field, _wt, v in _fields(buf):
        if field in names:
            s[names[field]] = v
    return s


def _parse_column_encoding(buf: bytes) -> dict:
    """OrcProto.ColumnEncoding: kind=1, dictionarySize=2."""
    enc = {"kind": "DIRECT", "dictionary_size": 0}
    for field, _wt, v in _fields(buf):
        if field == 1:
            enc["kind"] = _ENCODING.get(v, str(v))
        elif field == 2:
            enc["dictionary_size"] = v
    return enc


def parse_stripe_footers(src: str | FileTail) -> list[dict]:
    """Parse every stripe's StripeFooter — the per-column encoding
    choices (DICTIONARY_V2 vs DIRECT_V2) the writer actually made,
    i.e. the *output* of the reference's dictionary-cutover decision
    (`WriterImpl.checkDictionaryEncoding`, threshold
    `orc.dictionary.key.threshold`, `OrcConf.java:93-105`) that the
    A6 advisor predicts from the distinct ratio. Per stripe: its
    `FileTail.stripe_info` entry (offset, indexLength, dataLength,
    footerLength, numberOfRows) extended with `writerTimezone`,
    `encodings` (indexed by column id, 0 = the root struct), `streams`
    (the footer's stream list) and `directory` (see _stream_directory).

    `src` is a FileTail, or a path whose tail is parsed here. The
    stripes are the tail's, and each footer read is checked against
    its bound. Scale note: metadata-only IO — one
    `footerLength`-byte ranged read per stripe (the `orc-tools meta`
    access pattern), never a data scan."""
    out = []
    with open_tail(src) as tail:
        for st in tail.stripe_info:
            at = st["offset"] + st["indexLength"] + st["dataLength"]
            sf = _decompress_tail(tail.read(at, st["footerLength"]), tail.codec)
            tz = None
            for f, _w, v in _fields(sf):
                if f == 3:  # StripeFooter.writerTimezone
                    tz = v.decode("utf-8")
            streams = [_parse_stream(v) for f, _w, v in _fields(sf) if f == 1]
            out.append(
                {
                    **st,
                    "writerTimezone": tz,
                    "encodings": [
                        _parse_column_encoding(v)
                        for f, _w, v in _fields(sf)
                        if f == 2
                    ],
                    "streams": streams,
                    "directory": _stream_directory(streams),
                }
            )
    return out


_STREAM_KIND = {
    0: "PRESENT", 1: "DATA", 2: "LENGTH", 3: "DICTIONARY_DATA",
    4: "DICTIONARY_COUNT", 5: "SECONDARY", 6: "ROW_INDEX",
    7: "BLOOM_FILTER", 8: "BLOOM_FILTER_UTF8",
}  # fmt: skip


def _parse_stream(buf: bytes) -> dict:
    """OrcProto.Stream: kind=1, column=2, length=3."""
    s = {"kind": "DATA", "column": 0, "length": 0}
    for field, _wt, v in _fields(buf):
        if field == 1:
            s["kind"] = _STREAM_KIND.get(v, str(v))
        elif field == 2:
            s["column"] = v
        elif field == 3:
            s["length"] = v
    return s


_BLOOM_KINDS = ("BLOOM_FILTER", "BLOOM_FILTER_UTF8")
# the index region of a stripe: these streams precede its data streams
_INDEX_AREA = ("ROW_INDEX",) + _BLOOM_KINDS


def _stream_directory(streams: list[dict]) -> dict[int, dict[str, tuple[int, int]]]:
    """Per column id: data stream kind -> (stripe-relative start,
    length), cumulative over the stripe's stream list (index region
    included, so starts are offsets into the stripe)."""
    out: dict[int, dict[str, tuple[int, int]]] = {}
    offset = 0
    for s in streams:
        if s["kind"] not in _INDEX_AREA:
            out.setdefault(s["column"], {})[s["kind"]] = (offset, s["length"])
        offset += s["length"]
    return out


def _index_streams(
    src: str | FileTail, wanted: dict[int, tuple[str, ...]], stripes: list[dict]
) -> dict[int, list[list[tuple[str, bytes]]]]:
    """Per column id in `wanted`, per stripe, the decompressed streams
    of the wanted kinds as (kind, bytes) in directory order — ranged
    reads of the index region only (its streams come first in the
    StripeFooter directory; offsets are cumulative lengths), each
    checked against the tail's bound, through one handle."""
    out: dict[int, list[list[tuple[str, bytes]]]] = {cid: [] for cid in wanted}
    with open_tail(src) as tail:
        for st in stripes:
            pos = st["offset"]
            got: dict[int, list[tuple[str, bytes]]] = {cid: [] for cid in wanted}
            for s in st["streams"]:
                kind = s["kind"]
                if kind in _INDEX_AREA:
                    if kind in wanted.get(s["column"], ()):
                        raw = _decompress_tail(tail.read(pos, s["length"]), tail.codec)
                        got[s["column"]].append((kind, raw))
                    pos += s["length"]
            for cid, streams in got.items():
                out[cid].append(streams)
    return out


def _row_index_entries(raw: bytes, stats: bool) -> list[dict]:
    """The entries of one ROW_INDEX stream (`OrcProto.RowIndex`:
    repeated RowIndexEntry entry=1; RowIndexEntry: positions=1 packed,
    statistics=2). Python steps over the message fields only; the
    positions of every entry are decoded together by one numpy varint
    pass. ColumnStatistics are parsed only when `stats`."""
    entries: list[dict] = []
    parts: list[bytes] = []  # every entry's positions bytes, in order
    nbytes: list[int] = []  # per entry: how many of those bytes
    pos = 0
    while pos < len(raw):
        key, pos = _varint(raw, pos)
        start, pos = _span(raw, pos, key & 7)
        if key != 0x0A:  # not field 1 (entry), length-delimited
            continue
        entry: dict = {"positions": []}
        size = 0
        p = start
        while p < pos:
            k, p = _varint(raw, p)
            a, p = _span(raw, p, k & 7)
            if k >> 3 == 1:  # a packed blob, or one unpacked varint
                parts.append(raw[a:p])
                size += p - a
            elif k >> 3 == 2 and stats:
                entry.update(_parse_column_statistics(raw[a:p]))
        entries.append(entry)
        nbytes.append(size)
    blob = np.frombuffer(b"".join(parts), np.uint8)
    values = varint_array(blob).tolist()
    # values per entry: the varint-terminating bytes in its share
    ends = np.cumsum(nbytes, dtype=np.int64)
    done = np.concatenate(([0], np.cumsum(blob < 0x80)))[ends].tolist()
    lo = 0
    for entry, hi in zip(entries, done):
        entry["positions"] = values[lo:hi]
        lo = hi
    return entries


def parse_indexes(
    src: str | FileTail, stripes: list[dict], columns, stats=(), blooms=(),
) -> tuple[dict[int, list], dict[int, list]]:
    """The index a scan plan needs, read in one pass over each stripe's
    index region: the row index of every column id in `columns` and
    `stats` — seek positions for all of them, typed statistics only for
    the `stats` ids (a SearchArgument's leaf columns) — and the bloom
    index of every id in `blooms`. `src` is the file's FileTail (or a
    path, parsed here); `stripes` its parse_stripe_footers. Returns
    (row_index, bloom_index), each {column id: per stripe, the
    per-row-group entries}."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.bloom import bloom_entries

    stats = set(stats)
    wanted = {cid: ("ROW_INDEX",) for cid in {*columns, *stats}}
    for cid in blooms:
        wanted[cid] = wanted.get(cid, ()) + _BLOOM_KINDS
    row_index: dict[int, list] = {}
    bloom_index: dict[int, list] = {}
    found = _index_streams(src, wanted, stripes)
    for cid, per_stripe in found.items():
        if "ROW_INDEX" in wanted[cid]:
            row_index[cid] = [
                [
                    e
                    for kind, raw in streams
                    if kind == "ROW_INDEX"
                    for e in _row_index_entries(raw, cid in stats)
                ]
                for streams in per_stripe
            ]
        if cid in blooms:
            bloom_index[cid] = [
                bloom_entries([raw for kind, raw in streams if kind != "ROW_INDEX"])
                for streams in per_stripe
            ]
    return row_index, bloom_index


def parse_row_index(
    src: str | FileTail, column_id: int, stripes: list[dict] | None = None
) -> list[list[dict]]:
    """Parse one column's ROW_INDEX streams: per stripe, the list of
    per-row-group entries ({positions, n_values, has_null, typed
    min/max/sum}) — the reference's RowIndex/RowIndexEntry, the
    granularity `pickRowGroups` actually prunes at. Ranged reads of
    each stripe's index region only; `src` is a FileTail or a path, and
    `stripes` reuses an earlier parse_stripe_footers. A plan that needs
    several columns' indexes reads them together through
    `parse_indexes`."""
    with open_tail(src) as tail:
        if stripes is None:
            stripes = parse_stripe_footers(tail)
        return parse_indexes(tail, stripes, (), stats=(column_id,))[0][column_id]


# position-slot widths (RecordReaderUtils.java:387-390): a byte stream
# records 1 offset, RLE-byte/int add a run offset, the PRESENT
# bitfield adds a bit offset — compression prepends a chunk offset
_BYTE_STREAM_POSITIONS = 1
_RUN_LENGTH_INT_POSITIONS = _BYTE_STREAM_POSITIONS + 1
_BITFIELD_POSITIONS = _BYTE_STREAM_POSITIONS + 1 + 1


def get_index_position(
    column_encoding: str,
    column_type: str,
    stream_type: str,
    is_compressed: bool,
    has_nulls: bool,
) -> int:
    """Offset of `stream_type`'s first slot inside a RowIndexEntry's
    packed positions — the reference's `RecordReaderUtils.
    getIndexPosition` (RecordReaderUtils.java:402-457), the decoder of
    the position layout orc_seek_explain surfaces. PRESENT always
    starts at 0; everything else starts past the PRESENT slots (when
    the column has nulls) and past the preceding streams' slots."""
    if stream_type == "PRESENT":
        return 0
    comp = 1 if is_compressed else 0
    base = (_BITFIELD_POSITIONS + comp) if has_nulls else 0
    t = column_type
    if t in (
        "boolean", "tinyint", "smallint", "int", "bigint", "float",
        "double", "date", "struct", "map", "list", "union",
    ):
        return base
    if t in ("char", "varchar", "string"):
        if column_encoding in ("DICTIONARY", "DICTIONARY_V2"):
            return base
        return base if stream_type == "DATA" else base + _BYTE_STREAM_POSITIONS + comp
    if t in ("binary", "decimal"):
        return base if stream_type == "DATA" else base + _BYTE_STREAM_POSITIONS + comp
    if t == "timestamp":
        return (
            base if stream_type == "DATA"
            else base + _RUN_LENGTH_INT_POSITIONS + comp
        )
    raise ValueError(f"unknown type for index positions: {column_type!r}")


# the streams whose seek state a RowIndexEntry records, per row group
_POSITIONED = ("PRESENT", "DATA", "LENGTH", "SECONDARY")


def position_slots(
    kinds, encoding: str, column_type: str, is_compressed: bool
) -> dict[str, slice]:
    """Per stream kind of one column in one stripe (`kinds`, e.g. its
    `directory` entry), that stream's slice of a RowIndexEntry's
    `positions` — the get_index_position layout, which the reader's
    PositionProviders consume in stream order. A dictionary column's
    LENGTH (and DICTIONARY_DATA) is stripe-level and has no slice; such
    streams are read whole. The only caller of get_index_position."""
    has_nulls = "PRESENT" in kinds
    dictionary = encoding in ("DICTIONARY", "DICTIONARY_V2")
    starts = sorted(
        (get_index_position(encoding, column_type, k, is_compressed, has_nulls), k)
        for k in kinds
        if k in _POSITIONED and not (k == "LENGTH" and dictionary)
    )
    ends = [slot for slot, _k in starts[1:]] + [None]
    return {k: slice(slot, end) for (slot, k), end in zip(starts, ends)}
