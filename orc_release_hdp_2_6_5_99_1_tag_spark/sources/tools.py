"""CLI-tool equivalents (SURVEY S11/S12: `orc-tools data/scan`,
C++ `orc-contents`) and the native tier's metadata planning.

- Tools: row dumps as JSON lines and a scan benchmark (DataFrame-level,
  driver-loop-free); `orc_scan_explain` (one file's FileScanPlan over
  the predicate's columns), `orc_seek_explain`, `orc_memory` and
  `orc_writer_timezones`, all from metadata alone.
- Column resolution: (dotted) column paths to column-id chains and
  include-tree closures (`_resolve_partial`, `_included_ids`,
  `output_columns`), shared by the planner, the decoder and schema
  evolution.
- IO planning: `plan_read_ranges` / `_plan_ranges` turn row-group
  keep bits into merged byte ranges per stripe, through each stream's
  position slots (`footer_tail.position_slots`).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def orc_data(spark: SparkSession, path: str, limit: int | None = None) -> DataFrame:
    """`orc-tools data`: each row rendered as a JSON document
    (executor-side to_json, not a driver loop)."""
    df = spark.read.orc(path)
    if limit is not None:
        df = df.limit(limit)
    return df.select(F.to_json(F.struct(*df.columns)).alias("json"))


def orc_scan(spark: SparkSession, path: str) -> DataFrame:
    """`orc-tools scan`: read all batches, count rows — no
    materialization beyond the count (the reference's benchmark tool,
    `ScanData.java:63-80`)."""
    return spark.read.orc(path).agg(F.count(F.lit(1)).alias("rows"))


def orc_scan_explain(path: str, tree) -> dict:
    """`orc-tools scan --explain`-style pruning report from metadata
    alone (no JVM, no data pages): the file's FileScanPlan over the
    predicate's columns — one open, one tail parse — plus per-stripe
    TruthValue/keep from the Metadata section: the file-level verdict
    (footer statistics), per-row-group decisions (ROW_INDEX min/max +
    bloom probes) and the bytes the plan reads, the decisions the
    reference's pickRowGroups would make for this predicate tree. A
    file skipped on its footer statistics plans no row group. Tree
    grammar is `functions.truth.evaluate_tree`'s; an unknown
    predicate column raises, as in `stream_decode.scan_file`."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.functions.truth import (
        _tree_columns,
        explain_file_pruning,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import open_tail
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.stream_decode import (
        _plan_file_scan,
        _strict,
    )

    columns = sorted(_tree_columns(tree))
    with open_tail(path, include_stripe_stats=True) as meta:
        plan = _strict(_plan_file_scan(meta, tree, columns, None, False, True), tree, columns)
        stripes = explain_file_pruning(meta, tree)
    return {
        "stripes": stripes,
        "truth": plan.truth,
        "keep": plan.file_kept,
        "row_groups": plan.picks,
        "n_stripes_kept": sum(1 for s in stripes if s["keep"]),
        "n_row_groups_kept": sum(
            1 for per_stripe in plan.picks for d in per_stripe if d["keep"]
        ),
        "n_row_groups": sum(len(per_stripe) for per_stripe in plan.picks),
        # the IO consequence of the decisions above (predicate columns
        # only — a real scan adds its projection columns)
        "bytes_planned": sum(p["bytes_planned"] for p in plan.ranges),
        "bytes_total_data": sum(p["bytes_total_data"] for p in plan.ranges),
    }


def orc_seek_explain(path: str, row: int, columns: list[str] | None = None) -> dict:
    """`seekToRow`'s address computation from metadata alone — the
    reader-side consumer of RowIndexEntry `positions` (the reference's
    `seekToRowEntry`, RecordReaderImpl.java:1286: locate the stripe by
    cumulative row counts, the row group by rowIndexStride, then hand
    each column's entry positions to its streams' PositionProviders).
    Returns {stripe, row_group, row_in_group, row_index_stride,
    positions: {column: [ints]}, streams: {column: {stream: [ints]}}}
    — the exact seek offsets (compressed chunk start / decompressed
    offset / RLE run state, consumed in stream order) a reader needs
    to start decoding at that row group without touching earlier
    bytes, with each stream's slot range labeled via the reference's
    position layout (`footer_tail.position_slots`; dictionary
    columns' LENGTH/DICTIONARY_DATA are stripe-level and carry no
    per-group slots). Ranged metadata reads only."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        open_tail,
        parse_indexes,
        parse_stripe_footers,
        position_slots,
    )

    with open_tail(path) as meta:
        stride = meta.get("row_index_stride") or 0
        if stride <= 0:
            raise ValueError(f"{path}: no row index (rowIndexStride=0); cannot seek")
        if not 0 <= row < meta["n_rows"]:
            raise IndexError(f"row {row} out of range [0, {meta['n_rows']})")
        ids = {c["name"]: c["col_id"] for c in meta["columns"]}
        columns = columns or list(ids)
        first = 0
        for si, st in enumerate(parse_stripe_footers(meta)):
            if row < first + st["numberOfRows"]:
                break
            first += st["numberOfRows"]
        else:
            raise AssertionError("stripe row counts do not cover the footer's n_rows")
        in_stripe = row - first
        group = in_stripe // stride
        # positions only, of this stripe only: one index read
        row_index = parse_indexes(meta, [st], [ids[c] for c in columns])[0]
    out = {
        "stripe": si,
        "row_group": group,
        "row_in_group": in_stripe - group * stride,
        "row_index_stride": stride,
        "positions": {},
        "streams": {},
    }
    encodings = st["encodings"]
    for cname in columns:
        col_id = ids[cname]
        positions = row_index[col_id][0][group]["positions"]
        out["positions"][cname] = positions
        enc = encodings[col_id]["kind"] if col_id < len(encodings) else "DIRECT"
        slots = position_slots(
            st["directory"].get(col_id, {}), enc, meta["types"][col_id]["kind"],
            meta["compression"] != "NONE",
        )
        out["streams"][cname] = {sk: positions[sl] for sk, sl in slots.items()}
    return out


_HEADER_SIZE = 3                      # OutStream.HEADER_SIZE
_WORST_UNCOMPRESSED_SLOP = 2 + 8 * 512  # RecordReaderUtils


def _column_ids(meta: dict) -> dict[str, int]:
    """name -> column id, with the non-struct-root `_root` convention
    every metadata consumer shares (see stream_decode)."""
    ids = {c["name"]: c["col_id"] for c in meta["columns"]}
    if not ids and meta["types"][0]["kind"] != "struct":
        ids = {"_root": 0}
    return ids


def _top_name(ids: dict[str, int], col: str) -> str:
    """The top-level column a (possibly dotted) path addresses:
    longest real-column-name prefix wins — a literal '.' in a column
    name is legal ORC, so `a.b.c` addresses top column `a.b` when the
    file has one (r11 ADVICE: first-segment-only matching turned a
    pushed filter on a literal-dot column's field into a scan-time
    KeyError)."""
    if col in ids:
        return col
    parts = col.split(".")
    for i in range(len(parts) - 1, 0, -1):
        name = ".".join(parts[:i])
        if name in ids:
            return name
    return parts[0]


def _resolve_partial(meta: dict, col: str) -> tuple[list[int], bool]:
    """Longest-prefix dotted resolution: (column-id chain, fully
    resolved). The TOP level matches the longest real column name
    first (exact-match-wins generalized — legal ORC names may contain
    literal dots), then dots traverse struct fields. A missing struct
    FIELD returns (chain so far, False) — the schema-evolution
    NULL-fill case (`TreeReaderFactory.java:255-288`); an unknown TOP
    or a dotted path into a non-struct stays a loud KeyError."""
    types = meta["types"]
    ids = _column_ids(meta)
    if col in ids:
        return [ids[col]], True
    top = _top_name(ids, col)
    if top not in ids:
        raise KeyError(f"unknown column {col!r}; file has {sorted(ids)}")
    rest = col[len(top) + 1 :].split(".")
    chain = [ids[top]]
    for p in rest:
        t = types[chain[-1]]
        if t["kind"] != "struct":
            raise KeyError(
                f"{col!r}: {t['kind']!r} has no named fields — dotted "
                "paths traverse structs only"
            )
        if p not in t["field_names"]:
            return chain, False
        chain.append(t["subtypes"][t["field_names"].index(p)])
    return chain, True


def _resolve_dotted(meta: dict, col: str) -> list[int]:
    """Resolve a (possibly dotted) column path to its column-id CHAIN,
    top-level id first — the reference's include-path parse
    (`mapred/OrcInputFormat.parseInclude` resolves names to ids the
    same way; dots traverse STRUCT fields only, which is also the only
    kind with field names). A path that only PARTIALLY resolves
    (missing struct field) raises — evolution callers use
    `_resolve_partial` and NULL-fill instead."""
    chain, full = _resolve_partial(meta, col)
    if not full:
        t = meta["types"][chain[-1]]
        raise KeyError(
            f"{col!r}: struct has fields {t['field_names']} — the path "
            "does not fully resolve in this file's schema"
        )
    return chain


def output_columns(columns: list[str], meta: dict | None = None) -> list[str]:
    """The result-column names for a projection list that may contain
    dotted sub-paths: unique TOP-LEVEL names in first-appearance order
    (requesting `cust.custkey` yields a pruned `cust` struct — the
    reference reads a pruned schema, it does not flatten). Pass `meta`
    wherever a tail parse is at hand: a requested name that exactly
    matches a real top-level column — legal ORC names may contain a
    literal '.' — then passes through WHOLE instead of being split
    (the same exact-match-wins rule as _resolve_dotted)."""
    ids = _column_ids(meta) if meta is not None else {}
    out: list[str] = []
    for c in columns:
        top = _top_name(ids, c)
        if top not in out:
            out.append(top)
    return out


def _included_ids(
    meta: dict, columns: list[str] | None, partial: bool = False
) -> set[int]:
    """The include-tree closure of `columns` (None = every column) —
    the reference's SchemaEvolution.getFileIncluded boolean[]
    semantics, shared by plan_read_ranges, orc_memory, and the
    decoders. Entries may be dotted sub-paths (`cust.custkey`): the
    closure then contains the leaf's subtree PLUS its struct ancestors
    (structure/PRESENT only — ancestors' other children stay excluded,
    which is the nested-projection IO win: P2, reference
    `c++/include/orc/Reader.hh:260-281`). With `partial` (the
    evolved-lake read path), a path whose struct FIELD is missing from
    this file contributes its resolvable ancestor chain PRESENT-only —
    the struct's null topology decodes, the missing field NULL-fills
    in the converter (NullTreeReader analog) — instead of raising."""
    types = meta["types"]
    if columns is None:
        return set(range(len(types)))
    included: set[int] = set()

    def _add(cid: int) -> None:
        included.add(cid)
        for sub in types[cid]["subtypes"]:
            _add(sub)

    for c in columns:
        if partial:
            chain, full = _resolve_partial(meta, c)
        else:
            chain, full = _resolve_dotted(meta, c), True
        included.update(chain[:-1])  # struct ancestors: PRESENT only
        if full:
            _add(chain[-1])  # the named column's whole subtree
        else:
            included.add(chain[-1])  # PRESENT-only struct (see above)
    return included


def plan_read_ranges(
    src, tree, columns: list[str] | None = None, picks=None,
    partial: bool = False,
) -> list[dict]:
    """Partial-read IO plan: the exact byte ranges a reader must fetch
    per stripe to answer `tree` after row-group pruning — the
    reference's `planReadPartialDataStreams` +
    `addRgFilteredStreamToRanges` / `estimateRgEndOffset`
    (RecordReaderImpl.java:1027-1063, RecordReaderUtils.java:352-385),
    from metadata alone. This is what turns pickRowGroups' keep/skip
    bits into object-store GETs: per kept row group, each needed
    stream contributes [its entry's seek offset, the next group's
    offset + compression slop), dictionary blobs load whole, and
    adjacent ranges merge.

    Returns per stripe {stripe, stripe_offset, ranges: [(start, end)]
    relative to the stripe start, bytes_planned, bytes_total_data} —
    bytes_planned / bytes_total_data is the fraction of the data
    section a pruned scan actually touches. `src` is a path or its
    `footer_tail.FileTail`; the tail is parsed once."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.functions.truth import (
        _tree_columns,
        pick_row_groups,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        open_tail,
        parse_indexes,
        parse_stripe_footers,
    )

    with open_tail(src) as meta:
        if columns is None:
            columns = sorted(_tree_columns(tree))
        # a nested column's data lives in its SUBTREE's streams (list
        # element / struct field / map key+value column ids), so the
        # plan includes the whole closure — the reference's boolean[]
        # included covers subtree ids the same way
        # (SchemaEvolution.getFileIncluded)
        included = _included_ids(meta, columns, partial=partial)
        if picks is None:  # callers that already decided pass them
            # through, so plan and decode are guaranteed to agree
            picks = pick_row_groups(meta, tree)
        stripes = parse_stripe_footers(meta)
        row_index = parse_indexes(meta, stripes, included)[0]
    return _plan_ranges(meta, stripes, included, picks, row_index)


def _plan_ranges(
    meta: dict, stripes: list[dict], included: set[int],
    picks: list[list[dict]], row_index: dict[int, list],
) -> list[dict]:
    """plan_read_ranges over an already-parsed file: `stripes` from
    parse_stripe_footers, `row_index` mapping every `included` column
    id to its row index entries (positions suffice). Positions only
    grow within a stream, so a run of kept groups g..h-1
    (`stream_decode._kept_runs`) needs exactly the union of its
    groups' ranges: [pos_g, pos_h + slop)."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import position_slots
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.stream_decode import _kept_runs

    types = meta["types"]
    is_compressed = meta["compression"] != "NONE"
    buf = meta["compression_block_size"]
    slop = (
        2 * (_HEADER_SIZE + buf) if is_compressed else _WORST_UNCOMPRESSED_SLOP
    )
    stride = meta["row_index_stride"]
    out = []
    for si, st in enumerate(stripes):
        runs = list(_kept_runs([d["keep"] for d in picks[si]], stride, st["numberOfRows"]))
        ranges: list[tuple[int, int]] = []
        for col, streams in st["directory"].items():
            if col not in included:
                continue
            slots = position_slots(
                streams, st["encodings"][col]["kind"], types[col]["kind"], is_compressed
            )
            entries = row_index[col][si]
            for kind, (offset, length) in streams.items():
                if kind not in slots:  # stripe-level: the dictionary, loaded whole
                    ranges.append((offset, offset + length))
                    continue
                posn = slots[kind].start
                for g, stop, _n in runs:
                    end = length
                    if stop is not None:
                        end = min(length, entries[stop]["positions"][posn] + slop)
                    ranges.append((offset + entries[g]["positions"][posn], offset + end))
        # addOrMerge: coalesce overlapping/adjacent ranges
        ranges.sort()
        merged: list[list[int]] = []
        for a, b in ranges:
            if merged and a <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], b)
            else:
                merged.append([a, b])
        out.append(
            {
                "stripe": si,
                "stripe_offset": st["offset"],
                "ranges": [tuple(r) for r in merged],
                "bytes_planned": sum(b - a for a, b in merged),
                "bytes_total_data": sum(
                    length for streams in st["directory"].values()
                    for _start, length in streams.values()
                ),
            }
        )
    return out


def orc_memory(src, columns: list[str] | None = None) -> dict:
    """Reader memory estimate for one file — the `orc-memory` CLI's
    role (reference analog `tools/src/FileMemory.cc`, not consulted;
    semantics defined here from the reader's actual buffer model and
    verified against the decoder's real fetch accounting in tests):

    - data: the WORST single stripe's selected-stream bytes (the
      reader holds one stripe's streams at a time);
    - decompression: 2 buffers x compression_block_size per selected
      stream that is compressed (raw chunk + decompressed chunk);
    - tail: postscript+footer+metadata bytes, held for the file's
      lifetime.

    Returns {"total", "data", "decompression", "tail", "stripe"} with
    `stripe` = the index of the memory-worst stripe. `src` is a path or
    its `footer_tail.FileTail`, whose byte bound ends the tail.
    Metadata reads only — no data bytes are touched."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        open_tail,
        parse_stripe_footers,
    )

    with open_tail(src) as meta:
        sts = parse_stripe_footers(meta)
    included = _included_ids(meta, columns)
    is_compressed = meta["compression"] != "NONE"
    buf = meta["compression_block_size"]
    # the memory-worst stripe maximizes data + buffers — stream COUNT
    # varies per stripe (PRESENT streams appear only where nulls do,
    # dictionary stripes add LENGTH/DICTIONARY_DATA), so picking by
    # data bytes alone can name the wrong stripe and understate peak
    worst_total = worst_idx = worst_data = worst_streams = 0
    for si, st in enumerate(sts):
        sel = [
            length for cid in included
            for _start, length in st["directory"].get(cid, {}).values()
        ]
        data = sum(sel)
        total = data + (2 * buf * len(sel) if is_compressed else 0)
        if total > worst_total:
            worst_total, worst_idx = total, si
            worst_data, worst_streams = data, len(sel)
    worst = worst_data
    decomp = 2 * buf * worst_streams if is_compressed else 0
    # tail: everything after the last stripe's streams (stripe footer,
    # file footer, metadata, postscript) stays resident
    size = meta.length
    if sts:
        last = sts[-1]
        tail = size - (last["offset"] + last["indexLength"] + last["dataLength"])
    else:
        tail = size
    return {
        "total": worst + decomp + tail,
        "data": worst,
        "decompression": decomp,
        "tail": tail,
        "stripe": worst_idx,
    }


def orc_writer_timezones(paths: list[str]) -> list[dict]:
    """`timezone-dump` CLI analog — the last of the reference's six
    C++ tools (analog `tools/src/TimezoneDump.cc`, which prints the tz
    database entry `getTimezoneByName` resolves; the five others are
    mirrored by orc_contents/orc_meta/orc_scan/orc_statistics/
    orc_memory). Here the same data is reported where an ORC reader
    actually consumes it: each stripe's `StripeFooter.writerTimezone`
    names the zone whose rules rebase the stored base-relative
    wall-clock seconds back to instants (the reference reader builds
    `base_timestamp = toEpoch(2015-01-01 00:00, writerTimezone)` —
    `TreeReaderFactory.java:934-956`; the engine's decoder does the
    same in `stream_decode._Timestamps`).

    Per file -> per stripe: the declared zone (absent -> "UTC", the
    pre-ORC-37 writer convention), the UTC offset in seconds its rules
    give at the 2015-01-01 rebase base and at the Unix epoch, the
    derived `base_timestamp`, and whether the zone was in DST at the
    base (the condition that makes naive epoch arithmetic wrong and
    forces the zone-rule path). Metadata-only IO: one tail read plus
    one ranged stripe-footer read per stripe — no data bytes."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_stripe_footers,
    )

    out = []
    for path in paths:
        stripes = []
        for si, st in enumerate(parse_stripe_footers(path)):
            name = st["writerTimezone"] or "UTC"
            zi = ZoneInfo(name)
            base = dt.datetime(2015, 1, 1, tzinfo=zi)
            epoch = dt.datetime(1970, 1, 1, tzinfo=zi)
            stripes.append(
                {
                    "stripe": si,
                    "writer_timezone": name,
                    "offset_at_base_s": int(base.utcoffset().total_seconds()),
                    "offset_at_epoch_s": int(epoch.utcoffset().total_seconds()),
                    "base_timestamp_s": int(base.timestamp()),
                    "dst_at_base": bool(base.dst()),
                }
            )
        out.append({"path": path, "stripes": stripes})
    return out
