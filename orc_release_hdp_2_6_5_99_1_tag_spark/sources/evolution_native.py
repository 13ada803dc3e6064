"""Native-read-path schema evolution: reader-schema election and
per-file conversion planning (round-11 verdict Next #2/#3).

The reference builds a per-file mapping from a caller-supplied READER
schema to each file's own schema (`SchemaEvolution.java:38-130`,
`buildConversion:335`): a reader column missing from the file reads
as NULL (`TreeReaderFactory.java:255-288`, NullTreeReader), a file
column whose type safely widens into the reader's is read through a
convert layer (`ConvertTreeReaderFactory.java:401-2100`), and a SArg
on an unsafely-converted column must not prune
(`SchemaEvolution.isPPDSafeConversion:222-260`).

This module supplies the Spark-first equivalents for the engine's
pure-Python decode tier:

- **election** (`elect_reader_path`): instead of demanding a caller
  hint (`paths[0]` ordering / a `schema_file` option), pick the
  reader schema automatically — the file whose schema is a
  (lossless-widening) SUPERTYPE of every other file's. One ranged
  tail read per file; dedup by schema signature first, so the
  compare runs over the handful of DISTINCT schemas a real lake has
  (its generations), not over its million files.
- **conversion** (`make_converter`): a per-column value fixup.
  Because the decoders emit plain Python values, the int-family /
  float→double / char→string widenings are identity at this layer
  (the Arrow/DDL boundary applies the reader type); what materializes
  under an ELECTED schema is struct-field NULL-fill and decimal
  rescale. Under an EXPLICIT reader schema the full ConvertTreeReader
  matrix activates (`_primitive_conv`: lossy downcasts NULL on data
  loss, parse-error NULLs, Java numeric→string rendering, char/varchar
  length enforcement — each direction pinned against the embedded
  Java reader or the cited source).
- **positional mapping** (`is_positional`, `positional_name_map`):
  pre-HIVE-4243 `_col<N>` files pair top-level columns with the
  reader's by position, one level deep.
- **PPD safety** (`ppd_safe`, `keep_all_reason`): reference parity —
  identity (decimal: exact precision+scale equality), tinyint→
  {smallint,int,bigint}, smallint→{int,bigint}, int→bigint,
  string↔varchar. float→double is NOT safe (the reference's index
  stores floats as doubles, so equality literals diverge) and char
  is never safe (padded in the index).
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import Any, Callable

_INT_ORDER = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}

# pre-HIVE-4243 writers name every top-level column _col<N> — the
# reference reconciles such files POSITIONALLY (SchemaEvolution.java:
# 58 missingMetadataPattern, :97-113 hasColumnNames -> positionalLevels=1)
_MISSING_METADATA = re.compile(r"_col\d+")


# the exact ACID event-wrapper field names (`SchemaEvolution.
# acidEventFieldNames` / `createEventSchema:482-491`) — a file whose
# root struct carries precisely these is a Hive ACID file
# (`checkAcidSchema:468-476`), and its positional reconciliation runs
# TWO structure levels deep (the wrapper, then the `row` struct)
ACID_EVENT_FIELDS = [
    "operation", "originalTransaction", "bucket", "rowId",
    "currentTransaction", "row",
]
_ACID_ROW_OFFSET = 5  # SchemaEvolution.getBaseRow:498-501


def is_acid(meta: dict) -> bool:
    """checkAcidSchema parity: root struct field names are exactly the
    six ACID event fields (`SchemaEvolution.java:468-476`)."""
    root = meta["types"][0]
    return root["kind"] == "struct" and root["field_names"] == ACID_EVENT_FIELDS


def _has_column_names(meta: dict, cid: int = 0) -> bool:
    """hasColumnNames parity (`SchemaEvolution.java:145-156`): true iff
    ANY field name at `cid` is NOT a `_col<N>` placeholder (non-struct
    types vacuously carry names)."""
    t = meta["types"][cid]
    if t["kind"] != "struct":
        return True
    return any(
        not _MISSING_METADATA.fullmatch(n) for n in t["field_names"]
    )


def is_positional(meta: dict) -> bool:
    """True when this file carries NO real column names (every
    top-level field is `_col<N>`) — the reference's hasColumnNames()
    == false case, reconciled by position against the reader schema
    (`SchemaEvolution.java:144-156`)."""
    root = meta["types"][0]
    names = root["field_names"] if root["kind"] == "struct" else []
    return bool(names) and all(_MISSING_METADATA.fullmatch(n) for n in names)


def positional_levels(file_meta: dict, force: bool = False) -> int:
    """How many structure levels of THIS file reconcile with the
    reader by POSITION (`SchemaEvolution.java:93-113`):

    - `force` (the `orc.force.positional.evolution` option,
      `OrcConf.java:141-145` — Hive 2.1 compatibility, applied even
      when the file carries real names): 2 for ACID files, else 1;
    - otherwise, when the file's column names are missing (`_col<N>`
      placeholders from a pre-HIVE-4243 writer) — checked on the ACID
      base row for ACID files (`hasColumnNames(isAcid ?
      getBaseRow(fileSchema) : fileSchema)`, line 97): 2 for ACID
      (the event wrapper plus the `row` struct,
      `buildConversion:398-424` recursion), else 1;
    - else 0 (name-based)."""
    acid = is_acid(file_meta)
    if force:
        return 2 if acid else 1
    root = file_meta["types"][0]
    base_cid = root["subtypes"][_ACID_ROW_OFFSET] if acid else 0
    if not _has_column_names(file_meta, base_cid):
        return 2 if acid else 1
    return 0


def positional_name_map(
    reader_meta: dict, file_meta: dict, levels: int = 1
) -> dict[str, str]:
    """reader (dotted) path -> file (dotted) path, paired by POSITION
    for `levels` structure levels (`buildConversion:398-424`: struct
    children pair by index over the joint width, recursing with
    `positionalLevels - 1`; below that, names match again — only the
    non-identity pairs are emitted, and `rename_path`'s longest-prefix
    rule carries deeper name-based segments through unchanged).
    Reader columns past the file's width are absent from the map
    (they NULL-fill). levels=1 is the flat pre-HIVE-4243 case;
    levels=2 is the ACID case (event wrapper + `row` struct)."""
    r_types, f_types = reader_meta["types"], file_meta["types"]
    out: dict[str, str] = {}

    def walk(r_cid: int, f_cid: int, rp: str, fp: str, lv: int) -> None:
        rt, ft = r_types[r_cid], f_types[f_cid]
        if lv <= 0 or rt["kind"] != "struct" or ft["kind"] != "struct":
            return
        for rn, r_sub, fn, f_sub in zip(
            rt["field_names"], rt["subtypes"],
            ft["field_names"], ft["subtypes"],
        ):
            r_path, f_path = rp + rn, fp + fn
            if r_path != f_path:
                out[r_path] = f_path
            walk(r_sub, f_sub, r_path + ".", f_path + ".", lv - 1)

    walk(0, 0, "", "", levels)
    return out


def tree_rename(tree: Any, mapping: dict[str, str]) -> Any:
    """Rewrite a SArg tree's column names through `mapping` (used to
    translate reader-name predicates into a positional file's _colN
    namespace). Names not in the mapping pass through unchanged —
    keep_all_reason then degrades them to keep-all."""
    if tree is None:
        return None
    head = tree[0]
    if head in ("and", "or", "not"):
        return (head, *(tree_rename(c, mapping) for c in tree[1:]))
    return (head, rename_path(tree[1], mapping), *tree[2:])


def _dec_ps(t: dict) -> tuple[int, int]:
    """(precision, scale) with the v0.11 defaults the decode tier and
    file_job.arrow_type already pin: (38, 6)."""
    p = t["precision"] if t["precision"] is not None else 38
    s = t["scale"] if t["scale"] is not None else 6
    return p, s


def _widens(ft: dict, rt: dict) -> bool:
    """May a FILE primitive be read as the READER primitive with no
    loss? The election lattice: int family upward, float→double,
    char/varchar→string."""
    fk, rk = ft["kind"], rt["kind"]
    if fk in _INT_ORDER and rk in _INT_ORDER:
        return _INT_ORDER[fk] < _INT_ORDER[rk]
    if fk == "float" and rk == "double":
        return True
    if fk in ("char", "varchar") and rk == "string":
        return True
    return False


def type_covers(r_types: list, r_cid: int, f_types: list, f_cid: int) -> bool:
    """Can the reader type at r_cid represent EVERY value of the file
    type at f_cid? Structs match fields by NAME (the reader may add
    fields — that is the evolution); list/map/union match children
    positionally; primitives by identity or lossless widening."""
    rt, ft = r_types[r_cid], f_types[f_cid]
    rk, fk = rt["kind"], ft["kind"]
    if rk != fk:
        return _widens(ft, rt)
    if rk == "struct":
        r_by = dict(zip(rt["field_names"], rt["subtypes"]))
        return all(
            fn in r_by and type_covers(r_types, r_by[fn], f_types, f_sub)
            for fn, f_sub in zip(ft["field_names"], ft["subtypes"])
        )
    if rk == "list":
        return type_covers(r_types, rt["subtypes"][0], f_types, ft["subtypes"][0])
    if rk in ("map", "union"):
        return len(rt["subtypes"]) == len(ft["subtypes"]) and all(
            type_covers(r_types, r_sub, f_types, f_sub)
            for r_sub, f_sub in zip(rt["subtypes"], ft["subtypes"])
        )
    if rk == "decimal":
        rp, rs = _dec_ps(rt)
        fp, fs = _dec_ps(ft)
        return rs >= fs and (rp - rs) >= (fp - fs)
    if rk in ("char", "varchar"):
        rl, fl = rt.get("max_length"), ft.get("max_length")
        return rl is None or (fl is not None and fl <= rl)
    return True


def _covers_positional(
    r_types: list, r_cid: int, f_types: list, f_cid: int, levels: int
) -> bool:
    """type_covers with the first `levels` struct levels paired by
    INDEX instead of name (`buildConversion:398-424`). The file may
    not be WIDER than the reader at a positional level (extra file
    columns would be silently dropped — election must not lose data)."""
    rt, ft = r_types[r_cid], f_types[f_cid]
    if levels <= 0 or not (rt["kind"] == "struct" == ft["kind"]):
        return type_covers(r_types, r_cid, f_types, f_cid)
    if len(ft["subtypes"]) > len(rt["subtypes"]):
        return False
    return all(
        _covers_positional(r_types, r_sub, f_types, f_sub, levels - 1)
        for r_sub, f_sub in zip(rt["subtypes"], ft["subtypes"])
    )


def covers(
    reader_meta: dict, file_meta: dict, force_positional: bool = False
) -> bool:
    """Reader schema can represent every column of the file —
    name-based, recursive, lossless widening allowed. A file with NO
    real column names (pre-HIVE-4243 `_col<N>` writer — for ACID
    files the check runs on the base `row` struct) pairs its columns
    with the reader's by POSITION instead, one level deep (two for
    ACID: the event wrapper plus the `row` struct,
    `SchemaEvolution.java:93-113`); `force_positional` applies the
    same pairing even to named files (`OrcConf.java:141-145`)."""
    r_types, f_types = reader_meta["types"], file_meta["types"]
    lv = positional_levels(file_meta, force=force_positional)
    if lv and is_positional(reader_meta):
        lv = 0  # both sides unnamed: names already align
    if r_types[0]["kind"] == "struct" == f_types[0]["kind"] and lv:
        return _covers_positional(r_types, 0, f_types, 0, lv)
    return type_covers(r_types, 0, f_types, 0)


def rename_path(col: str, mapping: dict[str, str]) -> str:
    """Rewrite ONE (possibly dotted) reader path through a top-level
    name mapping; the longest mapped prefix wins (literal-dot rule).
    Unmapped names pass through unchanged."""
    if col in mapping:
        return mapping[col]
    best = max(
        (k for k in mapping if col.startswith(k + ".")),
        key=len,
        default=None,
    )
    return mapping[best] + col[len(best):] if best is not None else col


def schema_signature(meta: dict) -> str:
    """Canonical JSON of the type tree — equal signatures mean equal
    schemas, so a lake dedups to its distinct generations before any
    O(n²) cover comparison."""
    import json

    return json.dumps(
        [
            {
                k: t.get(k)
                for k in (
                    "kind", "subtypes", "field_names", "precision",
                    "scale", "max_length",
                )
            }
            for t in meta["types"]
        ],
        separators=(",", ":"),
    )


def _elect(
    cands: list[tuple[str, dict]], force_positional: bool = False
) -> tuple[str, dict]:
    for p, meta in cands:
        if all(
            covers(meta, other, force_positional=force_positional)
            for _, other in cands
        ):
            return p, meta
    kinds = sorted({schema_signature(m)[:120] for _, m in cands})
    raise ValueError(
        f"no file schema covers the whole lake ({len(cands)} distinct "
        "schemas, none a widening-supertype of the others — sibling "
        f"evolutions?): {kinds}. Pass an explicit reader schema file."
    )


def elect_reader_path(
    paths: list[str],
    metas: dict[str, dict] | None = None,
    force_positional: bool = False,
) -> tuple[str, dict]:
    """Driver-side election: parse every tail (one ranged read each —
    the same read the per-file task repeats anyway), dedup by schema
    signature, return (path, meta) of a file whose schema covers all.
    For lakes too large for a driver-side tail sweep, use
    `elect_reader_meta(paths, spark=...)`, which distributes the tail
    parses and collects only the DISTINCT signatures."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_tail_of_file,
    )

    if not paths:
        raise ValueError("elect_reader_path: empty file list")
    distinct: dict[str, tuple[str, dict]] = {}
    for p in paths:
        meta = metas[p] if metas is not None else parse_tail_of_file(p)
        sig = schema_signature(meta)
        distinct.setdefault(sig, (p, meta))
    cands = list(distinct.values())
    if len(cands) == 1:
        return cands[0]
    return _elect(cands, force_positional=force_positional)


def _path_signature(path: str):
    """(path, schema signature) of one file: the election sweep's task."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_tail_of_file,
    )

    yield {"path": [path], "sig": [schema_signature(parse_tail_of_file(path))]}


def elect_reader_meta(
    paths: list[str],
    spark=None,
    threshold: int = 64,
    force_positional: bool = False,
) -> tuple[str, dict]:
    """Election that scales past a driver-side tail sweep: above
    `threshold` files (and given a SparkSession), one task per file
    parses ITS OWN tail and ships back only (path, schema signature);
    the driver sees one representative path per DISTINCT schema — a
    model-sized set (a lake's generations), never O(files) — and
    elects among those. Below the threshold the plain driver loop is
    cheaper than a job."""
    if spark is None or len(paths) <= threshold:
        return elect_reader_path(paths, force_positional=force_positional)

    import pyarrow as pa
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.file_job import map_files
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_tail_of_file,
    )

    schema = pa.schema([("path", pa.string()), ("sig", pa.string())])
    reps = (
        map_files(spark, paths, _path_signature, schema)
        .groupBy("sig")
        .agg(F.min("path").alias("path"))
        .collect()
    )
    cands = [(r["path"], parse_tail_of_file(r["path"])) for r in reps]
    if len(cands) == 1:
        return cands[0]
    return _elect(cands, force_positional=force_positional)


def ppd_safe(f_types: list, f_cid: int, r_types: list, r_cid: int) -> bool:
    """Reference `SchemaEvolution.validatePPDConversion:253-310`
    parity: a SArg on this column may prune iff the file→reader
    conversion cannot shift the index's value domain."""
    ft, rt = f_types[f_cid], r_types[r_cid]
    fk, rk = ft["kind"], rt["kind"]
    if fk == rk:
        if fk == "decimal":
            return _dec_ps(ft) == _dec_ps(rt)
        return True
    if fk in _INT_ORDER and rk in _INT_ORDER:
        return _INT_ORDER[fk] < _INT_ORDER[rk]
    return (fk, rk) in {("string", "varchar"), ("varchar", "string")}


def keep_all_reason(
    file_meta: dict,
    reader_meta: dict,
    tree: Any,
    file_names: dict[str, str] | None = None,
) -> str | None:
    """Why `tree` may NOT prune this file, or None when it may:
    "missing column" when a predicate column is missing from the file
    (its domain here is all-NULL — pruning on it would be wrong) or
    fails to resolve (a literal-dot / unknown-name leaf must degrade to
    non-pruning, never a scan-time KeyError — r11 ADVICE); "ppd-unsafe
    conversion" when it reads through a PPD-unsafe conversion. The
    caller then falls back to a keep-all scan for the file and the
    residual row filter keeps results exact — the same conservative
    unit the reference applies per-column (`isPPDSafeConversion`),
    taken per-file here because the SArg tree is evaluated whole."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.functions.truth import (
        _tree_columns,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import (
        _resolve_partial,
    )

    for c in _tree_columns(tree):
        fc = rename_path(c, file_names) if file_names else c
        try:
            f_chain, f_full = _resolve_partial(file_meta, fc)
            r_chain, r_full = _resolve_partial(reader_meta, c)
        except KeyError:
            return "missing column"
        if not (f_full and r_full):
            return "missing column"
        if not ppd_safe(
            file_meta["types"], f_chain[-1],
            reader_meta["types"], r_chain[-1],
        ):
            return "ppd-unsafe conversion"
    return None


def make_converter(
    r_types: list,
    r_cid: int,
    f_types: list,
    f_cid: int,
    r_included: set[int] | None,
    f_included: set[int] | None,
    positional_levels: int = 0,
) -> Callable[[Any], Any] | None:
    """Value-level fixup turning ONE decoded file column into the
    reader's shape, or None when decoded Python values already match
    (the common case: numeric/string widenings are no-ops on Python
    values — the Arrow/DDL boundary applies the wider type). What
    materializes work: struct-field NULL-fill (missing or pruned-in-
    file fields of a reader struct) and decimal rescale. The include
    sets are the two sides' projection closures — a reader field
    outside r_included is projected away; a file field outside
    f_included was never decoded."""
    rt, ft = r_types[r_cid], f_types[f_cid]
    rk, fk = rt["kind"], ft["kind"]
    if rk == "struct" and fk == "struct":
        if positional_levels > 0:
            # positional pairing (buildConversion:398-424, levels>0):
            # reader field i reads file field i over the joint width;
            # reader fields past the file's width NULL-fill. The FILE
            # side keeps its own names — the decoded dict is keyed by
            # them — so the plan carries (reader name, file name).
            f_fields = list(zip(ft["field_names"], ft["subtypes"]))
            pplans: list[tuple[str, str | None, Any]] = []
            pneed = False
            for i, (rn, r_sub) in enumerate(
                zip(rt["field_names"], rt["subtypes"])
            ):
                if r_included is not None and r_sub not in r_included:
                    continue
                if i >= len(f_fields):
                    pplans.append((rn, None, None))  # NULL-fill
                    pneed = True
                    continue
                fn, f_sub = f_fields[i]
                if f_included is not None and f_sub not in f_included:
                    pplans.append((rn, None, None))
                    pneed = True
                    continue
                c = make_converter(
                    r_types, r_sub, f_types, f_sub, r_included,
                    f_included, positional_levels - 1,
                )
                pplans.append((rn, fn, c))
                if c is not None or rn != fn:
                    pneed = True
            if not pneed:
                return None

            def conv_struct_pos(d):
                if d is None:
                    return None
                return {
                    rn: (
                        None if fn is None
                        else d[fn] if c is None
                        else c(d[fn])
                    )
                    for rn, fn, c in pplans
                }

            return conv_struct_pos
        f_by = dict(zip(ft["field_names"], ft["subtypes"]))
        plans: list[tuple[str, Any]] = []  # (name, None|True|callable)
        need = False
        for fn, r_sub in zip(rt["field_names"], rt["subtypes"]):
            if r_included is not None and r_sub not in r_included:
                continue
            f_sub = f_by.get(fn)
            if f_sub is None or (
                f_included is not None and f_sub not in f_included
            ):
                plans.append((fn, None))  # NULL-fill (NullTreeReader)
                need = True
            else:
                c = make_converter(
                    r_types, r_sub, f_types, f_sub, r_included, f_included
                )
                plans.append((fn, c if c is not None else True))
                if c is not None:
                    need = True
        if not need:
            return None

        def conv_struct(d):
            if d is None:
                return None
            return {
                fn: (None if c is None else d[fn] if c is True else c(d[fn]))
                for fn, c in plans
            }

        return conv_struct
    if rk == "list" and fk == "list":
        c = make_converter(
            r_types, rt["subtypes"][0], f_types, ft["subtypes"][0],
            r_included, f_included,
        )
        if c is None:
            return None
        return lambda v: None if v is None else [c(x) for x in v]
    if rk == "map" and fk == "map":
        kc = make_converter(
            r_types, rt["subtypes"][0], f_types, ft["subtypes"][0],
            r_included, f_included,
        )
        vc = make_converter(
            r_types, rt["subtypes"][1], f_types, ft["subtypes"][1],
            r_included, f_included,
        )
        if kc is None and vc is None:
            return None
        kc = kc or (lambda x: x)
        vc = vc or (lambda x: x)
        return lambda v: (
            None if v is None else [(kc(k), vc(x)) for k, x in v]
        )
    if rk == "union" and fk == "union":
        # branch-count mismatch must fail LOUDLY like the canConvert
        # parity paths — a zip would silently pass file tags beyond
        # the reader's branch count through unconverted, emitting
        # values that violate the declared reader schema downstream
        # (election already enforces equality via covers(); this
        # tightens the explicit-reader path — r12 ADVICE)
        if len(rt["subtypes"]) != len(ft["subtypes"]):
            raise ValueError(
                "illegal schema evolution: union branch counts differ "
                f"(file {len(ft['subtypes'])}, reader "
                f"{len(rt['subtypes'])}) — the reference only converts "
                "unions with matching children (SchemaEvolution."
                "buildConversion UNION arm: fileChildren.size() == "
                "readerChildren.size())"
            )
        convs = [
            make_converter(r_types, r_sub, f_types, f_sub, r_included, f_included)
            for r_sub, f_sub in zip(rt["subtypes"], ft["subtypes"])
        ]
        if all(c is None for c in convs):
            return None

        def conv_union(d):
            if d is None:
                return None
            out = dict(d)
            for i, c in enumerate(convs):
                if c is not None and out.get(f"f{i}") is not None:
                    out[f"f{i}"] = c(out[f"f{i}"])
            return out

        return conv_union
    if rk == "decimal" and fk == "decimal":
        if _dec_ps(ft) == _dec_ps(rt):
            return None
        # rescale through enforcePrecisionScale (HALF_UP + NULL on
        # integer-digit overflow) — exact for elected (covering)
        # lakes, reference-faithful for explicit narrowing readers
        return lambda v: None if v is None else _enforce_dec(v, rt)
    if rk == fk and not _sg_truncates(ft, rt):
        return None
    # LOSSLESS widenings that are identity on Python values (int
    # family upward, float→double, char/varchar→string)
    if _widens(ft, rt):
        return None
    # everything else is the reference's explicit CONVERT matrix
    # (ConvertTreeReaderFactory.java:401-2100) — see _primitive_conv,
    # with char/varchar reader lengths enforced on top
    # (assignStringGroupVectorEntry -> StringExpr.truncate,
    # ConvertTreeReaderFactory.java:124)
    conv = (lambda v: v) if rk == fk else _primitive_conv(ft, rt)
    if _sg_truncates(ft, rt):
        n = rt["max_length"]
        base = conv
        if rk == "char":
            # CHAR: StringExpr.rightTrimAndTruncate
            # (ConvertTreeReaderFactory.java:114-119)
            def conv(v, _b=base):
                r = _b(v)
                return None if r is None else r[:n].rstrip(" ")
        else:
            # VARCHAR: StringExpr.truncate (:121-126)
            def conv(v, _b=base):
                r = _b(v)
                return None if r is None else r[:n]
    return lambda v: None if v is None else conv(v)


def _sg_truncates(ft: dict, rt: dict) -> bool:
    """Does the reader's char/varchar(n) bound require truncating this
    conversion's output? (No when the FILE type already guarantees the
    bound — same string-group kind with a fitting length.)"""
    if rt["kind"] not in ("char", "varchar") or rt.get("max_length") is None:
        return False
    if ft["kind"] in ("char", "varchar") and ft.get("max_length") is not None:
        return ft["max_length"] > rt["max_length"]
    return True


# ---------------------------------------------------------------------------
# The full ConvertTreeReader matrix (ConvertTreeReaderFactory.java:401-2100)
# for EXPLICIT reader schemas. Election only ever elects lossless
# widenings; these lossy directions activate when a caller names the
# reader schema (schema_file / reader_meta) — the reference's behavior
# when a Hive table's declared type diverges from the file's.
# ---------------------------------------------------------------------------

_STRING_GROUP = ("string", "char", "varchar")
_INT_FAMILY = ("boolean", "tinyint", "smallint", "int", "bigint")
_EPOCH_US = _dt.datetime(1970, 1, 1)


def convertible(ft: dict, rt: dict) -> bool:
    """ConvertTreeReaderFactory.canConvert parity (the create dispatch
    is narrower than canConvert for binary — mirror the create)."""
    fk, rk = ft["kind"], rt["kind"]
    if rk in ("struct", "list", "map", "union"):
        return fk == rk  # complex targets never convert
    if fk in ("struct", "list", "map", "union"):
        return False
    if fk in _INT_FAMILY or fk in ("float", "double", "decimal"):
        return rk not in ("binary", "date")
    if fk in _STRING_GROUP:
        return True
    if fk == "timestamp":
        return rk != "binary"
    if fk == "date":
        return rk in _STRING_GROUP or rk == "timestamp"
    if fk == "binary":
        return rk in _STRING_GROUP
    return False


def _fits_int(v: int, rk: str) -> bool:
    bits = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}[rk]
    return -(1 << (bits - 1)) <= v < (1 << (bits - 1))


def _down_int(v: int, rk: str):
    """downCastAnyInteger: NULL on data loss, boolean is !=0."""
    if rk == "boolean":
        return v != 0
    return v if _fits_int(v, rk) else None


def _f32(v: float) -> float:
    import struct as _s

    return _s.unpack("<f", _s.pack("<f", v))[0]


_MAX_LONG_PLUS_ONE = float(1 << 63)


def _fits_long(d: float) -> bool:
    # doubleCanFitInLong (Guava roundToLong bounds)
    return (-_MAX_LONG_PLUS_ONE - d < 1.0) and (d < _MAX_LONG_PLUS_ONE)


def _shortest_digits(v: float, single: bool) -> tuple[str, str, int]:
    """(sign, digit string, decimal exponent of the first digit) —
    the shortest representation that round-trips, float32-aware."""
    import numpy as np

    s = np.format_float_scientific(
        np.float32(v) if single else np.float64(v), unique=True, trim="-"
    )
    mant, _, exp = s.partition("e")
    sign = "-" if mant.startswith("-") else ""
    digits = mant.lstrip("-").replace(".", "").lstrip("0") or "0"
    return sign, digits, int(exp or 0)


def _java_fp_str(v: float, single: bool = False) -> str | None:
    """Java Float/Double.toString: shortest round-trip digits; plain
    decimal for 1e-3 <= |v| < 1e7, else D.DDDE<exp>. NaN converts to
    NULL in StringGroupFrom{Float,Double} (the isNaN branch), so
    callers map None->null."""
    if v != v:
        return None
    if v == float("inf"):
        return "Infinity"
    if v == float("-inf"):
        return "-Infinity"
    if v == 0.0:
        import math

        return "-0.0" if math.copysign(1.0, v) < 0 else "0.0"
    sign, digits, exp = _shortest_digits(v, single)
    a = abs(_f32(v) if single else v)
    if 1e-3 <= a < 1e7:
        if exp >= 0:
            whole = digits[: exp + 1].ljust(exp + 1, "0")
            frac = digits[exp + 1 :] or "0"
        else:
            whole = "0"
            frac = "0" * (-exp - 1) + digits
        return f"{sign}{whole}.{frac}"
    mant = digits[0] + "." + (digits[1:] or "0")
    return f"{sign}{mant}E{exp}"


def _dec_str(v) -> str:
    """HiveDecimal.toString: plain notation, trailing fraction zeros
    stripped (HiveDecimal normalizes on create)."""
    s = format(v, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return s or "0"


def _enforce_dec(v, rt: dict):
    """HiveDecimal.enforcePrecisionScale: round to the reader scale,
    NULL when the integer part overflows the reader precision."""
    from decimal import ROUND_HALF_UP, Context, Decimal

    rp, rs = _dec_ps(rt)
    ctx = Context(prec=77)
    q = v.quantize(Decimal(1).scaleb(-rs), rounding=ROUND_HALF_UP, context=ctx)
    digits = q.as_tuple()
    if len(digits.digits) - rs > rp - rs and q != 0:
        intdigits = len(digits.digits) + digits.exponent
        if intdigits > rp - rs:
            return None
    return q


def _ts_to_seconds_float(dt) -> float:
    us = round((dt - _EPOCH_US).total_seconds() * 1_000_000)
    return us / 1e6


def _ts_str(dt) -> str:
    """Timestamp -> string per the embedded (modern) ORC reader: no
    fraction at all when zero (java.sql.Timestamp.toString would print
    '.0' — the HDP-era behavior; pinned against the embedded reader)."""
    base = dt.strftime("%Y-%m-%d %H:%M:%S")
    if not dt.microsecond:
        return base
    return base + "." + f"{dt.microsecond:06d}".rstrip("0")


def _primitive_conv(ft: dict, rt: dict) -> Callable[[Any], Any]:
    """One decoded-Python-value converter per (file kind, reader kind)
    — the reference's ConvertTreeReader semantics: data loss reads as
    NULL (never wraps, never throws), parse errors read as NULL,
    int→timestamp is MILLIS, timestamp→int is (floor) SECONDS —
    including the reference's known seconds-vs-millis asymmetry
    (`RecordReaderImpl.java:750-754` disables PPD there for the same
    reason). Raises on pairs the reference cannot convert either."""
    import datetime as dt_mod
    from decimal import Decimal

    fk, rk = ft["kind"], rt["kind"]
    if not convertible(ft, rt):
        raise ValueError(
            f"illegal schema evolution: ORC {fk!r} cannot be read as "
            f"{rk!r} (ConvertTreeReaderFactory.canConvert parity)"
        )
    epoch = _EPOCH_US

    def as_long(v):  # file int-family value as long (boolean -> 0/1)
        return int(v)

    if fk in _INT_FAMILY:
        if rk in _INT_FAMILY:
            return lambda v: _down_int(as_long(v), rk)
        if rk == "float":
            return lambda v: _f32(float(as_long(v)))
        if rk == "double":
            return lambda v: float(as_long(v))
        if rk == "decimal":
            return lambda v: _enforce_dec(Decimal(as_long(v)), rt)
        if rk in _STRING_GROUP:
            if fk == "boolean":
                # modern ORC special-cases boolean ("TRUE"/"FALSE");
                # the HDP-era source went through AnyInteger ("0"/"1")
                # — pinned against the embedded reader
                return lambda v: "TRUE" if v else "FALSE"
            return lambda v: str(as_long(v))
        if rk == "timestamp":
            # SECONDS in the embedded (modern) reader; the HDP-era
            # source's `new Timestamp(longValue)` (millis,
            # ConvertTreeReaderFactory.java:1798) was the
            # seconds-vs-millis asymmetry later fixed upstream —
            # pinned against the embedded reader
            return lambda v: epoch + dt_mod.timedelta(
                seconds=as_long(v)
            )
    if fk in ("float", "double"):
        narrow = (lambda v: _f32(v)) if fk == "float" else (lambda v: v)
        if rk in _INT_FAMILY:
            def conv_fp_int(v):
                d = narrow(v)
                if not _fits_long(d):
                    return None
                return _down_int(int(d), rk)  # truncation toward zero
            return conv_fp_int
        if rk == "float":
            return lambda v: _f32(v)
        if rk == "double":
            return lambda v: v
        if rk == "decimal":
            return lambda v: (
                None
                if v != v
                else _enforce_dec(
                    Decimal(_java_fp_str(v, single=fk == "float")), rt
                )
            )
        if rk in _STRING_GROUP:
            # modern ORC formats the (already-widened) double for BOTH
            # float and double files; the HDP-era source narrowed back
            # to float first (String.valueOf((float)...)) — pinned
            # against the embedded reader
            return lambda v: _java_fp_str(v)
        if rk == "timestamp":  # seconds (TimestampUtils.doubleToTimestamp)
            def conv_fp_ts(v):
                d = narrow(v)
                if d != d or not _fits_long(d):
                    return None
                return epoch + dt_mod.timedelta(
                    microseconds=round(d * 1e6)
                )
            return conv_fp_ts
    if fk == "decimal":
        if rk in _INT_FAMILY:
            def conv_dec_int(v):
                i = int(v)  # truncation toward zero
                if not _fits_int(i, "bigint"):
                    return None
                return _down_int(i, rk)
            return conv_dec_int
        if rk == "float":
            return lambda v: _f32(float(v))
        if rk == "double":
            return lambda v: float(v)
        if rk == "decimal":
            return lambda v: _enforce_dec(v, rt)
        if rk in _STRING_GROUP:
            return lambda v: _dec_str(v)
        if rk == "timestamp":  # seconds.fraction (decimalToTimestamp)
            return lambda v: epoch + dt_mod.timedelta(
                microseconds=int(v * 1_000_000)
            )
    if fk in _STRING_GROUP:
        if rk in _INT_FAMILY:
            def conv_str_int(v):
                if not _LONG_RE.fullmatch(v):
                    return None  # parseLongFromString -> isParseError
                i = int(v)
                if not _fits_int(i, "bigint"):
                    return None  # Long.parseLong overflow -> parse error
                return _down_int(i, rk)
            return conv_str_int
        if rk in ("float", "double"):
            def conv_str_fp(v):
                try:
                    d = float(v)
                except ValueError:
                    return None
                return _f32(d) if rk == "float" else d
            return conv_str_fp
        if rk == "decimal":
            def conv_str_dec(v):
                from decimal import InvalidOperation

                try:
                    return _enforce_dec(Decimal(v.strip()), rt)
                except InvalidOperation:
                    return None
            return conv_str_dec
        if rk in _STRING_GROUP:
            return lambda v: v  # length enforcement: see docstring note
        if rk == "timestamp":  # Timestamp.valueOf format
            def conv_str_ts(v):
                m = _TS_RE.fullmatch(v.strip())
                if not m:
                    return None
                try:
                    base = dt_mod.datetime(
                        int(m.group(1)), int(m.group(2)), int(m.group(3)),
                        int(m.group(4)), int(m.group(5)), int(m.group(6)),
                    )
                except ValueError:
                    return None
                frac = (m.group(7) or "").ljust(6, "0")[:6]
                return base + dt_mod.timedelta(microseconds=int(frac or 0))
            return conv_str_ts
        if rk == "date":  # Date.valueOf format
            def conv_str_date(v):
                m = _DATE_RE.fullmatch(v.strip())
                if not m:
                    return None
                try:
                    return dt_mod.date(
                        int(m.group(1)), int(m.group(2)), int(m.group(3))
                    )
                except ValueError:
                    return None
            return conv_str_date
        if rk == "binary":
            return lambda v: v.encode("utf-8")
    if fk == "timestamp":
        def ts_millis(v):
            return round((v - epoch).total_seconds() * 1000)
        if rk in _INT_FAMILY:  # millisToSeconds: FLOOR
            def conv_ts_int(v):
                m = ts_millis(v)
                secs = m // 1000  # python floordiv == Java's negative fix
                return _down_int(secs, rk)
            return conv_ts_int
        if rk == "float":
            return lambda v: _f32(_ts_to_seconds_float(v))
        if rk == "double":
            return lambda v: _ts_to_seconds_float(v)
        if rk == "decimal":
            return lambda v: _enforce_dec(
                Decimal(_java_fp_str(_ts_to_seconds_float(v))), rt
            )
        if rk in _STRING_GROUP:
            return lambda v: _ts_str(v)
        if rk == "date":  # timeToDate(millisToSeconds(...)), UTC engine
            return lambda v: v.date()
    if fk == "date":
        if rk in _STRING_GROUP:
            return lambda v: v.isoformat()
        if rk == "timestamp":  # daysToMillis -> midnight
            return lambda v: dt_mod.datetime(v.year, v.month, v.day)
    if fk == "binary":
        if rk in _STRING_GROUP:  # space-separated lowercase hex pairs
            return lambda v: " ".join(f"{b:02x}" for b in v)
    raise ValueError(
        f"illegal schema evolution: ORC {fk!r} cannot be read as {rk!r}"
    )


_LONG_RE = re.compile(r"[+-]?\d+")
_TS_RE = re.compile(
    r"(\d{4})-(\d{1,2})-(\d{1,2}) (\d{1,2}):(\d{1,2}):(\d{1,2})(?:\.(\d{1,9}))?"
)
_DATE_RE = re.compile(r"(\d{4})-(\d{1,2})-(\d{1,2})")
