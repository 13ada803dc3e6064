"""Stats-level predicate TruthValue evaluation — the decision kernel
of the reference's row-group/stripe pruning (`RecordReaderImpl.java`
`evaluatePredicateProto`/`pickRowGroups`, truth algebra
`TruthValue.java`): given a column's min/max/hasNull statistics and a
SearchArgument leaf, decide one of the seven TruthValues (YES, NO,
NULL, YES_NO, YES_NULL, NO_NULL, YES_NO_NULL), fold through the
AND/OR/NOT algebra, and keep the unit (row group, stripe, file) only
if a TRUE outcome is possible.

This is the *predictive* half of PPD: `sources/footer_tail` parses the
real statistics out of ORC files, this module says which units a
predicate will skip, and the tests pin the prediction against ground
truth computed from the actual rows (a wrong NO here is a wrong query
answer, not a performance bug).

Semantics ported from public behavior, not code. Each TruthValue IS
the set of per-row outcomes possible in the unit ({true}, {false},
{null}, and their unions); the AND/OR/NOT tables are derived by
applying Kleene three-valued logic elementwise over those sets —
which is exactly how the reference's hand-written tables behave.
"""

from __future__ import annotations

from typing import Any

YES = "YES"                 # {true}
NO = "NO"                   # {false}
NULL = "NULL"               # {null}
YES_NO = "YES_NO"           # {true, false}
YES_NULL = "YES_NULL"       # {true, null}
NO_NULL = "NO_NULL"         # {false, null}
YES_NO_NULL = "YES_NO_NULL" # {true, false, null}

_TO_SET = {
    YES: frozenset("t"),
    NO: frozenset("f"),
    NULL: frozenset("n"),
    YES_NO: frozenset("tf"),
    YES_NULL: frozenset("tn"),
    NO_NULL: frozenset("fn"),
    YES_NO_NULL: frozenset("tfn"),
}
_FROM_SET = {v: k for k, v in _TO_SET.items()}

# Kleene three-valued logic on single outcomes
_AND3 = {
    ("t", "t"): "t", ("t", "f"): "f", ("t", "n"): "n",
    ("f", "t"): "f", ("f", "f"): "f", ("f", "n"): "f",
    ("n", "t"): "n", ("n", "f"): "f", ("n", "n"): "n",
}
_OR3 = {
    ("t", "t"): "t", ("t", "f"): "t", ("t", "n"): "t",
    ("f", "t"): "t", ("f", "f"): "f", ("f", "n"): "n",
    ("n", "t"): "t", ("n", "f"): "n", ("n", "n"): "n",
}
_NOT3 = {"t": "f", "f": "t", "n": "n"}


def _combine(table, a: str, b: str) -> str:
    outcomes = frozenset(
        table[(x, y)] for x in _TO_SET[a] for y in _TO_SET[b]
    )
    return _FROM_SET[outcomes]


def and_(a: str, b: str) -> str:
    """AND truth table (reference `TruthValue.and()`), derived as the
    elementwise Kleene AND over the outcome sets."""
    return _combine(_AND3, a, b)


def or_(a: str, b: str) -> str:
    """OR truth table (reference `TruthValue.or()`)."""
    return _combine(_OR3, a, b)


def not_(tv: str) -> str:
    """NOT truth table (reference `TruthValue.not()`)."""
    return _FROM_SET[frozenset(_NOT3[x] for x in _TO_SET[tv])]


def _lift_null(tv: str) -> str:
    """A unit containing nulls can never be a plain YES/NO for a
    comparison leaf: null rows evaluate to NULL under three-valued
    logic, so the null outcome joins the set."""
    return _FROM_SET[_TO_SET[tv] | frozenset("n")]


_BEFORE, _MIN, _MIDDLE, _MAX, _AFTER = range(5)


def _compare_to_range(point: Any, mn: Any, mx: Any) -> int:
    """The reference's `compareToRange` (RecordReaderImpl.java:311):
    MIN is checked before MAX, so a point range (min==max) classifies
    an equal literal as MIN — which is what makes the reference answer
    YES_NO (not YES) for `x <= c` on stats [c, c]."""
    if point < mn:
        return _BEFORE
    if point == mn:
        return _MIN
    if point > mx:
        return _AFTER
    if point == mx:
        return _MAX
    return _MIDDLE


#: Sentinel for statistics kinds whose min/max the reader cannot use
#: (binary/complex columns) — the reference's `UNKNOWN_VALUE`
#: (RecordReaderImpl.getMin: "null is not safe here"); forces
#: YES_NO_NULL rather than the all-null NULL path.
UNKNOWN_VALUE = object()


def evaluate_leaf(op: str, literal: Any, stats: dict) -> str:
    """TruthValue of one SARG leaf against {min, max, has_null,
    n_values} column statistics. `literal` is a scalar, a (lo, hi)
    tuple for BETWEEN, or a list for IN. Missing min/max with
    has_null means every row in the unit is null.

    Branch structure mirrors `evaluatePredicateRange` +
    `evaluatePredicateMinMax` (RecordReaderImpl.java:443-583), pinned
    cell-by-cell against the reference's TestRecordReaderImpl tables
    in tests/test_sarg_coercion.py."""
    mn, mx = stats.get("min"), stats.get("max")
    has_null = bool(stats.get("has_null"))

    if mn is None and mx is None:
        # no non-null values in the unit (evaluatePredicateRange's
        # min==null branch, checked before everything else)
        return YES if op == "is_null" else NULL
    if mn is UNKNOWN_VALUE or mx is UNKNOWN_VALUE:
        return YES_NO_NULL

    if op == "is_null":
        return YES_NO if has_null else NO

    if op == "null_safe_equals":
        # <=> never yields NULL: null rows compare FALSE to a non-null
        # literal. The reference never claims a plain YES here, even
        # for min==max==literal (testNullSafeEquals: stats(15,15) vs
        # 15 -> YES_NO), so neither do we.
        loc = _compare_to_range(literal, mn, mx)
        return NO if loc in (_BEFORE, _AFTER) else YES_NO

    if op == "equals":
        loc = _compare_to_range(literal, mn, mx)
        if mn == mx and loc == _MIN:
            tv = YES
        elif loc in (_BEFORE, _AFTER):
            tv = NO
        else:
            tv = YES_NO
    elif op == "less_than":
        loc = _compare_to_range(literal, mn, mx)
        if loc == _AFTER:
            tv = YES
        elif loc in (_BEFORE, _MIN):
            tv = NO
        else:
            tv = YES_NO
    elif op == "less_than_equals":
        loc = _compare_to_range(literal, mn, mx)
        if loc in (_AFTER, _MAX):
            tv = YES
        elif loc == _BEFORE:
            tv = NO
        else:
            tv = YES_NO
    elif op == "in":
        locs = [_compare_to_range(v, mn, mx) for v in literal]
        if mn == mx:
            tv = YES if _MIN in locs else NO
        elif any(loc in (_MIN, _MIDDLE, _MAX) for loc in locs):
            tv = YES_NO
        else:
            tv = NO
    elif op == "between":
        if not literal:
            # empty literal list: the reference answers YES_NO without
            # even consulting hasNull (testBetween's empty-args block)
            return YES_NO
        lo, hi = literal
        loc = _compare_to_range(lo, mn, mx)
        if loc in (_BEFORE, _MIN):
            loc2 = _compare_to_range(hi, mn, mx)
            if loc2 in (_AFTER, _MAX):
                tv = YES
            elif loc2 == _BEFORE:
                tv = NO
            else:
                tv = YES_NO
        elif loc == _AFTER:
            tv = NO
        else:
            tv = YES_NO
    else:
        raise ValueError(f"unknown SARG leaf op: {op}")

    return _lift_null(tv) if has_null else tv


def evaluate_tree(
    tree: Any,
    stats_by_col: dict[str, dict],
    blooms: dict[str, dict] | None = None,
    col_types: dict[str, str] | None = None,
    writer_has_orc135: bool = True,
) -> str:
    """Evaluate a predicate tree over per-column stats. Tree grammar:
    ("and"|"or", child, child, ...), ("not", child), or a leaf
    ("op", column, literal) / ("op", column, literal, pred_type).
    With `blooms` ({column: bloom}), each equality-class leaf is
    refined through the column's bloom filter the way
    `checkInBloomFilter` does.

    Leaves route through the typed front-end
    (getBaseObjectForComparison coercion + the SargApplier cast-error
    fallback): the predicate comparison domain comes from the explicit
    4th leaf element when given, else from the literal's Python class.
    `col_types` ({column: orc kind}) enables the reference's
    timestamp-column PPD gating."""
    head = tree[0]
    if head == "and":
        tv = evaluate_tree(tree[1], stats_by_col, blooms, col_types, writer_has_orc135)
        for child in tree[2:]:
            tv = and_(tv, evaluate_tree(child, stats_by_col, blooms, col_types,
                                        writer_has_orc135))
        return tv
    if head == "or":
        tv = evaluate_tree(tree[1], stats_by_col, blooms, col_types, writer_has_orc135)
        for child in tree[2:]:
            tv = or_(tv, evaluate_tree(child, stats_by_col, blooms, col_types,
                                       writer_has_orc135))
        return tv
    if head == "not":
        return not_(evaluate_tree(tree[1], stats_by_col, blooms, col_types,
                                  writer_has_orc135))
    op, column, literal = tree[:3]
    pred_type = tree[3] if len(tree) == 4 else infer_pred_type(literal)
    ctype = (col_types or {}).get(column)
    if op == "is_null":
        # IS_NULL consults no coercion; only the pre-ORC-135 timestamp
        # writer gate applies (the predicate type IS the column type)
        if ctype == "timestamp" and not writer_has_orc135:
            tv = YES_NO_NULL
        else:
            tv = evaluate_leaf(op, literal, stats_by_col[column])
    elif pred_type is None:
        tv = evaluate_leaf(op, literal, stats_by_col[column])
    else:
        tv = evaluate_leaf_typed(
            op, pred_type, literal, stats_by_col[column],
            column_type=ctype, writer_has_orc135=writer_has_orc135,
        )
    if blooms and column in blooms:
        tv = refine_with_bloom(tv, op, literal, blooms[column])
    return tv


# the leaves checkInBloomFilter refines: a bloom answers membership only
_BLOOM_OPS = ("equals", "null_safe_equals", "in")


def refine_with_bloom(tv: str, op: str, literal: Any, bloom: dict) -> str:
    """The reference's `checkInBloomFilter` refinement: when the
    min/max range can only say MAYBE for an equality-class leaf, a
    negative bloom probe proves NO (no false negatives by
    construction); a positive probe proves nothing (false positives
    exist by design). Only YES_NO / YES_NO_NULL are refinable — a
    range YES means min==max==literal (present regardless of what the
    bloom says), and NULL/NO states can't gain a true outcome."""
    if op not in _BLOOM_OPS:
        return tv
    if tv not in (YES_NO, YES_NO_NULL):
        return tv
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.bloom import might_contain

    values = list(literal) if op == "in" else [literal]
    if any(might_contain(bloom, v) for v in values):
        return tv
    return NO if tv == YES_NO else NO_NULL


def keeps_unit(tv: str) -> bool:
    """pickRowGroups' include decision (`TruthValue.isNeeded()`): read
    the unit iff a TRUE outcome is possible."""
    return "t" in _TO_SET[tv]


def stats_to_domain(col_kind: str, s: dict) -> dict:
    """Convert footer_tail's raw wire-value stats (dates as epoch
    days, timestamps as epoch millis, decimals as strings) to the
    Python comparison domain getBaseObjectForComparison expects
    (datetime.date / naive-UTC datetime / Decimal), deriving boolean
    min/max from the BucketStatistics true-count the way the
    reference's getMin/getMax do. Unsupported stats kinds (binary,
    complex types) map to UNKNOWN_VALUE, never silently to None."""
    import datetime as _dt
    from decimal import Decimal as _Dec

    typed = s.get("typed") or {}
    mn, mx = typed.get("min"), typed.get("max")
    if col_kind == "timestamp" and ("min_utc" in typed or "max_utc" in typed):
        # ORC-135 writers store UTC millis; prefer them (the local
        # min/max are what make pre-135 PPD unsafe in the first place)
        mn, mx = typed.get("min_utc"), typed.get("max_utc")
    out = {"has_null": s.get("has_null"), "n_values": s.get("n_values")}
    if col_kind == "boolean":
        tc, n = typed.get("true_count"), s.get("n_values") or 0
        if tc is None:
            out["min"] = out["max"] = UNKNOWN_VALUE
        else:
            out["min"] = False if (n - tc) != 0 else True
            out["max"] = True if tc != 0 else False
        return out
    if mn is None and mx is None:
        if col_kind in ("binary", "list", "map", "struct", "union"):
            out["min"] = out["max"] = UNKNOWN_VALUE
        else:
            out["min"] = out["max"] = None  # genuinely all-null
        return out
    if col_kind == "date":
        conv = lambda d: _dt.date(1970, 1, 1) + _dt.timedelta(days=d)  # noqa: E731
    elif col_kind == "timestamp":
        conv = lambda ms: _dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=ms)  # noqa: E731
    elif col_kind == "decimal":
        conv = _Dec
    else:
        conv = lambda v: v  # noqa: E731
    out["min"] = conv(mn) if mn is not None else None
    out["max"] = conv(mx) if mx is not None else None
    return out


#: the statistics of a column a unit carries none for (legal per the
#: proto; minimal writers): indistinguishable values evaluate
#: YES_NO_NULL and KEEP, never read as "all-null" and skip
_NO_STATS = {
    "min": UNKNOWN_VALUE, "max": UNKNOWN_VALUE, "has_null": None, "n_values": None,
}  # fmt: skip


def verdicts(
    meta: dict, tree: Any, units: list, blooms: list[dict] | None = None
) -> list[dict]:
    """The one SArg verdict kernel of every pruning level — the
    reference applies the same SearchArgument to file, stripe and
    row-group statistics (`site/_docs/indexes.md`, pickRowGroups'
    TruthValue logic). `meta` is the file's tail parse; each unit is a
    {column id: ColumnStatistics} dict: the Footer's statistics, one
    stripe's Metadata StripeStatistics, or one row group's ROW_INDEX
    entries. `blooms`, when given, holds per unit {column id: bloom},
    refining the equality-class leaves.

    Leaf ids (dotted leaves resolve to their nested id), their kinds
    and the ORC-135 flag are resolved once per call; a column a unit
    has no statistics for is unknown and keeps. Returns
    [{truth, keep}] per unit."""
    ids = _predicate_ids(meta, tree)
    kinds = {c: meta["types"][cid]["kind"] for c, cid in ids.items()}
    # ORC_135 (writerVersion 6) = utc timestamp stats; older writers
    # disable timestamp PPD, read straight off the file's postscript
    orc135 = meta.get("writer_version", 0) >= 6
    out = []
    for i, unit in enumerate(units):
        stats = {}
        for c, cid in ids.items():
            s = unit.get(cid)
            no_stats = s is None or s.get("n_values") is None
            stats[c] = _NO_STATS if no_stats else stats_to_domain(kinds[c], s)
        unit_blooms = None
        if blooms:
            unit_blooms = {c: blooms[i][cid] for c, cid in ids.items() if cid in blooms[i]}
        tv = evaluate_tree(
            tree, stats, unit_blooms or None, col_types=kinds, writer_has_orc135=orc135
        )
        out.append({"truth": tv, "keep": keeps_unit(tv)})
    return out


def explain_file_pruning(src, tree: Any) -> list[dict]:
    """Tool-side pruning explanation: each stripe's TruthValue +
    keep/skip decision for the predicate tree from the Metadata
    section's per-stripe statistics (StripeStatistics, ranged metadata
    reads only) — what the reference computes inside pickRowGroups,
    surfaced the way `orc-tools scan` users need it. `src` is a path or
    a FileTail opened with `include_stripe_stats`."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import open_tail

    with open_tail(src, include_stripe_stats=True) as meta:
        units = [dict(enumerate(per)) for per in meta.get("stripe_stats", [])]
    return [{"stripe": i, **v} for i, v in enumerate(verdicts(meta, tree, units))]


def _leaves(tree: Any):
    """Every leaf ("op", column, literal[, pred_type]) of a tree."""
    if tree[0] in ("and", "or", "not"):
        for child in tree[1:]:
            yield from _leaves(child)
    else:
        yield tree


def _tree_columns(tree: Any) -> set[str]:
    return {leaf[1] for leaf in _leaves(tree)}


def pick_row_groups(src, tree: Any, use_bloom: bool = True) -> list[list[dict]]:
    """The reference's `pickRowGroups`, end to end, from ranged
    metadata reads of a real ORC file: per stripe, each 10k-row
    row group's TruthValue (ROW_INDEX per-row-group min/max/hasNull
    via footer_tail, refined through the row group's bloom filter
    when present and `use_bloom`) and the keep/skip decision. Returns
    [[{row_group, truth, keep}, ...] per stripe]. Only the SArg's
    columns' row indexes are read, and only the blooms an
    equality-class leaf can use (`_bloom_ids`). `src` is a path or its
    `footer_tail.FileTail`."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        open_tail,
        parse_indexes,
        parse_stripe_footers,
    )

    with open_tail(src) as meta:
        row_index, blooms = parse_indexes(
            meta, parse_stripe_footers(meta), (),
            stats=_predicate_ids(meta, tree).values(),
            blooms=_bloom_ids(meta, tree) if use_bloom else (),
        )
    return _pick_groups(meta, tree, row_index, blooms)


def _bloom_ids(meta: dict, tree: Any) -> set[int]:
    """Column ids of the leaves a bloom filter can refine (the
    equality class of `refine_with_bloom`): the only blooms worth
    reading for this tree."""
    ids = _predicate_ids(meta, tree)
    return {ids[leaf[1]] for leaf in _leaves(tree) if leaf[0] in _BLOOM_OPS}


def _predicate_ids(meta: dict, tree: Any) -> dict[str, int]:
    """SArg leaf column -> column id. Dotted leaves ("st.a") resolve to
    their nested id: every column id — nested included — has its own
    ROW_INDEX (and bloom, when written), so nested predicates prune
    row groups exactly like top-level ones."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import _resolve_dotted

    ids = {c["name"]: c["col_id"] for c in meta["columns"]}
    return {
        c: ids[c] if c in ids or "." not in c else _resolve_dotted(meta, c)[-1]
        for c in sorted(_tree_columns(tree))
    }


def _pick_groups(
    meta: dict, tree: Any, row_index: dict[int, list], blooms: dict[int, list]
) -> list[list[dict]]:
    """pickRowGroups over already-parsed index streams: `row_index` and
    `blooms` map column id -> per-stripe entries (footer_tail /
    bloom parses) and must cover every predicate column (blooms may be
    empty — bloom refinement off). One verdict unit per row group."""
    cids = sorted(set(_predicate_ids(meta, tree).values()))
    bloomed = [c for c in cids if c in blooms]
    where, units, unit_blooms = [], [], []
    for si, per_column in enumerate(zip(*(row_index[c] for c in cids))):
        for g, entries in enumerate(zip(*per_column)):
            where.append((si, g))
            units.append(dict(zip(cids, entries)))
            if bloomed:
                unit_blooms.append(
                    {c: blooms[c][si][g] for c in bloomed if g < len(blooms[c][si])}
                )
    out: list[list[dict]] = [[] for _ in row_index[cids[0]]]
    for (si, g), v in zip(where, verdicts(meta, tree, units, unit_blooms)):
        out[si].append({"row_group": g, **v})
    return out


# ---------------------------------------------------------------------------
# Predicate-vs-stats type coercion (reference getBaseObjectForComparison,
# RecordReaderImpl.java:661-762) and its SargCastException fallback
# (pickRowGroups catch block, RecordReaderImpl.java:852-874)
# ---------------------------------------------------------------------------


class SargCastError(ValueError):
    """Python twin of RecordReaderImpl.SargCastException: the stats or
    literal value cannot be converted to the predicate's comparison
    domain (e.g. Long -> DATE: days/seconds/millis ambiguity)."""


def coerce_for_comparison(pred_type: str, obj: Any) -> Any:
    """Coerce a stats bound or literal to the PREDICATE's type — the
    reference converts both sides to `predicate.getType()` before the
    min/max comparison (`getBaseObjectForComparison`). Value tags
    mirror the Java classes: bool=Boolean, int=Long, float=Double,
    str=String, datetime.date=Date, datetime.datetime=Timestamp,
    Decimal=HiveDecimal.

    Raises SargCastError exactly where the reference throws
    SargCastException; conversions the reference attempts but that can
    fail on malformed input (Long.valueOf("15.1"), Date.valueOf("x"))
    raise ValueError, which the reference catches with the same
    PPD-disabling fallback (evaluate_leaf_typed below)."""
    import datetime as _dt
    from decimal import Decimal as _Dec

    if obj is None:
        return None
    is_ts = isinstance(obj, _dt.datetime)
    is_date = isinstance(obj, _dt.date) and not is_ts
    if pred_type == "boolean":
        if isinstance(obj, bool):
            return obj
        # Boolean.valueOf: only the string "true" is true
        return str(obj).lower() == "true"
    if pred_type == "date":
        if is_date:
            return obj
        if isinstance(obj, str):
            return _dt.date.fromisoformat(obj)  # Date.valueOf, may raise
        if is_ts:
            return obj.date()  # DateWritable.timeToDate
        raise SargCastError(f"could not convert from {type(obj).__name__} to DATE")
    if pred_type == "decimal":
        if isinstance(obj, bool):
            return _Dec(1 if obj else 0)
        if isinstance(obj, int):
            return _Dec(obj)
        if isinstance(obj, (float, str)):
            return _Dec(str(obj))  # may raise on malformed strings
        if isinstance(obj, _Dec):
            return obj
        if is_ts:
            # TimestampUtils.getDouble: seconds with fractional part
            # (naive datetimes anchor to UTC so the result does not
            # depend on the host time zone)
            return _Dec(str(obj.replace(tzinfo=_dt.timezone.utc).timestamp()))
        raise SargCastError(f"could not convert from {type(obj).__name__} to DECIMAL")
    if pred_type == "float":  # Java FLOAT comparison domain is double
        if isinstance(obj, bool):
            raise SargCastError("could not convert from Boolean to FLOAT")
        if isinstance(obj, (int, float)):
            return float(obj)
        if isinstance(obj, _Dec):
            return float(obj)
        if isinstance(obj, str):
            return float(obj)  # Double.valueOf, may raise
        if is_ts:
            return obj.replace(tzinfo=_dt.timezone.utc).timestamp()
        raise SargCastError(f"could not convert from {type(obj).__name__} to FLOAT")
    if pred_type == "long":
        if isinstance(obj, bool):
            raise SargCastError("could not convert from Boolean to LONG")
        if isinstance(obj, (int, float)):
            return int(obj)  # Number.longValue(): truncating
        if isinstance(obj, _Dec):
            return int(obj)
        if isinstance(obj, str):
            # Long.valueOf: "15.1" is NOT a long (unlike float coercion)
            if not obj.lstrip("+-").isdigit():
                raise ValueError(f"malformed long literal {obj!r}")
            return int(obj)
        # Timestamp/Date -> LONG both fall through in the reference
        raise SargCastError(f"could not convert from {type(obj).__name__} to LONG")
    if pred_type == "string":
        if is_ts:
            # Java Timestamp.toString always renders a fractional part
            frac = f".{obj.microsecond:06d}".rstrip("0") if obj.microsecond else ".0"
            return f"{obj:%Y-%m-%d %H:%M:%S}{frac}"
        if isinstance(obj, _Dec):
            s = str(obj)
            if "." in s:
                s = s.rstrip("0").rstrip(".")
            return s or "0"
        if isinstance(obj, bool):
            return "true" if obj else "false"
        return str(obj)
    if pred_type == "timestamp":
        if is_ts:
            return obj
        if is_date:
            return _dt.datetime(obj.year, obj.month, obj.day)
        if isinstance(obj, float):
            # TimestampUtils.doubleToTimestamp: seconds (UTC-anchored
            # naive, the inverse of the FLOAT/DECIMAL coercions above)
            return _dt.datetime.fromtimestamp(obj, _dt.timezone.utc).replace(tzinfo=None)
        if isinstance(obj, _Dec):
            return _dt.datetime.fromtimestamp(float(obj), _dt.timezone.utc).replace(tzinfo=None)
        # int = Java Long (stats and SQL literals): the reference only
        # accepts Integer here (millis) and Long falls through — the
        # days/seconds/millis ambiguity documented at
        # RecordReaderImpl.java:748-752. Strings also fall through.
        raise SargCastError(
            f"could not convert from {type(obj).__name__} to TIMESTAMP"
        )
    raise ValueError(f"unknown predicate type {pred_type!r}")


def evaluate_predicate_typed(
    op: str,
    pred_type: str,
    literal: Any,
    stats: dict,
    *,
    column_type: str | None = None,
    writer_has_orc135: bool = True,
) -> str:
    """evaluate_leaf with the reference's full type front-end — the
    `evaluatePredicateProto` surface, which RAISES on cast failures
    the way the reference throws (SargCastException propagates out;
    the catch-fallback lives one layer up in evaluate_leaf_typed,
    mirroring SargApplier.pickRowGroups):

    - TIMESTAMP columns: PPD disabled (YES_NO_NULL) for pre-ORC-135
      writers and for predicate types other than TIMESTAMP/DATE/STRING
      (`evaluatePredicateProto`, RecordReaderImpl.java:408-422);
    - both stats bounds AND the literal coerce to the predicate type
      (`getBaseObjectForComparison`), with IN/BETWEEN list elements
      coerced LAZILY in evaluation order exactly as the reference's
      loops do (a malformed later element is never reached once an
      earlier one decides the leaf).

    Fidelity note — a deliberate reference sharp edge we reproduce:
    when the predicate domain's ordering differs from the column's
    (e.g. a STRING predicate over LONG stats), the coerced min/max are
    not valid bounds in the predicate domain (int stats (15, 100)
    coerce to the lexically INVERTED range ("15", "100")), so a
    cross-domain predicate can skip a unit that holds a matching row.
    The reference makes the same trade (testPredEvalWithIntStats pins
    STRING "15" vs (10,100) to NO) because the engines that push such
    predicates cast the row side identically; parity here is the
    point, not independent soundness — the soundness suite
    (test_truth_values) only claims same-domain predicates."""
    if column_type == "timestamp":
        if not writer_has_orc135:
            return YES_NO_NULL
        if pred_type not in ("timestamp", "date", "string"):
            return YES_NO_NULL
    mn, mx = stats.get("min"), stats.get("max")
    has_null = bool(stats.get("has_null"))
    if (mn is None and mx is None) or mn is UNKNOWN_VALUE or mx is UNKNOWN_VALUE:
        return evaluate_leaf(op, literal, stats)  # all-null / UNKNOWN paths
    if op == "is_null":
        return evaluate_leaf(op, literal, stats)  # no coercion consulted
    cstats = {
        "min": coerce_for_comparison(pred_type, mn),
        "max": coerce_for_comparison(pred_type, mx),
        "has_null": has_null,
    }
    if op == "in":
        # evaluatePredicateMinMax's IN loops: early-return on the first
        # element that can match, coercing one element at a time
        for v in literal:
            tv = evaluate_leaf("equals", coerce_for_comparison(pred_type, v), cstats)
            if "t" in _TO_SET[tv]:
                return tv
        return NO_NULL if has_null else NO
    if op == "between":
        if not literal:
            return YES_NO
        lo = coerce_for_comparison(pred_type, literal[0])
        loc = _compare_to_range(lo, cstats["min"], cstats["max"])
        if loc in (_BEFORE, _MIN):  # only then is hi consulted (and coerced)
            hi = coerce_for_comparison(pred_type, literal[1])
            loc2 = _compare_to_range(hi, cstats["min"], cstats["max"])
            if loc2 in (_AFTER, _MAX):
                return YES_NULL if has_null else YES
            if loc2 == _BEFORE:
                return NO_NULL if has_null else NO
            return YES_NO_NULL if has_null else YES_NO
        if loc == _AFTER:
            return NO_NULL if has_null else NO
        return YES_NO_NULL if has_null else YES_NO  # loc1 MIDDLE or MAX
    return evaluate_leaf(op, coerce_for_comparison(pred_type, literal), cstats)


def evaluate_leaf_typed(
    op: str,
    pred_type: str,
    literal: Any,
    stats: dict,
    *,
    column_type: str | None = None,
    writer_has_orc135: bool = True,
    reader_type: str | None = None,
) -> str:
    """The SargApplier layer over evaluate_predicate_typed:

    - with schema evolution in play (`reader_type` given and different
      context than the file's `column_type`), the leaf is evaluated
      ONLY when the conversion is PPD-safe — otherwise YES_NO_NULL
      without touching the stats (pickRowGroups' isPPDSafeConversion
      else-branch, RecordReaderImpl.java:845 + 876-877);
    - any exception while evaluating disables PPD for that leaf with
      the reference's fallback (RecordReaderImpl.java:852-874) —
      YES_NO when the operator is NULL_SAFE_EQUALS or the stats say
      EXPLICITLY no-null (`stats.hasHasNull() && !stats.getHasNull()`:
      the has_null key must be PRESENT and false; a stats dict lacking
      the key falls to YES_NO_NULL), else YES_NO_NULL."""
    if reader_type is not None and not is_ppd_safe_conversion(column_type, reader_type):
        return YES_NO_NULL
    try:
        return evaluate_predicate_typed(
            op, pred_type, literal, stats,
            column_type=column_type, writer_has_orc135=writer_has_orc135,
        )
    except (ValueError, ArithmeticError, OverflowError, OSError, TypeError):
        # SargCastError is a ValueError; the reference catches every
        # exception class here with the same fallback
        has_no_null = "has_null" in stats and stats["has_null"] is not None \
            and not stats["has_null"]
        return YES_NO if (op == "null_safe_equals" or has_no_null) else YES_NO_NULL


_PRED_TYPE_OF = {
    "bool": "boolean", "int": "long", "float": "float", "str": "string",
    "date": "date", "datetime": "timestamp", "Decimal": "decimal",
}


def infer_pred_type(literal: Any) -> str | None:
    """Predicate comparison domain from the Python literal class, the
    same mapping PredicateLeaf.Type carries in the reference's SARG
    builder (bool=BOOLEAN, int=LONG, float=FLOAT-as-double,
    str=STRING, date=DATE, datetime=TIMESTAMP, Decimal=DECIMAL)."""
    if isinstance(literal, (list, tuple)):
        return infer_pred_type(literal[0]) if len(literal) else None
    return _PRED_TYPE_OF.get(type(literal).__name__)


# integer widening chains and string<->varchar are the ONLY safe
# evolved-PPD conversions (SchemaEvolution.validatePPDConversion,
# SchemaEvolution.java:253-310)
_PPD_SAFE_WIDENING = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "string": {"varchar"},
    "varchar": {"string"},
}
_PPD_PRIMITIVES = {
    "boolean", "tinyint", "smallint", "int", "bigint", "float", "double",
    "string", "char", "varchar", "binary", "date", "timestamp", "decimal",
}


def is_ppd_safe_conversion(
    file_type: str | None, reader_type: str, *, same_decimal: bool = True
) -> bool:
    """The reference's `validatePPDConversion` rule: with schema
    evolution in play, file-side statistics can only be trusted for a
    reader predicate when the file->reader conversion preserves the
    index's comparison domain — identical primitive categories
    (decimals additionally requiring identical precision/scale,
    `same_decimal`), the integer widening chain
    byte->short->int->long, and string<->varchar. Explicitly NOT safe
    (reference comment): float->double (floats index as doubles but
    predicate literals parse at a different precision) and anything
    involving char (the index stores chars space-PADDED). A missing
    file type (added column) is not safe."""
    if file_type is None:
        return False
    if file_type not in _PPD_PRIMITIVES:
        return False
    if file_type == reader_type:
        return same_decimal if file_type == "decimal" else True
    return reader_type in _PPD_SAFE_WIDENING.get(file_type, ())
