"""Arrow parity of the native decoder (sources/stream_decode.py).

`check_file` decodes one ORC file under three row-group picks (all,
alternating, a contiguous run) and checks:

- each stripe's file-namespace batch equals `pyarrow.orc`'s read of the
  same columns, filtered to the kept groups' rows;
- every batch `FileScanPlan.execute` yields has the schema
  `arrow_schema(reader_meta, columns)`, and, where the file's own
  schema is the reader's, the same values.
"""

from __future__ import annotations

import dataclasses

import pyarrow as pa
import pyarrow.orc as po

from orc_release_hdp_2_6_5_99_1_tag_spark.sources import stream_decode as sd
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.file_job import arrow_schema
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import _plan_ranges

PICKS = ("all", "alternating", "contiguous")


def _keep(kind: str, n: int) -> list[bool]:
    if kind == "alternating":
        return [g % 2 == 0 for g in range(n)]
    if kind == "contiguous" and n > 2:
        return [1 <= g <= 2 for g in range(n)]
    return [True] * n


def _kept_rows(plan) -> list[int]:
    stride = plan.meta["row_index_stride"]
    rows, first = [], 0
    for st, per in zip(plan.stripes, plan.picks):
        n = st["numberOfRows"]
        for g, d in enumerate(per):
            if d["keep"]:
                rows.extend(range(first + g * stride, first + min((g + 1) * stride, n)))
        first += n
    return rows


def _same(got: pa.Array, want: pa.Array, what: str) -> None:
    want = want.cast(got.type)
    assert got.equals(want), f"{what}: {got.to_pylist()[:5]} != {want.to_pylist()[:5]}"


def check_file(path: str, columns: list[str], reader_meta: dict | None = None,
               force_positional: bool = False) -> int:
    """Returns the number of rows compared."""
    compared = 0
    for kind in PICKS:
        plan = sd.plan_file_scan(
            path, None, columns, reader_meta=reader_meta,
            force_positional=force_positional,
        )
        picks = [
            [dict(d, keep=k) for d, k in zip(per, _keep(kind, len(per)))]
            for per in plan.picks
        ]
        plan = dataclasses.replace(
            plan, picks=picks,
            ranges=_plan_ranges(plan.meta, plan.stripes, plan.included, picks, plan.row_index),
        )
        decoded = [
            plan.decode(si)["batch"]
            for si, per in enumerate(picks)
            if any(d["keep"] for d in per)
        ]
        got = pa.Table.from_batches(decoded)
        rows = pa.array(_kept_rows(plan), pa.int64())
        want = po.ORCFile(path).read(columns=got.column_names).take(rows)
        assert got.num_rows == want.num_rows == len(rows), kind
        for name in got.column_names:
            _same(got[name].combine_chunks(), want[name].combine_chunks(), f"{kind} {name}")

        expected = arrow_schema(reader_meta or plan.meta, columns)
        out = list(plan.execute())
        assert all(b.schema == expected for b in out), kind
        own = arrow_schema(plan.meta, plan.file_columns)
        if own == expected and all(o == f for o, f in plan.sources.items()):
            table = pa.Table.from_batches(out, expected)
            for name in expected.names:
                _same(table[name].combine_chunks(), want[name].combine_chunks(), f"{kind} {name}")
        compared += len(rows)
    return compared
