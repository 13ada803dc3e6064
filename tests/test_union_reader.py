"""`sources/union_reader.py`: files Spark's ORC reader rejects read
through the engine's native decoder. A native-writer union file is the
fixture (the reference's union goldens are not shipped with the
tests); pyarrow's ORC reader is the oracle for every non-null row."""

from __future__ import annotations

import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_encode import write_orc_native
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.union_reader import (
    read_orc_permissive,
    read_orc_tagged,
)

N = 2_000
_VALUES = [
    None if v % 13 == 7 else (
        {"_tag": 0, "f0": v, "f1": None} if v % 2 == 0
        else {"_tag": 1, "f0": None, "f1": f"u{v}"}
    )
    for v in range(N)
]  # fmt: skip


@pytest.fixture(scope="module")
def union_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("union")
    write_orc_native(
        str(d / "part-0.orc"),
        {"k": list(range(N)), "u": _VALUES},
        "k bigint, u uniontype<int,string>",
        row_index_stride=500,
    )
    return str(d)


def _orc_native(spark, path):
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import register_orc_native

    register_orc_native(spark)
    return spark.read.format("orc_native").option("path", path).load()


@pytest.mark.parametrize("read", [read_orc_permissive, _orc_native])
def test_null_unions_stay_null(spark, union_dir, read):
    """A union written as NULL reads as NULL (the reference's
    UnionTreeReader decodes the PRESENT stream); every other row
    carries pyarrow's tag and value, with the other variant NULL."""
    import pyarrow.orc as pa_orc

    with pytest.raises(Exception):
        spark.read.orc(union_dir).schema  # Spark has no union type
    u = pa_orc.ORCFile(f"{union_dir}/part-0.orc").read().column("u").combine_chunks()
    tags, values = u.type_codes.to_pylist(), u.to_pylist()
    got = {r["k"]: r["u"] for r in read(spark, union_dir).collect()}
    assert sorted(got) == list(range(N))
    for k, want in enumerate(_VALUES):
        if want is None:
            assert got[k] is None, k
        else:
            tag = tags[k]
            assert got[k].asDict() == {
                "_tag": tag,
                "f0": values[k] if tag == 0 else None,
                "f1": values[k] if tag == 1 else None,
            }, k


def _future_version(path: str) -> None:
    """Stamp the postscript with file version 1999.999 and writer
    version 9999, both past any the reader knows."""
    with open(path, "rb") as fh:
        data = fh.read()
    ps_len = data[-1]
    ps = data[-1 - ps_len : -1]
    version, writer = b"\x22\x02\x00\x0c", b"\x30\x06"  # [0, 12], ORC_135
    assert ps.count(version) == 1 and ps.count(writer) == 1
    ps = ps.replace(version, b"\x22\x04\xcf\x0f\xe7\x07").replace(writer, b"\x30\x8f\x4e")
    with open(path, "wb") as fh:
        fh.write(data[: -1 - ps_len] + ps + bytes((len(ps),)))


def test_future_version_reads_permissively(spark, tmp_path):
    """The reference reads a postscript from a future writer version
    without complaint; so do both halves of read_orc_permissive."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_tail_of_file,
    )

    path = str(tmp_path / "part-0.orc")
    rows = [(k, f"s{k % 7}") for k in range(3_000)]
    write_orc_native(
        path,
        {"k": [k for k, _ in rows], "s": [s for _, s in rows]},
        "k bigint, s string",
        row_index_stride=1_000,
    )
    _future_version(path)
    assert parse_tail_of_file(path)["writer_version"] == 9999
    for read in (read_orc_permissive, read_orc_tagged):
        got = sorted(tuple(r) for r in read(spark, str(tmp_path)).collect())
        assert got == rows


def test_zero_column_file_reads_permissively(spark, tmp_path):
    """A struct root without fields (the shape of the reference's
    version1999.orc): Spark cannot infer a schema from it, and the
    fallback reads it as its rows of no columns."""
    write_orc_native(str(tmp_path / "part-0.orc"), {}, [])
    with pytest.raises(Exception):
        spark.read.orc(str(tmp_path)).schema
    df = read_orc_permissive(spark, str(tmp_path))
    assert df.columns == [] and df.count() == 0
