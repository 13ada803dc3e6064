"""The ORC tier's one per-file Spark job (`sources/file_job.py`): the
listing rule, the package zip that ships the engine to executors, the
Arrow exchange that keeps exact 64-bit longs, and a scan that keeps
every per-file job, listing and shipping step inside that module."""

from __future__ import annotations

import ast
import os
import zipfile

import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark.sources import file_job
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import write_orc
from tests.test_source_compiles import REPO

_SOURCES = os.path.join(REPO, "orc_release_hdp_2_6_5_99_1_tag_spark", "sources")
_HOME = os.path.join(_SOURCES, "file_job.py")


# ---------------------------------------------------------------------------
# nullable BIGINT above 2^53 survives the exchange
# ---------------------------------------------------------------------------

_BIG = [2**53 + 1, None, 2**53 + 3]


@pytest.fixture(scope="module")
def big_file(spark, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("bigint") / "k")
    # a second, non-integer column puts a NULL into the per-file
    # partial's long columns, as any real table does
    rows = [(k, str(i)) for i, k in enumerate(_BIG)]
    write_orc(spark.createDataFrame(rows, "k bigint, s string").coalesce(1), dest)
    (path,) = file_job.orc_files(dest)
    return path


def _planned_vs_scan(spark, path):
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources import stream_decode as sd

    got = [r["k"] for r in sd.read_planned(spark, path, None, ["k"]).collect()]
    want = [v for res in sd.scan_file(path, None, ["k"]) for v in res["columns"]["k"]]
    return got, want


def _stats_vs_py4j(spark, path):
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_stats import (
        footer_column_stats,
        footer_column_stats_py4j,
    )

    def min_max(df):
        return [(r["min_val"], r["max_val"]) for r in df.collect() if r["column_name"] == "k"]

    return min_max(footer_column_stats(spark, path)), min_max(
        footer_column_stats_py4j(spark, path)
    )


@pytest.mark.parametrize(
    "compare", [_planned_vs_scan, _stats_vs_py4j], ids=["read_planned", "footer_stats"]
)
def test_nullable_bigint_above_2_53_is_exact(spark, big_file, compare):
    """A nullable int64 column through pandas becomes float64 and
    rounds 2^53+1 to 2^53; the Arrow exchange keeps every long."""
    got, want = compare(spark, big_file)
    assert sorted(got, key=str) == sorted(want, key=str)
    flat = {v for row in got for v in (row if isinstance(row, tuple) else (row,))}
    assert flat & {2**53 + 1, str(2**53 + 1)}, got


# ---------------------------------------------------------------------------
# listing rule
# ---------------------------------------------------------------------------


def test_orc_files_listing_rule(tmp_path):
    for name in (
        "part-00000-a.snappy.orc", "part-torn.orc", "part-corrupt.orc",
        "growing.orc", "growing.orc.flush_length", ".part-00000-a.snappy.orc.crc",
        "_SUCCESS", "_hidden.orc", ".hidden.orc", "notes.txt",
    ):  # fmt: skip
        (tmp_path / name).write_bytes(b"x")
    (tmp_path / "sub.orc").mkdir()
    (tmp_path / "sub.orc" / "nested.orc").write_bytes(b"x")
    got = [os.path.basename(f) for f in file_job.orc_files(str(tmp_path))]
    assert got == ["growing.orc", "part-00000-a.snappy.orc", "part-corrupt.orc", "part-torn.orc"]
    one = str(tmp_path / "notes.txt")
    assert file_job.orc_files(one) == [one]  # a file path stands for itself


@pytest.mark.parametrize("kind", ["empty", "missing"])
def test_orc_files_empty_path_is_loud(tmp_path, kind):
    path = str(tmp_path if kind == "empty" else tmp_path / "absent")
    with pytest.raises(FileNotFoundError, match=f"no .orc files under {path}"):
        file_job.orc_files(path)


def test_map_files_one_task_per_file_up_to_cap(spark, tmp_path):
    import pyarrow as pa

    files = [str(tmp_path / f"f{i}.orc") for i in range(3)]
    schema = pa.schema([("name", pa.string()), ("n", pa.int64())])

    def per_file(path):
        yield {"name": [os.path.basename(path)], "n": [2**62 + 1]}

    df = file_job.map_files(spark, files, per_file, schema)
    assert df.rdd.getNumPartitions() == 3
    assert sorted(tuple(r) for r in df.collect()) == [
        (f"f{i}.orc", 2**62 + 1) for i in range(3)
    ]


# ---------------------------------------------------------------------------
# package zip key
# ---------------------------------------------------------------------------


def _small_package(root, body: str, mtime_ns: int) -> str:
    pkg = os.path.join(root, "pkg")
    os.makedirs(pkg)
    for name, text in (("__init__.py", ""), ("m.py", body)):
        path = os.path.join(pkg, name)
        with open(path, "w") as fh:
            fh.write(text)
        os.utime(path, ns=(mtime_ns, mtime_ns))
    return pkg


def test_package_zip_is_keyed_per_checkout_and_edit(tmp_path, monkeypatch):
    """Two checkouts whose newest file falls in the same second, and an
    edit within that second, each get their own zip."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # zips land here
    second = 1_700_000_000 * 10**9
    a = _small_package(str(tmp_path / "a"), "X = 1\n", second)
    b = _small_package(str(tmp_path / "b"), "X = 1\n", second)
    za, zb = file_job.package_zip(a), file_job.package_zip(b)
    assert za != zb
    assert file_job.package_zip(a) == za  # unchanged tree: same zip

    m = os.path.join(a, "m.py")
    with open(m, "w") as fh:
        fh.write("X = 22\n")
    os.utime(m, ns=(second + 500_000_000,) * 2)  # same whole second
    za2 = file_job.package_zip(a)
    assert za2 not in (za, zb)
    with zipfile.ZipFile(za2) as zf:
        assert zf.read("pkg/m.py") == b"X = 22\n"
    assert not os.path.exists(za) and os.path.exists(zb)  # superseded


def test_package_zip_keeps_one_zip_per_checkout(tmp_path, monkeypatch):
    """Two edits leave one zip of the edited checkout; a second
    checkout's zip, and a zip of no known checkout, survive."""
    import tempfile

    zips = tmp_path / "tmp"
    zips.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(zips))
    stray = zips / "pkg-0123456789ab.zip"  # the older one-hash naming
    stray.write_bytes(b"")
    second = 1_700_000_000 * 10**9
    a = _small_package(str(tmp_path / "a"), "X = 1\n", second)
    b = _small_package(str(tmp_path / "b"), "X = 1\n", second)
    zb = file_job.package_zip(b)
    m = os.path.join(a, "m.py")
    for i in range(3):
        with open(m, "w") as fh:
            fh.write(f"X = {i}\n")
        os.utime(m, ns=(second + i,) * 2)
        za = file_job.package_zip(a)
    assert sorted(os.listdir(zips)) == sorted(
        os.path.basename(p) for p in (za, zb, str(stray))
    )
    with zipfile.ZipFile(za) as zf:
        assert zf.read("pkg/m.py") == b"X = 2\n"


# ---------------------------------------------------------------------------
# guard: the per-file job, listing and shipping live in file_job.py
# ---------------------------------------------------------------------------

_JOB_CALLS = {"mapInPandas", "mapInArrow", "addPyFile", "glob"}


def _offences(path: str) -> list[tuple[int, str]]:
    """(line, what) for each per-file-job call, glob use or flat
    `footer_tail` import in one module."""
    with open(path, "rb") as fh:
        tree = ast.parse(fh.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in _JOB_CALLS:
            out.append((node.lineno, node.attr))
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] in ("glob", "footer_tail"):
                    out.append((node.lineno, f"import {alias.name}"))
        elif isinstance(node, ast.ImportFrom) and not node.level:
            if (node.module or "").split(".")[0] in ("glob", "footer_tail"):
                out.append((node.lineno, f"from {node.module} import"))
    return sorted(out)


def _pyarrow_orc_imports(path: str) -> list[int]:
    """Lines of one module that import `pyarrow.orc`, in any spelling."""
    with open(path, "rb") as fh:
        tree = ast.parse(fh.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and not node.level:
            names = [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        if any(n == "pyarrow.orc" or n.startswith("pyarrow.orc.") for n in names):
            out.append(node.lineno)
    return out


def test_package_reads_orc_without_pyarrow_orc():
    """The engine reads ORC through Spark's reader, `footer_tail` and
    `stream_decode` only; `pyarrow.orc` is an oracle for tests."""
    package = os.path.dirname(_SOURCES)
    offenders = {
        os.path.relpath(os.path.join(root, f), package): lines
        for root, _dirs, files in os.walk(package)
        for f in sorted(files)
        if f.endswith(".py") and (lines := _pyarrow_orc_imports(os.path.join(root, f)))
    }
    assert offenders == {}, f"pyarrow.orc imported in the package: {offenders}"


def _tail_locators(path: str) -> list[tuple[int, str]]:
    """(line, source) of each call in `path` that finds a file's end on
    its own: `getsize`, or a `seek` from the end (whence 2)."""
    with open(path) as fh:
        src = fh.read()
    found = []
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
        whence = node.args[1] if len(node.args) > 1 else None
        from_end = isinstance(whence, ast.Constant) and whence.value == 2 or (
            isinstance(whence, ast.Attribute) and whence.attr == "SEEK_END"
        )
        if name == "getsize" or name == "seek" and from_end:
            found.append((node.lineno, ast.get_source_segment(src, node)))
    return found


def test_only_footer_tail_locates_a_tail():
    """Every reader of an ORC file's metadata or data goes through the
    tail `footer_tail` parses (and the byte bound it carries): no other
    module in `sources/` finds the end of a file itself."""
    offenders = {
        name: found
        for name in sorted(os.listdir(_SOURCES))
        if name.endswith(".py") and name != "footer_tail.py"
        and (found := _tail_locators(os.path.join(_SOURCES, name)))
    }
    assert offenders == {}, f"tail located outside footer_tail: {offenders}"
    assert _tail_locators(os.path.join(_SOURCES, "footer_tail.py"))


def _callers(name: str) -> dict[str, set[str | None]]:
    """Per package file that calls `name` (by bare name or as an
    attribute): the functions whose bodies hold those calls."""
    package = os.path.dirname(_SOURCES)
    out: dict[str, set[str | None]] = {}
    for root, _dirs, files in os.walk(package):
        for f in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            owner: dict[ast.AST, str] = {}
            for fn in ast.walk(tree):
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    for node in ast.walk(fn):
                        owner[node] = fn.name  # inner defs are walked later
            for node in ast.walk(tree):
                fn = getattr(node, "func", None) if isinstance(node, ast.Call) else None
                if fn is not None and getattr(fn, "attr", getattr(fn, "id", "")) == name:
                    out.setdefault(os.path.relpath(path, package), set()).add(owner.get(node))
    return out


def test_one_verdict_kernel_and_one_slot_helper():
    """Every pruning level (file, stripe, row group) evaluates a SArg
    through `truth.verdicts`, and every position slot comes from
    `footer_tail.position_slots`: `evaluate_tree` is called only by the
    kernel and its own recursion, `get_index_position` only by the slot
    helper."""
    assert _callers("evaluate_tree") == {
        os.path.join("functions", "truth.py"): {"verdicts", "evaluate_tree"}
    }
    assert _callers("get_index_position") == {
        os.path.join("sources", "footer_tail.py"): {"position_slots"}
    }


def test_per_file_job_lives_in_one_module():
    offenders = {}
    for name in sorted(os.listdir(_SOURCES)):
        path = os.path.join(_SOURCES, name)
        if name.endswith(".py") and path != _HOME and (found := _offences(path)):
            offenders[name] = found
    assert offenders == {}, (
        f"per-file job code outside sources/file_job.py: {offenders} — "
        "list with file_job.orc_files and run through file_job.map_files"
    )
    with open(_HOME) as fh:
        src = fh.read()
    assert "\ndef map_files(" in src and "\ndef orc_files(" in src
    # the ORC queries list their lakes through file_job.orc_files too
    queries = os.path.join(os.path.dirname(_SOURCES), "operators", "orc_queries.py")
    globs = [o for o in _offences(queries) if "glob" in o[1]]
    assert globs == [], f"inline glob listing in operators/orc_queries.py: {globs}"


@pytest.mark.parametrize("kind", ["empty", "missing"])
def test_read_orc_permissive_reraises_spark_error(spark, tmp_path, kind):
    """Nothing for the shim either: Spark's own error surfaces, not the
    listing's."""
    from pyspark.errors import AnalysisException

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.union_reader import (
        read_orc_permissive,
    )

    path = str(tmp_path if kind == "empty" else tmp_path / "absent")
    with pytest.raises(AnalysisException):
        read_orc_permissive(spark, path)
