"""Loud stream waits: `StreamingQuery.awaitTermination(t)` returns
False (it does not raise) when the query is still running, so a bare
call reads — or publishes — whatever a partial sink holds. Every wait
goes through `streaming.ingest._await`, which stops the query and
raises on timeout. This scan fails on any `awaitTermination(` call
outside `_await`, over the same files test_source_compiles parses."""

from __future__ import annotations

import ast
import os

from tests.test_source_compiles import REPO, _py_files

_AWAIT_HOME = os.path.join(
    REPO, "orc_release_hdp_2_6_5_99_1_tag_spark", "streaming", "ingest.py"
)


def _bare_waits(path: str) -> list[int]:
    """Line numbers of `.awaitTermination(...)` calls outside `_await`."""
    with open(path, "rb") as fh:
        tree = ast.parse(fh.read(), path)
    allowed: set[int] = set()
    if path == _AWAIT_HOME:
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "_await":
                allowed.update(id(n) for n in ast.walk(node))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "awaitTermination"
        and id(node) not in allowed
    ]


def test_no_bare_await_termination():
    offenders = {
        os.path.relpath(path, REPO): lines
        for path in _py_files()
        if (lines := _bare_waits(path))
    }
    assert offenders == {}, (
        f"bare awaitTermination( at {offenders} — route each wait "
        "through streaming.ingest._await"
    )
    # the helper itself still waits (the allowance is not vacuous)
    with open(_AWAIT_HOME) as fh:
        assert "q.awaitTermination(timeout)" in fh.read()
