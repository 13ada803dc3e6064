"""One staged-artifact protocol: every derived scratch artifact (ORC
copies, lakes, ACID dirs, text dumps, stream topics and sinks) is built
through `tables.staged`, which alone decides whether the artifact is
current (its `<path>._done` marker holds the source fingerprint plus
the build spec AND the path exists). This scan fails on any use of the
old hand-rolled marker helpers — `marker_valid`, `write_marker`,
`source_fingerprint`, public or underscore-prefixed — outside
`tables.py`, over the same files test_source_compiles parses."""

from __future__ import annotations

import ast
import os

from tests.test_source_compiles import REPO, _py_files

_HOME = os.path.join(REPO, "orc_release_hdp_2_6_5_99_1_tag_spark", "tables.py")
_MARKER_HELPERS = {"marker_valid", "write_marker", "source_fingerprint"}


def _helper_uses(path: str) -> list[int]:
    """Line numbers naming a marker helper: a call, attribute, import
    or definition."""
    with open(path, "rb") as fh:
        tree = ast.parse(fh.read(), path)
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.name.rsplit(".", 1)[-1]
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            name = node.name
        else:
            continue
        if name.lstrip("_") in _MARKER_HELPERS:
            lines.append(node.lineno)
    return sorted(lines)


def test_marker_helpers_stay_in_tables():
    offenders = {
        os.path.relpath(path, REPO): lines
        for path in _py_files()
        if path != _HOME and (lines := _helper_uses(path))
    }
    assert offenders == {}, (
        f"hand-rolled marker block at {offenders} — build the artifact "
        "through tables.staged"
    )
    # the protocol itself lives where the scan allows it
    with open(_HOME) as fh:
        assert "\ndef staged(" in fh.read()
