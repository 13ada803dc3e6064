"""Self-test of the benchmark at sf0.001.

    python3 -m pytest perfbench/test_perfbench.py -q

For every workload: the untraced run prints every end-to-end metric of
BENCHMARK.json with its unit and no op fails; the traced run prints
every per-layer metric, and the spans of each op cover the op's wall
time to within 10%.  That wall time is measured by the runner around
the whole op (cache clearing, the op, its output check and trace
bookkeeping), independently of the spans; the benchmark's own work is
spanned as `bench.*`, so an uncovered gap is untraced code.
"""

from __future__ import annotations

import json
import os
import subprocess

import pytest

from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int, out: str) -> dict:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "3", "--seconds", "1",
                             "--trace", str(trace), "--sf", "0.001", "--out", out]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics(workload, tmp_path):
    res = _run(workload, 0, str(tmp_path))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert got["value"] > 0, m["name"]
    assert res["metrics"]["ok_ops_ratio"]["value"] == 1.0  # failed_ops_ratio == 0


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_layers_cover_each_op(workload, tmp_path):
    res = _run(workload, 1, str(tmp_path))
    assert res["correct"] and res["failed"] == 0
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    with open(tmp_path / f"{workload}-seed3-trace1-spans.json") as fh:
        spans = json.load(fh)
    with open(tmp_path / f"{workload}-seed3-trace1.json") as fh:
        ops = json.load(fh)["traced_ops"]
    assert ops
    for op_id, op, _, _, wall in ops:
        covered = sum(s["end"] - s["start"] for s in spans
                      if s["op"] == op_id and s["parent"] is None)
        assert abs(covered - wall) <= 0.1 * wall, (op_id, op, covered, wall)
