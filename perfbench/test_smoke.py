"""Smoke test of the benchmark at the tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Each gated workload runs once untraced and once traced; every metric
BENCHMARK.json declares must be emitted with its unit and every output
check must pass. The ungated corpus_stream workload runs traced and
must report its streaming layers. A copy holding only BENCHMARK.json
and this directory must exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
GATED = [w["name"] for w in SPEC["workloads"]]


def run(workload, trace, cwd=ROOT, root=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p, lines


@pytest.mark.parametrize("workload", GATED)
@pytest.mark.parametrize("trace", [0, 1])
def test_gated_workload_emits_every_metric(workload, trace):
    p, lines = run(workload, trace)
    assert p.returncode == 0, p.stderr[-2000:]
    detail = json.loads(lines[-2])["detail"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, detail["failures"]
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_stream_workload_reports_streaming_layers():
    p, lines = run("corpus_stream", 1)
    assert p.returncode == 0, p.stderr[-2000:]
    detail = json.loads(lines[-2])["detail"]
    result = json.loads(lines[-1])
    assert result["correct"] is True and result["failed"] == 0, detail["failures"]
    extra = detail["per_layer_undeclared"]
    for stage in ("admit", "decontaminate", "index", "state"):
        for m in ("wall_s", "trigger_s", "overhead_s", "input_rows"):
            assert f"streaming.{stage}.{m}" in extra
    assert extra["streaming.admit.reject_ratio"] > 0
    assert extra["streaming.decontaminate.quarantine_ratio"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p, lines = run(GATED[0], 0, cwd=tmp_path, root=str(tmp_path))
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in lines)
