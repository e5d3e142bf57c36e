"""Smoke test of the benchmark: every workload at its smallest size, one
traced run, and the refusal to run without the package.

    python3 -m pytest perfbench/tests -q     # about three minutes on 4 cores

Each run is a fresh ``perfbench/run.py`` process, as the benchmark is
always run; the printed metric names must be exactly those in
``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# text_syndication is runnable for traced attribution but not gated
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["text_syndication"]


def _run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_end_to_end_metric(workload):
    result = _result(_run(workload, 0))
    _assert_metrics(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_per_layer_metrics_and_writes_spans():
    proc = _run("audio_batch", 1)
    _assert_metrics(_result(proc), SPEC["per_layer"])
    record = json.loads(proc.stdout.strip().splitlines()[-2].split(" ", 1)[1])
    trace = json.loads((ROOT / record["trace_file"]).read_text())
    names = {s["name"] for s in trace["spans"]}
    assert {"plans.pipeline", "functions.audio", "operators.verify.jaccard"} <= names
    assert all(s["end"] >= s["start"] for s in trace["spans"])
    layers = {row["layer"]: row for row in trace["self_time_by_layer"]}
    assert layers["functions.audio"]["self_s"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("audio_batch", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
