"""Smoke tests for the benchmark itself, on the sf0.001 tables with tiny sizes.

    python3 -m pytest perfbench/tests -q

Each case starts one Spark JVM (about 30 s); they run one at a time."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return proc.returncode, result, proc.stderr


def smoke(workload: str, trace: int = 0, *extra: str):
    return run("--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", str(trace), "--smoke", *extra)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_named_with_units(workload):
    code, res, err = smoke(workload)
    assert code == 0, err[-3000:]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_corrupted_result_is_counted_as_failure(workload):
    code, res, err = smoke(workload, 0, "--corrupt")
    assert code == 0, err[-3000:]
    assert res["correct"] is False
    assert 1 <= res["failed"] <= res["attempted"]


@pytest.mark.parametrize("workload,layer", [("engine", "search.jobs"),
                                            ("catalog", "catalog.search_flagship.exec_ms")])
def test_traced_run_prints_every_per_layer_metric(workload, layer):
    code, res, err = smoke(workload, 1)
    assert code == 0, err[-3000:]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"][layer]["value"] > 0
    assert res["metrics"]["ops.py4j_calls"]["value"] > 0


def test_per_row_names_and_missing_layers_are_errors(monkeypatch):
    """The traced rows are listed once (workloads.json); BENCHMARK.json must
    name exactly their metrics, and a per-layer metric a workload neither
    produces nor declares bypassed fails the run instead of reading 0."""
    monkeypatch.syspath_prepend(BENCH)
    import run as bench_run

    with open(os.path.join(BENCH, "workloads.json")) as f:
        cfg = json.load(f)
    per_layer = [(m["name"], m["unit"]) for m in SPEC["per_layer"]]
    assert bench_run.check_layer_names(per_layer, cfg) is None
    cfg["catalog"]["traced_rows"] = cfg["catalog"]["traced_rows"][1:]
    assert "only in BENCHMARK.json" in bench_run.check_layer_names(per_layer, cfg)
    layers = [("a.x", "ms"), ("b.y", "ms")]
    assert bench_run.layer_values(layers, {"a.x": 1.0}, ["b."]) == {
        "a.x": (1.0, "ms"), "b.y": (0.0, "ms")}
    with pytest.raises(RuntimeError):
        bench_run.layer_values(layers, {"a.x": 1.0}, [])


def test_fails_without_the_program(tmp_path):
    """With only BENCHMARK.json and the benchmark's files, the run must fail
    and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _ = run("--workload", "engine", "--seed", "1", "--seconds", "1",
                       "--trace", "0", cwd=str(tmp_path))
    assert code != 0 and res is None
