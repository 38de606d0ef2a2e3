"""Smoke tests for the benchmark: every workload on its smallest inputs.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from eventlog import attribute, module_of_path  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)


def run_bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_reports_every_metric(workload, trace):
    proc = run_bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", trace, "--tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    spec = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert {m: result["metrics"][m]["unit"] for m in result["metrics"]} == {m["name"]: m["unit"] for m in spec}
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if trace == "0":
        assert result["metrics"]["ok_frac"]["value"] == 1.0
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in spec)
    else:
        assert result["metrics"]["spark.jobs"]["value"] > 0
        assert result["metrics"]["catalog.jobs"]["value"] > 0
    tail = [ln for ln in lines if ln.startswith("# op_tail_s")]
    assert len(tail) == 1
    assert re.match(r"# op_tail_s=p\d+\.\d \S+ s over \d+ operations$", tail[0]) or "not reported" in tail[0]


def test_without_the_engine_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench(str(tmp_path), "--workload", "mart_refresh", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_job_attribution():
    engine = "/x/proyecto_final_de_big_data_spark"
    assert module_of_path(f"{engine}/operators/binning.py") == "operators.binning"
    assert module_of_path(f"{engine}/queries/__init__.py") == "queries"
    assert module_of_path("/x/perfbench/workloads.py") is None
    assert attribute(f"collect at {engine}/operators/binning.py:73", "queries.build") == "operators.binning"
    assert attribute("parquet at NativeMethodAccessorImpl.java:0", "queries.build") == "catalog"
    assert attribute("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", "io.export.write") == (
        "io.export.write"
    )
    assert attribute("count at /x/perfbench/workloads.py:90", "io.compact") == "io.compact"
