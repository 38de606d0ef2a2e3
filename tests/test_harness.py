"""The measurement harness (bench.py) and the oracle verdict
(oracle.check) that every script under tools/ shares: verdict statuses,
warm-run counting, the start-load gate, and import without side
effects."""

from __future__ import annotations

import importlib.util
import json
import os
import time
from pathlib import Path

import pytest
from pyspark.sql import SparkSession
from test_catalog import _jobs_launched

from proyecto_final_de_big_data_spark.oracle import check
from proyecto_final_de_big_data_spark.queries import QUERIES, Query

ROOT = Path(__file__).resolve().parents[1]
PRICING = QUERIES["pricing_summary"]


@pytest.fixture
def bench(monkeypatch):
    monkeypatch.syspath_prepend(str(ROOT))
    import bench as mod

    return mod


def _query(spark_fn=PRICING.spark_fn, oracle=PRICING.oracle) -> Query:
    return Query(name="harness_probe", spark_fn=spark_fn, oracle=oracle, description="")


def test_check_ok_for_hash_green_query(spark, sf_dir):
    r = check(spark, PRICING, sf_dir)
    assert r["status"] == "ok", r
    assert set(r) == {"status", "sec"}


def test_check_fail_carries_detail(spark, sf_dir):
    r = check(spark, _query(oracle=f"SELECT * FROM ({PRICING.oracle}) LIMIT 1"), sf_dir)
    assert r["status"] == "fail"
    assert "row count mismatch" in r["detail"]


def test_check_rows_only_counts_rows(spark, sf_dir):
    r = check(spark, _query(oracle=None), sf_dir)
    assert r["status"] == "rows_only"
    assert r["rows"] == PRICING.spark_fn(spark, sf_dir).count()


def test_check_error_when_build_raises(spark, sf_dir):
    def broken(spark, sf_dir):
        raise ValueError("no such input")

    r = check(spark, _query(spark_fn=broken), sf_dir)
    assert r["status"] == "error"
    assert r["detail"] == "ValueError: no such input"
    assert r["sec"] >= 0


def test_warm_runs_times_runs_plus_one_calls(bench):
    calls = []
    times = bench.warm_runs(lambda: calls.append(1), 3)
    assert len(calls) == 4
    assert len(times) == 4 and all(t >= 0 for t in times)


@pytest.fixture
def gate_env(monkeypatch):
    for var in ("SPARK_GRAFT_MAX_START_LOAD", "SPARK_GRAFT_LOAD_WAIT_SEC", "SPARK_GRAFT_IGNORE_LOAD"):
        monkeypatch.delenv(var, raising=False)
    sleeps = []
    monkeypatch.setattr(time, "sleep", sleeps.append)
    return sleeps


def test_load_gate_passes_on_idle_host(bench, gate_env, monkeypatch):
    monkeypatch.setattr(os, "getloadavg", lambda: (0.01, 0.0, 0.0))
    assert bench.start_load_gate() == {"start_load": 0.01, "max_start_load": 0.8, "ignored": False}
    assert gate_env == []


def test_load_gate_gives_up_after_budget(bench, gate_env, monkeypatch, capsys):
    monkeypatch.setattr(os, "getloadavg", lambda: (5.0, 5.0, 5.0))
    with pytest.raises(SystemExit) as exc:
        bench.start_load_gate()
    assert exc.value.code == 1
    assert sum(gate_env) == 1800
    line = json.loads(capsys.readouterr().out)
    assert line["error"] == "start_load_gate"
    assert line["value"] is None
    assert (line["load"], line["max_start_load"]) == (5.0, 0.8)


def test_load_gate_ignored_on_request(bench, gate_env, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_IGNORE_LOAD", "1")
    monkeypatch.setattr(os, "getloadavg", lambda: (5.0, 5.0, 5.0))
    assert bench.start_load_gate()["ignored"] is True
    assert gate_env == []


def test_harness_scripts_import_without_starting_a_job(spark, bench, monkeypatch):
    def no_session(self):
        raise AssertionError("a harness script built a SparkSession on import")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    scripts = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]

    def import_all():
        for path in scripts:
            spec = importlib.util.spec_from_file_location(f"_harness_import_{path.stem}", path)
            spec.loader.exec_module(importlib.util.module_from_spec(spec))

    _, jobs = _jobs_launched(spark, import_all)
    assert jobs == 0
