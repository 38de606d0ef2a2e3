from __future__ import annotations

import itertools
import time

import pytest
from pyspark.sql import SparkSession

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Deliberately a VANILLA session (not the repo's session factory):
    # the external verification harness builds its own plain
    # SparkSession, so every operator/query must be self-sufficient —
    # any conf it needs has to be set at runtime by the code under test
    # (see catalog.load_table for the nanosAsLong example).
    s = (
        SparkSession.builder.master("local[4]")
        .appName("engine-tests-vanilla")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


_groups = itertools.count()


def _jobs_launched(spark, fn):
    """(fn's result, number of Spark jobs fn launched). Job listings are
    filled in by an asynchronous listener; a sentinel job run after fn in
    its own group shows up only once every earlier job has."""
    sc = spark.sparkContext
    group = f"jobs_launched:{next(_groups)}"
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(group + ":sentinel", group)
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(group + ":sentinel"):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def jobs_launched(spark):
    """``jobs_launched(fn)`` -> (fn's result, Spark jobs fn launched),
    counted in a job group read with ``statusTracker``."""
    return lambda fn: _jobs_launched(spark, fn)
