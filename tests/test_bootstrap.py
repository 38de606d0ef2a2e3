"""Poisson-bootstrap tests pinned against a pure-Python reimplementation.

The DuckDB oracle restates the SAME algebra as the Spark plan, so these
tests rebuild the entire draw → weight → replicate-mean → CI chain with
hashlib + plain floats (no Spark, no DuckDB) and require the operator
to match — the hand-checked-fixture discipline (VERDICT r7 item 7).
"""

from __future__ import annotations

import hashlib
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.bootstrap import (
    _CAP,
    _POISSON1_CDF,
    poisson_bootstrap_mean,
)

R = 40
SALT = "boot"


def _py_u(key, r: int) -> float:
    h = hashlib.md5(f"{key}:{SALT}:{r}".encode()).hexdigest()
    return int(h[:15], 16) / float(1 << 60)


def _py_w(key, r: int) -> int:
    if r == 0:
        return 1
    u = _py_u(key, r)
    for k, t in enumerate(_POISSON1_CDF):
        if u < t:
            return k
    return _CAP


def _py_quantile(sorted_vals: list[float], q: float) -> float:
    """Linear interpolation at index q*(n-1) — Spark percentile /
    DuckDB quantile_cont semantics."""
    n = len(sorted_vals)
    pos = q * (n - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    frac = pos - lo
    return sorted_vals[lo] * (1 - frac) + sorted_vals[hi] * frac


def _py_bootstrap(rows: list[tuple[object, float]], alpha=0.05):
    means = []
    for r in range(R + 1):
        sw = swx = 0.0
        for k, x in rows:
            w = float(_py_w(k, r))
            sw += w
            swx += w * x
        means.append(swx / sw if sw > 0 else None)
    boot = [m for m in means[1:] if m is not None]
    mu = sum(boot) / len(boot)
    se = math.sqrt(sum((m - mu) ** 2 for m in boot) / (len(boot) - 1))
    s = sorted(boot)
    return {
        "mean": means[0],
        "se_boot": se,
        "ci_low": _py_quantile(s, alpha / 2),
        "ci_high": _py_quantile(s, 1 - alpha / 2),
    }


@pytest.fixture(scope="module")
def fixture_df(spark):
    rows = [(i, float(v)) for i, v in enumerate([3, 7, 1, 9, 4, 12, 5, 8])]
    return rows, spark.createDataFrame(rows, "k long, x double")


def test_matches_pure_python_chain(fixture_df):
    rows, df = fixture_df
    got = poisson_bootstrap_mean(
        df, "k", "x", n_replicates=R
    ).collect()[0]
    want = _py_bootstrap(rows)
    assert got["n_units"] == len(rows)
    assert got["n_replicates"] == R
    for field in ("mean", "se_boot", "ci_low", "ci_high"):
        assert got[field] == pytest.approx(want[field], abs=2e-6), field


def test_replicate_zero_is_exact_mean(fixture_df):
    rows, df = fixture_df
    got = poisson_bootstrap_mean(df, "k", "x", n_replicates=R).collect()[0]
    exact = sum(x for _, x in rows) / len(rows)
    assert got["mean"] == pytest.approx(exact, abs=1e-6)


def test_null_and_nan_values_excluded(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, float("nan")), (4, 7.0)],
        "k long, x double",
    )
    got = poisson_bootstrap_mean(df, "k", "x", n_replicates=R).collect()[0]
    assert got["n_units"] == 2
    assert got["mean"] == pytest.approx(6.0, abs=1e-6)


def test_single_row_null_replicates_drop_out(spark):
    """With one unit, ~37% of replicates draw total weight 0; their
    NULL means must drop out of the SE/percentiles, matching the pure
    twin."""
    rows = [("only", 42.0)]
    df = spark.createDataFrame(rows, "k string, x double")
    got = poisson_bootstrap_mean(df, "k", "x", n_replicates=R).collect()[0]
    want = _py_bootstrap(rows)
    nz = [
        m
        for r in range(1, R + 1)
        if (m := (42.0 if _py_w("only", r) > 0 else None)) is not None
    ]
    assert 0 < len(nz) < R  # the fixture genuinely exercises NULL drops
    assert got["se_boot"] == pytest.approx(want["se_boot"], abs=2e-6)
    assert got["ci_low"] == pytest.approx(42.0, abs=1e-6)
    assert got["ci_high"] == pytest.approx(42.0, abs=1e-6)


def test_groups_are_independent(spark):
    rows = [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "k long, g string, x double")
    got = {
        r["g"]: r
        for r in poisson_bootstrap_mean(
            df, "k", "x", group_cols=["g"], n_replicates=R
        ).collect()
    }
    for gname in ("a", "b"):
        sub = [(k, x) for k, gg, x in rows if gg == gname]
        want = _py_bootstrap(sub)
        assert got[gname]["mean"] == pytest.approx(want["mean"], abs=1e-6)
        assert got[gname]["ci_low"] == pytest.approx(
            want["ci_low"], abs=2e-6
        )


def test_rejects_tiny_replicate_count(spark):
    df = spark.createDataFrame([(1, 1.0)], "k long, x double")
    with pytest.raises(ValueError, match="n_replicates"):
        poisson_bootstrap_mean(df, "k", "x", n_replicates=1)


def test_ci_brackets_truth_on_large_sample(spark):
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).cast("double").alias("x"),
    )
    got = poisson_bootstrap_mean(df, "k", "x", n_replicates=60).collect()[0]
    assert got["ci_low"] < 49.5 < got["ci_high"]
    assert got["se_boot"] == pytest.approx(
        math.sqrt(833.25 / 2000), rel=0.35
    )


def test_null_key_folds_as_empty_string(spark):
    """A NULL key draws via the documented _md5_fold convention
    (fold of ''), exactly as the oracle's coalesce-to-'' restates —
    concat_ws would have silently dropped the element AND its
    separator."""
    rows = [(None, 10.0), ("a", 20.0), ("b", 30.0)]
    df = spark.createDataFrame(rows, "k string, x double")
    got = poisson_bootstrap_mean(df, "k", "x", n_replicates=R).collect()[0]
    want = _py_bootstrap([("" if k is None else k, x) for k, x in rows])
    assert got["mean"] == pytest.approx(want["mean"], abs=1e-6)
    assert got["se_boot"] == pytest.approx(want["se_boot"], abs=2e-6)
    assert got["ci_low"] == pytest.approx(want["ci_low"], abs=2e-6)


_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

metric = st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, allow_infinity=False)


@given(vals=st.lists(metric, min_size=2, max_size=50))
@settings(**_SETTINGS)
def test_bootstrap_replicate_zero_exact_and_ci_ordered(spark, vals):
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "k long, x double"
    )
    row = poisson_bootstrap_mean(df, "k", "x", n_replicates=25).collect()[0]
    exact = sum(vals) / len(vals)
    assert row["mean"] == pytest.approx(exact, abs=1e-5)
    assert row["ci_low"] <= row["ci_high"]
    assert row["se_boot"] is None or row["se_boot"] >= 0.0
