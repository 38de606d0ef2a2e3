"""experiment_power tests pinned against hand/pure-Python computation
(independent of the DuckDB oracle restatement)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors.exceptions.captured import SparkRuntimeException

from proyecto_final_de_big_data_spark.operators.abtest import experiment_power

Z_A = 1.959963984540054
Z_B = 0.8416212335729143


def test_mde_and_sample_size_hand_example(spark):
    # y = 1..6: n=6, mean=3.5, sample var=3.5. zsum=2.8015852...
    # mde_abs = zsum * sd * sqrt(4/6); for target_rel_mde=0.10
    # delta=0.35 and n_per_arm = ceil(2*3.5*zsum^2/0.1225) = 449.
    df = spark.createDataFrame([(float(i),) for i in range(1, 7)], "y double")
    row = experiment_power(df, "y", target_rel_mde=0.10).collect()[0]
    zsum = Z_A + Z_B
    sd = math.sqrt(3.5)
    assert row["n_units"] == 6
    assert row["mean"] == pytest.approx(3.5, abs=1e-6)
    assert row["sd"] == pytest.approx(sd, abs=1e-6)
    assert row["cv"] == pytest.approx(sd / 3.5, abs=1e-6)
    assert row["mde_abs"] == pytest.approx(
        zsum * sd * math.sqrt(4.0 / 6.0), abs=1e-6
    )
    assert row["mde_rel"] == pytest.approx(
        zsum * sd * math.sqrt(4.0 / 6.0) / 3.5, abs=1e-6
    )
    assert row["n_per_arm_target"] == 449
    assert row["rho2"] is None
    assert row["mde_abs_cuped"] is None


def test_cuped_covariate_shrinks_requirements(spark):
    rows = [
        (1.0, 2.0), (2.0, 3.0), (3.0, 5.0), (4.0, 4.0), (5.0, 8.0),
        (6.0, 9.0),
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    row = experiment_power(
        df, "y", covariate_col="x", target_rel_mde=0.05
    ).collect()[0]
    n = len(rows)
    sx = sum(x for x, _ in rows)
    sy = sum(y for _, y in rows)
    sxx = sum(x * x for x, _ in rows)
    syy = sum(y * y for _, y in rows)
    sxy = sum(x * y for x, y in rows)
    ssx = sxx - sx * sx / n
    ssy = syy - sy * sy / n
    cxy = sxy - sx * sy / n
    rho2 = cxy * cxy / (ssx * ssy)
    var = ssy / (n - 1)
    zsum = Z_A + Z_B
    assert row["rho2"] == pytest.approx(rho2, abs=1e-6)
    assert row["var_reduction_pct"] == pytest.approx(100 * rho2, abs=1e-4)
    assert row["mde_abs_cuped"] == pytest.approx(
        zsum * math.sqrt(var * (1 - rho2)) * math.sqrt(4.0 / n), abs=1e-6
    )
    delta = 0.05 * (sy / n)
    assert row["n_per_arm_target_cuped"] == math.ceil(
        2 * var * (1 - rho2) * zsum * zsum / (delta * delta)
    )
    assert row["mde_abs_cuped"] < row["mde_abs"]
    assert row["n_per_arm_target_cuped"] < row["n_per_arm_target"]


def test_null_nan_units_excluded(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (float("nan"),), (3.0,)], "y double"
    )
    row = experiment_power(df, "y").collect()[0]
    assert row["n_units"] == 2
    assert row["mean"] == pytest.approx(2.0, abs=1e-6)


def test_constant_metric_raises(spark):
    df = spark.createDataFrame([(5.0,)] * 4, "y double")
    # validation is in-plan (raise_error) since r11: fires at action
    with pytest.raises(Exception, match="zero variance"):
        experiment_power(df, "y").collect()


def test_too_few_units_raises(spark):
    df = spark.createDataFrame([(5.0,)], "y double")
    with pytest.raises(Exception, match=">= 2 usable units"):
        experiment_power(df, "y").collect()


def test_invalid_target_rejected(spark):
    df = spark.createDataFrame([(1.0,), (2.0,)], "y double")
    with pytest.raises(ValueError, match="target_rel_mde"):
        experiment_power(df, "y", target_rel_mde=0.0)


def test_constant_covariate_raises(spark):
    df = spark.createDataFrame(
        [(1.0, float(i)) for i in range(5)], "x double, y double"
    )
    with pytest.raises(Exception, match="constant"):
        experiment_power(df, "y", covariate_col="x").collect()


_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

metric = st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, allow_infinity=False)


@given(
    rows=st.lists(st.tuples(metric, metric), min_size=4, max_size=40),
    t1=st.floats(min_value=0.01, max_value=0.2, allow_nan=False),
)
@settings(**_SETTINGS)
def test_power_monotone_in_target_and_cuped_dominates(spark, rows, t1):
    df = spark.createDataFrame(
        [(x, y) for x, y in rows], "x double, y double"
    )
    try:
        a = experiment_power(df, "y", covariate_col="x", target_rel_mde=t1).collect()[0]
        b = experiment_power(
            df, "y", covariate_col="x", target_rel_mde=t1 * 2
        ).collect()[0]
    except (ValueError, SparkRuntimeException):
        # constant metric/covariate or tiny frame — skip (validation is
        # in-plan raise_error since r11, so it surfaces at collect time)
        return
    # halving the target effect must never SHRINK the required n
    if a["n_per_arm_target"] is not None and b["n_per_arm_target"] is not None:
        assert a["n_per_arm_target"] >= b["n_per_arm_target"]
    # variance reduction can only help (up to output rounding)
    if a["mde_abs_cuped"] is not None:
        assert a["mde_abs_cuped"] <= a["mde_abs"] + 1e-6
        assert a["rho2"] <= 1.0 + 1e-9
