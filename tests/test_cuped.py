"""CUPED variance-reduced A/B readout (operators/abtest.py:
cuped_mean_ztest).

The headline fixture is HAND-COMPUTED (not an oracle restatement):
units (x=pre, y=post)

  control:   (1,2) (2,3) (3,5) (4,6)
  treatment: (1,3) (2,5) (3,6) (4,8)

mean(X)=2.5, cov_pop(X,Y)=13.75-2.5*4.75=1.875, var_pop(X)=1.25 so
theta=1.5.  Y' = Y - 1.5*(X-2.5) gives control [4.25,3.75,4.25,3.75]
(mean 4.0, sample var 0.25/3) and treatment [5.25,5.75,5.25,5.75]
(mean 5.5, same var):

  lift_cuped = 1.5, se_cuped = sqrt(2*(0.25/3)/4) = 0.204124,
  z = 7.348469.  Raw sample vars are 10/3 (control) and 13/3
  (treatment): se_raw = sqrt(10/12 + 13/12) = 1.384437, pooled raw var
  23/6 -> var_reduction_pct = 100*(1 - (1/12)/(23/6)) = 97.826087.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors.exceptions.captured import SparkRuntimeException

from proyecto_final_de_big_data_spark.operators.abtest import cuped_mean_ztest


def _units(spark, rows):
    return spark.createDataFrame(rows, "variant string, x double, y double")


HAND_ROWS = [
    ("control", 1.0, 2.0),
    ("control", 2.0, 3.0),
    ("control", 3.0, 5.0),
    ("control", 4.0, 6.0),
    ("treatment", 1.0, 3.0),
    ("treatment", 2.0, 5.0),
    ("treatment", 3.0, 6.0),
    ("treatment", 4.0, 8.0),
]


def test_cuped_hand_computed_textbook_values(spark):
    out = cuped_mean_ztest(
        _units(spark, HAND_ROWS), "variant", "y", "x", "control", "treatment"
    ).collect()[0]
    assert out["n_control"] == 4 and out["n_treatment"] == 4
    assert out["theta"] == pytest.approx(1.5, abs=1e-9)
    assert out["mean_control"] == pytest.approx(4.0, abs=1e-9)
    assert out["mean_treatment"] == pytest.approx(5.5, abs=1e-9)
    assert out["lift_raw"] == pytest.approx(1.5, abs=1e-9)
    assert out["lift_cuped"] == pytest.approx(1.5, abs=1e-9)
    assert out["se_cuped"] == pytest.approx(0.204124, abs=1e-6)
    assert out["z_cuped"] == pytest.approx(7.348469, abs=1e-6)
    assert out["se_raw"] == pytest.approx(1.384437, abs=1e-6)
    assert out["var_reduction_pct"] == pytest.approx(97.826087, abs=1e-6)
    assert out["significant"] == 1
    # CI brackets the lift symmetrically at 1.96 * se.
    assert out["ci_low"] == pytest.approx(1.5 - 1.959963984540054 * 0.2041241, abs=1e-5)
    assert out["ci_high"] == pytest.approx(1.5 + 1.959963984540054 * 0.2041241, abs=1e-5)


def test_cuped_matches_literal_rowwise_adjustment(spark):
    # Independent implementation: apply Y' = Y - theta*(X - mean(X))
    # LITERALLY per row in Python and recompute the arm statistics —
    # this checks the sufficient-sums expansion against the defining
    # formula, not against a restatement of the same expansion.
    rows = [
        ("control", 10.0, 55.0),
        ("control", 12.0, 61.0),
        ("control", 7.0, 40.0),
        ("control", 15.0, 70.0),
        ("control", 9.0, 47.0),
        ("treatment", 11.0, 62.0),
        ("treatment", 8.0, 49.0),
        ("treatment", 14.0, 72.0),
        ("treatment", 10.0, 58.0),
        ("treatment", 13.0, 66.0),
    ]
    xs = [r[1] for r in rows]
    ys = [r[2] for r in rows]
    n = len(rows)
    mx = sum(xs) / n
    my = sum(ys) / n
    cov = sum(x * y for x, y in zip(xs, ys)) / n - mx * my
    varx = sum(x * x for x in xs) / n - mx * mx
    theta = cov / varx
    adj = {
        "control": [y - theta * (x - mx) for v, x, y in rows if v == "control"],
        "treatment": [y - theta * (x - mx) for v, x, y in rows if v == "treatment"],
    }

    def _svar(vals):
        m = sum(vals) / len(vals)
        return sum((v - m) ** 2 for v in vals) / (len(vals) - 1)

    lift = sum(adj["treatment"]) / 5 - sum(adj["control"]) / 5
    se = math.sqrt(_svar(adj["treatment"]) / 5 + _svar(adj["control"]) / 5)

    out = cuped_mean_ztest(
        _units(spark, rows), "variant", "y", "x", "control", "treatment"
    ).collect()[0]
    assert out["theta"] == pytest.approx(theta, abs=1e-6)
    assert out["lift_cuped"] == pytest.approx(lift, abs=1e-6)
    assert out["se_cuped"] == pytest.approx(se, abs=1e-6)


def test_cuped_null_and_nan_units_excluded(spark):
    rows = HAND_ROWS + [
        ("control", None, 99.0),
        ("treatment", 2.0, float("nan")),
    ]
    out = cuped_mean_ztest(
        _units(spark, rows), "variant", "y", "x", "control", "treatment"
    ).collect()[0]
    assert out["n_control"] == 4 and out["n_treatment"] == 4
    assert out["theta"] == pytest.approx(1.5, abs=1e-9)


def test_cuped_constant_covariate_raises(spark):
    rows = [(v, 3.0, y) for v, _, y in HAND_ROWS]
    # validation is in-plan (raise_error) since r11: fires at action
    with pytest.raises(Exception, match="constant"):
        cuped_mean_ztest(
            _units(spark, rows), "variant", "y", "x", "control", "treatment"
        ).collect()


def test_cuped_tiny_arm_raises(spark):
    rows = HAND_ROWS[:4] + [("treatment", 1.0, 3.0)]
    with pytest.raises(Exception, match=">=2 usable units"):
        cuped_mean_ztest(
            _units(spark, rows), "variant", "y", "x", "control", "treatment"
        ).collect()


_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

metric = st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, allow_infinity=False)


@given(
    rows=st.lists(st.tuples(metric, metric), min_size=6, max_size=40),
    shift=st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, allow_infinity=False),
)
@settings(**_SETTINGS)
def test_cuped_covariate_translation_invariance(spark, rows, shift):
    # theta and every CUPED statistic depend on the covariate only
    # through centered moments -> adding a constant to X changes
    # nothing (up to the 6-decimal output rounding).
    def _df(delta):
        data = [
            ("control" if i % 2 == 0 else "treatment", y, x + delta)
            for i, (y, x) in enumerate(rows)
        ]
        return spark.createDataFrame(data, "g string, y double, x double")

    try:
        base = cuped_mean_ztest(_df(0.0), "g", "y", "x", "control", "treatment").collect()[0]
    except (ValueError, SparkRuntimeException):
        # degenerate arms/covariate for this draw — skip (validation is
        # in-plan raise_error since r11, so it surfaces at collect time)
        return
    shifted = cuped_mean_ztest(_df(shift), "g", "y", "x", "control", "treatment").collect()[0]
    for field in ("theta", "lift_cuped", "se_cuped", "z_cuped", "var_reduction_pct"):
        if base[field] is None:
            assert shifted[field] is None, field
        else:
            assert shifted[field] == pytest.approx(base[field], abs=2e-4), field
