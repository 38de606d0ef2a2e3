"""Seasonal decomposition tests pinned on hand-constructed fixtures and
a pure-Python reimplementation (independent of the DuckDB oracle)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from proyecto_final_de_big_data_spark.operators.seasonal import (
    seasonal_decompose,
)

EPOCH = dt.datetime(1970, 1, 1)


def _ts(day: int, hour: int = 12) -> dt.datetime:
    return EPOCH + dt.timedelta(days=day, hours=hour)


def test_pure_seasonal_signal_recovered_exactly(spark):
    # y = 10 + s[d%7] over 14 consecutive days, with s symmetric
    # (s_d == s_{6-d}) and sum-zero, so the OLS slope is EXACTLY 0 and
    # the slot means recover s with zero remainder -> strength 1.
    s = [2.0, -1.0, 0.0, -2.0, 0.0, -1.0, 2.0]
    rows = [("k", _ts(d), 10.0 + s[d % 7]) for d in range(14)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, y double")
    out = seasonal_decompose(df, ["key"], "ts", "y", season="dow").collect()
    assert len(out) == 7
    by_slot = {r["slot"]: r for r in out}
    for d in range(7):
        # Spark dayofweek: 1970-01-01 is a Thursday -> slot 5.
        slot = ((4 + d) % 7) + 1
        r = by_slot[slot]
        assert r["n_obs"] == 2
        assert r["seasonal_index"] == pytest.approx(s[d], abs=1e-6)
        assert r["slope"] == pytest.approx(0.0, abs=1e-6)
        assert r["intercept"] == pytest.approx(10.0, abs=1e-6)
        assert r["seasonal_strength"] == pytest.approx(1.0, abs=1e-6)


def _py_decompose(rows):
    """Replicates the operator chain with plain floats: OLS over epoch
    days, slot-mean residuals, Hyndman strength."""
    xs = [float((t - EPOCH).days) for _, t, _ in rows]
    ys = [y for _, _, y in rows]
    n = float(len(rows))
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    icept = (sy - slope * sx) / n
    res = [y - (icept + slope * x) for x, y in zip(xs, ys)]
    slots = [((4 + int(x)) % 7) + 1 for x in xs]
    per = {}
    for sl, r in zip(slots, res):
        per.setdefault(sl, []).append(r)
    sr = sum(res)
    srr = sum(r * r for r in res)
    ss_det = srr - sr * sr / n
    ss_rem = sum(
        sum(r * r for r in v) - sum(v) ** 2 / len(v) for v in per.values()
    )
    strength = max(0.0, 1.0 - ss_rem / ss_det) if ss_det > 0 else 0.0
    idx = {sl: sum(v) / len(v) for sl, v in per.items()}
    return slope, icept, idx, strength


def test_matches_pure_python_on_trended_noisy_series(spark):
    # Deterministic pseudo-noise: y = 3 + 0.7*d + ((d*13) % 5) - 2.
    rows = [
        ("k", _ts(d), 3.0 + 0.7 * d + float((d * 13) % 5) - 2.0)
        for d in range(21)
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, y double")
    out = seasonal_decompose(df, ["key"], "ts", "y", season="dow").collect()
    slope, icept, idx, strength = _py_decompose(rows)
    assert len(out) == 7
    for r in out:
        assert r["slope"] == pytest.approx(slope, abs=1e-6)
        assert r["intercept"] == pytest.approx(icept, abs=1e-6)
        assert r["seasonal_index"] == pytest.approx(idx[r["slot"]], abs=1e-6)
        assert r["seasonal_strength"] == pytest.approx(strength, abs=1e-6)


def test_degenerate_single_day_key_dropped(spark):
    rows = [("flat", _ts(0, h), float(h)) for h in range(5)] + [
        ("ok", _ts(d), float(d)) for d in range(4)
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, y double")
    out = seasonal_decompose(df, ["key"], "ts", "y", season="dow").collect()
    assert {r["key"] for r in out} == {"ok"}


def test_null_values_excluded(spark):
    rows = [("k", _ts(d), float(d)) for d in range(7)]
    df = spark.createDataFrame(
        rows + [("k", None, 5.0), ("k", _ts(3), None)],
        "key string, ts timestamp, y double",
    )
    out = seasonal_decompose(df, ["key"], "ts", "y", season="dow").collect()
    assert sum(r["n_obs"] for r in out) == 7


def test_invalid_season_rejected(spark):
    df = spark.createDataFrame(
        [("k", _ts(0), 1.0)], "key string, ts timestamp, y double"
    )
    with pytest.raises(ValueError, match="season"):
        seasonal_decompose(df, ["key"], "ts", "y", season="week")


def test_hour_season_slots(spark):
    rows = [
        ("k", _ts(d, h), 5.0 + d + (3.0 if h == 6 else 0.0))
        for d in range(4)
        for h in (6, 18)
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, y double")
    out = seasonal_decompose(df, ["key"], "ts", "y", season="hour").collect()
    assert {r["slot"] for r in out} == {6, 18}
    idx = {r["slot"]: r["seasonal_index"] for r in out}
    # the 6am slot sits ~3 units above the 6pm slot after detrending
    assert idx[6] - idx[18] == pytest.approx(3.0, abs=1e-6)


_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

metric = st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, allow_infinity=False)


@given(
    ys=st.lists(metric, min_size=10, max_size=28),
    shift=st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
)
@settings(**_SETTINGS)
def test_seasonal_shift_equivariance(spark, ys, shift):
    # y -> y + c shifts the intercept by c and leaves slope, seasonal
    # indices and strength untouched (all depend on centered residuals).
    epoch = dt.datetime(1970, 1, 1)

    def _df(delta):
        rows = [
            ("k", epoch + dt.timedelta(days=i, hours=12), float(v) + delta)
            for i, v in enumerate(ys)
        ]
        return spark.createDataFrame(rows, "key string, ts timestamp, y double")

    base = {r["slot"]: r for r in seasonal_decompose(_df(0.0), ["key"], "ts", "y").collect()}
    shifted = {r["slot"]: r for r in seasonal_decompose(_df(shift), ["key"], "ts", "y").collect()}
    assert base.keys() == shifted.keys()
    for slot, r in base.items():
        s = shifted[slot]
        assert s["slope"] == pytest.approx(r["slope"], abs=1e-4)
        assert s["intercept"] == pytest.approx(r["intercept"] + shift, abs=1e-4)
        assert s["seasonal_index"] == pytest.approx(r["seasonal_index"], abs=1e-4)
        assert s["seasonal_strength"] == pytest.approx(
            r["seasonal_strength"], abs=1e-4
        )
