"""Unit tests for rolling time-range stats and gap-filled time grids."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.rolling import (
    _trailing_micros,
    with_rolling_stats,
)
from proyecto_final_de_big_data_spark.operators.timegrid import gap_filled_counts

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(rows, ["user_id", "ts", "value"])


def test_trailing_micros_units():
    assert _trailing_micros("1 hour") == 3_600_000_000
    assert _trailing_micros("2 days") == 2 * 86_400_000_000
    assert _trailing_micros("30 seconds") == 30_000_000
    with pytest.raises(ValueError):
        _trailing_micros("3 fortnights")


def test_rolling_frame_membership(spark):
    # Events at t, t+30min, t+90min: the third row's 1h frame holds rows
    # 2 and 3 only (row 1 is 90min old — outside [t-1h, t]).
    rows = [
        (1, T0, 10.0),
        (1, T0 + dt.timedelta(minutes=30), 20.0),
        (1, T0 + dt.timedelta(minutes=90), 30.0),
    ]
    out = with_rolling_stats(_ev(spark, rows), "user_id", trailing="1 hour", min_n=2)
    got = {r["value"]: (r["roll_n"], r["roll_mean"]) for r in out.collect()}
    assert got[10.0][0] == 1
    assert got[20.0] == (2, 15.0)
    assert got[30.0] == (2, 25.0)


def test_rolling_frame_inclusive_bound_and_peers(spark):
    # A row exactly `trailing` old is INSIDE the frame; equal timestamps
    # are peers and share the frame.
    rows = [
        (1, T0, 1.0),
        (1, T0 + dt.timedelta(hours=1), 2.0),
        (1, T0 + dt.timedelta(hours=1), 3.0),
    ]
    out = with_rolling_stats(_ev(spark, rows), "user_id", trailing="1 hour", min_n=2)
    got = {r["value"]: r["roll_n"] for r in out.collect()}
    assert got[2.0] == 3 and got[3.0] == 3


def test_rolling_zscore_null_below_min_n_and_zero_variance(spark):
    rows = [
        (1, T0, 5.0),
        (1, T0 + dt.timedelta(minutes=1), 5.0),
        (1, T0 + dt.timedelta(minutes=2), 5.0),  # n=3 but zero variance
        (2, T0, 1.0),                            # n=1 < min_n
    ]
    out = with_rolling_stats(_ev(spark, rows), "user_id", trailing="1 hour", min_n=3)
    assert all(r["zscore"] is None for r in out.collect())


def test_rolling_partition_isolation(spark):
    rows = [(1, T0, 1.0), (2, T0, 100.0)]
    out = with_rolling_stats(_ev(spark, rows), "user_id", trailing="1 day", min_n=1)
    got = {r["user_id"]: r["roll_mean"] for r in out.collect()}
    assert got == {1: 1.0, 2: 100.0}


def test_gap_filled_counts_zero_fills_empty_hours(spark):
    rows = [
        (1, T0 + dt.timedelta(minutes=5), 1.5),
        (1, T0 + dt.timedelta(hours=3, minutes=10), 2.5),
        (1, T0 + dt.timedelta(hours=3, minutes=20), 3.0),
    ]
    out = gap_filled_counts(_ev(spark, rows), ts_col="ts", value_col="value")
    got = sorted(out.collect(), key=lambda r: r["bucket"])
    assert len(got) == 4  # hours 0..3 inclusive, gaps 1 and 2 present
    assert [r["n_events"] for r in got] == [1, 0, 0, 1 + 1]
    assert got[1]["sum_value"] == 0.0 and got[2]["sum_value"] == 0.0
    assert got[3]["sum_value"] == 5.5


def test_gap_filled_counts_without_value_col(spark):
    rows = [(1, T0, 1.0)]
    out = gap_filled_counts(_ev(spark, rows), ts_col="ts")
    assert out.columns == ["bucket", "n_events"]
    assert out.collect()[0]["n_events"] == 1


def test_interpolate_gaps_linear_fill_and_edges(spark):
    from proyecto_final_de_big_data_spark.operators.timegrid import interpolate_gaps

    rows = [
        # user 1: observed at hours 0 and 3 -> hours 1,2 interpolate
        (1, "2024-01-01 00:10:00", 10.0),
        (1, "2024-01-01 03:40:00", 40.0),
        # user 2: single observation -> nothing to interpolate
        (2, "2024-01-01 05:30:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        (r["user_id"], r["bucket"].hour): (r["observed"], r["value"])
        for r in interpolate_gaps(df, "user_id", "ts", "value").collect()
    }
    assert out[(1, 0)] == (10.0, 10.0)
    assert out[(1, 1)] == (None, 20.0)
    assert out[(1, 2)] == (None, 30.0)
    assert out[(1, 3)] == (40.0, 40.0)
    assert out[(2, 5)] == (7.0, 7.0)
    assert len(out) == 5


def test_interpolate_gaps_mean_per_bucket_and_no_extrapolation(spark):
    from proyecto_final_de_big_data_spark.operators.timegrid import interpolate_gaps

    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:30:00", 3.0),   # same bucket -> observed mean 2.0
        (1, "2024-01-01 02:00:00", 8.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        r["bucket"].hour: r["value"]
        for r in interpolate_gaps(df, "user_id", "ts", "value").collect()
    }
    assert got == {0: 2.0, 1: 5.0, 2: 8.0}


_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    offsets=st.lists(st.integers(min_value=0, max_value=72 * 3600), min_size=1, max_size=30)
)
@settings(**_SETTINGS)
def test_gap_fill_dense_axis_and_count_conservation(spark, offsets):
    t0 = dt.datetime(2024, 3, 1)
    rows = [(i, t0 + dt.timedelta(seconds=s)) for i, s in enumerate(offsets)]
    df = spark.createDataFrame(rows, ["id", "ts"])
    got = sorted(gap_filled_counts(df, ts_col="ts").collect(), key=lambda r: r["bucket"])
    assert sum(r["n_events"] for r in got) == len(offsets)
    # dense axis: consecutive hour buckets, min..max inclusive
    buckets = [r["bucket"] for r in got]
    assert all(
        (b2 - b1) == dt.timedelta(hours=1) for b1, b2 in zip(buckets, buckets[1:])
    )
