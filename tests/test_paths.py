"""Behavioral path analysis (operators/paths.py) and the A/B z-test
readout (operators/abtest.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.abtest import two_proportion_ztest
from proyecto_final_de_big_data_spark.operators.paths import (
    event_transitions,
    session_paths,
)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts_s string, event_id long"
    ).select(
        "user_id",
        "event_type",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "event_id",
    )


def test_transitions_respect_order_and_users(spark):
    ev = _events(
        spark,
        [
            (1, "view", "2024-01-01 10:00:00", 1),
            (1, "click", "2024-01-01 10:01:00", 2),
            (1, "view", "2024-01-01 10:02:00", 3),
            # user 2's single event emits no pair, and no pair crosses
            # from user 1's last event into user 2.
            (2, "purchase", "2024-01-01 10:03:00", 4),
        ],
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n_transitions"], r["p_transition"])
        for r in event_transitions(ev).collect()
    }
    assert got == {
        ("view", "click"): (1, 1.0),
        ("click", "view"): (1, 1.0),
    }


def test_transitions_tiebreak_on_equal_timestamps(spark):
    # Same instant: event_id orders the pair deterministically.
    ev = _events(
        spark,
        [
            (1, "a", "2024-01-01 10:00:00", 2),
            (1, "b", "2024-01-01 10:00:00", 1),
        ],
    )
    got = {(r["from_type"], r["to_type"]) for r in event_transitions(ev).collect()}
    assert got == {("b", "a")}


def test_transitions_row_normalization(spark):
    ev = _events(
        spark,
        [
            (1, "a", "2024-01-01 10:00:00", 1),
            (1, "b", "2024-01-01 10:01:00", 2),
            (2, "a", "2024-01-01 10:00:00", 3),
            (2, "c", "2024-01-01 10:01:00", 4),
            (3, "a", "2024-01-01 10:00:00", 5),
            (3, "b", "2024-01-01 10:01:00", 6),
        ],
    )
    got = {
        (r["from_type"], r["to_type"]): r["p_transition"]
        for r in event_transitions(ev).collect()
    }
    assert math.isclose(got[("a", "b")], round(2 / 3, 6))
    assert math.isclose(got[("a", "c")], round(1 / 3, 6))


def test_session_paths_cap_is_deterministic(spark):
    rows = [(1, f"e{i}", f"2024-01-01 10:{i:02d}:00", i) for i in range(12)]
    ev = _events(spark, rows).withColumn("sess", F.lit(1))
    out = session_paths(ev, ["user_id", "sess"], max_len=3).collect()[0]
    # cap applies AFTER ordering: first three events, full count kept
    assert out["path"] == "e0>e1>e2"
    assert out["n_events"] == 12


def test_ab_ztest_known_values(spark):
    # control: 100 units, 10 conversions; treatment: 100 units, 20.
    rows = [("control", int(i < 10)) for i in range(100)] + [
        ("treatment", int(i < 20)) for i in range(100)
    ]
    units = spark.createDataFrame(rows, "variant string, converted int")
    out = two_proportion_ztest(
        units, "variant", "converted", "control", "treatment"
    ).collect()[0]
    assert (out["n_control"], out["conv_control"]) == (100, 10)
    assert (out["n_treatment"], out["conv_treatment"]) == (100, 20)
    assert math.isclose(out["abs_lift"], 0.1)
    # hand-computed pooled z: p=0.15, se=sqrt(.15*.85*.02)=0.0505
    assert math.isclose(out["z_stat"], 0.1 / math.sqrt(0.15 * 0.85 * 0.02), rel_tol=1e-4)
    assert out["significant"] == 1  # z ~1.98 > 1.96
    # CI brackets the lift
    assert out["ci_low"] < 0.1 < out["ci_high"]


def test_ab_ztest_missing_arm_raises(spark):
    units = spark.createDataFrame(
        [("control", 1)], "variant string, converted int"
    )
    # validation is in-plan (raise_error) since r11: fires at action
    with pytest.raises(Exception, match="BOTH arms"):
        two_proportion_ztest(
            units, "variant", "converted", "control", "treatment"
        ).collect()


def test_ab_ztest_guard_survives_column_pruning(spark):
    """r12 (the r11 ADVICE finding): the guard must fire no matter what
    the caller projects — a raise riding the n_control column was
    column-pruned away under .select('z_stat') / .count(), silently
    returning z_stat=0.0 for a missing arm instead of raising."""
    units = spark.createDataFrame(
        [("control", 1)], "variant string, converted int"
    )
    readout = two_proportion_ztest(
        units, "variant", "converted", "control", "treatment"
    )
    with pytest.raises(Exception, match="BOTH arms"):
        readout.select("z_stat").collect()
    with pytest.raises(Exception, match="BOTH arms"):
        readout.count()


# -- blocked fuzzy join (operators/fuzzyjoin.py) ------------------------

from proyecto_final_de_big_data_spark.operators.fuzzyjoin import (  # noqa: E402
    edit_distance_join,
    edit_distance_self_join,
)


def test_fuzzy_join_within_blocks_only(spark):
    left = spark.createDataFrame([("apple",), ("apricot",)], "name string")
    right = spark.createDataFrame(
        [("apples",), ("bpple",)], "name string"
    )
    # block on first letter: 'bpple' (distance 1 from 'apple') is in a
    # different block and must NOT match — blocking is the contract.
    out = edit_distance_join(
        left, right, "name", "name",
        F.substring("name", 1, 1), F.substring("name", 1, 1),
        max_distance=1,
    ).collect()
    assert {(r["left_value"], r["right_value"], r["distance"]) for r in out} == {
        ("apple", "apples", 1)
    }


def test_fuzzy_self_join_unordered_once_no_self_pairs(spark):
    df = spark.createDataFrame(
        [("cat",), ("cot",), ("cat",), ("dog",)], "name string"
    )
    out = edit_distance_self_join(
        df, "name", F.lit("all"), max_distance=1
    ).collect()
    # exact duplicates (cat, cat) excluded by strict <; each unordered
    # pair once — but duplicated rows multiply the pair count (2 cat
    # rows x 1 cot row = 2 pairs), which is the honest join semantics.
    assert all(r["left_value"] < r["right_value"] for r in out)
    assert sorted((r["left_value"], r["right_value"]) for r in out) == [
        ("cat", "cot"), ("cat", "cot")
    ]


def test_fuzzy_join_distance_zero_only_exact(spark):
    df = spark.createDataFrame([("aa",), ("ab",)], "name string")
    out = edit_distance_join(
        df, df, "name", "name", F.lit(1), F.lit(1), max_distance=0
    ).collect()
    assert {(r["left_value"], r["right_value"]) for r in out} == {
        ("aa", "aa"), ("ab", "ab")
    }


def test_fuzzy_join_negative_distance_rejected(spark):
    df = spark.createDataFrame([("a",)], "name string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_distance"):
        edit_distance_join(df, df, "name", "name", F.lit(1), F.lit(1), -1)


def test_multipass_blocking_recovers_cross_block_pairs(spark):
    from proyecto_final_de_big_data_spark.operators.fuzzyjoin import (
        multipass_edit_distance_self_join,
    )

    # 'ab' vs 'bb' differ at position 1; 'ab' vs 'ac' at position 2.
    # Pass 1 blocks on last char (finds ab~bb), pass 2 on first char
    # (finds ab~ac); the union has both, each exactly once even though
    # identical strings would collide in both passes.
    df = spark.createDataFrame([("ab",), ("bb",), ("ac",)], "name string")
    out = multipass_edit_distance_self_join(
        df, "name",
        [F.substring("name", 2, 1), F.substring("name", 1, 1)],
        max_distance=1,
    ).collect()
    got = sorted((r["left_value"], r["right_value"]) for r in out)
    assert got == [("ab", "ac"), ("ab", "bb")]


@pytest.mark.parametrize("odd", ["Customer#00012345", "Customer#0001234567"])
def test_fuzzy_name_match_guard_raises_on_other_name_length(spark, odd):
    # fuzzy_name_match_profile's blocking zones are fixed positions of
    # 18-character names; a 17- or 19-character name fails at action
    # time, even when only the count is asked for.
    from proyecto_final_de_big_data_spark.queries.analytics import _names_fit_blocking_zones

    df = spark.createDataFrame([("Customer#000123456",), (odd,)], "c_name string")
    guarded = _names_fit_blocking_zones(df)
    with pytest.raises(Exception, match=f"blocking zones assume 18-char names: got {len(odd)}"):
        guarded.count()
    ok = _names_fit_blocking_zones(df.limit(1))
    assert ok.collect() == df.limit(1).collect()


# -- per-key linear trend (operators/trend.py) --------------------------

from proyecto_final_de_big_data_spark.operators.trend import (  # noqa: E402
    per_key_linear_trend,
)


def test_trend_recovers_exact_line(spark):
    rows = [("a", float(x), 2.0 + 3.0 * x) for x in range(5)]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    out = per_key_linear_trend(df, ["k"], "x", "y").collect()[0]
    assert out["n_points"] == 5
    assert math.isclose(out["slope"], 3.0)
    assert math.isclose(out["intercept"], 2.0)
    assert math.isclose(out["r2"], 1.0)


def test_trend_degenerate_groups_null_not_nan(spark):
    rows = [
        ("single", 1.0, 5.0),           # 1 point
        ("novar", 2.0, 1.0),            # zero x-variance
        ("novar", 2.0, 9.0),
        ("flat", 1.0, 4.0),             # zero y-variance: slope 0, r2 NULL
        ("flat", 2.0, 4.0),
    ]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    got = {r["k"]: r for r in per_key_linear_trend(df, ["k"], "x", "y").collect()}
    assert got["single"]["slope"] is None and got["single"]["r2"] is None
    assert got["novar"]["slope"] is None
    assert got["flat"]["slope"] == 0.0 and got["flat"]["r2"] is None
