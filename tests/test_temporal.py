"""Unit + plan tests for the temporal joins (operators/asof.py):
boundary semantics, no-match NULLs, multi-bucket intervals, and the
no-nested-loop plan guarantee."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.asof import asof_join, interval_join
from proyecto_final_de_big_data_spark.utils.plans import plan_text


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _mk_left(spark):
    return spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 10:00:00")),
            (2, 10, _ts("2024-01-01 12:00:00")),
            (3, 20, _ts("2024-01-01 09:00:00")),
            (4, 30, _ts("2024-01-01 09:00:00")),  # key with no right rows
        ],
        ["event_id", "k", "ts"],
    )


def _mk_right(spark):
    return spark.createDataFrame(
        [
            (10, _ts("2024-01-01 10:00:00"), "a"),  # == left event 1 ts
            (10, _ts("2024-01-01 11:00:00"), "b"),
            (20, _ts("2024-01-01 09:30:00"), "c"),  # after left event 3
        ],
        ["k", "rts", "payload"],
    )


def test_asof_inclusive_picks_equal_and_latest(spark):
    out = asof_join(
        _mk_left(spark), _mk_right(spark), "k", "ts", "rts", ["rts", "payload"]
    )
    rows = {r["event_id"]: r for r in out.collect()}
    assert rows[1]["payload"] == "a"  # equal ts matches when inclusive
    assert rows[2]["payload"] == "b"  # latest of the two prior rows
    assert rows[3]["payload"] is None  # right row is in the future
    assert rows[4]["payload"] is None  # no right rows for key at all
    assert out.count() == 4  # exactly one output row per left row


def test_asof_exclusive_skips_equal(spark):
    out = asof_join(
        _mk_left(spark), _mk_right(spark), "k", "ts", "rts", ["payload"], inclusive=False
    )
    rows = {r["event_id"]: r for r in out.collect()}
    assert rows[1]["payload"] is None  # equal ts excluded under strict <
    assert rows[2]["payload"] == "b"


def test_asof_plan_has_single_exchange_no_nested_loop(spark):
    out = asof_join(
        _mk_left(spark), _mk_right(spark), "k", "ts", "rts", ["payload"]
    )
    plan = plan_text(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # the carry-forward is a window, not a join


def test_interval_join_basic_and_boundaries(spark):
    left = spark.createDataFrame(
        [
            (1, 5, _ts("2024-01-01 00:00:00")),  # == start -> in
            (2, 5, _ts("2024-01-01 23:59:59")),  # inside
            (3, 5, _ts("2024-01-02 00:00:00")),  # == end -> out
            (4, 5, _ts("2023-12-31 23:59:59")),  # before -> out
            (5, 6, _ts("2024-01-01 12:00:00")),  # other key, no interval
        ],
        ["event_id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(5, _ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00"), "w1")],
        ["k", "s", "e", "name"],
    )
    out = interval_join(left, right, "k", "ts", "s", "e", bucket="1 hour")
    got = sorted(r["event_id"] for r in out.collect())
    assert got == [1, 2]


def test_interval_join_multi_bucket_interval_no_duplicates(spark):
    # One 3-day interval, 1-day grain -> right side explodes to 3 buckets;
    # each contained left row must still appear exactly once.
    left = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01 06:00:00")),
            (2, 1, _ts("2024-01-02 06:00:00")),
            (3, 1, _ts("2024-01-03 06:00:00")),
            (4, 1, _ts("2024-01-04 06:00:00")),  # past end
        ],
        ["event_id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 00:00:00"), _ts("2024-01-04 00:00:00"), "w")],
        ["k", "s", "e", "name"],
    )
    out = interval_join(left, right, "k", "ts", "s", "e", bucket="1 day")
    got = sorted(r["event_id"] for r in out.collect())
    assert got == [1, 2, 3]


def test_interval_join_fractional_second_end_boundary(spark):
    # end has a fractional second landing in a fresh grain second: the
    # final partially-covered moment must still match (micros bucketing).
    left = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01 00:59:59.900000"))], ["event_id", "k", "ts"]
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 00:00:00"), _ts("2024-01-01 00:59:59.950000"), "w")],
        ["k", "s", "e", "name"],
    )
    out = interval_join(left, right, "k", "ts", "s", "e", bucket="1 hour")
    assert out.count() == 1


def test_interval_join_no_key_global_windows(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00")), (2, _ts("2024-01-05 10:00:00"))],
        ["event_id", "ts"],
    )
    right = spark.createDataFrame(
        [(_ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00"), "w1")],
        ["s", "e", "name"],
    )
    out = interval_join(left, right, None, "ts", "s", "e", bucket="1 day")
    assert [r["event_id"] for r in out.collect()] == [1]


def test_asof_null_keys_never_match(spark):
    # SQL equality semantics: a NULL-key left row must NOT pick up a
    # NULL-key right payload (DuckDB ASOF JOIN ON l.k = r.k never
    # matches NULLs) even though the window partitions NULLs together.
    left = spark.createDataFrame(
        [(1, None, _ts("2024-01-01 10:00:00")), (2, 10, _ts("2024-01-01 12:00:00"))],
        "event_id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(None, _ts("2024-01-01 09:00:00"), "nullkey"), (10, _ts("2024-01-01 11:00:00"), "b")],
        "k long, rts timestamp, payload string",
    )
    out = asof_join(left, right, "k", "ts", "rts", ["payload"])
    rows = {r["event_id"]: r for r in out.collect()}
    assert rows[1]["payload"] is None
    assert rows[2]["payload"] == "b"


def test_interval_join_degenerate_interval_is_inert(spark):
    # A corrupted end<=start interval must emit O(1) bucket rows (not a
    # descending multi-year sequence) and never match, while a row-count
    # probe on the bucketed right side stays tiny.
    left = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01 10:00:00"))], ["event_id", "k", "ts"]
    )
    right = spark.createDataFrame(
        [
            # end three years BEFORE start — would be ~1096 descending
            # daily buckets without the greatest() clamp
            (1, _ts("2024-01-01 00:00:00"), _ts("2021-01-01 00:00:00"), "bad"),
            (1, _ts("2024-01-01 00:00:00"), _ts("2024-01-01 00:00:00"), "empty"),
            (1, _ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00"), "good"),
        ],
        ["k", "s", "e", "name"],
    )
    out = interval_join(left, right, "k", "ts", "s", "e", bucket="1 day")
    rows = out.collect()
    assert [r["name"] for r in rows] == ["good"]


def test_interval_join_plan_has_no_nested_loop(spark):
    left = _mk_left(spark)
    right = spark.createDataFrame(
        [(10, _ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00"), "w")],
        ["k", "s", "e", "name"],
    )
    out = interval_join(left, right, "k", "ts", "s", "e", bucket="1 day")
    plan = plan_text(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_join_null_bounds_symmetric(spark):
    # Either bound NULL -> exactly one inert bucket row: never matches
    # under inner, and BOTH null-start and null-end rows surface as
    # unmatched under a right outer join (r4 advice: the two cases were
    # previously asymmetric — null-start rows explode-dropped entirely).
    left = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01 10:00:00"))], ["event_id", "k", "ts"]
    )
    right = spark.createDataFrame(
        [
            (1, None, _ts("2024-01-02 00:00:00"), "null_start"),
            (1, _ts("2024-01-01 00:00:00"), None, "null_end"),
            (1, None, None, "null_both"),
            (1, _ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00"), "good"),
        ],
        "k long, s timestamp, e timestamp, name string",
    )
    inner = interval_join(left, right, "k", "ts", "s", "e", bucket="1 day")
    assert [r["name"] for r in inner.collect()] == ["good"]

    outer = interval_join(left, right, "k", "ts", "s", "e", bucket="1 day", how="right")
    rows = outer.collect()
    matched = sorted(r["name"] for r in rows if r["event_id"] is not None)
    unmatched = sorted(r["name"] for r in rows if r["event_id"] is None)
    assert matched == ["good"]
    assert unmatched == ["null_both", "null_end", "null_start"]
