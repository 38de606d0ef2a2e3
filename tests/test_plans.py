"""utils/plans.py: each claim kind holds on a plan with its property and
fails, saying what it found, on one without it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.utils.plans import check, count, has, has_any, lacks, plan_text


@pytest.fixture(scope="module")
def plans(spark):
    """A map-only plan and a grouped one (partial + final aggregate
    around one Exchange)."""
    scan = spark.range(0, 100, 1, 2)
    grouped = scan.groupBy((F.col("id") % 3).alias("k")).count()
    return {"scan": plan_text(scan), "grouped": plan_text(grouped)}


@pytest.mark.parametrize(
    "claim, holds_on, fails_on, miss",
    [
        (has("HashAggregate", "Exchange"), "grouped", "scan", "missing ['HashAggregate', 'Exchange']"),
        (lacks("Exchange", "SortMergeJoin"), "scan", "grouped", "found ['Exchange']"),
        (has_any("Exchange", "SortMergeJoin"), "grouped", "scan", "found none"),
        (count(") HashAggregate", lo=2, hi=2), "grouped", "scan", "found 0"),
    ],
    ids=["has", "lacks", "has_any", "count"],
)
def test_claim_kind_holds_only_with_its_property(plans, claim, holds_on, fails_on, miss):
    assert claim.miss(plans[holds_on]) is None
    assert claim.miss(plans[fails_on]) == miss


def test_count_bounds_are_inclusive(plans):
    grouped = plans["grouped"]
    n = grouped.count(") HashAggregate")
    assert n == 2
    assert count(") HashAggregate", lo=n, hi=n).miss(grouped) is None
    assert count(") HashAggregate", hi=n - 1).miss(grouped) == f"found {n}"
    assert count(") HashAggregate", lo=n + 1).miss(grouped) == f"found {n}"


def test_claims_read_as_the_call_that_made_them():
    assert repr(has("A", "B")) == "has('A', 'B')"
    assert repr(lacks("Join")) == "lacks('Join')"
    assert repr(has_any("A", "B")) == "has_any('A', 'B')"
    assert repr(count("Window (", hi=2)) == "count('Window (', hi=2)"
    assert repr(count(") Exchange", lo=1, hi=1)) == "count(') Exchange', lo=1, hi=1)"


def test_check_lists_only_the_broken_claims(spark):
    df = spark.range(10)
    assert check(df, (has("Range"), lacks("Exchange"))) == []
    assert check(df, (has("Range"), has("Exchange"), lacks("Range"))) == [
        "has('Exchange'): missing ['Exchange']",
        "lacks('Range'): found ['Range']",
    ]
