"""Two-phase heavy hitters (operators/heavy_hitters.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.heavy_hitters import heavy_hitters
from proyecto_final_de_big_data_spark.utils.plans import plan_text


def _skewed(spark, n=300_000):
    """~n rows; every third row lands on one of two hot keys (~1/6 of
    the corpus each), the rest are singletons — key cardinality ~2n/3."""
    return spark.range(n).select(
        F.when(
            F.col("id") % 3 == 0,
            F.concat(F.lit("hot_"), (F.col("id") % 2).cast("string")),
        )
        .otherwise(F.concat(F.lit("cold_"), F.col("id").cast("string")))
        .alias("k"),
        F.col("id"),
    )


def test_sampled_path_matches_exact_groupby(spark):
    df = _skewed(spark)
    # n=300k, s=0.01 -> required rate = 200/(0.01*300k) ≈ 6.7% — the
    # SAMPLED path (assert it, so this test can't silently degenerate).
    got = {
        r["k"]: (r["cnt"], r["share"])
        for r in heavy_hitters(df, "k", 0.01, sample_on=["id"]).collect()
    }
    exact = {
        r["k"]: r["cnt"]
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 0.01 * 300_000)
        .collect()
    }
    assert set(got) == set(exact) == {"hot_0", "hot_1"}
    for k, cnt in exact.items():
        assert got[k][0] == cnt
        assert abs(got[k][1] - cnt / 300_000) < 1e-6


def test_small_input_degenerates_to_exact_single_pass(spark):
    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    got = {r["k"]: r["cnt"] for r in heavy_hitters(df, "k", 0.25).collect()}
    assert got == {"a": 6, "b": 3}


def test_null_key_heavy_hitter_survives_sampled_path(spark):
    # NULL takes every 4th row (25% share) — it must clear the
    # null-safe semi join on the sampled path, not vanish.
    df = spark.range(100_000).select(
        F.when(F.col("id") % 4 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("c"), F.col("id").cast("string")))
        .alias("k"),
        F.col("id"),
    )
    rows = heavy_hitters(df, "k", 0.05, sample_on=["id"]).collect()
    assert len(rows) == 1 and rows[0]["k"] is None
    assert rows[0]["cnt"] == 25_000


def test_empty_input_returns_empty_with_schema(spark):
    df = spark.createDataFrame([], "k string, id long")
    out = heavy_hitters(df, "k", 0.1)
    assert out.columns == ["k", "cnt", "share"]
    assert out.count() == 0


def test_sampled_path_plan_broadcasts_candidates(spark):
    out = heavy_hitters(_skewed(spark), "k", 0.01, sample_on=["id"])
    plan = plan_text(out)
    # Candidate set broadcasts back; the corpus never sort-merge-joins
    # or shuffles on the raw key domain for the semi join.
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan


def test_sample_on_required_when_sampled_path_taken(spark):
    # Large enough that the adaptive rate is < 100%: omitting the
    # row-identity sample columns must raise, not silently sample
    # whole keys all-in/all-out.
    df = spark.range(0, 300_000).withColumn(
        "k", (F.col("id") % 10).cast("string")
    )
    with pytest.raises(ValueError, match="sample_on is required"):
        heavy_hitters(df, "k", 0.01).collect()
