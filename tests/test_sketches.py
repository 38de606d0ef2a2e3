"""Mergeable HLL/KLL/Theta sketches (operators/sketches.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.sketches import (
    hll_partials,
    hll_rollup,
    kll_partials,
    kll_rollup,
    theta_overlap,
    theta_partials,
    theta_rollup,
)
from proyecto_final_de_big_data_spark.utils.plans import plan_text


def _df(spark):
    # 3 groups; users overlap across groups so the merged distinct is
    # NOT the sum of per-group distincts — the case that breaks naive
    # "sum the partials" logic and that sketch union handles.
    rows = [(g, u) for g in ("a", "b", "c") for u in range(g != "a", 50)]
    return spark.createDataFrame(rows, "g string, u long")


def test_partials_one_sketch_row_per_group(spark):
    p = hll_partials(_df(spark), "g", "u")
    assert p.columns == ["g", "hll_sketch"]
    assert p.count() == 3
    assert dict(p.dtypes)["hll_sketch"] == "binary"


def test_merged_estimate_matches_exact_distinct(spark):
    df = _df(spark)
    p = hll_partials(df, "g", "u")
    est = hll_rollup(p, None).collect()[0]["distinct_est"]
    exact = df.select("u").distinct().count()
    # sparse-mode HLL is exact at this cardinality
    assert est == exact == 50


def test_rollup_to_coarser_grouping(spark):
    rows = [(m, d, u) for m in (1, 2) for d in (1, 2, 3) for u in range(d * 10)]
    df = spark.createDataFrame(rows, "m int, d int, u long")
    p = hll_partials(df, ["m", "d"], "u")
    assert p.count() == 6
    by_m = {r["m"]: r["distinct_est"] for r in hll_rollup(p, ["m"]).collect()}
    # per-month distinct = union over its days = max(d)*10 = 30
    assert by_m == {1: 30, 2: 30}


def test_nulls_ignored_like_count_distinct(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 2), ("a", None)], "g string, u int"
    )
    est = hll_rollup(hll_partials(df, "g", "u"), ["g"]).collect()[0]["distinct_est"]
    assert est == 2


# --- KLL quantile partials -------------------------------------------


def _valued(spark):
    # values 0..999 split across 4 groups by modulus, so every group
    # sees the full range and the merged sketch must interleave all
    # four partials to answer rank queries correctly.
    rows = [(v % 4, float(v)) for v in range(1000)]
    return spark.createDataFrame(rows, "g int, v double")


def test_kll_partials_shape(spark):
    p = kll_partials(_valued(spark), "g", "v")
    assert p.columns == ["g", "kll_sketch"]
    assert p.count() == 4
    assert dict(p.dtypes)["kll_sketch"] == "binary"


def test_kll_merged_quantiles_near_exact(spark):
    p = kll_partials(_valued(spark), "g", "v")
    row = kll_rollup(p, None, ranks=[0.5, 0.9]).collect()[0]
    # k=200 on 1000 values: rank error well under 3 points
    assert abs(row["q_0_5"] - 499.5) <= 30
    assert abs(row["q_0_9"] - 899.1) <= 30


def test_kll_rollup_to_coarser_grouping(spark):
    # groups (m, d); per-m merged median must reflect only that m's rows
    rows = [(m, d, float(v + 1000 * m)) for m in (0, 1) for d in (0, 1) for v in range(500)]
    df = spark.createDataFrame(rows, "m int, d int, v double")
    p = kll_partials(df, ["m", "d"], "v")
    assert p.count() == 4
    by_m = {r["m"]: r["q_0_5"] for r in kll_rollup(p, ["m"], ranks=[0.5]).collect()}
    assert abs(by_m[0] - 249.5) <= 20
    assert abs(by_m[1] - 1249.5) <= 20


def test_kll_rejects_out_of_range_rank(spark):
    p = kll_partials(_valued(spark), "g", "v")
    with pytest.raises(ValueError, match="ranks"):
        kll_rollup(p, None, ranks=[1.5])


# --- Theta set algebra ------------------------------------------------


def _cohorts(spark):
    # cohort "a": users 0..79, cohort "b": users 40..119 — overlap 40.
    rows = [("a", u) for u in range(80)] + [("b", u) for u in range(40, 120)]
    return spark.createDataFrame(rows, "g string, u long")


def test_theta_rollup_union_matches_exact(spark):
    df = _cohorts(spark)
    p = theta_partials(df, "g", "u")
    assert p.count() == 2
    # exact mode below 2^12 distinct: estimate is exact
    assert theta_rollup(p, None).collect()[0]["distinct_est"] == 120
    by_g = {r["g"]: r["distinct_est"] for r in theta_rollup(p, ["g"]).collect()}
    assert by_g == {"a": 80, "b": 80}


def test_theta_overlap_set_algebra_exact(spark):
    p = theta_partials(_cohorts(spark), "g", "u")
    row = theta_overlap(p, F.col("g") == "a", F.col("g") == "b").collect()[0]
    assert row["union_est"] == 120
    assert row["intersection_est"] == 40
    assert row["left_only_est"] == 40
    assert row["right_only_est"] == 40


def test_theta_overlap_multi_row_cohorts(spark):
    # cohort predicates selecting SEVERAL partial rows per side must
    # union-merge within the side before intersecting across sides.
    rows = (
        [("a1", u) for u in range(40)]
        + [("a2", u) for u in range(40, 80)]
        + [("b1", u) for u in range(60, 100)]
    )
    df = spark.createDataFrame(rows, "g string, u long")
    p = theta_partials(df, "g", "u")
    row = theta_overlap(
        p, F.col("g").startswith("a"), F.col("g").startswith("b")
    ).collect()[0]
    assert row["union_est"] == 100
    assert row["intersection_est"] == 20
    assert row["left_only_est"] == 60
    assert row["right_only_est"] == 20


# -- count-min ---------------------------------------------------------

from proyecto_final_de_big_data_spark.operators.sketches import (  # noqa: E402
    cm_build,
    cm_estimate,
    cm_merge,
)


def test_cm_merge_of_partials_equals_direct_build(spark):
    df = spark.range(0, 3000).select(
        (F.col("id") % 97).alias("k"), (F.col("id") % 3).alias("g")
    )
    direct = cm_build(df, "k")
    merged = cm_merge(cm_build(df, "k", group_cols=["g"]))
    d = {(r["d"], r["bucket"]): r["cnt"] for r in direct.collect()}
    m = {(r["d"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert d == m


def test_cm_estimates_never_undercount(spark):
    df = spark.range(0, 5000).select((F.col("id") % 313).alias("k"))
    cm = cm_build(df, "k")
    probes = df.select("k").distinct()
    est = {r["k"]: r["cm_est"] for r in cm_estimate(cm, probes, "k").collect()}
    exact = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(est[k] >= exact[k] for k in exact)
    # width 1024 >> 313 keys: most estimates should be exact
    exact_hits = sum(1 for k in exact if est[k] == exact[k])
    assert exact_hits >= 0.9 * len(exact)


def test_cm_absent_key_estimates_zero_or_collision(spark):
    df = spark.range(0, 100).select((F.col("id") % 10).alias("k"))
    cm = cm_build(df, "k")
    absent = spark.createDataFrame([(999999,)], "k long")
    est = cm_estimate(cm, absent, "k").collect()[0]["cm_est"]
    assert est >= 0  # min-over-depth of coalesced counts; tiny sketch -> 0 likely
    assert est <= 100


def test_cm_build_is_partial_plus_final_agg(spark):
    df = spark.range(0, 100).select((F.col("id") % 7).alias("k"))
    plan = plan_text(cm_build(df, "k"))
    assert plan.count("HashAggregate") >= 2, plan  # map-side combine
    assert "Generate" in plan  # depth expansion is map-side, pre-shuffle
