"""Unit tests for ml/calibration.py — PAV algebra and the Spark-side
bucket/apply plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.ml.calibration import (
    isotonic_calibrate,
    pav_fit,
)
from proyecto_final_de_big_data_spark.utils.plans import plan_text


def test_pav_already_monotone_is_identity():
    assert pav_fit([(1, 0.1), (1, 0.5), (1, 0.9)]) == [0.1, 0.5, 0.9]


def test_pav_pools_single_violation():
    # (0.6, 0.2) violates: pooled to 0.4, 0.4
    assert pav_fit([(1, 0.6), (1, 0.2), (1, 0.9)]) == [0.4, 0.4, 0.9]


def test_pav_weighted_pooling():
    # weights 3 and 1: pooled mean = (3*0.8 + 1*0.0)/4 = 0.6
    out = pav_fit([(3, 0.8), (1, 0.0)])
    assert out == pytest.approx([0.6, 0.6])


def test_pav_cascading_merge():
    out = pav_fit([(1, 0.9), (1, 0.5), (1, 0.1)])
    assert out == [0.5, 0.5, 0.5]


def test_pav_output_always_monotone():
    vals = [(1, v) for v in [0.3, 0.9, 0.1, 0.7, 0.2, 0.8]]
    out = pav_fit(vals)
    assert out == sorted(out)
    # total mass preserved
    assert sum(out) == pytest.approx(sum(v for _, v in vals))


def test_pav_rejects_nonpositive_weight():
    with pytest.raises(ValueError):
        pav_fit([(0, 0.5)])


def _scored(spark, rows):
    return spark.createDataFrame(rows, "s double, y boolean")


def test_calibrate_perfectly_separated(spark):
    rows = [(0.1, False)] * 5 + [(0.9, True)] * 5
    out = isotonic_calibrate(
        _scored(spark, rows), "s", "y", lo=0.0, hi=1.0, n_buckets=10
    ).collect()
    got = {r["s"]: r["calibrated"] for r in out}
    assert got[0.1] == 0.0 and got[0.9] == 1.0


def test_calibrate_pools_inverted_region(spark):
    # low scores MORE positive than mid scores -> pooled to their
    # weighted mean; high bucket stays above.
    rows = (
        [(0.1, True)] * 3 + [(0.1, False)]        # bucket 1: rate .75
        + [(0.5, False)] * 3 + [(0.5, True)]       # bucket 5: rate .25
        + [(0.9, True)] * 4                        # bucket 9: rate 1.0
    )
    out = {r["s"]: r["calibrated"] for r in isotonic_calibrate(
        _scored(spark, rows), "s", "y", lo=0.0, hi=1.0, n_buckets=10
    ).collect()}
    assert out[0.1] == out[0.5] == 0.5  # pooled (3+1)/8
    assert out[0.9] == 1.0


def test_calibrate_null_scores_get_null(spark):
    df = spark.createDataFrame(
        [(0.5, True), (None, False)], "s double, y boolean"
    )
    out = {r["s"]: r["calibrated"] for r in isotonic_calibrate(
        df, "s", "y", lo=0.0, hi=1.0, n_buckets=4
    ).collect()}
    assert out[None] is None and out[0.5] == 1.0


def test_calibrate_gap_buckets_inherit_from_left(spark):
    # Labeled rows occupy buckets 1 (rate 0.2) and 8 (rate 0.8) only;
    # label-NULL rows (scored but unlabeled — they are excluded from
    # the fit) land left of the first occupied cell, mid-gap, and
    # right of the last, exercising the dense-fill loop directly.
    labeled = [(0.15, i < 1) for i in range(5)] + [
        (0.85, i < 4) for i in range(5)
    ]
    unlabeled = [(0.05, None), (0.5, None), (0.95, None)]
    df = spark.createDataFrame(labeled + unlabeled, "s double, y boolean")
    got = {r["s"]: r["calibrated"] for r in isotonic_calibrate(
        df, "s", "y", lo=0.0, hi=1.0, n_buckets=10
    ).collect()}
    assert got[0.05] == 0.2  # left of first occupied -> first pool
    assert got[0.5] == 0.2   # mid-gap -> nearest occupied to the LEFT
    assert got[0.95] == 0.8  # right of last -> last occupied


def test_calibrate_empty_input_raises(spark):
    df = spark.createDataFrame([], "s double, y boolean")
    with pytest.raises(ValueError):
        isotonic_calibrate(df, "s", "y", lo=0.0, hi=1.0)


def test_calibrate_application_is_projection_no_join(spark, sf_dir):
    from proyecto_final_de_big_data_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.element_at("embedding", 1).cast("double").alias("s"),
        (F.col("label") % 2 == 1).alias("y"),
    )
    out = isotonic_calibrate(emb, "s", "y", lo=-1.0, hi=1.0, n_buckets=64)
    assert "Join" not in plan_text(out)  # literal-array lookup, not a join
    # calibrated values are monotone in score
    rows = sorted(out.collect(), key=lambda r: r["s"])
    cal = [r["calibrated"] for r in rows if r["calibrated"] is not None]
    assert cal == sorted(cal)
