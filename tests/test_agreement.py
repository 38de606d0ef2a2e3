"""Inter-rater agreement tests pinned on textbook fixtures computed by
hand / pure Python — independent of the DuckDB oracle restatement
(the VERDICT r7 hand-checked-fixture discipline)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from proyecto_final_de_big_data_spark.operators.agreement import (
    cohens_kappa,
    fleiss_kappa,
)


def _pairs_df(spark, cells):
    rows = []
    for la, lb, c in cells:
        rows += [(la, lb)] * c
    return spark.createDataFrame(rows, "a string, b string")


def test_cohen_textbook_two_by_two(spark):
    # The classic 50-item yes/no example: 20 yes/yes, 15 no/no,
    # 5 yes/no, 10 no/yes. po = 0.70, pe = (25*30 + 25*20)/50^2 = 0.50,
    # kappa = 0.40 exactly.
    df = _pairs_df(
        spark,
        [("yes", "yes", 20), ("no", "no", 15), ("yes", "no", 5), ("no", "yes", 10)],
    )
    row = cohens_kappa(df, "a", "b").collect()[0]
    assert row["n_items"] == 50
    assert row["n_categories"] == 2
    assert row["po"] == pytest.approx(0.70, abs=1e-6)
    assert row["pe"] == pytest.approx(0.50, abs=1e-6)
    assert row["kappa"] == pytest.approx(0.40, abs=1e-6)


def test_cohen_unobserved_diagonal_still_counts_in_pe(spark):
    # Cells: (x,x)=5, (x,y)=3, (y,x)=2 — (y,y) never observed, but the
    # chance term must still include p_A(y)*p_B(y). Hand computation:
    # n=10, po=0.5, marginals A(x)=8, A(y)=2, B(x)=7, B(y)=3,
    # pe = (8*7 + 2*3)/100 = 0.62, kappa = (0.5-0.62)/0.38 = -0.315789.
    # Summing pe over OBSERVED cells only would read 0.56 — this
    # fixture distinguishes the correct marginal-product definition.
    df = _pairs_df(spark, [("x", "x", 5), ("x", "y", 3), ("y", "x", 2)])
    row = cohens_kappa(df, "a", "b").collect()[0]
    assert row["pe"] == pytest.approx(0.62, abs=1e-6)
    assert row["kappa"] == pytest.approx(-0.315789, abs=1e-6)


def test_cohen_asymmetric_alphabets_union_categories(spark):
    # Rater A never says "c"; union alphabet is {a, b, c}.
    df = _pairs_df(spark, [("a", "a", 4), ("b", "c", 3), ("b", "b", 3)])
    row = cohens_kappa(df, "a", "b").collect()[0]
    assert row["n_categories"] == 3


def test_cohen_weighted_linear_hand_example(spark):
    # Ordinal labels 1..3, 10 items:
    # (1,1)x3 (2,2)x2 (3,3)x1 (1,2)x2 (2,3)x1 (1,3)x1. span = 2.
    # Linear weights: w(diag)=1, w(|d|=1)=0.5, w(|d|=2)=0.
    # po = (6*1 + 3*0.5 + 1*0) / 10 = 0.75.
    # Marginals A: 1->6, 2->3, 3->1; B: 1->3, 2->4, 3->3.
    # pe = sum w_ij ra_i cb_j / 100:
    #   full cross: (1,1)18w1 (1,2)24w.5 (1,3)18w0
    #               (2,1)9w.5 (2,2)12w1 (2,3)9w.5
    #               (3,1)3w0  (3,2)4w.5 (3,3)3w1
    # = 18 + 12 + 12 + 4.5 + 4.5 + 2 + 3 = wait, compute: 18*1 + 24*.5
    #   + 18*0 + 9*.5 + 12*1 + 9*.5 + 3*0 + 4*.5 + 3*1
    # = 18 + 12 + 0 + 4.5 + 12 + 4.5 + 0 + 2 + 3 = 56 -> pe = 0.56
    # kappa = (0.75 - 0.56) / 0.44 = 0.431818
    df = _pairs_df(
        spark,
        [("1", "1", 3), ("2", "2", 2), ("3", "3", 1),
         ("1", "2", 2), ("2", "3", 1), ("1", "3", 1)],
    )
    row = cohens_kappa(df, "a", "b", weighting="linear").collect()[0]
    assert row["statistic"] == "cohen_linear"
    assert row["po"] == pytest.approx(0.75, abs=1e-6)
    assert row["pe"] == pytest.approx(0.56, abs=1e-6)
    assert row["kappa"] == pytest.approx(0.431818, abs=1e-6)


def test_cohen_weighted_rejects_non_numeric_labels(spark):
    df = _pairs_df(spark, [("low", "low", 3), ("high", "low", 2)])
    with pytest.raises(Exception, match="numeric-castable"):
        cohens_kappa(df, "a", "b", weighting="linear").collect()


def test_cohen_perfect_chance_agreement_null_kappa(spark):
    df = _pairs_df(spark, [("x", "x", 7)])
    row = cohens_kappa(df, "a", "b").collect()[0]
    assert row["po"] == pytest.approx(1.0)
    assert row["pe"] == pytest.approx(1.0)
    assert row["kappa"] is None


def test_cohen_null_labels_excluded(spark):
    df = spark.createDataFrame(
        [("x", "x"), ("x", None), (None, "x"), ("y", "y")],
        "a string, b string",
    )
    row = cohens_kappa(df, "a", "b").collect()[0]
    assert row["n_items"] == 2
    assert row["po"] == pytest.approx(1.0)


def test_cohen_invalid_weighting_rejected(spark):
    df = _pairs_df(spark, [("1", "1", 2)])
    with pytest.raises(ValueError, match="weighting"):
        cohens_kappa(df, "a", "b", weighting="cubic")


# The Fleiss 1971 / Wikipedia worked example: N=10 subjects, n=14
# raters, k=5 categories; published result Pbar=0.378, Pe=0.213,
# kappa=0.210.
_FLEISS_TABLE = [
    (0, 0, 0, 0, 14),
    (0, 2, 6, 4, 2),
    (0, 0, 3, 5, 6),
    (0, 3, 9, 2, 0),
    (2, 2, 8, 1, 1),
    (7, 7, 0, 0, 0),
    (3, 2, 6, 3, 0),
    (2, 5, 3, 2, 2),
    (6, 5, 2, 1, 0),
    (0, 2, 2, 3, 7),
]


def _fleiss_long(spark):
    rows = []
    for item, counts in enumerate(_FLEISS_TABLE):
        for cat, c in enumerate(counts):
            rows += [(item, str(cat))] * c
    return spark.createDataFrame(rows, "item long, label string")


def test_fleiss_published_worked_example(spark):
    row = fleiss_kappa(_fleiss_long(spark), "item", "label").collect()[0]
    assert row["statistic"] == "fleiss"
    assert row["n_items"] == 10
    assert row["n_categories"] == 5
    assert row["po"] == pytest.approx(0.378022, abs=1e-6)
    assert row["pe"] == pytest.approx(0.212755, abs=1e-6)
    assert row["kappa"] == pytest.approx(0.209931, abs=1e-6)


def test_fleiss_ragged_panel_raises(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (2, "b"), (2, "b")],
        "item long, label string",
    )
    # validation is in-plan (raise_error) since r11: fires at action
    with pytest.raises(Exception, match="fixed-panel"):
        fleiss_kappa(df, "item", "label").collect()


def test_fleiss_null_labels_make_panel_ragged_loudly(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, None), (2, "a"), (2, "b")],
        "item long, label string",
    )
    with pytest.raises(Exception, match="fixed-panel"):
        fleiss_kappa(df, "item", "label").collect()


def test_fleiss_unanimous_single_category_null_kappa(spark):
    df = spark.createDataFrame(
        [(i, "same") for i in range(4) for _ in range(3)],
        "item long, label string",
    )
    row = fleiss_kappa(df, "item", "label").collect()[0]
    assert row["po"] == pytest.approx(1.0)
    assert row["pe"] == pytest.approx(1.0)
    assert row["kappa"] is None


def test_weighted_single_value_alphabet_diagonal_weight_is_one(spark):
    # span is undefined with one numeric label, but diagonal weight is
    # 1 by definition: po=pe=1 and NULL kappa, matching the unweighted
    # path — not a silent row of NULLs.
    df = _pairs_df(spark, [("2", "2", 7)])
    row = cohens_kappa(df, "a", "b", weighting="linear").collect()[0]
    assert row["po"] == pytest.approx(1.0)
    assert row["pe"] == pytest.approx(1.0)
    assert row["kappa"] is None


def test_cohen_empty_frame_raises(spark):
    df = spark.createDataFrame([], "a string, b string")
    # validation is in-plan (raise_error) since r11: fires at action
    with pytest.raises(Exception, match="no usable"):
        cohens_kappa(df, "a", "b").collect()


def test_cohen_all_null_labels_raise(spark):
    df = spark.createDataFrame([("x", None), (None, "y")], "a string, b string")
    with pytest.raises(Exception, match="no usable"):
        cohens_kappa(df, "a", "b").collect()


_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    pairs=st.lists(
        st.tuples(st.sampled_from("abc"), st.sampled_from("abc")),
        min_size=2,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_kappa_relabeling_invariance_and_bound(spark, pairs):
    # A consistent bijective relabeling of BOTH raters leaves kappa
    # unchanged; kappa never exceeds 1.
    relabel = {"a": "z", "b": "q", "c": "m"}
    df1 = spark.createDataFrame(pairs, "a string, b string")
    df2 = spark.createDataFrame(
        [(relabel[x], relabel[y]) for x, y in pairs], "a string, b string"
    )
    r1 = cohens_kappa(df1, "a", "b").collect()[0]
    r2 = cohens_kappa(df2, "a", "b").collect()[0]
    assert (r1["kappa"] is None) == (r2["kappa"] is None)
    if r1["kappa"] is not None:
        assert r1["kappa"] == pytest.approx(r2["kappa"], abs=1e-6)
        assert r1["kappa"] <= 1.0 + 1e-9
