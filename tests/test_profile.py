"""Table profiler (operators/profile.py): stat correctness, type
handling, and validation."""

from __future__ import annotations

import pytest

from proyecto_final_de_big_data_spark.operators.profile import profile_columns
from proyecto_final_de_big_data_spark.utils.plans import plan_text

SF = "/root/testdata/sf0.001"


def _frame(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "a", None),
            (3, None, 30.0),
            (3, "b", 20.0),
        ],
        "id long, s string, v double",
    )


def test_profile_exact_stats(spark):
    rows = {r["column"]: r for r in profile_columns(_frame(spark), exact_distinct=True).collect()}
    assert set(rows) == {"id", "s", "v"}
    for r in rows.values():
        assert r["n_rows"] == 4
    assert rows["id"]["n_nulls"] == 0 and rows["id"]["n_distinct"] == 3
    assert rows["id"]["min_str"] == "1" and rows["id"]["max_str"] == "3"
    assert rows["id"]["mean_val"] == pytest.approx(2.25)
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["s"]["min_str"] == "a" and rows["s"]["max_str"] == "b"
    assert rows["s"]["mean_val"] is None  # non-numeric: no mean
    assert rows["v"]["n_nulls"] == 1 and rows["v"]["n_distinct"] == 3
    assert rows["v"]["mean_val"] == pytest.approx(20.0)


def test_profile_subset_and_approx_mode(spark):
    out = profile_columns(_frame(spark), ["id"]).collect()
    assert len(out) == 1 and out[0]["column"] == "id"
    # HLL on 3 distinct values is exact in practice
    assert out[0]["n_distinct"] == 3


def test_profile_single_aggregation_pass(spark):
    # The whole profile must be ONE partial+final aggregation: a second
    # scan or a join would show up as extra Exchanges/Joins.
    import re

    plan = plan_text(profile_columns(_frame(spark), ["id", "s"]))
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_profile_validation(spark):
    with pytest.raises(KeyError, match="nope"):
        profile_columns(_frame(spark), ["nope"])
    with pytest.raises(ValueError, match="no columns"):
        profile_columns(_frame(spark), [])


def test_cli_profile(spark, tmp_path):
    from proyecto_final_de_big_data_spark.cli import main

    out = str(tmp_path / "prof")
    rc = main(
        [
            "profile",
            "--master", "local[2]",
            "--input", f"{SF}/documents.parquet",
            "--cols", "doc_id,lang",
            "--exact-distinct",
            "--output", out,
        ]
    )
    assert rc == 0
    back = {r["column"]: r for r in spark.read.parquet(out).collect()}
    assert set(back) == {"doc_id", "lang"}
    assert back["doc_id"]["n_nulls"] == 0
    assert back["doc_id"]["n_distinct"] == back["doc_id"]["n_rows"]


def test_profile_handles_awkward_column_names(spark):
    df = spark.createDataFrame([(1, 2)], ["o'clock", "back`tick"])
    rows = {r["column"]: r for r in profile_columns(df, exact_distinct=True).collect()}
    assert set(rows) == {"o'clock", "back`tick"}
    assert rows["o'clock"]["min_str"] == "1"
    assert rows["back`tick"]["max_str"] == "2"


def test_histogram_int_bins_exact(spark):
    from proyecto_final_de_big_data_spark.operators.profile import histogram_int

    df = spark.createDataFrame([(i,) for i in range(100)], "v long")
    out = {r["bin"]: r for r in histogram_int(df, "v", 4, 0, 99).collect()}
    assert set(out) == {0, 1, 2, 3}
    for b in range(4):
        assert out[b]["n_rows"] == 25
        assert out[b]["min_val"] == b * 25 and out[b]["max_val"] == b * 25 + 24


def test_histogram_int_drops_out_of_range_and_validates(spark):
    from proyecto_final_de_big_data_spark.operators.profile import histogram_int

    df = spark.createDataFrame([(-5,), (0,), (9,), (10,), (50,)], "v long")
    out = histogram_int(df, "v", 2, 0, 9).collect()
    assert sum(r["n_rows"] for r in out) == 2  # -5, 10, 50 dropped
    with pytest.raises(ValueError, match="n_bins"):
        histogram_int(df, "v", 0, 0, 9)
    with pytest.raises(ValueError, match="hi"):
        histogram_int(df, "v", 2, 9, 0)


def test_histogram_int_exact_past_double_precision(spark):
    # Regression: (hi-lo+1)*n_bins beyond 2^53 — double-division binning
    # truncated v=3374116741 into bin-1; `div` must bin exactly.
    from proyecto_final_de_big_data_spark.operators.profile import histogram_int

    lo, hi, n_bins, v = 0, 6422844798, 482637354, 3374116741
    span = hi - lo + 1
    df = spark.createDataFrame([(v,)], "x long")
    out = histogram_int(df, "x", n_bins, lo, hi).collect()
    assert len(out) == 1
    assert out[0]["bin"] == (v * n_bins) // span
