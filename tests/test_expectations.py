"""Data-quality expectations (operators/expectations.py)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from proyecto_final_de_big_data_spark.operators.expectations import (
    foreign_key,
    in_range,
    in_set,
    not_null,
    unique,
    validate,
)


def _frame(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, "a", 100),
            (2, -5.0, "a", 100),    # range violation
            (2, 20.0, "zz", 200),   # dup id + domain violation
            (None, None, "b", 999), # null id; null v is NOT a range violation; dangling fk
        ],
        "id long, v double, cat string, fk long",
    )


def _dim(spark):
    return spark.createDataFrame([(100,), (200,)], "pk long")


def test_validate_counts_each_rule(spark):
    report = {
        r["check"]: (r["n_violations"], r["passed"])
        for r in validate(
            _frame(spark),
            [
                not_null("id"),
                unique("id"),
                in_range("v", 0.0, 100.0),
                in_set("cat", ["a", "b"]),
                foreign_key("fk", _dim(spark), "pk"),
            ],
        ).collect()
    }
    assert report["not_null(id)"] == (1, False)
    # 4 rows, distinct ids {1, 2, None} -> one extra duplicate row
    assert report["unique(id)"][0] >= 1 and not report["unique(id)"][1]
    assert report["in_range(v,0.0,100.0)"] == (1, False)  # NULL v not counted
    assert report["in_set(cat,{a,b})"] == (1, False)
    assert report["foreign_key(fk->pk)"] == (1, False)  # 999 dangles; NULL fk excluded


def test_validate_all_pass_and_fk_null_exclusion(spark):
    df = spark.createDataFrame([(1, 100), (2, None)], "id long, fk long")
    report = validate(
        df, [not_null("id"), unique("id"), foreign_key("fk", _dim(spark), "pk")]
    ).collect()
    assert all(r["passed"] and r["n_violations"] == 0 for r in report)


def test_validate_argument_errors(spark):
    df = _frame(spark)
    with pytest.raises(ValueError, match="no rules"):
        validate(df, [])
    with pytest.raises(ValueError, match="duplicate rule names"):
        validate(df, [not_null("id"), not_null("id")])
    with pytest.raises(ValueError, match="matching column counts"):
        foreign_key(["a", "b"], _dim(df.sparkSession), "pk")


def test_unique_ignores_null_keys(spark):
    # Two NULL ids are NOT duplicates of each other (SQL count(DISTINCT)
    # semantics); pair with not_null to forbid them.
    df = spark.createDataFrame([(None,), (None,), (1,), (1,)], "id long")
    report = {r["check"]: r["n_violations"] for r in validate(df, [unique("id")]).collect()}
    assert report["unique(id)"] == 1  # only the duplicated 1


def test_distinct_rules_on_same_column_do_not_collide(spark):
    df = _frame(spark)
    report = validate(
        df,
        [
            in_set("cat", ["a"]),
            in_set("cat", ["a", "b", "zz"]),
            foreign_key("fk", _dim(spark), "pk"),
        ],
    ).collect()
    assert len(report) == 3  # parameterized names: no duplicate-name error


def test_matches_regex_full_match_and_null_exclusion(spark):
    from proyecto_final_de_big_data_spark.operators.expectations import matches_regex

    df = spark.createDataFrame(
        [("1-URGENT",), ("5-LOW",), ("URGENT",), ("x1-URGENT",), (None,)],
        "pri string",
    )
    report = {
        r["check"]: (r["n_violations"], r["passed"])
        for r in validate(df, [matches_regex("pri", "[1-5]-[A-Z ]+")]).collect()
    }
    # full-match semantics: 'URGENT' (no prefix) and 'x1-URGENT'
    # (leading junk — a bare rlike would accept it) violate; NULL doesn't
    assert report["matches_regex(pri,[1-5]-[A-Z ]+)"] == (2, False)


_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 8)),
            st.one_of(st.none(), st.floats(-50, 150, allow_nan=False)),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_expectations_counts_match_python_reference(spark, rows):
    """validate()'s counts equal a driver-side recomputation for any
    mix of NULLs, duplicates, and out-of-range values."""
    from proyecto_final_de_big_data_spark.operators.expectations import (
        in_range,
        not_null,
        unique,
        validate,
    )

    df = spark.createDataFrame(rows, "id long, v double")
    got = {
        r["check"]: r["n_violations"]
        for r in validate(
            df, [not_null("id"), unique("id"), in_range("v", 0.0, 100.0)]
        ).collect()
    }
    ids = [a for a, _ in rows]
    want_null = sum(1 for a in ids if a is None)
    # unique() ignores NULL keys (SQL count(DISTINCT) semantics): only
    # extra copies among NON-NULL ids are violations.
    non_null = [a for a in ids if a is not None]
    want_dups = len(non_null) - len(set(non_null))
    want_range = sum(1 for _, b in rows if b is not None and (b < 0.0 or b > 100.0))
    assert got["not_null(id)"] == want_null
    assert got["unique(id)"] == want_dups
    assert got["in_range(v,0.0,100.0)"] == want_range
