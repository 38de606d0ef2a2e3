"""Weighted systematic sampling (operators/split.py)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


# -- systematic weighted sampling --------------------------------------

from proyecto_final_de_big_data_spark.operators.split import (  # noqa: E402
    systematic_weighted_sample,
)


def test_weighted_sample_size_tracks_budget(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.lit(10).alias("w"), (F.col("id") % 4).alias("s")
    )
    picked = systematic_weighted_sample(df, "w", stride=100, order_col="k", by=["s"])
    # total weight 10000 / stride 100 = 100 expected picks (+- strata edges)
    n = picked.count()
    assert 96 <= n <= 104, n


def test_heavy_rows_always_selected(spark):
    rows = [(1, 1), (2, 500), (3, 1), (4, 500), (5, 1)]
    df = spark.createDataFrame(rows, "k long, w long")
    picked = systematic_weighted_sample(df, "w", stride=100, order_col="k")
    got = {r["k"] for r in picked.collect()}
    assert {2, 4} <= got  # weight >= stride guarantees a crossing


def test_zero_weight_rows_never_selected(spark):
    rows = [(1, 0), (2, 100), (3, 0), (4, 0)]
    df = spark.createDataFrame(rows, "k long, w long")
    picked = systematic_weighted_sample(df, "w", stride=50, order_col="k")
    assert {r["k"] for r in picked.collect()} == {2}


def test_weighted_sample_partitioning_invariant(spark):
    df = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.col("id") % 17 + 1).alias("w"),
        (F.col("id") % 3).alias("s"),
    )
    a = systematic_weighted_sample(df, "w", 40, "k", by=["s"])
    b = systematic_weighted_sample(df.repartition(13), "w", 40, "k", by=["s"])
    assert sorted(r["k"] for r in a.collect()) == sorted(r["k"] for r in b.collect())


def test_weighted_sample_stride_validation(spark):
    df = spark.range(1).select(F.col("id").alias("k"), F.lit(1).alias("w"))
    with pytest.raises(ValueError, match="stride"):
        systematic_weighted_sample(df, "w", 0, "k")


def test_weighted_sample_rejects_float_weights(spark):
    # ADVICE r6: a double weight would make the crossing predicate
    # inconsistent with the long cumsum — reject instead of silently
    # sampling with mixed arithmetic.
    df = spark.range(3).select(F.col("id").alias("k"), F.lit(1.5).alias("w"))
    with pytest.raises(ValueError, match="integral weight"):
        systematic_weighted_sample(df, "w", 10, "k")


def test_weighted_sample_backtick_hostile_column_name(spark):
    # No raw identifier interpolation: a column name that would break
    # unquoted SQL text must work.
    df = spark.createDataFrame(
        [(1, 1), (2, 500), (3, 1)], "k long, `weird name` long"
    )
    picked = systematic_weighted_sample(df, "weird name", stride=100, order_col="k")
    assert {r["k"] for r in picked.collect()} == {2}


# ------------------------------------------- A-ES weighted k-sampling


def test_weighted_sample_k_exact_k_and_deterministic(spark):
    from proyecto_final_de_big_data_spark.operators.split import weighted_sample_k

    df = spark.createDataFrame(
        [(i, float((i % 5) + 1)) for i in range(100)], "id long, w double"
    )
    a = sorted(r["id"] for r in weighted_sample_k(df, "id", "w", 10).collect())
    b = sorted(r["id"] for r in weighted_sample_k(df, "id", "w", 10).collect())
    assert a == b and len(a) == 10 and len(set(a)) == 10
    c = sorted(r["id"] for r in weighted_sample_k(df, "id", "w", 10, salt="x").collect())
    assert a != c  # the salt feeds the draws


def test_weighted_sample_k_weight_proportionality(spark):
    # Two weight classes 10:1 — heavy rows must dominate the sample
    # far beyond their 50% population share.
    from proyecto_final_de_big_data_spark.operators.split import weighted_sample_k

    rows = [(i, 10.0 if i < 200 else 1.0) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = [r["id"] for r in weighted_sample_k(df, "id", "w", 100).collect()]
    heavy = sum(1 for i in got if i < 200)
    assert heavy >= 75  # E[heavy] ~ 91 under A-ES; 75 is far beyond 50


def test_weighted_sample_k_per_group_and_weight_hygiene(spark):
    from proyecto_final_de_big_data_spark.operators.split import weighted_sample_k

    rows = [("a", 1, 1.0), ("a", 2, 1.0), ("a", 3, None), ("a", 4, 0.0),
            ("a", 5, -2.0), ("b", 6, 3.0)]
    df = spark.createDataFrame(rows, "g string, id long, w double")
    got = {}
    for r in weighted_sample_k(df, "id", "w", 2, by=["g"]).collect():
        got.setdefault(r["g"], set()).add(r["id"])
    assert got["a"] <= {1, 2} and len(got["a"]) == 2  # NULL/0/neg excluded
    assert got["b"] == {6}  # fewer than k positive-weight rows -> all of them


def test_weighted_sample_k_validates(spark):
    import pytest

    from proyecto_final_de_big_data_spark.operators.split import weighted_sample_k

    df = spark.createDataFrame([(1, 1.0)], "id long, w double")
    with pytest.raises(ValueError, match="k must"):
        weighted_sample_k(df, "id", "w", 0)


_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda p: p[0] != p[1]),
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_cluster_safe_split_never_splits_a_component(spark, edges):
    """For ANY pair graph, two docs connected by any path land in the
    same split, and every doc appears exactly once."""
    from proyecto_final_de_big_data_spark.operators.split import cluster_safe_split

    docs = spark.createDataFrame([(i,) for i in range(26)], "doc_id long")
    pairs = spark.createDataFrame(edges or [], "id_a long, id_b long")
    out = cluster_safe_split(docs, pairs, "doc_id", {"train": 0.7, "eval": 0.3}).collect()
    splits = {r["doc_id"]: r["split"] for r in out}
    assert len(out) == 26 and set(splits) == set(range(26))

    # driver-side union-find as the reference component labeling
    parent = list(range(26))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        assert splits[a] == splits[b] or find(a) != find(b)
    for x in range(26):
        assert splits[x] == splits[find(x)]


@given(
    weights=st.lists(
        st.integers(min_value=1, max_value=9), min_size=3, max_size=12
    ),
    k=st.integers(min_value=1, max_value=4),
)
@settings(**{**_SETTINGS, "max_examples": 8})
def test_weighted_sample_k_set_properties(spark, weights, k):
    from proyecto_final_de_big_data_spark.operators.split import (
        weighted_sample_k,
    )

    df = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate(weights)], "id long, w double"
    )
    got = [r["id"] for r in weighted_sample_k(df, "id", "w", k).collect()]
    assert len(got) == min(k, len(weights))      # exactly k (or all)
    assert len(set(got)) == len(got)             # without replacement
    again = [r["id"] for r in weighted_sample_k(df, "id", "w", k).collect()]
    assert sorted(got) == sorted(again)          # deterministic
