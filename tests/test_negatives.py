"""Deterministic negative sampling (operators/negatives.py)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from proyecto_final_de_big_data_spark.operators.negatives import (
    hash_negative_samples,
)


def _run(spark, pos_rows, item_rows, **kw):
    pos = spark.createDataFrame(pos_rows, "u long, it long")
    items = spark.createDataFrame([(i,) for i in item_rows], "it long")
    return hash_negative_samples(pos, "u", "it", items, **kw).collect()


def test_negatives_never_positive_and_ranks_contiguous(spark):
    pos_rows = [(u, it) for u in range(5) for it in range(u + 1)]
    out = _run(spark, pos_rows, range(20), k=3)
    pos = {(u, it) for u, it in pos_rows}
    per_user = {}
    for r in out:
        assert (r["user"], r["item"]) not in pos
        per_user.setdefault(r["user"], []).append(r["draw_rank"])
    for u, ranks in per_user.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) == 3
    assert set(per_user) == set(range(5))


def test_deterministic_across_runs(spark):
    pos_rows = [(u, u % 7) for u in range(10)]
    a = sorted(map(tuple, _run(spark, pos_rows, range(30), k=4)))
    b = sorted(map(tuple, _run(spark, pos_rows, range(30), k=4)))
    assert a == b
    c = sorted(map(tuple, _run(spark, pos_rows, range(30), k=4, salt="other")))
    assert a != c  # the salt really feeds the draws


def test_blanket_positives_yield_fewer_than_k(spark):
    # user 1 has every item: zero negatives exist, and that is the
    # honest output, not an error.
    pos_rows = [(1, it) for it in range(5)] + [(2, 0)]
    out = _run(spark, pos_rows, range(5), k=3, oversample=10)
    got = {}
    for r in out:
        got.setdefault(r["user"], set()).add(r["item"])
    assert 1 not in got
    assert len(got[2]) == 3 and 0 not in got[2]


def test_duplicate_draws_collapse_to_first_hit(spark):
    # tiny item universe forces repeat draws; items must be distinct
    out = _run(spark, [(1, 0)], range(3), k=2, oversample=20)
    items = [r["item"] for r in out]
    assert len(items) == len(set(items)) == 2
    assert set(items) <= {1, 2}


def test_validation(spark):
    with pytest.raises(ValueError, match="k must"):
        _run(spark, [(1, 0)], range(3), k=0)
    with pytest.raises(ValueError, match="oversample"):
        _run(spark, [(1, 0)], range(3), k=1, oversample=0)


_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    pos=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=25,
    ),
    k=st.integers(min_value=1, max_value=3),
)
@settings(**_SETTINGS)
def test_negative_sampling_never_emits_positives(spark, pos, k):
    from proyecto_final_de_big_data_spark.operators.negatives import (
        hash_negative_samples,
    )

    pdf = spark.createDataFrame(list(set(pos)), "u long, it long")
    items = spark.createDataFrame([(i,) for i in range(10)], "it long")
    out = hash_negative_samples(pdf, "u", "it", items, k=k, oversample=6)
    pos_set = set(pos)
    for r in out.collect():
        assert (r["user"], r["item"]) not in pos_set
        assert 1 <= r["draw_rank"] <= k
