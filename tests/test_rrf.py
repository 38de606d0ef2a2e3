"""Reciprocal-rank fusion (operators/rrf.py)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from proyecto_final_de_big_data_spark.operators.rrf import rrf_fuse


def _rank(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, rank int")


def test_hand_checked_fusion(spark):
    # k=60. A: d1@1, d2@2, d3@3. B: d2@1, d3@2, d4@3.
    # d2: 1/62 + 1/61 = 0.032524...; d3: 1/63 + 1/62 = 0.032003...
    # d1: 1/61 = 0.016393; d4: 1/63 = 0.015873 -> order d2, d3, d1, d4.
    a = _rank(spark, [(1, 1), (2, 2), (3, 3)])
    b = _rank(spark, [(2, 1), (3, 2), (4, 3)])
    got = {
        r["doc_id"]: r.asDict()
        for r in rrf_fuse([a, b], ["doc_id"]).collect()
    }
    assert [got[d]["fused_rank"] for d in (2, 3, 1, 4)] == [1, 2, 3, 4]
    assert got[2]["rrf_score"] == pytest.approx(1 / 62 + 1 / 61, abs=1e-6)
    assert got[2]["n_lists"] == 2 and got[1]["n_lists"] == 1


def test_weights_shift_the_order(spark):
    a = _rank(spark, [(1, 1), (2, 2)])
    b = _rank(spark, [(2, 1), (1, 2)])
    even = {r["doc_id"]: r["fused_rank"] for r in rrf_fuse([a, b], ["doc_id"]).collect()}
    assert even[1] == 1  # symmetric scores, id tie-break
    skewed = {
        r["doc_id"]: r["fused_rank"]
        for r in rrf_fuse([a, b], ["doc_id"], weights=[0.1, 1.0]).collect()
    }
    assert skewed[2] == 1  # list B dominates


def test_grouped_ranking_partitions(spark):
    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 11, 1)], "q long, doc_id long, rank int"
    )
    got = {
        (r["q"], r["doc_id"]): r["fused_rank"]
        for r in rrf_fuse([a], ["q", "doc_id"], group_cols=["q"]).collect()
    }
    assert got[(1, 10)] == 1 and got[(1, 11)] == 2 and got[(2, 11)] == 1


def test_validation(spark):
    a = _rank(spark, [(1, 1)])
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([], ["doc_id"])
    with pytest.raises(ValueError, match="weights"):
        rrf_fuse([a], ["doc_id"], weights=[1.0, 2.0])
    with pytest.raises(Exception, match="non-positive"):
        rrf_fuse([_rank(spark, [(1, 0)])], ["doc_id"]).collect()
    bad = spark.createDataFrame([(1, None)], "doc_id long, rank int")
    with pytest.raises(Exception, match="NULL or non-positive"):
        rrf_fuse([bad], ["doc_id"]).collect()


def test_top_n_cut(spark):
    a = _rank(spark, [(i, i) for i in range(1, 20)])
    out = rrf_fuse([a], ["doc_id"], top_n=5).collect()
    assert len(out) == 5 and {r["fused_rank"] for r in out} == set(range(1, 6))


_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    ranks_a=st.permutations(list(range(1, 7))),
    ranks_b=st.permutations(list(range(1, 7))),
)
@settings(**_SETTINGS)
def test_rrf_is_rank_only(spark, ranks_a, ranks_b):
    # RRF must depend on RANKS alone: feeding the same rankings with
    # any doc-id relabeling permutes the output identically (scores
    # multiset invariant).
    from proyecto_final_de_big_data_spark.operators.rrf import rrf_fuse

    a = spark.createDataFrame(
        [(i, r) for i, r in enumerate(ranks_a)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(i, r) for i, r in enumerate(ranks_b)], "doc_id long, rank int"
    )
    out = rrf_fuse([a, b], ["doc_id"]).collect()
    scores = sorted(r["rrf_score"] for r in out)
    want = sorted(
        round(1 / (60 + ra) + 1 / (60 + rb), 6)
        for ra, rb in zip(ranks_a, ranks_b)
    )
    import pytest

    assert scores == pytest.approx(want, abs=2e-6)
