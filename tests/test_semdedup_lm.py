"""Unit tests for SemDeDup semantic dedup (operators/semdedup.py) and
the corpus-fit unigram LM quality scorer (operators/lm_score.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.lm_score import (
    score_documents,
    unigram_counts,
    unigram_vocab,
)
from proyecto_final_de_big_data_spark.operators.semdedup import (
    centroids_by_ids,
    semantic_dedup_pairs,
)


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------


def _corpus(spark):
    """Two well-separated directions plus near-twins of each:
    ids 0/1 are the (orthogonal) centroid seeds; 10 is a twin of 0,
    11 a twin of 1, 12 an unrelated diagonal direction."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (10, [2.0, 0.02, 0.0, 0.0]),   # cos vs 0 ≈ 0.99995
        (11, [0.0, 3.0, 0.03, 0.0]),   # cos vs 1 ≈ 0.99995
        (12, [1.0, 1.0, 1.0, 1.0]),    # far from both centroids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_pairs_within_cell(spark):
    corpus = _corpus(spark)
    cents = centroids_by_ids(corpus, [0, 1])
    assert len(cents) == 2 and all(
        abs(sum(x * x for x in c) - 1.0) < 1e-12 for c in cents
    )
    pairs = semantic_dedup_pairs(corpus, cents, threshold=0.95)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 10), (1, 11)}

    # A ~ B and B ~ C but A ~ C below threshold: only the two
    # above-threshold pairs of the chain form.
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.2]),   # cos(1,2)=0.981, cos(2,3)=0.981, cos(1,3)=0.928
        (3, [1.0, 0.41]),
    ]
    chain = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dedup_pairs(chain, centroids_by_ids(chain, [1]), threshold=0.95)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2), (2, 3)}


def test_centroids_by_ids_missing_id_raises(spark):
    corpus = _corpus(spark)
    with pytest.raises(ValueError, match="99"):
        centroids_by_ids(corpus, [0, 99])


def test_centroids_by_ids_respects_caller_order(spark):
    # cell index i must correspond to ids[i]
    corpus = _corpus(spark)
    cents = centroids_by_ids(corpus, [1, 0])
    assert cents[0] == [0.0, 1.0, 0.0, 0.0]  # id 1 first, as asked
    assert cents[1] == [1.0, 0.0, 0.0, 0.0]


def test_centroids_by_ids_duplicate_ids_raise(spark):
    corpus = _corpus(spark)
    with pytest.raises(ValueError, match="duplicate"):
        centroids_by_ids(corpus, [0, 0])


def test_scale_invariant_assignment_keeps_twins_same_cell(spark):
    # A scaled twin (v and 1.01*v) must always land in its original's
    # cell — the property the semantic_dedup_profile gate leans on.
    base = _corpus(spark)
    twins = base.select(
        (F.col("vec_id") + 100).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.01).alias("embedding"),
    )
    corpus = base.unionByName(twins)
    cents = centroids_by_ids(corpus, [0, 1])
    pairs = semantic_dedup_pairs(corpus, cents, threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # every base row pairs with its +100 twin (cosine exactly 1.0)
    assert {(i, i + 100) for i in [0, 1, 10, 11, 12]} <= got


# ---------------------------------------------------------------------------
# Unigram LM scoring
# ---------------------------------------------------------------------------


def _docs(spark):
    rows = [
        (1, "a a b"),
        (2, "a b c"),
        (3, "z z z z"),   # all-OOV under a {a,b}-sized vocab
        (4, "   "),       # tokenizes to nothing -> no score row
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_unigram_vocab_topk_deterministic(spark):
    docs = _docs(spark)
    counts = unigram_counts(docs, "text")
    got = {r["word"]: r["c"] for r in counts.collect()}
    assert got == {"a": 3, "b": 2, "c": 1, "z": 4}
    # k=2: z(4), a(3)
    top2 = {r["word"] for r in unigram_vocab(counts, 2).collect()}
    assert top2 == {"z", "a"}
    # tie at c=1 would break on word asc; here counts are distinct
    top3 = {r["word"] for r in unigram_vocab(counts, 3).collect()}
    assert top3 == {"z", "a", "b"}


def test_score_documents_matches_hand_computation(spark):
    docs = _docs(spark)
    vocab = unigram_vocab(unigram_counts(docs, "text"), 2)  # {z:4, a:3}
    scored = {r["doc_id"]: r for r in score_documents(docs, vocab, "doc_id", "text").collect()}
    # N=7, V=2 -> denominator 10
    denom = 10.0
    lp = {"z": math.log(5 / denom), "a": math.log(4 / denom), "OOV": math.log(1 / denom)}
    # doc 1: a a b -> [a, a, OOV]
    exp1 = -(2 * lp["a"] + lp["OOV"]) / 3
    assert scored[1]["n_tokens"] == 3 and scored[1]["n_oov"] == 1
    assert abs(scored[1]["doc_nll"] - exp1) < 1e-12
    # doc 3: all z, zero OOV, nll = -log(0.5)
    assert scored[3]["n_oov"] == 0
    assert abs(scored[3]["doc_nll"] + lp["z"]) < 1e-12
    # doc 4 tokenizes to nothing -> absent
    assert 4 not in scored
    # in-distribution text must score LOWER than the OOV-heavy doc
    assert scored[3]["doc_nll"] < scored[2]["doc_nll"]


def test_score_documents_carry_cols(spark):
    docs = _docs(spark).withColumn("lang", F.lit("en"))
    vocab = unigram_vocab(unigram_counts(docs, "text"), 4)
    out = score_documents(docs, vocab, "doc_id", "text", carry_cols=["lang"])
    assert set(out.columns) == {"doc_id", "lang", "n_tokens", "n_oov", "doc_nll"}
    assert {r["lang"] for r in out.collect()} == {"en"}
