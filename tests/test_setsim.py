"""Prefix-filtered exact Jaccard join (operators/setsim.py)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.dedup import jaccard_pairs_index
from proyecto_final_de_big_data_spark.operators.setsim import jaccard_prefix_pairs


def _pairs(df_out):
    return sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in df_out.collect()
    )


def test_hand_checked_jaccard(spark):
    # 1-shingles (n=1 => tokens themselves once k>0 path taken with
    # n=1: slice windows of 1 word). A={a,b,c,d}, B={a,b,c,e}:
    # |A∩B|=3, |A∪B|=5 -> J=0.6; C={x,y} disjoint.
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y")], "doc_id long, text string"
    )
    got = _pairs(jaccard_prefix_pairs(df, "doc_id", "text", shingle_n=1, threshold=0.5))
    assert got == [(1, 2, 0.6)]


def test_lossless_vs_inverted_index_on_fixture(spark, sf_dir):
    # The prefix filter must reproduce the full inverted index's output
    # EXACTLY at every threshold (the losslessness theorem, end to end).
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 300)
    )
    for tau in (0.3, 0.5, 0.8):
        full = _pairs(jaccard_pairs_index(docs, "doc_id", "text", 3, tau))
        pref = _pairs(jaccard_prefix_pairs(docs, "doc_id", "text", 3, tau))
        assert pref == full, f"threshold {tau}: prefix filter lost/added pairs"
        assert len(full) > 0 or tau > 0.5  # fixture sanity: low taus find pairs


def test_prefix_filter_is_actually_selective(spark, sf_dir):
    # The point of the operator: candidate join rows from prefixes must
    # be well under the full inverted index's join rows.
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 300)
    )
    from proyecto_final_de_big_data_spark.operators.dedup import with_word_shingles

    tok = with_word_shingles(docs, "text", "__sh", 3).select(
        "doc_id", F.explode("__sh").alias("s")
    )
    full_rows = (
        tok.groupBy("s").count().agg(F.sum(F.col("count") * F.col("count"))).first()[0]
    )
    # reproduce the operator's prefix internally (0.8 threshold)
    from pyspark.sql import Window

    freq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(freq, "s")
    sz = F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("s").asc())
    )
    pref = (
        ranked.withColumn("rn", rn)
        .withColumn("plen", sz - F.ceil(F.lit(0.8) * sz - F.lit(1e-9)) + 1)
        .filter(F.col("rn") <= F.col("plen"))
    )
    pref_rows = (
        pref.groupBy("s").count().agg(F.sum(F.col("count") * F.col("count"))).first()[0]
    )
    assert pref_rows * 5 < full_rows, (pref_rows, full_rows)


def test_threshold_domain_validated(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold"):
        jaccard_prefix_pairs(df, "doc_id", "text", threshold=0.0)
    with pytest.raises(ValueError, match="threshold"):
        jaccard_prefix_pairs(df, "doc_id", "text", threshold=1.5)


def test_short_doc_whole_text_shingle(spark):
    # Docs shorter than n words shingle as the whole text (the
    # with_word_shingles contract) — identical short docs pair at 1.0.
    df = spark.createDataFrame(
        [(1, "hi"), (2, "hi"), (3, "bye")], "doc_id long, text string"
    )
    got = _pairs(jaccard_prefix_pairs(df, "doc_id", "text", shingle_n=3, threshold=0.9))
    assert got == [(1, 2, 1.0)]


# ---------------------------------------------------- containment join


def test_containment_hand_checked_subset(spark):
    from proyecto_final_de_big_data_spark.operators.setsim import (
        containment_pairs,
    )

    # 1-shingles: A = {a,b}, B = {a,b,c,d,e,f}: containment_a = 1.0,
    # containment_b = 2/6; Jaccard = 2/6 would MISS at tau 0.9.
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d e f"), (3, "x y")],
        "doc_id long, text string",
    )
    got = containment_pairs(df, "doc_id", "text", shingle_n=1, threshold=0.9).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["containment_a"] == 1.0
    assert r["containment_b"] == pytest.approx(round(2 / 6, 6))
    assert r["common"] == 2 and r["size_a"] == 2 and r["size_b"] == 6


def test_containment_zero_overlap_never_materializes(spark):
    from proyecto_final_de_big_data_spark.operators.setsim import (
        containment_pairs,
    )

    df = spark.createDataFrame(
        [(1, "a b"), (2, "c d")], "doc_id long, text string"
    )
    assert containment_pairs(df, "doc_id", "text", 1, 0.1).count() == 0


def test_containment_threshold_validated(spark):
    from proyecto_final_de_big_data_spark.operators.setsim import (
        containment_pairs,
    )

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold"):
        containment_pairs(df, "doc_id", "text", threshold=0.0)


_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_word = st.text(alphabet="abcde", min_size=1, max_size=3)
_doc = st.lists(_word, min_size=1, max_size=10).map(" ".join)


@given(
    docs=st.lists(_doc, min_size=2, max_size=10, unique=True),
    tau=st.sampled_from([0.3, 0.6, 0.9]),
)
@settings(**_SETTINGS)
def test_prefix_filter_lossless_for_any_corpus(spark, docs, tau):
    # The prefix-filter theorem, exercised adversarially: tiny vocab
    # ("abcde"^<=3) forces heavy shingle sharing — exactly the regime
    # where a broken prefix would lose pairs.
    from proyecto_final_de_big_data_spark.operators.dedup import (
        jaccard_pairs_index,
    )
    from proyecto_final_de_big_data_spark.operators.setsim import (
        jaccard_prefix_pairs,
    )

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    full = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in jaccard_pairs_index(df, "doc_id", "text", 2, tau).collect()
    )
    pref = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in jaccard_prefix_pairs(df, "doc_id", "text", 2, tau).collect()
    )
    assert pref == full
