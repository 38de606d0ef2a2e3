"""Unit tests for the round-5 curation operators: PII redaction,
repetition signals, tf-idf term scoring, KMeans clustering plumbing.

Oracle parity for the four registered queries is exercised by
tests/test_oracle_parity.py (whole-catalog sweep); these tests pin the
operator semantics directly on hand-built rows where the expected
values are computable by eye.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.operators.pii import (
    PII_PATTERNS,
    redact_pii,
    with_pii_stats,
)
from proyecto_final_de_big_data_spark.operators.quality import (
    bigrams,
    distinct_bigram_ratio,
    distinct_word_ratio,
    with_repetition_stats,
    words,
)
from proyecto_final_de_big_data_spark.operators.tfidf import top_terms_by_tfidf


def test_pii_redaction_all_categories(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "server at 192.168.0.1 port"),
            (3, "call 555-867-5309 today"),
            (4, "clean text with no pii"),
            (5, "a@b.io and 10.0.0.7 and 123-456-7890"),
        ],
        ["id", "text"],
    )
    out = {r["id"]: r for r in with_pii_stats(df).collect()}
    assert out[1]["n_email"] == 1 and "<EMAIL>" in out[1]["redacted_text"]
    assert "bob" not in out[1]["redacted_text"]
    assert out[2]["n_ipv4"] == 1 and "<IP>" in out[2]["redacted_text"]
    assert out[3]["n_phone"] == 1 and "<PHONE>" in out[3]["redacted_text"]
    assert out[4]["redacted_text"] == "clean text with no pii"
    assert (out[5]["n_email"], out[5]["n_ipv4"], out[5]["n_phone"]) == (1, 1, 1)
    assert out[5]["redacted_text"] == "<EMAIL> and <IP> and <PHONE>"


def test_pii_email_consumed_before_digit_passes(spark):
    # The digits inside an address must not leak into the IP/phone
    # passes after email redaction (category order is load-bearing).
    df = spark.createDataFrame([(1, "x 10a@1.2.3.4.example.com y")], ["id", "text"])
    row = with_pii_stats(df).collect()[0]
    assert row["n_email"] == 1
    assert row["redacted_text"] == "x <EMAIL> y"


def test_redact_pii_idempotent(spark):
    df = spark.createDataFrame([(1, "a@b.io at 10.0.0.7")], ["id", "text"])
    once = df.select(redact_pii("text").alias("t"))
    twice = once.select(redact_pii("t").alias("t"))
    assert once.collect() == twice.collect()
    assert set(PII_PATTERNS) == {"email", "ipv4", "phone"}


def test_repetition_ratios(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),            # 1 distinct word /4; bigrams: "a a" x3 -> 1/3
            (2, "a b c d"),            # all distinct
            (3, "x"),                  # single token: bigram ratio defaults 1.0
            (4, "a b a b a b"),        # words 2/6; bigrams: "a b","b a" -> 2/5
        ],
        ["id", "text"],
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            distinct_word_ratio(words("text")).alias("d1"),
            distinct_bigram_ratio(words("text")).alias("d2"),
            F.size(bigrams(words("text"))).alias("nb"),
        ).collect()
    }
    assert out[1]["d1"] == 0.25 and abs(out[1]["d2"] - 1 / 3) < 1e-12
    assert out[2]["d1"] == 1.0 and out[2]["d2"] == 1.0
    assert out[3]["d2"] == 1.0 and out[3]["nb"] == 0
    assert abs(out[4]["d1"] - 2 / 6) < 1e-12 and abs(out[4]["d2"] - 2 / 5) < 1e-12


def test_repetition_flag(spark):
    df = spark.createDataFrame([(1, "a a a a a"), (2, "v w x y z")], ["id", "text"])
    out = {r["id"]: r["repetitive"] for r in with_repetition_stats(df).collect()}
    assert out == {1: True, 2: False}


def test_repetition_is_projection_only(spark):
    # The scale claim: no Exchange in the per-document scoring plan.
    df = spark.createDataFrame([(1, "a b a")], ["id", "text"])
    plan = with_repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_tfidf_rare_term_outscores_common(spark):
    # 'rare' appears once in one doc; 'common' in every doc. Within g1,
    # the rare term must rank above the ubiquitous one.
    df = spark.createDataFrame(
        [
            (1, "g1", "common rare"),
            (2, "g2", "common"),
            (3, "g2", "common"),
            (4, "g2", "common"),
        ],
        ["doc_id", "grp", "text"],
    )
    top = top_terms_by_tfidf(df, "grp", k=2).collect()
    g1 = [r["word"] for r in sorted((r for r in top if r["grp"] == "g1"), key=lambda r: r["rn"])]
    # Equal tf (1 each) inside g1 -> the df=1 term's idf dominates the
    # df=4 term's.
    assert g1 == ["rare", "common"]
    by_word = {(r["grp"], r["word"]): r for r in top}
    assert by_word[("g1", "rare")]["tfidf"] > by_word[("g1", "common")]["tfidf"]
    assert by_word[("g2", "common")]["tf_count"] == 3


def test_tfidf_k_bound(spark):
    df = spark.createDataFrame(
        [(i, "g", " ".join(f"w{j}" for j in range(10))) for i in range(3)],
        ["doc_id", "grp", "text"],
    )
    assert top_terms_by_tfidf(df, "grp", k=5).count() == 5


def test_kmeans_assign_contract(spark):
    from proyecto_final_de_big_data_spark.ml.clustering import kmeans_assign

    # Two well-separated blobs -> k=2 recovers them exactly.
    rows = [(i, [0.0 + 0.01 * i, 0.0]) for i in range(10)] + [
        (100 + i, [10.0 + 0.01 * i, 10.0]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = kmeans_assign(df, "embedding", k=2, seed=1, max_iter=5).collect()
    lo = {r["cluster"] for r in out if r["vec_id"] < 100}
    hi = {r["cluster"] for r in out if r["vec_id"] >= 100}
    assert len(lo) == 1 and len(hi) == 1 and lo != hi
    assert all(r["cluster"] is not None for r in out)


_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_word = st.text(alphabet="abcdefg", min_size=1, max_size=4)
_pii_bits = st.sampled_from(
    ["bob@mail.example.com", "10.0.0.99", "555-123-4567", "x.y+z@sub.domain.org"]
)


@given(
    docs=st.lists(
        st.lists(_word | _pii_bits, min_size=1, max_size=12).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_pii_redaction_idempotent_and_exhaustive(spark, docs):
    """After one redaction pass no pattern matches remain, so a second
    pass is the identity."""
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["id", "text"])
    once = df.select("id", redact_pii("text").alias("t"))
    counts = once.select(
        *[
            F.size(F.regexp_extract_all("t", F.lit(p), F.lit(0))).alias(k)
            for k, (p, _) in PII_PATTERNS.items()
        ]
    ).collect()
    assert all(r[k] == 0 for r in counts for k in PII_PATTERNS)
    twice = once.select("id", redact_pii(F.col("t")).alias("t"))
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(docs=st.lists(st.lists(_word, min_size=1, max_size=15).map(" ".join), min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_repetition_ratios_bounded_and_exact_on_distinct(spark, docs):
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["id", "text"])
    out = df.select(
        "id",
        "text",
        distinct_word_ratio(words("text")).alias("d1"),
        distinct_bigram_ratio(words("text")).alias("d2"),
    ).collect()
    for r in out:
        toks = r["text"].split()
        assert 0 < r["d1"] <= 1 and 0 < r["d2"] <= 1
        assert (r["d1"] == 1.0) == (len(set(toks)) == len(toks))
