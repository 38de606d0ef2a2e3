"""PMI collocations — top-k adjacent word pairs that co-occur far more
than chance (Church & Hanks, Computational Linguistics 1990 — public
literature): the phrase-mining readout a tokenizer/vocabulary designer
runs over a pretraining corpus before committing merges ("new york" /
"machine learning" earn vocabulary slots; "of the" does not, because
PMI normalizes away raw frequency). The within-corpus association
sibling of :mod:`.keyness`'s between-slice G² ranking.

    pmi(x, y) = ln( P(x,y) / (P(x)·P(y)) )
              = ln( c_xy · N · N / (B · c_x · c_y) )

with c_x unigram counts over N total tokens and c_xy ADJACENT bigram
counts over B total bigrams — evaluated in exactly that literal IEEE
order (integer counts into one double expression), so a SQL oracle
restates it term-for-term. ``min_count`` floors the bigram count
(PMI's classic failure mode is hapax pairs scoring highest — two
typos seen once have maximal PMI), and ties break (w1, w2) ascending.

Scale shape (100 TB): bigrams build as a map-only ``arrays_zip`` of
two token-array slices inside the scan stage (no posexplode self-join
— pairing happens per document in the projection), then ONE
bigram-keyed count aggregation (map-side combined, the tf-idf shuffle
shape) whose vocabulary-scale result is lazy-checkpointed because it
is read twice — the B total is Σ n_pair over the UNFILTERED pair
counts, so the bigram explode never runs a second data-scale pass;
unigram counts are ONE term-keyed aggregation over a second scan of
the pruned text column (two scans of one column beat materializing
the token stream); totals are two 1-row frames crossJoined in
(broadcast by construction); top-k is TakeOrderedAndProject — rank
assigned after the k-row limit, never a vocabulary-wide window.

Extension surface — the reference has no text-statistics stage;
extension per SURVEY §8, the collocation sibling of
:mod:`.keyness`/:mod:`.tfidf`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..utils.caching import pin
from .normalize_text import ws_lower_tokens


def pmi_collocations(
    docs: DataFrame,
    text_col: str,
    k: int = 20,
    min_count: int = 5,
    decimals: int = 6,
) -> DataFrame:
    """Top-``k`` adjacent-bigram collocations: ``(w1, w2, n_pair,
    n_w1, n_w2, pmi, rank)`` ordered by (PMI desc, w1 asc, w2 asc).
    Bigrams never cross document boundaries; NULL-text documents
    contribute nothing; pairs with fewer than ``min_count``
    occurrences are dropped BEFORE ranking (the hapax-pair noise
    floor). An empty or single-token-only corpus yields an empty
    frame (honest — no pair evidence is not an error)."""
    if k < 1:
        raise ValueError(f"pmi_collocations needs k >= 1; got {k}")
    if min_count < 1:
        raise ValueError(f"pmi_collocations needs min_count >= 1; got {min_count}")

    toks = ws_lower_tokens(text_col)
    # Per-document adjacent pairs as a scan-stage projection:
    # zip(tokens[1:n-1], tokens[2:n]) — empty when fewer than 2 tokens.
    n_tok = F.size(toks)
    pairs_col = F.arrays_zip(
        F.slice(toks, 1, F.greatest(n_tok - 1, F.lit(0))).alias("w1"),
        F.slice(toks, 2, F.greatest(n_tok - 1, F.lit(0))).alias("w2"),
    )
    bigram = docs.select(F.explode(pairs_col).alias("__p")).select(
        F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2")
    )
    # The pair-count frame is read twice (the B total + the scored
    # ranking) — lazy-checkpoint it so the corpus explode runs ONCE
    # (the llr_keyness barrier discipline; B = Σ n_pair over the
    # UNFILTERED pair counts equals the raw bigram count exactly, so
    # no second data-scale pass is needed for the total).
    pair_counts_all = pin(
        bigram.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    b_frame = pair_counts_all.agg(
        F.sum("n_pair").cast("double").alias("__B")
    )
    pair_counts = pair_counts_all
    if min_count > 1:
        pair_counts = pair_counts_all.filter(F.col("n_pair") >= min_count)

    uni = docs.select(F.explode(toks).alias("term"))
    uni_counts = uni.groupBy("term").agg(F.count(F.lit(1)).alias("__c"))
    n_frame = uni_counts.agg(
        F.sum("__c").cast("double").alias("__N")
    )

    w1c = uni_counts.select(
        F.col("term").alias("w1"), F.col("__c").alias("n_w1")
    )
    w2c = uni_counts.select(
        F.col("term").alias("w2"), F.col("__c").alias("n_w2")
    )
    joined = (
        pair_counts.join(w1c, "w1")
        .join(w2c, "w2")
        .crossJoin(F.broadcast(n_frame))
        .crossJoin(F.broadcast(b_frame))
    )
    pmi = F.log(
        F.col("n_pair").cast("double")
        * F.col("__N")
        * F.col("__N")
        / (
            F.col("__B")
            * F.col("n_w1").cast("double")
            * F.col("n_w2").cast("double")
        )
    )
    scored = joined.select(
        "w1", "w2", "n_pair", "n_w1", "n_w2", pmi.alias("__pmi_raw")
    )
    top = scored.orderBy(
        F.desc("__pmi_raw"), F.asc("w1"), F.asc("w2")
    ).limit(k)
    w = Window.orderBy(F.desc("__pmi_raw"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "w1",
        "w2",
        "n_pair",
        "n_w1",
        "n_w2",
        F.round("__pmi_raw", decimals).alias("pmi"),
        "rank",
    )
