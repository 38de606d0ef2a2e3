"""DSIR-style data selection via hashed n-gram importance weights
(Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023 — public literature): score every raw
document by how much more likely its hashed n-gram bag is under a
TARGET corpus' distribution than under the raw corpus' own — the
cheap, training-free way to pick "looks like my target domain" data
out of a crawl.

Algebra (all closed-form, no model training):

1. **Features**: word n-grams hashed into ``buckets`` integer buckets
   with the portable md5 fold (engine-reproducible, unlike xxhash64's
   type sensitivity) — the fixed-dimension bag that makes two corpora
   comparable regardless of vocabulary.
2. **Two smoothed categorical distributions** over buckets: target
   ``p`` and raw ``q``, Laplace-smoothed
   ``p_b = (count_b + α) / (total + α·B)`` so unseen buckets carry a
   finite log mass.
3. **Per-document importance**: ``score(d) = Σ_b count_d(b) ·
   (log p_b − log q_b)`` — the bag-of-ngrams log-likelihood ratio.
   Positive ⇒ the document's n-grams are more target-like than the
   raw average.
4. **Selection**: deterministic top-k here (the paper's Gumbel-noise
   resampling randomizes step 4 only; compose with
   ``split.weighted_sample_k`` for the deterministic A-ES equivalent).

Scale shape (100 TB): feature hashing is a map-only HOF projection +
explode; both distributions are ONE aggregation each at bucket
cardinality (B rows, map-side combined — KB-scale results); the
log-ratio table is a broadcast join onto the per-document feature
frame; the score is one per-document reduce. The target corpus is
usually tiny (a quality sample) — its distribution fit costs nothing;
the raw corpus is touched exactly twice (once to fit q, once to
score), both passes shuffle only B-cardinality partials. Top-k
compiles to TakeOrderedAndProject.

Extension surface — the reference has no data-selection surface
(`/root/reference` computes only descriptive marts, README.md:60-90);
extension per SURVEY §8.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils.caching import pin
from .mixing import _md5_fold


def hashed_ngram_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    buckets: int = 1024,
) -> DataFrame:
    """``(id, bucket, cnt)`` — whitespace-tokenized, lowercased word
    ``n``-grams hashed into ``buckets`` md5-fold buckets. Documents
    with fewer than ``n`` tokens yield no rows."""
    if n < 1:
        raise ValueError(f"hashed_ngram_counts needs n >= 1; got {n}")
    if buckets < 2:
        raise ValueError(f"hashed_ngram_counts needs buckets >= 2; got {buckets}")
    from .normalize_text import ws_lower_tokens
    from .winnow import spread_for_fanout

    # Spread the gram fan-out across cores before the per-gram work
    # (the winnow.py discipline, r11 optimization): this stage does
    # O(len) work per input character but inherits the SCAN's split
    # count, so a corpus that fits one split would hash every gram on
    # one core (measured: dsir's 14 stages all single-task). The
    # spread keys on id, so the (id, bucket) aggregation reuses the
    # partitioning and inserts no second exchange. The token array is
    # then pinned behind a lazy-localCheckpoint barrier (the
    # winnowing_fingerprints pattern): without it CollapseProject
    # inlines the tokenize into the per-gram slice lambda and the
    # split re-runs per gram — O(len²) per document.
    base = pin(
        spread_for_fanout(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
        .select("id", ws_lower_tokens(text_col).alias("__w"))
    )
    words = F.col("__w")
    # sequence(1, 0) DESCENDS in Spark (it never returns empty), so
    # the too-short-document case must be guarded explicitly.
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - n + 1),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        base.select(
            "id",
            F.explode(grams).alias("__g"),
        )
        .select("id", F.pmod(_md5_fold(F.col("__g")), F.lit(buckets)).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_scores(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """``(id, n_ngrams, score)`` for every raw document with at least
    one n-gram: the bag-of-hashed-ngrams log-likelihood ratio of
    target vs raw (see module docstring). Deterministic; ``score`` is
    rounded to 6 decimals (integer counts × fixed logs — the house
    bit-stability posture).

    Everything is ONE lazy plan — the two distributions' totals ride
    as 1-row scalar frames (the house crossJoin pattern), never a
    driver action, so registering/collecting costs a single job and
    the gram pipeline is never re-evaluated for a count. The raw
    per-document bucket counts feed BOTH the q distribution and the
    scoring join, so they are pinned with a lazy ``localCheckpoint``
    (the winnow.py barrier discipline): the raw corpus' explode +
    md5-fold + per-doc aggregation — the expensive half at corpus
    scale — runs once instead of twice, at the cost of materializing
    the (doc, bucket) count frame (≤ corpus-scale, far below the
    exploded gram stream it replaces)."""
    if alpha <= 0:
        raise ValueError(f"dsir_scores needs alpha > 0; got {alpha}")
    raw_counts = pin(hashed_ngram_counts(raw, id_col, text_col, n, buckets))
    tgt_counts = hashed_ngram_counts(target, id_col, text_col, n, buckets)
    p = tgt_counts.groupBy("bucket").agg(F.sum("cnt").alias("__pc"))
    q = raw_counts.groupBy("bucket").agg(F.sum("cnt").alias("__qc"))
    # Smoothing denominators as 1-row scalar frames (coalesce guards
    # the empty-corpus case).
    pdn = p.agg(
        (F.coalesce(F.sum("__pc"), F.lit(0)) + F.lit(alpha * buckets)).alias("__pdn")
    )
    qdn = q.agg(
        (F.coalesce(F.sum("__qc"), F.lit(0)) + F.lit(alpha * buckets)).alias("__qdn")
    )
    # Every raw bucket appears in q by construction, so a full outer
    # join keyed from q's side covers all buckets the scoring join can
    # ask for; absent target buckets smooth to alpha/pdn.
    ratio = (
        p.join(q, "bucket", "full_outer")
        .crossJoin(F.broadcast(pdn))
        .crossJoin(F.broadcast(qdn))
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("__pc"), F.lit(0)) + F.lit(alpha)) / F.col("__pdn"))
                - F.log((F.coalesce(F.col("__qc"), F.lit(0)) + F.lit(alpha)) / F.col("__qdn"))
            ).alias("logratio"),
        )
    )
    return (
        raw_counts.join(F.broadcast(ratio), "bucket")
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_ngrams"),
            F.round(F.sum(F.col("cnt") * F.col("logratio")), 6).alias("score"),
        )
    )


def dsir_select_topk(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n: int = 2,
    buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """The top-``k`` most target-like raw documents:
    ``(id, n_ngrams, score, rank)``, ranked by (score desc, id asc) —
    fully deterministic selection (compose ``split.weighted_sample_k``
    over the scores for the paper's resampling variant)."""
    from .rollup import argmax_per_group

    scores = dsir_scores(raw, target, id_col, text_col, n, buckets, alpha)
    top = argmax_per_group(
        scores.withColumn("__all", F.lit(1)),
        ["__all"],
        [F.desc("score"), F.asc("id")],
        n=k,
    )
    return top.select("id", "n_ngrams", "score", "rank")
