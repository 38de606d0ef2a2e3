"""Exact duplicate-SPAN extraction and removal — the Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better",
arXiv:2107.06499) ExactSubstr posture, re-expressed as distributed
DataFrame algebra instead of a single-node suffix array.

Whole-document dedup (operators/dedup.py) drops documents; winnowing
(operators/winnow.py) DETECTS partial overlap. This module closes the
loop: it LOCALIZES the duplicated character spans themselves and
strips them, keeping one canonical occurrence — the "remove all but
the first copy of every long repeated substring" training-data
hygiene step.

Semantics (cross-document, exact, deterministic):

- A position ``p`` in document ``d`` is *duplicated* when the raw
  length-``min_span`` character gram starting at ``p`` also occurs in
  some document with a SMALLER id — the smallest-id occurrence is the
  canonical keeper (first-occurrence-wins, the ExactSubstr policy made
  deterministic by id order instead of corpus offset).
- Duplicated positions cover ``[p, p + min_span)``; overlapping or
  adjacent covered windows merge into maximal spans. Every repeated
  substring of length >= ``min_span`` is found EXACTLY (each of its
  window starts repeats too); shorter repeats never flag.
- Within-document repetition is out of scope by design
  (operators/quality.py's repetition scores cover it); a gram
  repeated only inside one document marks nothing.

Scale shape (100 TB):

1. **Candidate pruning, not all-docs indexing.** The gram-position
   index is the exact-but-heavy step (one row per character). By
   default it runs ONLY on documents flagged by the winnowing
   fingerprint join (``prefilter=True``): any two documents sharing a
   raw span of length >= ``min_span`` share its normalized form, and
   the winnowing guarantee (shared normalized substring of length >=
   ``w + k - 1`` implies a shared fingerprint) puts both in the
   candidate set — so pruning is LOSSLESS for ``min_span`` >= the
   guarantee threshold, and the expensive index runs on the (small)
   duplicated fraction of the corpus. The no-prefilter path computes
   the identical answer (pytest pins the equality); the gate's DuckDB
   oracle deliberately restates the UNPRUNED brute-force algebra — a
   structurally different computation of the same result.
2. The index itself is a map-only higher-order-function projection
   (sequence/transform over substr + the portable md5 fold), barriered
   with the winnow.py lazy-localCheckpoint discipline so Catalyst
   cannot re-evaluate the text per element.
3. Keeper resolution is ONE pass over the index — a whole-partition
   window min keyed on the gram hash (``id > min(id)`` flags exactly
   the non-keeper occurrences of cross-document grams), so the
   per-character index is shuffled once and never joined back.
4. Span merge is the classic islands window PARTITIONED BY DOCUMENT —
   per-task work is bounded by one document's duplicated positions,
   never corpus-scale.
5. Stripping is a per-row fold (``F.aggregate``) over each document's
   sorted span array — map-only, O(spans) per row.

Extension surface — the reference has no dedup of any kind
(`/root/reference` computes only descriptive marts, README.md:60-90);
extension per SURVEY §8.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..utils.caching import pin
from .mixing import _md5_fold
from .winnow import winnowing_fingerprints


def gram_position_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int,
) -> DataFrame:
    """``(id, pos, gram_hash)`` — every raw-text character position's
    length-``gram_len`` gram, hashed with the portable md5 fold.
    Positions are 1-based (Spark/SQL ``substr`` convention); documents
    shorter than ``gram_len`` yield no rows. One row per character —
    run this on pruned candidates, not the whole corpus (see module
    docstring)."""
    if gram_len < 1:
        raise ValueError(f"gram_position_index needs gram_len >= 1; got {gram_len}")
    txt = F.col(text_col)
    # Barrier (the winnow.py discipline): without it CollapseProject
    # inlines the text into the per-position lambda and the substr/md5
    # pair re-evaluates the projection per element.
    from .winnow import spread_for_fanout

    base = pin(
        spread_for_fanout(
            df.filter(txt.isNotNull() & (F.length(txt) >= gram_len)).select(
                F.col(id_col).alias("id"), txt.alias("__t")
            ),
            "id",
        )
    )
    t = F.col("__t")
    positions = F.sequence(F.lit(1), F.length(t) - gram_len + 1)
    grams = F.transform(
        positions,
        lambda p: F.struct(
            p.alias("pos"), _md5_fold(t.substr(p, F.lit(gram_len))).alias("h")
        ),
    )
    return base.select("id", F.explode(grams).alias("g")).select(
        "id", F.col("g.pos").alias("pos"), F.col("g.h").alias("gram_hash")
    )


def _winnow_candidates(
    df: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """Distinct ids of documents sharing at least one winnowing
    fingerprint with another document — the lossless candidate set for
    cross-document span duplication (both members of every duplicated
    pair appear; see module docstring for the guarantee).

    Computed WITHOUT materializing pairs (r12): the candidate SET is
    exactly "ids owning a fingerprint that >= 2 distinct ids own", i.e.
    ``min(id) != max(id)`` per fingerprint group — linear in
    fingerprint rows. The pre-r12 formulation
    (``shared_fingerprint_pairs`` + union of both sides) materialized
    the full inverted-index self-join first: QUADRATIC per fingerprint
    group, and a single boilerplate fingerprint shared corpus-wide
    turns that into all-pairs — the r12 sf1 spot-probe measured 147.5M
    joined rows (C(4895,2) = 11.9M pairs) and a 480 MB pair exchange
    feeding a set that collapses to 4.9k ids. Set equality with the
    pair form is pinned in tests/test_spandedup.py; per-pair detail
    remains available via shared_fingerprint_pairs for callers that
    need the pairs themselves."""
    fps = pin(winnowing_fingerprints(df, id_col, text_col, k=k, w=w))
    # Shape note (guide §2.5 — hot keys): the min/max runs as a groupBy
    # + LEFT SEMI join back, NOT a fingerprint-partitioned window. A
    # boilerplate fingerprint shared corpus-wide is a hot key; partial
    # (map-side) aggregation collapses it before the wire, and AQE's
    # skew-join handling can split the probe side's hot partition —
    # neither applies to a window, whose hot partition must sort on one
    # task. The fingerprint frame is pinned so the semi-join's probe
    # pass reuses the explode instead of re-running it.
    shared = (
        fps.groupBy("fingerprint")
        .agg(F.min("id").alias("__mn"), F.max("id").alias("__mx"))
        .filter(F.col("__mn") != F.col("__mx"))
        .select("fingerprint")
    )
    return fps.join(shared, "fingerprint", "left_semi").select("id").distinct()


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_span: int = 50,
    prefilter: bool = True,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Maximal cross-document duplicated spans:

    ``(id, span_start, span_end, span_len)`` — 1-based inclusive
    character ranges of every merged run of duplicated
    ``min_span``-gram windows in documents that are NOT the gram's
    canonical keeper (smallest id wins). The keeper document itself is
    never marked, so stripping the returned spans leaves exactly one
    occurrence of every repeated substring.

    ``prefilter=True`` (default, the scale path) restricts the
    gram-position index to winnowing-flagged candidates — lossless
    when the normalized form of any ``min_span``-long raw span is at
    least ``w + k - 1`` characters (trivially true for natural text;
    a span made almost entirely of stripped punctuation could evade
    the prefilter, so pass ``prefilter=False`` for adversarial
    corpora). Ids must be orderable (the keeper rule sorts on them).
    """
    if min_span < 2:
        raise ValueError(f"duplicate_spans needs min_span >= 2; got {min_span}")
    scoped = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    if prefilter:
        cands = _winnow_candidates(df, id_col, text_col, k=k, w=w)
        # Pinned: gram_position_index's fan-out sizing reads the input's
        # partition count, which runs the semi-join's stages once and
        # its pin a second time when the input is not itself pinned.
        scoped = pin(scoped.join(cands, "id", "left_semi"))
    gidx = gram_position_index(scoped, "id", "__t", min_span)
    # Keeper resolution fused into ONE pass over the gram index (r11
    # optimization; guide §2.4 — two operations keyed the same way
    # share one exchange). The previous join-back formulation
    # (groupBy(gram_hash) → min/countDistinct, then gidx ⋈ keepers on
    # gram_hash) planned the one-row-per-character index subtree TWICE
    # (agg input + join probe side), so the per-character md5 explode
    # ran twice and the index crossed the wire twice. The window min is
    # algebraically identical: ``id > min(id) OVER (PARTITION BY
    # gram_hash)`` holds exactly when the gram occurs in >= 2 distinct
    # documents AND this occurrence is not in the smallest-id (keeper)
    # document — a gram confined to one document has min(id) == id at
    # every position, so nothing flags, same as the old __ndocs >= 2.
    # Skew exposure is unchanged (both shapes key on gram_hash).
    keeper = F.min("id").over(Window.partitionBy("gram_hash"))
    dup_pos = (
        gidx.withColumn("__keeper", keeper)
        .filter(F.col("id") > F.col("__keeper"))
        .select("id", "pos")
    )
    # (id, pos) is unique by construction — one gram per position and
    # keepers is keyed on gram_hash — so no distinct is needed here.
    # Islands merge, partitioned per document: a window [pos, pos+L-1]
    # joins the running span when it overlaps or touches it.
    end_of = F.col("pos") + F.lit(min_span - 1)
    prev_max_end = F.max(end_of).over(
        Window.partitionBy("id").orderBy("pos").rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    flagged = dup_pos.select(
        "id",
        "pos",
        F.when(
            prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1), 1
        )
        .otherwise(0)
        .alias("__new_island"),
    )
    islands = flagged.select(
        "id",
        "pos",
        F.sum("__new_island")
        .over(
            Window.partitionBy("id").orderBy("pos").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("__island"),
    )
    return (
        islands.groupBy("id", "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(min_span - 1)).alias("span_end"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def strip_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "clean_text",
) -> DataFrame:
    """``df`` plus ``out_col``: ``text_col`` with each document's
    spans (1-based inclusive ``span_start``/``span_end``, sorted,
    non-overlapping — :func:`duplicate_spans`' output contract)
    removed by a per-row fold over the span array. Documents with no
    spans keep their text verbatim. Map-only after one answer-scale
    span aggregation + a left join."""
    # Long-normalized span bounds: the fold accumulator's type must
    # match exactly (no lambda-body coercion in Spark), and callers may
    # hand spans with either int or bigint bounds.
    per_doc = spans.groupBy(F.col("id").alias("__sid")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("span_start").cast("long").alias("span_start"),
                    F.col("span_end").cast("long").alias("span_end"),
                )
            )
        ).alias("__spans")
    )
    joined = df.join(per_doc, df[id_col] == per_doc["__sid"], "left").drop(
        "__sid"
    )
    txt = F.col(text_col)

    def _merge(acc: Column, s: Column) -> Column:
        return F.struct(
            (s["span_end"] + 1).alias("nxt"),
            F.concat(
                acc["acc"], txt.substr(acc["nxt"], s["span_start"] - acc["nxt"])
            ).alias("acc"),
        )

    folded = F.aggregate(
        "__spans",
        F.struct(F.lit(1).cast("long").alias("nxt"), F.lit("").alias("acc")),
        _merge,
        lambda acc: F.concat(
            acc["acc"],
            txt.substr(
                acc["nxt"], F.length(txt).cast("long") - acc["nxt"] + 1
            ),
        ),
    )
    clean = F.when(F.col("__spans").isNull(), txt).otherwise(folded)
    return joined.withColumn(out_col, clean).drop("__spans")


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_span: int = 50,
    prefilter: bool = True,
    k: int = 5,
    w: int = 4,
    out_col: str = "clean_text",
) -> DataFrame:
    """One-call composition: :func:`duplicate_spans` then
    :func:`strip_spans` — every repeated substring of length >=
    ``min_span`` survives in exactly its smallest-id document."""
    spans = duplicate_spans(
        df, id_col, text_col, min_span=min_span, prefilter=prefilter, k=k, w=w
    )
    return strip_spans(df, spans, id_col, text_col, out_col=out_col)
