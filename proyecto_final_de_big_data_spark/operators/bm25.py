"""BM25 relevance scoring over a document corpus.

The retrieval sibling of :mod:`.tfidf`: score every document against a
fixed query-term set with Okapi BM25 (the Lucene/Elasticsearch default
ranking function) — idf weighting with the +1 smoothing that keeps it
positive, term-frequency saturation (k1), and document-length
normalization (b). Used in data pipelines for corpus triage ("which
documents are actually about X?") and weak labeling.

Scale shape (100 TB): tokens explode once and feed BOTH the
document-length aggregation and the term statistics; the query-term
filter cuts the tf/df frames to |terms| keys before any shuffle, so
the term join is a broadcast of per-term idf onto the (doc, term)
tf frame. Corpus size and average document length ride along as
broadcast one-row frames — no driver collect. Every aggregation is a
``groupBy`` with map-side partials.

Extension surface — the reference has no relevance-scoring stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils.caching import pin
from .quality import words


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    decimals: int = 6,
) -> DataFrame:
    """``(doc_id, n_terms, score)`` for every document matching at
    least one query term.

    score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)); |D| is the whitespace
    token count, avgdl the mean |D| over documents with ≥1 token, N the
    corpus size. Tokens are lowercased whitespace splits (the
    :func:`..operators.quality.words` contract — mirror with DuckDB's
    ``list_filter(string_split_regex(lower(text), '\\s+'), ...)``).
    """
    if not query_terms:
        raise ValueError("bm25_scores needs at least one query term")
    terms = [t.lower() for t in query_terms]
    k1 = float(k1)
    b = float(b)

    # Document lengths straight off the token ARRAY (F.size) — the
    # explode + groupBy-count formulation shuffled one row per corpus
    # token just to count them, and recomputed the tokenize explode for
    # each consumer (r11 optimization, guide §2.3/§5). The dl > 0
    # filter keeps the old semantics exactly: the exploded groupBy only
    # produced rows for documents with >= 1 token, so avgdl averages
    # over the same document set.
    # Pinned: doclen feeds the avgdl scalar AND the per-doc score
    # join — one tokenize pass, not two.
    doclen = pin(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(words(F.lower(F.col(text_col)))).cast("double").alias("dl"),
        )
        .filter(F.col("dl") > 0)
    )
    avgdl = doclen.agg(F.avg("dl").alias("avgdl"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))

    # Query-term occurrences (the IN-filter pushes below the explode:
    # bm25_relevance_contract claims has("word#", "IN (")). Deliberately
    # NOT pinned: the tf and df aggs each re-run the map-only tokenize —
    # two scans of a projection — and keeping the subtree visible in
    # explain() is worth more than collapsing them here (bm25 queries
    # are ~1 s; contrast the pinned index frames in setsim/dedup where
    # the recompute was the dominant cost).
    qtok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words(F.lower(F.col(text_col)))).alias("word"),
    ).filter(F.col("word").isin(terms))
    tf = qtok.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dfreq = qtok.groupBy("word").agg(
        F.count_distinct("doc_id").cast("double").alias("df")
    )
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "word",
        F.log(
            1.0
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    scored = (
        tf.join(F.broadcast(idf), "word")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "doc_id",
            "word",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("__s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(F.sum("__s"), decimals).alias("score"),
    )
