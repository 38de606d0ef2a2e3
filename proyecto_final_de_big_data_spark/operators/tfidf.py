"""TF-IDF term scoring over a document corpus.

The genuinely-shuffling text operator (unlike the projection-only
signals in ``operators.quality``): tokens explode, then two keyed
aggregations (term frequency per group, document frequency per term)
and one shuffle join on the term. Every aggregation is a
``groupBy`` with map-side partial aggregation, so at 100 TB the
shuffle carries (term, partial-count) pairs, not raw tokens. The corpus
size joins in as a broadcast one-row frame — no driver ``collect``.

Extension surface — the reference has no term-scoring stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..utils.caching import pin
from .quality import words


def top_terms_by_tfidf(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_docs: int | None = None,
) -> DataFrame:
    """Top-``k`` terms per ``group_col`` by smoothed tf-idf.

    idf = ln((N + 1) / (df + 1)) + 1 (scikit-learn's smooth idf);
    score = tf * idf, rounded to 6 decimals BEFORE ranking so the
    (score DESC, term ASC) tie-break is reproducible bit-for-bit by a
    SQL oracle computing the same doubles.

    The exploded token frame feeds BOTH aggregations, so it is pinned
    (lazily: the first action computes it); unpinned, each reference
    re-scans and re-explodes the whole corpus. The result is returned
    lazily and the caller's ``scope()`` releases the pin
    (utils/caching.py).
    """
    tok = pin(df.select(id_col, group_col, F.explode(words(text_col)).alias("word")))
    tf = tok.groupBy(group_col, "word").agg(F.count(F.lit(1)).alias("tf_count"))
    dfreq = tok.groupBy("word").agg(F.count_distinct(F.col(id_col)).alias("df"))
    if n_docs is not None:
        # Caller-supplied corpus size: skips the third reference to df —
        # pass it when df is an expensive derived frame rather than a
        # bare scan (the extra count there replays the whole upstream
        # plan; tokenless docs also make a tok-derived count wrong, so
        # it cannot be inferred from the cached tokens).
        total = df.sparkSession.range(1).select(F.lit(n_docs).alias("n_docs"))
    else:
        total = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf_count")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(group_col, "word", "tf_count", "tfidf", "rn")
    )
