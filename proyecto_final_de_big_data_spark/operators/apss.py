"""All-pairs weighted-cosine similarity join (APSS — Bayardo, Ma &
Srikant, "Scaling Up All Pairs Similarity Search", WWW 2007): EXACT
tf-idf cosine pairs above a threshold, the weighted sibling of the
prefix-filtered Jaccard join (:mod:`.setsim`).

Jaccard treats every shingle equally; the cosine join weights terms by
tf·idf, so two documents pair up when they share *distinctive* content
— the standard lexical near-dup / template-detection signal when
set overlap is too blunt.

Candidate pruning is the L2 prefix filter for unit vectors: fix one
GLOBAL term order (document-frequency ascending, ties by term text —
rarest first, exactly the setsim discipline). For a document ``A``
with L2-normalized weights, index only the head of its term list whose
removal would leave a suffix of norm >= τ:

    keep position j  ⟺  ‖suffix_A(j)‖ ≥ τ

**Losslessness**: let ``t*`` be the globally-first term shared by A
and B. Term order is global, so EVERY shared term sits at
position ≥ pos(t*) in both documents, hence

    cos(A,B) = Σ_shared a_t·b_t ≤ ‖suffix_A(t*)‖·‖suffix_B(t*)‖.

If ``t*`` escaped A's prefix then ‖suffix_A(t*)‖ < τ and the pair is
provably below threshold (symmetrically for B) — so requiring a shared
prefix-to-prefix term misses nothing. Frequent terms carry LOW idf
weight *and* sort last (df-ascending), so the boilerplate vocabulary
that would blow up a full inverted index never reaches candidate
generation — the same two-sided win as the Jaccard prefix filter,
but driven by weight mass instead of set size.

Scale shape (100 TB): one tokenize scan; one vocab-cardinality df agg
(map-side combined); one doc-keyed window pass (high-cardinality
partition key — no skew) computing the running weight mass that cuts
each prefix; a self-join whose rows are Σ_prefix-term df² (rare terms
only); exact verification joins the term lists for CANDIDATE pairs
only (pairs ≪ corpus) and one final per-pair reduce. No UDFs anywhere;
AQE skew join is the second line of defense.

Extension surface — the reference has no similarity surface of any
kind (`/root/reference` computes only descriptive marts,
README.md:60-90); extension per SURVEY §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..utils.caching import pin
from .normalize_text import ws_lower_tokens


def tfidf_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """``(id, term, w)`` — raw-tf × ln(N/df) term weights per document
    (whitespace tokens, lowercased). Terms present in EVERY document
    get idf 0 and are dropped (zero weight carries no cosine mass);
    documents left with no weighted terms vanish with them."""
    # Pinned: tok feeds the doc-frequency agg AND the weight join —
    # unpinned, the tokenize + (id, term) agg subtree ran twice
    # (r11 optimization, guide §5).
    tok = pin(
        df.select(
            F.col(id_col).alias("id"),
            F.explode(ws_lower_tokens(text_col)).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    # Corpus size rides the plan as a broadcast 1-row scalar frame (the
    # keyness/modularity posture) instead of an eager .first() readout:
    # constructing the operator stays lazy and the corpus scan is not
    # paid once per construction. Arithmetic unchanged: double(N)/df,
    # exactly the old lit(float(n))/df.
    nd = df.agg(F.count_distinct(F.col(id_col)).cast("double").alias("__n"))
    dfreq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        tok.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn("w", F.col("tf") * F.log(F.col("__n") / F.col("df")))
        .filter(F.col("w") > 0)
        .select("id", "term", "w", "df")
    )


def cosine_similarity_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
) -> DataFrame:
    """``(id_a, id_b, cosine)`` with ``id_a < id_b`` and EXACT tf-idf
    cosine >= ``threshold`` — candidate generation via the lossless L2
    prefix filter, verification via the shared-term join.

    ``threshold`` must be in (0, 1]: at 0 every suffix qualifies and
    the filter degenerates to the full index."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"threshold must be in (0, 1], got {threshold} — at 0 the "
            "L2 prefix filter degenerates to the full inverted index"
        )
    # Pin the weight frame (lazy localCheckpoint): it feeds the norm
    # agg, the ranked prefix pass and both verification sides — the
    # unpinned plan re-ran the whole tf-idf subtree once per consumer
    # (r11 optimization, guide §5). Norms (1 row per doc) likewise
    # feed three consumers (ranked + both denominator joins).
    weights = pin(tfidf_weights(df, id_col, text_col))
    norms = pin(
        weights.groupBy("id")
        .agg(F.sum(F.col("w") * F.col("w")).alias("__w2"))
    )
    ranked = weights.join(norms, "id")
    # Global term order: df ASC, term ASC (rarest first). The running
    # head mass cut: position j stays in the prefix iff the suffix
    # STARTING at j still carries >= tau of the document's norm —
    # suffix2(j) = total2 - head2(j-1) >= tau^2 * total2. The epsilon
    # errs toward LONGER prefixes (more candidates, never fewer) — the
    # setsim ceil-guard discipline.
    w_ord = Window.partitionBy("id").orderBy(
        F.col("df").asc(), F.col("term").asc()
    )
    head2 = F.coalesce(
        F.sum(F.col("w") * F.col("w")).over(
            w_ord.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0.0),
    )
    prefix = ranked.withColumn("__head2", head2).filter(
        F.col("__w2") - F.col("__head2")
        >= F.lit(threshold * threshold) * F.col("__w2") - F.lit(1e-12)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    side_a = weights.select(
        F.col("id").alias("id_a"), "term", F.col("w").alias("__wa")
    )
    side_b = weights.select(
        F.col("id").alias("id_b"), "term", F.col("w").alias("__wb")
    )
    dots = (
        cand.join(side_a, "id_a")
        .join(side_b, ["id_b", "term"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("__w2").alias("__na2"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("__w2").alias("__nb2"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "cosine",
            F.round(
                F.col("__dot") / (F.sqrt("__na2") * F.sqrt("__nb2")), 6
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
