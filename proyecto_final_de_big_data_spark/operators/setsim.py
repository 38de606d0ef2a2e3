"""Prefix-filtered exact set-similarity join (the PPJoin/AllPairs
candidate-generation principle) — the scale path for EXACT Jaccard
near-duplicate pairs.

:func:`.dedup.jaccard_pairs_index` already avoids the cartesian
product with a shingle inverted index, but it joins on EVERY shingle:
a shingle shared by k documents contributes k² join rows whether or
not those documents could possibly clear the threshold. The prefix
filter fixes precisely that: under any global total order on shingles,
a document A only needs its ``|A| − ceil(τ·|A|) + 1`` FIRST shingles
(its "prefix") in the index — if two documents share no prefix
shingle, their Jaccard is provably below τ.

Why lossless (the prefix-filter theorem, Chaudhuri et al. 2006 /
Bayardo et al. 2007): J(A,B) ≥ τ implies ``|A∩B| ≥ ceil(τ·|A|)``
(since |A∩B| ≥ τ·|A∪B| ≥ τ·|A|). If A and B shared no shingle in
A's prefix, every element of A∩B would sit among A's last
``ceil(τ·|A|) − 1`` shingles under the global order — fewer than
|A∩B| slots. Contradiction; the same holds symmetrically for B, and
the self-join below indexes BOTH prefixes, so requiring a shared
prefix-to-prefix shingle is still complete (the standard AllPairs
argument: order the shared shingles globally; the first one lies in
both prefixes).

The global order used is doc-frequency ASCENDING (rarest first, ties
by shingle text): prefixes then hold each document's RAREST shingles,
so the self-join buckets are small by construction — the frequent
"boilerplate" shingles that blow up the inverted index never reach
candidate generation at all. No silent cap is needed (contrast
``max_doc_freq``, which trades recall): completeness comes from the
theorem, and the worst join key is bounded by how many documents
share a given RARE shingle in their prefix.

Scale shape (100 TB): one shingle scan; one vocab-cardinality count
(map-side combined); one doc-keyed window pass for prefix selection
(high-cardinality partition key — no skew); a self-join whose rows are
Σ_prefix-shingle df², orders of magnitude below the full index's
Σ_shingle df²; then exact verification only for candidate pairs via
array intersect/union on the pair table (pairs ≪ corpus). AQE skew
join stays on as the second line of defense.

Extension surface — the reference's closest analog is row-level
validity/outlier filtering (scripts/02_spark_etl.py:118-136); it has
no near-dup or set-similarity surface at all. Extension per SURVEY §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..utils.caching import pin
from .dedup import with_word_shingles


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """``(id_a, id_b, jaccard)`` with ``id_a < id_b`` and
    ``jaccard >= threshold`` — EXACTLY :func:`.dedup.jaccard_pairs_index`'s
    output (same shingling, same score), candidate generation via the
    lossless prefix filter instead of the full inverted index.

    ``threshold`` must be in (0, 1]: at τ = 0 the prefix is the whole
    set (the filter degenerates to the full index — use
    ``jaccard_pairs_index``), and the zero-overlap pairs it would need
    never materialize from any index join.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"threshold must be in (0, 1], got {threshold} — at 0 the "
            "prefix filter degenerates; use jaccard_pairs_index"
        )
    # Pin the per-doc shingle-set frame (lazy localCheckpoint): it
    # feeds the doc-frequency count, the ranked index join AND both
    # verification sides — the unpinned plan re-ran the shingling pass
    # once per consumer (r11 optimization, guide §5).
    arrs = pin(
        with_word_shingles(df.select(id_col, text_col), text_col, "__sh", shingle_n)
        .select(id_col, "__sh")
    )
    tok = arrs.select(F.col(id_col), F.explode("__sh").alias("__shingle"))
    freq = tok.groupBy("__shingle").agg(F.count(F.lit(1)).alias("__df"))
    ranked = tok.join(freq, "__shingle")
    w_sz = Window.partitionBy(id_col)
    w_rn = Window.partitionBy(id_col).orderBy(
        F.col("__df").asc(), F.col("__shingle").asc()
    )
    # Prefix length |A| − ceil(τ·|A|) + 1. The epsilon guards binary
    # float drift in τ·|A| (e.g. 0.7·10 → 7.000000000000001, whose
    # ceil would SHORTEN the prefix and break losslessness); erring
    # low only lengthens the prefix — more candidates, never fewer.
    sz = F.count(F.lit(1)).over(w_sz)
    plen = sz - F.ceil(F.lit(threshold) * sz - F.lit(1e-9)) + 1
    prefix = (
        ranked.withColumn("__rn", F.row_number().over(w_rn))
        .withColumn("__plen", plen)
        .filter(F.col("__rn") <= F.col("__plen"))
        .select(id_col, "__shingle")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__shingle") == F.col("b.__shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    side_a = arrs.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a")
    )
    side_b = arrs.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b")
    )
    return (
        cand.join(side_a, "id_a")
        .join(side_b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_a", "__sh_b"))
            / F.size(F.array_union("__sh_a", "__sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """ASYMMETRIC near-duplication — ``(id_a, id_b, common, size_a,
    size_b, containment_a, containment_b)`` for ordered pairs
    (id_a < id_b) where EITHER direction's containment
    ``|A∩B| / |A|`` reaches ``threshold``.

    Jaccard misses the quotation/subset case by construction: a short
    document fully quoted inside a long one has tiny |A∩B|/|A∪B| but
    containment_a = 1.0 — and "drop the contained duplicate, keep the
    superset" is a standard curation rule Jaccard cannot express. Same
    inverted-index shape as :func:`.dedup.jaccard_pairs_index` (docs
    only meet if they share a shingle; zero-overlap pairs never
    materialize — correct for any threshold > 0); the score just
    divides by ONE side's size instead of the union.

    Note the prefix filter is deliberately NOT applied here: its
    losslessness argument is Jaccard-specific (|A∩B| ≥ τ·|A| holds for
    both sides under Jaccard, but containment of a small A in a huge B
    bounds only A's side), so the index join carries the completeness.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # Pin the per-doc shingle-set frame once (lazy localCheckpoint, r11
    # optimization): it feeds both self-join sides and both size
    # lookups; set sizes come straight off the distinct array
    # (``with_word_shingles`` array_distincts), replacing the explode +
    # groupBy-count + Exchange per side.
    arrs = pin(
        with_word_shingles(df.select(id_col, text_col), text_col, "__sh", shingle_n)
        .select(id_col, "__sh")
    )
    sh = arrs.select(F.col(id_col), F.explode("__sh").alias("__shingle"))
    sizes = arrs.select(F.col(id_col), F.size("__sh").alias("__sz"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.__shingle") == F.col("b.__shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(
            sizes.select(
                F.col(id_col).alias("id_a"), F.col("__sz").alias("size_a")
            ),
            "id_a",
        )
        .join(
            sizes.select(
                F.col(id_col).alias("id_b"), F.col("__sz").alias("size_b")
            ),
            "id_b",
        )
        .withColumn(
            "containment_a",
            F.round(F.col("common") / F.col("size_a"), 6),
        )
        .withColumn(
            "containment_b",
            F.round(F.col("common") / F.col("size_b"), 6),
        )
    )
    return out.filter(
        (F.col("common") / F.col("size_a") >= threshold)
        | (F.col("common") / F.col("size_b") >= threshold)
    ).select(
        "id_a", "id_b", "common", "size_a", "size_b",
        "containment_a", "containment_b",
    )
