"""SemDeDup-style semantic deduplication: cluster the embedding space,
then prune near-duplicate documents WITHIN each cluster (Abbas et al.,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication", 2023 — public literature).

Where MinHash/SimHash (``operators/dedup.py``, ``operators/simhash.py``)
catch *lexical* near-duplicates, SemDeDup catches *semantic* ones —
paraphrases and re-renderings whose token overlap is low but whose
embeddings nearly coincide. The recipe:

1. coarse-quantize the corpus into cells around a small centroid model
   (reusing ``similarity_ivf.ivf_assign`` — one vectorized numpy matmul
   per Arrow batch, no shuffle);
2. form candidate pairs only WITHIN a cell (the cluster bound is what
   makes the quadratic pairwise step tractable — cost is
   Σ|cell|² instead of |corpus|²);
3. keep pairs with cosine ≥ ``threshold``, contract them to connected
   components and keep one canonical document per component (minimum
   id) with ``graph.cluster_dedup_keep``; the registered
   ``semantic_dedup_profile`` query composes these steps.

Scale shape (100 TB corpus): the centroid model is tiny and lives in
the UDF closure; cell assignment is a map-only projection; the one
shuffle is the self-join keyed on ``cell``. Cell population is the knob
— choose ``n_cells ≈ corpus_rows / target_cell_size`` so each cell's
pairwise block fits an executor; the paper uses k ≈ 0.1% of corpus
size for the same reason. A vector sits in exactly one cell, so a pair
can only form once (no cross-table dedup pass, unlike multi-table LSH).

Known approximation, same as the paper's: near-duplicates that straddle
a cell boundary are missed. Directionally-identical vectors (the
planted-twin case: v and 1.01·v) can NEVER straddle — argmax over
dot(v, centroid) is scale-invariant — so the miss surface is pairs at
moderate-but-above-threshold cosine sitting near a Voronoi face.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import as_double_array
from .similarity_ivf import ivf_assign
from .vecmath import cosine_batch


def centroids_by_ids(
    corpus: DataFrame, ids: list[int], id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Centroid model from explicitly named corpus rows, L2-normalized
    driver-side — the deterministic, oracle-restatable alternative to
    ``ivf_centroids``'s hash sample (an external SQL engine cannot
    reproduce Spark's xxhash64, but it can reproduce "the vectors with
    these ids"). Model-fit semantics: the only ``collect`` is
    len(ids) × dim floats.
    """
    import math

    if len(set(ids)) != len(ids):
        raise ValueError(f"duplicate centroid ids: {sorted(ids)}")
    rows = (
        corpus.filter(F.col(id_col).isin([int(i) for i in ids]))
        .select(F.col(id_col).alias("__id"), as_double_array(vec_col).alias("__v"))
        .collect()
    )
    by_id = {r["__id"]: list(r["__v"]) for r in rows}
    missing = [i for i in ids if i not in by_id]
    if missing:
        raise ValueError(f"centroid ids missing from corpus: {missing}")
    cents = []
    # Caller order, not sorted order: cell index i must correspond to
    # ids[i] so callers can correlate assignments back to the model.
    for i in ids:
        v = by_id[i]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([x / norm for x in v])
    return cents


def semantic_dedup_pairs(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Semantic near-duplicate pairs ``(id_a, id_b, cell, cosine_sim)``
    with ``id_a < id_b``, formed within cells only.

    Plan: one cell-assignment projection over the corpus, self-join on
    ``cell`` (the only shuffle), batched-numpy cosine on the surviving
    pairs. The join condition carries ``id_a < id_b`` so each unordered
    pair materializes once.

    ``assigned``: an already-computed ``ivf_assign(corpus, centroids)``
    frame (same convention as ``simhash_near_dup_pairs(signatures=...)``).
    Both sides of the self-join read the assignment, so a caller that
    pins it halves the Arrow scoring passes; left to None the
    assignment is built here and the caller controls nothing.
    """
    if assigned is None:
        assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    left = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
    )
    right = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
    )
    return (
        left.join(right, ["cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", cosine_batch(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cell", "cosine_sim")
    )
