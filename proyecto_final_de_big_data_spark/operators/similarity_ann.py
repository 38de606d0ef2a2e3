"""Approximate nearest-neighbor scale path: random-hyperplane (SimHash)
LSH bucketing for cosine similarity.

Hyperplanes are derived deterministically from a splitmix-style integer
hash of (dim, plane, table) — a cheap pseudo-random ±1 projection
matrix — so the whole pipeline is reproducible and shuffle-bounded:
candidates only form within a bucket (one groupBy-join on the bucket
key) instead of the O(n²) cross join.

The projections themselves run as one Arrow-batched numpy matmul per
batch (``vecmath.hyperplane_buckets``): profiling showed the earlier
pure-expression formulation (``n_tables × n_planes`` literal-array
``aggregate(zip_with(...))`` subtrees) was evaluated on the interpreted
per-element path — ~2,500 boxed ops per row — making 2k-row inputs take
seconds. The expression variant is kept (``simhash_bucket``) for small
dims / contexts where a Python worker is unavailable.

Recall improves with multiple hash tables (``n_tables``); each table is
an independent set of ``n_planes`` hyperplanes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils.caching import pin
from .similarity import as_double_array
from .vecmath import cosine_batch, hyperplane_buckets


def _pseudo_random_sign(dim: int, plane: int, table: int) -> float:
    """Deterministic ±1 from a splitmix-style integer hash (pure python,
    evaluated once at plan build — becomes a literal in the plan)."""
    x = (dim * 0x9E3779B97F4A7C15 + plane * 0xBF58476D1CE4E5B9 + table * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 31
    x = (x * 0xD6E8FEB86659FD93) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 27
    return 1.0 if x & 1 else -1.0


def simhash_bucket(vec: Column, dim: int, n_planes: int = 12, table: int = 0) -> Column:
    """Bit-packed sign pattern of ``n_planes`` random projections.

    Pure-expression variant — interpreted per-element; prefer
    ``vecmath.hyperplane_buckets`` on any hot path (identical semantics,
    one matmul per Arrow batch)."""
    bucket = F.lit(0)
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(_pseudo_random_sign(d, p, table)) for d in range(dim)]),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _with_table_buckets(
    df: DataFrame, vec_col: str, dim: int, n_planes: int, n_tables: int
) -> DataFrame:
    """``df`` exploded to one row per (table, bucket) membership.

    One vectorized projection computes all ``n_tables`` buckets, then
    ``posexplode`` fans out — the vector column is carried through the
    explode, so downstream joins see (ids, vec, table, bucket).
    """
    with_b = df.withColumn(
        "__buckets", hyperplane_buckets(F.col(vec_col), dim, n_planes, n_tables, _pseudo_random_sign)
    )
    return with_b.select(
        "*", F.posexplode("__buckets").alias("table", "bucket")
    ).drop("__buckets")


def embedding_near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 10,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucketed self-join,
    cosine-verified at ``threshold``. Output (id_a, id_b, cosine_sim).

    The bucket self-join bounds candidates to same-bucket pairs —
    near-identical vectors collide with high probability in at least
    one of ``n_tables`` tables. Verification cosine is the Arrow/numpy
    batch variant: consumers of near-dup output threshold or round, so
    ulp-level summation-order differences vs the sequential fold are
    immaterial (see ``vecmath.cosine_batch``).

    The banded frame is pinned and the pairs returned lazily; the
    caller's ``scope()`` releases the pin (utils/caching.py).
    """
    c = corpus.select(F.col(id_col), as_double_array(vec_col).alias("__v"))
    # Pinned: the bucket self-join references the banded frame twice —
    # without it the Arrow projection pass runs once per side.
    banded = pin(_with_table_buckets(c, "__v", dim, n_planes, n_tables))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__v").alias("__va"),
            F.col("b.__v").alias("__vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cosine_sim", cosine_batch(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )
