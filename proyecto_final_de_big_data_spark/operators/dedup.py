"""Deduplication operators for training-data pipelines.

- ``exact_dedup``: content-hash groupBy keeping the min-id row. One
  shuffle on the 128-bit digest; at 100 TB this is the canonical
  hash-partitioned dedup (no skew: digests are uniform).
- ``minhash_signatures`` + ``lsh_candidate_pairs``: MinHash over word
  shingles, banded LSH bucketing, bucket-join for candidate pairs, and
  exact n-gram Jaccard verification of candidates. All built-in
  expressions (sequence/transform/xxhash64/array_min) — no Python UDFs —
  so signature computation is a single codegen'd projection; the only
  shuffles are the band-bucket groupBy-join and the final distinct.

Scale notes: banded LSH turns the O(n²) all-pairs problem into
per-bucket joins; bucket sizes are bounded because a band hash has
r×64 bits of entropy. Skewed buckets (boilerplate docs) are handled by
AQE skew-join or a bucket-size cap filter (``max_bucket``).
"""

from __future__ import annotations

import hashlib
import re as _re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils.caching import pin
from .winnow import spread_for_fanout

_MASK64 = (1 << 64) - 1


def _split_words(text: str) -> list[str]:
    return [w for w in _re.split(r"\s+", text) if w]


def _shingle_set(text: str, n: int) -> set[str]:
    """Distinct word n-grams; whole text for docs shorter than n words
    (same semantics as the expression path in with_word_shingles)."""
    words = _split_words(text)
    if len(words) >= n:
        return {" ".join(words[j : j + n]) for j in range(len(words) - n + 1)}
    return {text}


def _hash64(values) -> np.ndarray:
    """uint64 blake2b-8 hashes of an iterable of strings — the
    deterministic base hash family for the approximate dedup ops."""
    b2b = hashlib.blake2b
    return np.array(
        [int.from_bytes(b2b(v.encode("utf-8"), digest_size=8).digest(), "big") for v in values],
        dtype=np.uint64,
    )


def _splitmix64(base: np.ndarray, num_streams: int) -> np.ndarray:
    """(n, num_streams) uint64: stream i re-mixes base via splitmix64
    with a per-stream gamma offset — a uniform family over fixed-width
    ints, the vectorized analogue of xxhash64(base, i)."""
    gammas = np.array(
        [((i + 1) * 0x9E3779B97F4A7C15) & _MASK64 for i in range(num_streams)], dtype=np.uint64
    )
    with np.errstate(over="ignore"):
        z = base[:, None] + gammas[None, :]
        z ^= z >> np.uint64(30)
        z *= np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return z


def content_digest(content_cols: list[str]) -> Column:
    """md5 digest of a content tuple, NULL-safe.

    NULLs are digested as an explicit sentinel: ``concat_ws`` silently
    skips nulls, which would conflate ``(NULL, 'x')`` with ``('x',)``
    (and NULL with empty string) in the multi-column case.
    """
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL\x00")) for c in content_cols
    ]
    return F.md5(F.concat_ws("\x1f", *parts))


def exact_dedup(
    df: DataFrame,
    content_cols: list[str],
    id_col: str,
    digest_col: str | None = None,
) -> DataFrame:
    """Keep exactly one row (min id) per distinct content tuple.

    ``digest_col``: name of an ALREADY-COMPUTED ``content_digest``
    column to group on instead of re-hashing ``content_cols`` — pass it
    when the caller has just materialized the digest for its own join
    (``incremental_dedup``), so the full text isn't md5'd twice.
    """
    key = (
        F.col(digest_col).alias("__digest")
        if digest_col is not None
        else content_digest(content_cols).alias("__digest")
    )
    keep = (
        df.select(key, F.col(id_col))
        .groupBy("__digest")
        .agg(F.min(id_col).alias(id_col))
    )
    # Broadcast-join back when the keeper set is small; at scale Catalyst
    # picks a shuffle join on id_col, which is fine (both sides keyed).
    return df.join(keep, id_col, "left_semi")


def incremental_dedup(
    batch: DataFrame,
    historical: DataFrame,
    content_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Dedup an incoming batch against an already-ingested corpus, then
    within itself — the steady-state shape of a continuously-ingesting
    training-data pipeline (full-corpus re-dedup per increment would be
    O(corpus) per batch; this is O(batch + digest-index probe)).

    Scale shape: the historical side collapses to its distinct content
    digests (a 32-char projection — the corpus text never moves), the
    batch anti-joins on digest (uniform md5 keys, no skew), and the
    survivor set runs the ordinary min-id exact dedup. Three
    digest-keyed shuffles, all carrying digests + ids, never payloads.
    """
    digest = content_digest(content_cols).alias("__digest")
    hist_digests = historical.select(digest).distinct()
    novel = batch.withColumn("__digest", content_digest(content_cols)).join(
        hist_digests, "__digest", "left_anti"
    )
    # Reuse the digest the anti-join just carried — re-deriving it from
    # content_cols would md5 the full payload of every survivor twice.
    return exact_dedup(novel, content_cols, id_col, digest_col="__digest").drop(
        "__digest"
    )


def word_shingles(col: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (built-in only).

    PERF CAVEAT: as a single Column expression the ``words`` subtree
    (regex split + filter) is captured inside the per-shingle lambda and
    re-evaluated for EVERY shingle — O(words²) regex work per document.
    Hot paths should use :func:`with_word_shingles`, which materializes
    the words array as a projection attribute first (measured ~10× at
    5k docs). Kept for small inputs / expression contexts.
    """
    c = F.col(col) if isinstance(col, str) else col
    words = F.filter(F.split(c, r"\s+"), lambda w: F.length(w) > 0)
    k = F.size(words) - (n - 1)
    grams = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array(c))  # short docs: whole text as single shingle
    return F.array_distinct(grams)


def with_word_shingles(
    df: DataFrame, text_col: str, out: str = "__sh", n: int = 3
) -> DataFrame:
    """``df`` + distinct word n-gram shingle array column, fast path.

    The gram lambda must not capture the words expression: a captured
    subtree is re-evaluated PER ELEMENT by the interpreted
    higher-order-function path (and CollapseProject can re-inline it
    even across projections), which made the naive version O(words²)
    regex work per document. Here the words array appears only in
    top-level ``slice`` calls — ``arrays_zip`` of the n shifted slices,
    then a lambda that touches nothing but its own struct element — so
    even fully collapsed it is evaluated a constant number of times per
    row. Measured 5× over :func:`word_shingles` at 5k docs.
    """
    df = df.withColumn(
        "__words", F.filter(F.split(F.col(text_col), r"\s+"), lambda w: F.length(w) > 0)
    )
    w = F.col("__words")
    k = F.size(w) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(w, i + 1, F.greatest(k, F.lit(0))) for i in range(n)])
    grams = F.when(
        k > 0,
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])),
    ).otherwise(F.array(F.col(text_col)))
    return df.withColumn(out, F.array_distinct(grams)).drop("__words")


def shingle_hash_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, __shash array<long>): distinct word n-gram shingle HASHES,
    one Arrow batch pass (Python split/join + blake2b-8, deterministic
    across workers and runs).

    Why not expressions: even the slice-based ``with_word_shingles``
    formulation runs on Spark's interpreted higher-order-function path
    (~2.5 s for 260k shingles at sf0.1); a batch of plain Python string
    ops is ~5× faster and ships back 8 bytes per shingle instead of the
    shingle text. Use for the APPROXIMATE family (MinHash, SimHash,
    hash-set Jaccard verification), where consumers compare hash sets —
    identical to string sets absent a 64-bit collision (~1e-9 at 1e5
    shingles). Keep :func:`with_word_shingles` where a SQL oracle
    recomputes shingle STRINGS (``jaccard_pairs_index``).

    Short docs (< n words) hash the whole text as a single shingle,
    matching the expression path's semantics.
    """

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [
                _hash64(_shingle_set(t, n)).view(np.int64).tolist() for t in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col].values, "__shash": arrs})

    return spread_for_fanout(df.select(id_col, text_col)).mapInPandas(
        do, schema=f"{id_col} long, __shash array<long>"
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """(id, signature array<long>[num_hashes]): MinHash minima.

    Hash family: each shingle string is hashed ONCE (blake2b-8), then
    stream i re-mixes the fixed-width base via splitmix64 — a uniform
    family, so collision behavior matches any standard MinHash.

    SHUFFLE-FREE: the whole signature is computed per document inside
    one Arrow batch (shingle → base hashes → (n_shingles × num_hashes)
    mix matrix → column minima in numpy). The previous formulation
    (explode shingles + num_hashes MIN aggregates) shuffled every
    (doc, shingle-hash) row; at corpus scale the signature stage is now
    a map-only pass and only the band bucket-join shuffles. The input
    goes through keyless ``winnow.spread_for_fanout``: an input already
    as wide as the cores (read from its plan) is passed as is, a
    narrower or adaptive one is round-robin spread to at least the
    cores first.
    """

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = []
            for t in pdf[text_col]:
                base = _hash64(_shingle_set(t, shingle_n))
                mins = _splitmix64(base, num_hashes).min(axis=0)
                sigs.append(mins.view(np.int64).tolist())
            yield pd.DataFrame({id_col: pdf[id_col].values, "signature": sigs})

    return spread_for_fanout(df.select(id_col, text_col)).mapInPandas(
        do, schema=f"{id_col} long, signature array<long>"
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, bands: int = 8, rows_per_band: int = 4, max_bucket: int | None = None
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b, distinct).

    Explode the signature into ``bands`` band-hashes, self-join per
    (band, band_hash) bucket, emit ordered distinct pairs.
    """
    banded = signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(",", *[
                                F.col("signature").getItem(b * rows_per_band + r).cast("string")
                                for r in range(rows_per_band)
                            ])
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")

    if max_bucket is not None:
        w_count = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("__n"))
        banded = banded.join(
            F.broadcast(w_count.filter(F.col("__n") <= max_bucket).drop("__n")),
            ["band", "bucket"],
            "left_semi",
        )

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            "inner",
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def jaccard_verify(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str, shingle_n: int = 3, threshold: float = 0.7
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs; keep >= threshold.

    The corpus is first semi-joined down to the documents that appear in
    a candidate pair — shingles are recomputed only for those (the pair
    table is << corpus at scale, so this is the difference between
    re-shingling ~2·|pairs| docs and re-shingling everything, twice).
    Then two hash joins attach the shingle sets to the pair table.

    Jaccard is computed over shingle HASH sets (64-bit): identical to
    the string-set Jaccard absent a hash collision, and long-array set
    intersection is far cheaper than string-array.

    The shingle frame is pinned and the verified pairs returned lazily;
    the caller's ``scope()`` releases the pin (utils/caching.py).
    """
    pair_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    needed = df.join(pair_ids, id_col, "left_semi")
    # Pinned: the shingle set attaches to BOTH pair sides — without it
    # the semi-join + Arrow shingling subtree runs once per join.
    sh = pin(
        shingle_hash_arrays(needed, id_col, text_col, shingle_n).withColumnRenamed("__shash", "__sh")
    )
    return (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .select("id_a", "id_b", "jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via a shingle inverted index —
    no cartesian product.

    Plan: explode distinct shingles, self-join on the shingle (only
    docs *sharing* a shingle ever meet), count common shingles per
    ordered pair, recover ``|A∪B| = |A|+|B|-|A∩B|`` from per-doc
    shingle counts. Pairs with zero overlap never materialize, which is
    exactly right for any ``threshold > 0``.

    Scale notes: the shuffle key is the shingle; a boilerplate shingle
    shared by k docs contributes k² join rows. ``max_doc_freq`` is the
    guard: shingles appearing in more than that many docs are dropped
    from the INDEX side before the self-join (a semi-join against the
    under-cap shingle set), bounding every join key at ``max_doc_freq²``
    rows. Per-doc sizes still count every shingle, so the Jaccard
    denominator is exact and the computed score is a LOWER bound that
    only loses intersection mass carried by boilerplate — for
    near-duplicate detection that bias is the desired one (two docs
    sharing only a boilerplate header should score low). Default None
    preserves exact all-pairs semantics (the oracle-gated contracts use
    that). AQE skew-join stays on as the second line of defense. This is
    the exact counterpart of the MinHash-LSH path and replaces the
    bounded cartesian baseline at ~5× less work even at 500 docs.
    """
    # Pin the per-doc shingle-set frame (lazy localCheckpoint): it
    # feeds BOTH self-join sides and both size lookups, so the unpinned
    # plan re-ran the shingling pass once per consumer (r11
    # optimization, guide §5 — recompute less). Set sizes come straight
    # off the distinct array (``with_word_shingles`` array_distincts),
    # replacing the explode + groupBy-count + Exchange per join side.
    arrs = pin(
        with_word_shingles(df.select(id_col, text_col), text_col, "__sh", shingle_n)
        .select(id_col, "__sh")  # project the text away pre-pin
    )
    sh = arrs.select(F.col(id_col), F.explode("__sh").alias("__shingle"))
    sizes = arrs.select(F.col(id_col), F.size("__sh").alias("__sz"))
    if max_doc_freq is not None:
        under_cap = (
            sh.groupBy("__shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("__shingle")
        )
        sh = sh.join(under_cap, "__shingle", "left_semi")
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.__shingle") == F.col("b.__shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    return (
        common.join(
            sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sz", "__sza"), "id_a"
        )
        .join(
            sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sz", "__szb"), "id_b"
        )
        .withColumn(
            "jaccard",
            F.col("__common") / (F.col("__sza") + F.col("__szb") - F.col("__common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_hashed_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """:func:`jaccard_pairs_index` over 64-bit shingle HASHES: one Arrow
    pass shingles+hashes each doc (`shingle_hash_arrays`), then the
    inverted index joins on longs instead of shingle strings — ~8 bytes
    per key through the shuffle rather than the gram text.

    Identical output to the string variant absent a 64-bit collision
    (~1e-9 at 1e5 distinct shingles). Use wherever the consumer treats
    pairs as sets (recall contracts, dedup keep-lists); keep the string
    variant where a SQL oracle recomputes shingle strings and compares
    Jaccard VALUES.
    """
    # Pin the per-doc hash-set frame (lazy localCheckpoint): the
    # unpinned plan re-ran the Arrow shingling pass once per consumer —
    # both self-join sides AND both size lookups, 4 MapInPandas
    # subtrees in the measured minhash_recall plan (r11 optimization,
    # guide §5). Set sizes come straight off the distinct hash array,
    # replacing the explode + groupBy-count + Exchange per join side.
    arrs = pin(shingle_hash_arrays(df, id_col, text_col, shingle_n))
    sh = arrs.select(F.col(id_col), F.explode("__shash").alias("__shingle"))
    sizes = arrs.select(F.col(id_col), F.size("__shash").alias("__sz"))
    if max_doc_freq is not None:
        under_cap = (
            sh.groupBy("__shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("__shingle")
        )
        sh = sh.join(under_cap, "__shingle", "left_semi")
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.__shingle") == F.col("b.__shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    return (
        common.join(
            sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sz", "__sza"), "id_a"
        )
        .join(
            sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sz", "__szb"), "id_b"
        )
        .withColumn(
            "jaccard",
            F.col("__common") / (F.col("__sza") + F.col("__szb") - F.col("__common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs, Jaccard-verified.

    Signatures and candidate pairs are pinned: both are tiny relative
    to the corpus (num_hashes longs per doc; candidate pairs << n²) and
    each is referenced by multiple downstream joins — unpinned, Spark
    re-evaluates the Arrow signature pass once per reference (up to 6×
    across the banding self-join and the pair-table fan-out in
    verification). The pairs are returned lazily; the caller's
    ``scope()`` releases the pins (utils/caching.py).
    """
    rows_per_band = num_hashes // bands
    sigs = pin(minhash_signatures(df, id_col, text_col, num_hashes, shingle_n))
    cands = pin(lsh_candidate_pairs(sigs, id_col, bands, rows_per_band))
    return jaccard_verify(df, cands, id_col, text_col, shingle_n, threshold)
