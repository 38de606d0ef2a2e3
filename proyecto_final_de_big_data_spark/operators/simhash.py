"""SimHash near-duplicate detection — 64-bit sign-aggregated token
hashes + banded Hamming candidate search.

Scale shape: signatures are computed SHUFFLE-FREE — the whole 64-bit
majority vote happens per document inside one Arrow batch (token
hashes → unpacked bit matrix → column sums in numpy), so the signature
stage is a map-only pass over the corpus (after the keyless
``winnow.spread_for_fanout``, a no-op on an input already as wide as
the cores); only the chunk bucket-join shuffles (the same pattern as
MinHash-LSH). The earlier formulation (explode tokens + 64 sign-sum
aggregates) shuffled every (doc, token) row and ran the bit tests on
the interpreted path. A pair within
Hamming distance d differs in at most d of the 4 chunks, so any pair
with d < 4 shares ≥1 exact chunk — banding is lossless for d ≤ 3.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils.caching import pin
from .dedup import _hash64, _split_words
from .winnow import spread_for_fanout

N_BITS = 64
CHUNKS = 4
CHUNK_BITS = N_BITS // CHUNKS


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash long): majority vote of token-hash bits.

    Docs with no tokens are dropped (the exploded formulation had the
    same semantics: no rows → no group).
    """
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64)).astype(np.uint64)

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sims = [], []
            for doc_id, t in zip(pdf[id_col], pdf[text_col]):
                tokens = _split_words(t)
                if not tokens:
                    continue
                h = _hash64(tokens)  # (n_tokens,) uint64
                # native little-endian bytes + LSB-first unpack -> column
                # j is bit j of the value
                bits = np.unpackbits(
                    h[:, None].view(np.uint8), axis=1, bitorder="little"
                )  # (n_tokens, 64)
                majority = (2 * bits.sum(axis=0)) > len(tokens)  # strict, matches sum(±1) > 0
                val = int(weights[majority].sum(dtype=np.uint64))
                sims.append(val - (1 << 64) if val >= 1 << 63 else val)
                ids.append(doc_id)
            yield pd.DataFrame({id_col: ids, "simhash": sims})

    return spread_for_fanout(df.select(id_col, text_col)).mapInPandas(
        do, schema=f"{id_col} long, simhash long"
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Pairs (id_a, id_b, hamming) with Hamming(simhash) <= max_hamming.

    Exact for max_hamming <= 3 via pigeonhole 16-bit chunk banding.
    Pass precomputed (pinned) ``signatures`` to share the signature
    scan with other consumers — signature computation is the dominant
    cost (explode + 64 aggregates), the banding itself is cheap. When
    computed here they are pinned; either way the result is lazy and
    the caller's ``scope()`` releases the pins (utils/caching.py).
    """
    if max_hamming >= CHUNKS:
        raise ValueError(f"banding is lossless only for max_hamming < {CHUNKS}")
    # Pin when we compute them: the chunk self-join references the
    # signature frame twice, and it is one long per doc.
    sigs = signatures if signatures is not None else pin(simhash_signatures(df, id_col, text_col))
    banded = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("simhash", c * CHUNK_BITS)
                        .bitwiseAND(F.lit((1 << CHUNK_BITS) - 1))
                        .alias("chunk_val"),
                    )
                    for c in range(CHUNKS)
                ]
            )
        ).alias("cb"),
    ).select(id_col, "simhash", "cb.chunk", "cb.chunk_val")

    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
