"""Heavy-hitter detection without a full-cardinality shuffle.

"Which keys account for at least share ``s`` of the corpus?" is the
question behind stopword discovery, hot-domain auditing, and skew-key
detection before a join. The naive answer — ``groupBy(key).count()``
over everything — shuffles one record per DISTINCT key; over a 100 TB
web corpus the key domain (URLs, tokens, user ids) can be billions of
entries, so the shuffle is key-cardinality even though the ANSWER is at
most ``1/s`` rows.

Two-phase shape (sample-candidates, then exact-verify) keeps every
shuffle bounded by the answer size:

1. **Candidate pass** over a deterministic hash sample (rows where
   ``xxhash64(sample_on...) pmod 10_000 < rate``): a key with true
   share >= s has expected in-sample count ``s * N * rate``, so keys
   above ``candidate_factor`` times that cutoff include every true
   heavy hitter with overwhelming probability. The candidate groupBy
   shuffles only sampled rows, and its output is <= 1/(factor*s) keys —
   answer-scale.
2. **Exact pass**: candidate keys broadcast back as a semi-join filter;
   ONLY matching rows enter the final exact count, compared against the
   exact corpus total. Sample false-positives die here, so the output
   is EXACTLY the true heavy-hitter set — sampling affects completeness
   odds, never precision.

The sample rate is ADAPTIVE: one up-front count fixes the rate that
puts ``min_sample_hits`` expected occurrences of a borderline heavy
hitter in the sample (Chernoff: at 200 expected hits and a 0.5 cutoff
factor, the per-key miss probability is ~1e-11). On a small corpus the
required rate clamps to 100% and the operator degenerates to the exact
single-pass answer — which at that scale is also the cheap answer. At
100 TB with s=0.001 the same formula samples ~0.002% of rows.

Determinism: the sample is hash-based (``xxhash64``), not RNG-based,
and the rate derives from the exact row count — same input, same
candidates, any cluster, any partitioning. The external gate can pin
the exact-SQL answer and the pipeline replays identically.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_RATE_DENOM = 10_000  # hash-sample granularity: rate is in units of 0.01%


def heavy_hitters(
    df: DataFrame,
    key_cols: list[str] | str,
    min_share: float,
    sample_on: list[str] | None = None,
    min_sample_hits: int = 200,
    candidate_factor: float = 0.5,
) -> DataFrame:
    """Exact heavy hitters: keys whose row count is >= ``min_share`` of
    the corpus, computed with answer-bounded (never key-cardinality)
    shuffles.

    ``sample_on`` names the columns hashed to form the deterministic
    candidate sample — they must (jointly) identify ROWS, not keys (a
    row id, or (doc_id, pos) for exploded tokens), so a heavy key's
    occurrences land in the sample independently and the binomial
    completeness bound holds. Hashing the key columns themselves would
    put each key all-in or all-out of the sample — a heavy hitter would
    then be *sampled at all* only with probability ``rate`` (~0.002% at
    scale), silently missing almost every heavy hitter. ``sample_on``
    is therefore REQUIRED whenever the sampled path is taken (corpus
    large enough that the adaptive rate is < 100%); on small corpora,
    where the operator degenerates to the exact single pass, it is
    unused and may be omitted.

    Returns one row per heavy key: key columns + ``cnt`` (exact) +
    ``share`` (cnt/total, rounded to 6 decimals).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if not 0.0 < min_share <= 1.0:
        raise ValueError(f"min_share must be in (0, 1], got {min_share}")

    # One column-less count fixes the adaptive sample rate. This is the
    # only corpus-wide job besides the two passes below, and it
    # materializes no columns.
    total = df.count()
    if total == 0:
        return df.select(*keys).limit(0).select(
            *keys,
            F.lit(0).cast("long").alias("cnt"),
            F.lit(0.0).alias("share"),
        )
    rate = min(
        _RATE_DENOM,
        math.ceil(_RATE_DENOM * min_sample_hits / (min_share * total)),
    )

    if rate >= _RATE_DENOM:
        # Corpus small enough that the required sample is everything:
        # the exact single-pass answer IS the cheap answer here.
        candidates = None
        counted = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    else:
        if sample_on is None:
            raise ValueError(
                "heavy_hitters: corpus is large enough to take the "
                "sampled path (adaptive rate "
                f"{rate}/{_RATE_DENOM}) — sample_on is required and "
                "must be a row identity (e.g. a row id, or (doc_id, "
                "pos) for exploded tokens). Hashing the key columns "
                "would sample whole keys all-in/all-out and miss "
                "heavy hitters."
            )
        hash_cols = list(sample_on)
        sample = df.filter(
            F.pmod(F.xxhash64(*[F.col(c) for c in hash_cols]), F.lit(_RATE_DENOM))
            < F.lit(rate)
        )
        cutoff = candidate_factor * min_share * total * (rate / _RATE_DENOM)
        candidates = (
            sample.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__scnt"))
            .filter(F.col("__scnt") >= F.lit(cutoff))
            .select(*keys)
        )
        # Exact pass: only candidate-key rows are counted — the semi
        # join broadcasts the answer-scale candidate set, so the corpus
        # never shuffles on the raw key domain. NULL-SAFE on the key:
        # groupBy counts the NULL group, so a NULL key that clears the
        # candidate cutoff must survive the semi join too (plain
        # equality would silently drop it on this path only).
        renamed = candidates.select(
            *[F.col(k).alias(f"__c_{k}") for k in keys]
        )
        cond = None
        for k in keys:
            clause = F.col(k).eqNullSafe(F.col(f"__c_{k}"))
            cond = clause if cond is None else cond & clause
        counted = (
            df.join(F.broadcast(renamed), cond, "left_semi")
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    return counted.filter(F.col("cnt") >= F.lit(min_share) * F.lit(total)).select(
        *keys,
        F.col("cnt"),
        F.round(F.col("cnt") / F.lit(float(total)), 6).alias("share"),
    )
