"""Blocked fuzzy (edit-distance) join — the entity-resolution /
record-linkage primitive: find pairs of strings within a Levenshtein
distance budget WITHOUT forming all pairs.

Blocking IS part of the operator's contract (the standard ER posture:
Fellegi-Sunter style pipelines declare a blocking key, then compare
within blocks). Candidates form only inside a block, so the cost is
``Σ |block|²`` — the same bounded-quadratic shape as the SemDeDup
cell-pair formation (``operators/semdedup.py``) — and the result is
DETERMINISTIC given the blocking expression: an engine replaying the
same blocking + the same distance predicate produces the identical
pair set, which is what lets the gate hash-match instead of checking
recall.

Scale shape (100 TB of entities): one shuffle of each side on the
block key, per-block equi-join, and the distance filter runs with
Spark's thresholded ``levenshtein(l, r, k)`` (early-exit at k+1 —
O(k·min(len)) per comparison instead of O(len²)). Choose the blocking
expression so blocks stay answer-scale (prefixes, soundex-like codes,
length bands); skewed blocks are AQE skew-join territory.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils.caching import pin


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    block_left: Column,
    block_right: Column,
    max_distance: int = 1,
) -> DataFrame:
    """Pairs ``(left_value, right_value, distance)`` with
    ``levenshtein(left_value, right_value) <= max_distance``, formed
    ONLY within matching blocks. Exact self-pairs are the caller's
    concern (filter ``left_value != right_value`` or use
    :func:`edit_distance_self_join`).
    """
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0, got {max_distance}")
    l = left.select(
        F.col(left_col).alias("left_value"), block_left.alias("__block")
    )
    r = right.select(
        F.col(right_col).alias("right_value"), block_right.alias("__block")
    )
    # Thresholded levenshtein: returns -1 when the distance exceeds the
    # threshold, after an early-exit scan — never computes the full DP
    # table for far-apart strings.
    dist = F.levenshtein(
        F.col("left_value"), F.col("right_value"), max_distance
    )
    return (
        l.join(r, "__block")
        .withColumn("distance", dist)
        .filter(F.col("distance") >= 0)
        .select("left_value", "right_value", "distance")
    )


def edit_distance_self_join(
    df: DataFrame,
    col: str,
    block: Column,
    max_distance: int = 1,
) -> DataFrame:
    """Within-dataset near-match pairs, each unordered pair once
    (``left_value < right_value``, so exact duplicates and self-pairs
    never appear). The dedup/ER workhorse form."""
    pairs = edit_distance_join(df, df, col, col, block, block, max_distance)
    return pairs.filter(F.col("left_value") < F.col("right_value"))


def multipass_edit_distance_self_join(
    df: DataFrame,
    col: str,
    blocks: list[Column],
    max_distance: int = 1,
) -> DataFrame:
    """PassJoin-style multi-pass blocking: run one blocked self-join per
    blocking expression and take the DISTINCT union of the pairs.

    This is how blocking recovers COMPLETENESS: by the pigeonhole
    principle, a pair within substitution distance k agrees exactly on
    any blocking key whose excluded character zone contains every
    differing position — so k+1 "all characters EXCEPT zone i" passes
    (zones covering the varying region) find every such pair, while
    each pass's blocks stay tiny (names agreeing on everything outside
    a narrow zone). Cost is ``passes × Σ|block|²`` with far smaller
    blocks than any single coarse key; pairs caught by several passes
    dedup in the final ``distinct``.

    For general edit distance (insertions shift positions) the same
    union-of-passes shape applies with segment-slack keys; callers own
    choosing zones that cover where their strings actually vary.

    Candidate generation is shared with :func:`multipass_candidates`
    (one copy of the union-of-blocked-self-joins machinery); the
    deterministic thresholded-levenshtein filter is pushed below the
    pair-distinct by Catalyst, so the physical shape matches the
    per-pass-filter formulation while shrinking the distinct's input.
    """
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0, got {max_distance}")
    cand = multipass_candidates(df, col, blocks)
    dist = F.levenshtein(
        F.col("left_value"), F.col("right_value"), max_distance
    )
    return (
        cand.withColumn("distance", dist)
        .filter(F.col("distance") >= 0)
        .select("left_value", "right_value", "distance")
    )


def _jaro(s1: str, s2: str) -> float:
    """Plain Jaro similarity — the textbook definition (match window
    ``max(len)//2 − 1``, half-transpositions), numerically identical
    to DuckDB's ``jaro_similarity`` (empty-string convention included:
    either side empty → 0.0)."""
    if not s1 or not s2:
        return 0.0
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    window = max(max(l1, l2) // 2 - 1, 0)
    flags2 = [False] * l2
    matches1 = []
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags2[j] = True
                matches1.append(c)
                break
    m = len(matches1)
    if m == 0:
        return 0.0
    matched2 = [s2[j] for j in range(l2) if flags2[j]]
    # RapidFuzz/DuckDB convention: transpositions = FLOOR of half the
    # mismatched matched positions (integer //2, not the textbook /2 —
    # they only differ when the mismatch count is odd, and parity with
    # the DuckDB oracle requires the floor).
    t = sum(a != b for a, b in zip(matches1, matched2)) // 2
    return (m / l1 + m / l2 + (m - t) / m) / 3


def jaro_winkler_py(s1: str, s2: str) -> float:
    """Jaro–Winkler with the STANDARD parameters DuckDB uses
    (prefix scale 0.1, max common prefix 4, boost only above the 0.7
    threshold) — verified value-for-value against
    ``jaro_winkler_similarity`` in tests/test_fuzzyjoin_jw.py."""
    j = _jaro(s1, s2)
    if j > 0.7:
        p = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            p += 1
        j += p * 0.1 * (1.0 - j)
    return j


def multipass_candidates(
    df: DataFrame,
    col: str,
    blocks: list[Column],
) -> DataFrame:
    """DISTINCT unordered candidate pairs ``(left_value, right_value)``
    (``left < right``) from the union of one blocked self-equi-join per
    blocking expression — the candidate half of
    :func:`multipass_edit_distance_self_join`, reusable under any
    scorer. Cost is ``passes × Σ|block|²``; completeness is the
    caller's pigeonhole argument over their blocking zones."""
    if not blocks:
        raise ValueError("multipass blocking needs at least one blocking expression")
    out = None
    for b in blocks:
        l = df.select(F.col(col).alias("left_value"), b.alias("__block"))
        r = df.select(F.col(col).alias("right_value"), b.alias("__block"))
        pairs = (
            l.join(r, "__block")
            .filter(F.col("left_value") < F.col("right_value"))
            .select("left_value", "right_value")
        )
        out = pairs if out is None else out.unionAll(pairs)
    return out.distinct()


def jaro_winkler_self_join(
    df: DataFrame,
    col: str,
    blocks: list[Column],
    threshold: float = 0.9,
    decimals: int = 6,
) -> DataFrame:
    """``(left_value, right_value, jw)`` for blocked candidate pairs
    with Jaro–Winkler similarity >= ``threshold`` (rounded at
    ``decimals``) — the similarity-flavored sibling of
    :func:`multipass_edit_distance_self_join` for ER on noisy names,
    where a distance budget is too blunt (JW weights prefix agreement,
    the empirically right prior for person/org names).

    Scoring is an Arrow-batched pandas UDF (JW has no Spark builtin;
    per-pair cost is O(len²/64)-ish on SHORT strings) applied ONLY to
    blocked candidates — the UDF never sees the corpus, just
    ``Σ|block|²`` pairs. Determinism: same blocking + same threshold
    ⇒ identical pair set, so gates hash-match rather than check recall.

    TWO lazy ``localCheckpoint`` barriers (the winnow.py HOF rule
    applied to UDFs: an expensive expression consumed downstream must
    be materialized, or Catalyst re-evaluates it). Without the first,
    the deterministic UDF + threshold filter get pushed into EVERY
    blocking branch plus a rescore above the pair-distinct —
    ~(passes+1)× the evaluations, measured 2.2× slower at sf0.1;
    without the second, the filter's UDF and the output column's UDF
    split into two Arrow passes over every candidate. With both, each
    DISTINCT pair is scored exactly once (7.2 → 2.9 s warm at sf0.1).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _jw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                jaro_winkler_py(x, y) if x is not None and y is not None else None
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    cand = pin(multipass_candidates(df, col, blocks))
    # Spread the candidate frame across cores before the Python scoring
    # pass (the winnow.py fan-out discipline, r11 optimization): the
    # pair-DISTINCT's post-shuffle partitions get AQE-coalesced on pair
    # BYTES — a few MB of short strings lands on one partition, so the
    # per-pair O(len²) Python scoring ran on one core. The explicit
    # keyed repartition defeats the coalescing; pairs are answer-scale
    # rows, so the extra exchange is cheap relative to the UDF.
    from .winnow import spread_for_fanout

    scored = pin(
        spread_for_fanout(cand, "left_value").withColumn(
            "jw", F.round(_jw(F.col("left_value"), F.col("right_value")), decimals)
        )
    )
    return scored.filter(F.col("jw") >= threshold)
