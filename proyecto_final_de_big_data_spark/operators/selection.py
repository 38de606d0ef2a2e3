"""Token-budget data selection: keep the best-quality score bins per
stratum until a per-stratum token budget is filled.

The standard corpus-construction move ("select the top documents by
quality until we have N tokens of French") is usually written as a
per-stratum sort with a running token sum cut at the budget. At 100 TB
that is a giant sort: one stratum (lang=en) can be most of the corpus
and lands in one window partition. This module uses the aggregative
formulation instead, which never sorts the corpus:

1. Bin the quality score (``floor(score * scale)`` — a codegen'd
   projection over the scan).
2. One ``groupBy(stratum, bin)`` token-sum aggregation — partial
   (map-side) combine makes the shuffled frame *thousands* of rows
   regardless of corpus size.
3. A cumulative window over that tiny per-bin frame (ordered best bin
   first) finds each stratum's threshold bin.
4. Broadcast-join the per-stratum threshold back and filter — map-only
   over the corpus.

Bin granularity is the price: the boundary bin is wholly dropped (or
wholly kept with ``include_boundary=True``), so the realized token count
under/overshoots the budget by at most one bin's tokens. With
``scale=20`` on a [0,1] quality score that is a 0.05-wide quality slice
— the industry-standard threshold-selection semantics, made
deterministic and engine-portable (no RNG, no sort ties).

NULL handling: a NULL score means a NULL bin — the row contributes
nothing to budgets and is never selected. A NULL token count
contributes nothing to budgets but the row IS selected when its score
bin clears the threshold (selection is by score alone). A NULL
*stratum* is a legitimate group (null-safe join), matching the stance
of ``pipelines/release`` and ``operators/dedup``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def quality_bin(score: Column | str, scale: float = 20.0) -> Column:
    """``floor(score * scale)`` as a long. Multiplication (not division
    by 1/scale) so the oracle's IEEE arithmetic matches bit-for-bit:
    ``0.5 * 20.0`` is exact where ``0.5 / 0.05`` is not."""
    c = F.col(score) if isinstance(score, str) else score
    return F.floor(c * F.lit(scale)).cast("long")


def token_budget_thresholds(
    df: DataFrame,
    stratum_col: str,
    score_col: str,
    token_col: str,
    budget: int,
    scale: float = 20.0,
    include_boundary: bool = False,
) -> DataFrame:
    """Per-stratum keep thresholds: ``(stratum_col, min_keep_bin,
    kept_tokens, n_kept_bins)``.

    Bins are taken best-first; a bin is kept while the running token
    total (including the bin itself) stays within ``budget``. With
    ``include_boundary`` the first bin to cross the budget is also kept
    (overshoot bounded by that one bin). Strata whose top bin alone
    exceeds the budget keep nothing and emit no row unless
    ``include_boundary`` is set.

    The window here runs over the per-(stratum, bin) aggregate —
    ``O(n_strata * scale)`` rows — not the corpus.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    per_bin = (
        df.select(
            F.col(stratum_col).alias("__stratum"),
            quality_bin(score_col, scale).alias("__bin"),
            F.col(token_col).cast("long").alias("__tok"),
        )
        .where(F.col("__bin").isNotNull() & F.col("__tok").isNotNull())
        .groupBy("__stratum", "__bin")
        .agg(F.sum("__tok").alias("__bin_tokens"))
    )
    w = Window.partitionBy("__stratum").orderBy(F.col("__bin").desc())
    running = per_bin.withColumn(
        "__running", F.sum("__bin_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    keep = F.col("__running") <= budget
    if include_boundary:
        # ...plus the single bin that crosses the budget line.
        keep = keep | ((F.col("__running") > budget) & (F.col("__running") - F.col("__bin_tokens") <= budget))
    return (
        running.where(keep)
        .groupBy("__stratum")
        .agg(
            F.min("__bin").alias("min_keep_bin"),
            F.sum("__bin_tokens").alias("kept_tokens"),
            F.count(F.lit(1)).alias("n_kept_bins"),
        )
        .withColumnRenamed("__stratum", stratum_col)
    )


def select_within_token_budget(
    df: DataFrame,
    stratum_col: str,
    score_col: str,
    token_col: str,
    budget: int,
    scale: float = 20.0,
    include_boundary: bool = False,
) -> DataFrame:
    """Rows of ``df`` surviving the per-stratum token-budget selection
    (original columns only). The threshold frame broadcasts (it has at
    most one row per stratum), so the corpus side is filtered map-only —
    the lone corpus-sized shuffle in the whole operator is the partial-
    aggregated per-bin token sum inside the threshold computation.
    """
    thresholds = token_budget_thresholds(
        df, stratum_col, score_col, token_col, budget, scale, include_boundary
    ).select(F.col(stratum_col).alias("__t_stratum"), "min_keep_bin")
    joined = df.join(
        F.broadcast(thresholds),
        F.col(stratum_col).eqNullSafe(F.col("__t_stratum")),
        "inner",
    )
    kept = joined.where(quality_bin(score_col, scale) >= F.col("min_keep_bin"))
    return kept.drop("__t_stratum", "min_keep_bin")
