"""RFM segmentation — the classic recency / frequency / monetary
customer scoring (direct-marketing literature, Hughes 1994; public
knowledge) that turns a transaction log into a small set of named
behavioral segments ("champions", "at-risk big spenders", ...). The
reference's dashboard aggregates trips per month and hour
(scripts/03_spark_eda_agg.py:58-240); RFM is the same
aggregate-then-profile shape applied to WHO, generalized per SURVEY
§8's behavioral-analytics inventory.

Scale shape (100 TB): ONE map-side-combined ``groupBy(customer)``
collapses the transaction log to the customer-cardinality R/F/M frame;
everything after runs on THAT frame — three quantile-bound fits
(answer-scale driver state, the ``equal_frequency_bins`` discipline:
bounds, not ``ntile``'s global sort), a map-only score chain, and a
segment-cardinality (≤ n_bins³) profile aggregation. The transaction
log is scanned exactly once.

Determinism: scores come from value-vs-bound comparisons (ties to the
lower bin), so the segmentation is stable across partitionings and
restatable by a SQL oracle — unlike ``ntile``, whose tie placement is
an ordering accident.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils.caching import pin
from .binning import equal_frequency_bins


def rfm_segments(
    df: DataFrame,
    customer_col: str,
    ts_col: str,
    amount_col: str,
    reference_date: str,
    n_bins: int = 5,
    exact: bool = True,
    decimals: int = 6,
) -> DataFrame:
    """Segment profile ``(r_score, f_score, m_score, n_customers,
    avg_recency_days, avg_frequency, avg_monetary)``, one row per
    populated segment.

    Scores are 1..``n_bins`` with HIGHER = better: recency bins invert
    (most recent buyers score ``n_bins``), frequency and monetary bins
    count up. ``reference_date`` (``YYYY-MM-DD``) anchors recency —
    explicit, never inferred from ``max(ts)``, so the segmentation is
    reproducible and restatable. A customer whose metric is NULL (all
    timestamps NULL) lands in a NULL-scored segment rather than being
    silently dropped. ``exact=False`` flips the three bound fits to
    the ``approx_percentile`` sketch for the 100-TB path (the
    ``equal_frequency_bins`` contract: bound placement approximates,
    bin assignment around the returned bounds stays exact).
    """
    # Lineage-truncated: the three quantile-bound fits below are
    # eager collect actions and the final profile is a fourth —
    # without this the transaction log would be re-scanned per
    # action (the r8 review finding); with it, the log is scanned
    # exactly once and everything after runs on the materialized
    # customer-cardinality frame.
    per_cust = pin(
        df.groupBy(F.col(customer_col).alias("customer"))
        .agg(
            F.datediff(
                F.to_date(F.lit(reference_date)), F.to_date(F.max(ts_col))
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(amount_col).alias("monetary"),
        )
    )
    binned = per_cust
    for col in ("recency_days", "frequency", "monetary"):
        binned, _bounds = equal_frequency_bins(
            binned, col, n_bins=n_bins, bin_col=f"__b_{col}", exact=exact
        )
    scored = binned.select(
        "*",
        (F.lit(n_bins) - F.col("__b_recency_days")).alias("r_score"),
        (F.col("__b_frequency") + 1).alias("f_score"),
        (F.col("__b_monetary") + 1).alias("m_score"),
    )
    # Averages as exact-sum-then-one-division rather than F.avg: with
    # integer metrics (and a DECIMAL amount — the WOE bit-stability
    # pattern; the gate passes DECIMAL(18,2)) the sums are exact and
    # order-independent, so the single double division is bit-stable
    # across partitionings and engines. F.avg on doubles accumulates
    # in partition order and flipped a 6th decimal at the round
    # boundary on the fixture.
    n = F.count(F.lit(1))
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        n.alias("n_customers"),
        F.round(
            F.sum("recency_days").cast("double") / n, decimals
        ).alias("avg_recency_days"),
        F.round(
            F.sum("frequency").cast("double") / n, decimals
        ).alias("avg_frequency"),
        F.round(
            F.sum("monetary").cast("double") / n, decimals
        ).alias("avg_monetary"),
    )
