"""Gap-filled time-series grids (dense bucket axis with zero-fill).

A grouped time-bucket aggregation silently drops empty buckets; charts
and downstream window math need the dense axis. The grid is generated
from a one-row min/max aggregate (``sequence`` + ``explode``) — bucket
counts, not raw rows, so at 100 TB the grid side is tiny (hours in a
year ≈ 8.8k rows) and joins against the already-aggregated counts; the
corpus is touched exactly once by the groupBy scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..utils.caching import pin


def gap_filled_counts(
    df: DataFrame,
    ts_col: str = "ts",
    grain: str = "hour",
    value_col: str | None = None,
) -> DataFrame:
    """Dense per-``grain`` counts (and optional value sums, rounded to 6
    decimals) with empty buckets present as zeros.

    Returns columns: ``bucket`` (timestamp), ``n_events`` (bigint),
    and ``sum_value`` when ``value_col`` is given.

    The aggregate is referenced twice (bounds + the grid join) and
    Spark does NOT unify the two subplans (their column pruning
    differs, so no ReusedExchange), so the bucket-count-sized aggregate
    is pinned and the corpus is read once. The result is returned
    lazily and the caller's ``scope()`` releases the pin
    (utils/caching.py). min(date_trunc(ts)) == date_trunc(min(ts)), so
    deriving bounds from the aggregate leaves the grid identical.
    """
    bucket = F.date_trunc(grain, F.col(ts_col))
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 6).alias("sum_value"))
    counts = pin(df.groupBy(bucket.alias("bucket")).agg(*aggs))
    bounds = counts.agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
    grid = bounds.select(
        F.explode(
            F.sequence(F.col("b0"), F.col("b1"), F.expr(f"interval 1 {grain}"))
        ).alias("bucket")
    )
    out = grid.join(counts, "bucket", "left").withColumn(
        "n_events", F.coalesce(F.col("n_events"), F.lit(0))
    )
    if value_col is not None:
        out = out.withColumn("sum_value", F.coalesce(F.col("sum_value"), F.lit(0.0)))
    return out


def interpolate_gaps(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    grain: str = "hour",
) -> DataFrame:
    """Linear interpolation of missing buckets in a per-group time
    series — the imputation step between "gap-filled grid" (zeros) and
    window math that can't tolerate holes (rolling baselines, rates).

    Input: raw rows. Output: one row per (group, bucket) over each
    group's own [min, max] bucket span with columns ``bucket``,
    ``observed`` (the bucket's mean value, NULL where no rows landed)
    and ``value`` (observed where present, linearly interpolated
    between the nearest observed buckets otherwise; NULL outside the
    observed span — leading/trailing gaps are extrapolation, which this
    operator deliberately refuses to invent).

    Plan shape at 100 TB: the corpus is touched once by the bucket
    aggregation; everything after runs at bucket-count scale. The grid
    join and BOTH carry-forward/carry-backward windows share one
    partitioning on the group key, so the whole imputation costs the
    aggregation shuffle plus one bucket-scale shuffle — and the window
    partition key is the high-cardinality group (per user/device), not
    a global axis, for the same skew reason ``operators/rolling.py``
    documents.
    """
    bucket = F.date_trunc(grain, F.col(ts_col))
    obs = df.groupBy(F.col(group_col), bucket.alias("bucket")).agg(
        F.avg(value_col).alias("observed")
    )
    bounds = obs.groupBy(group_col).agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = bounds.select(
        F.col(group_col),
        F.explode(
            F.sequence(F.col("b0"), F.col("b1"), F.expr(f"interval 1 {grain}"))
        ).alias("bucket"),
    )
    j = grid.join(obs, [group_col, "bucket"], "left")

    w_back = (
        Window.partitionBy(group_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(group_col)
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("observed").isNotNull(), F.col("bucket"))
    pv = F.last("observed", ignorenulls=True).over(w_back)
    pb = F.last(obs_bucket, ignorenulls=True).over(w_back)
    nv = F.first("observed", ignorenulls=True).over(w_fwd)
    nb = F.first(obs_bucket, ignorenulls=True).over(w_fwd)
    # Identical arithmetic to the SQL oracle restatement: the ratio is a
    # double division of epoch-second deltas, applied as pv+(nv-pv)*f.
    frac = (
        (F.unix_timestamp("bucket") - F.unix_timestamp(pb)).cast("double")
        / (F.unix_timestamp(nb) - F.unix_timestamp(pb)).cast("double")
    )
    interp = (
        F.when(F.col("observed").isNotNull(), F.col("observed"))
        .when(pv.isNotNull() & nv.isNotNull(), pv + (nv - pv) * frac)
        .otherwise(F.lit(None).cast("double"))
    )
    return j.select(
        F.col(group_col),
        F.col("bucket"),
        F.col("observed"),
        interp.alias("value"),
    )
