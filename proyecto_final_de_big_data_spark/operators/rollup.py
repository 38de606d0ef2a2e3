"""Second-stage analytic operators — the reference computes these in
pandas inside its dashboard (SURVEY §2.4 D1–D10,
``dashboards/streamlit_app.py:218-516,590-699,770-938``); here they are
engine operators so they distribute.

Scale notes: weighted rollups are plain partial+final aggregations (one
shuffle). Share-of-total uses an empty-frame window (a single global
total) — computed as a scalar broadcast, not a full-data sort. Argmax /
top-k-per-group use ``row_number`` over a partitioned window: one
shuffle by the partition key, no global sort.
"""

from __future__ import annotations

import contextlib
import io
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..utils.logging import get_logger


def _warn_if_unaggregated(df: DataFrame, op: str) -> None:
    """The unpartitioned windows below single-partition their input —
    fine on post-aggregation frames (≤ thousands of rows), a scale bug
    on raw data. Warn (don't fail) when the lineage shows no upstream
    Aggregate/Limit, so misuse surfaces in logs before it surfaces as a
    single straggler task on a cluster.

    Lineage comes from the public ``explain("extended")`` string (the
    analyzed-plan section) — no private ``_jdf`` access, stable across
    Spark versions."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="extended")
    plan = buf.getvalue()
    if "Aggregate" not in plan and "GlobalLimit" not in plan:
        get_logger("rollup").warning(
            "%s applies an unpartitioned window to an input with no upstream "
            "aggregation or limit; this single-partitions the data. For "
            "raw-data shares compute the grand total separately and "
            "broadcast-join it.",
            op,
        )


def with_share_of_total(df: DataFrame, value_col: str, out: str = "share") -> DataFrame:
    """value / grand-total(value) per row (reference D8 share-of-total).

    Uses an unpartitioned window aggregate; on a post-aggregation frame
    (small) this is the idiomatic one-liner. For raw-data shares compute
    the total separately and broadcast it.
    """
    _warn_if_unaggregated(df, "with_share_of_total")
    w = Window.partitionBy()
    return df.withColumn(out, F.col(value_col) / F.sum(value_col).over(w))


def with_cumulative_share(df: DataFrame, order_col: str, value_col: str, out: str = "cum_share") -> DataFrame:
    """Running cumulative share of total, ordered by ``order_col``
    (reference D6, ``dashboards/streamlit_app.py:833-834``)."""
    _warn_if_unaggregated(df, "with_cumulative_share")
    w_cum = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    return df.withColumn(out, F.sum(value_col).over(w_cum) / F.sum(value_col).over(w_all))


def argmax_per_group(df: DataFrame, keys: Sequence[str], order_by: Sequence, n: int = 1) -> DataFrame:
    """Top-n rows per group by ``order_by`` columns/expressions
    (reference D3 argmax / D7 top-N-per-group). Emits ``rank`` (1-based).

    Include a unique tiebreaker in ``order_by`` for determinism.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    ranked = df.withColumn("rank", F.row_number().over(w))
    return ranked.filter(F.col("rank") <= n)
