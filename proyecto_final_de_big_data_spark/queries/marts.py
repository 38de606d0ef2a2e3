"""Mart catalog — the reference's 11 EDA aggregates + KPIs + error rollup
(SURVEY §2.4, A1–A14; reference ``scripts/03_spark_eda_agg.py:58-240`` and
``scripts/06_export_for_dashboard.py:162-180``), re-expressed over the
synthetic star schema: ``events`` plays the time-series fact role
(ts ≙ pickup_datetime, value ≙ trip_duration/fare), ``lineitem``/``orders``
play the measure-fact role.

All are hash aggregations over low-cardinality keys → Spark executes them
as partial+final HashAggregate with map-side combine; no extra shuffles
beyond the one exchange per groupBy. At 100 TB these remain
single-shuffle queries; top-k compiles to TakeOrderedAndProject (no
global sort materialization).

DuckDB oracle note: DuckDB ``dayofweek`` is 0=Sunday while Spark's is
1=Sunday, so every oracle adds 1; exact ``quantile_cont`` ≙ Spark's exact
``F.percentile`` (both linear interpolation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.binning import with_bin
from ..operators.clean import clip_to_quantiles
from ..utils.plans import count, has, lacks
from .registry import register

# ---------------------------------------------------------------------------
# A4 — global KPIs (grand aggregate, no grouping)
# ---------------------------------------------------------------------------


@register(
    "kpis",
    claims=(
        count("HashAggregate", lo=2),  # map-side combine before the shuffle
    ),
    oracle="""
    SELECT count(*) AS total_rows,
           avg(l_quantity) AS avg_qty,
           avg(l_extendedprice) AS avg_price
    FROM lineitem
    """,
    description="Grand-total KPIs: count + two means (reference A4 kpis mart)",
)
def q_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.avg("l_quantity").alias("avg_qty"),
        F.avg("l_extendedprice").alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# A1 — count by (hour, dow)
# ---------------------------------------------------------------------------


@register(
    "trips_by_hour_dow",
    oracle="""
    SELECT hour(ts) AS event_hour,
           dayofweek(ts) + 1 AS event_dow,
           count(*) AS total_events
    FROM events
    GROUP BY 1, 2
    """,
    description="Count by (hour, day-of-week) — reference A1 viajes_por_hora_dia",
)
def q_trips_by_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.hour("ts").alias("event_hour"), F.dayofweek("ts").alias("event_dow"))
        .groupBy("event_hour", "event_dow")
        .agg(F.count(F.lit(1)).alias("total_events"))
    )


# ---------------------------------------------------------------------------
# A2/A3 — mean measure by hour
# ---------------------------------------------------------------------------


@register(
    "avg_value_by_hour",
    oracle="""
    SELECT hour(ts) AS event_hour,
           avg(value) AS avg_value,
           count(*) AS n_events
    FROM events
    GROUP BY 1
    """,
    description="Mean measure by hour — reference A2/A3 duracion/tarifa_promedio_hora",
)
def q_avg_value_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").alias("event_hour"))
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n_events"))
    )


# ---------------------------------------------------------------------------
# A5/A6 — top-k groups by count (TakeOrderedAndProject, not a global sort)
# ---------------------------------------------------------------------------


def _topk_by_count(df: DataFrame, key: str, alias: str, k: int) -> DataFrame:
    return (
        df.groupBy(F.col(key).alias(alias))
        .agg(
            F.count(F.lit(1)).alias("total_rows"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
        )
        .orderBy(F.desc("total_rows"), F.asc(alias))
        .limit(k)
    )


@register(
    "top_suppliers",
    claims=(
        has("TakeOrderedAndProject"),  # top-k: no materialized global sort
    ),
    oracle="""
    SELECT l_suppkey AS supplier_key,
           count(*) AS total_rows,
           avg(l_quantity) AS avg_qty,
           avg(l_extendedprice) AS avg_price
    FROM lineitem
    GROUP BY 1
    ORDER BY total_rows DESC, supplier_key ASC
    LIMIT 20
    """,
    description="Top-20 groups by count with per-group means — reference A5 top_origen",
)
def q_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk_by_count(load_table(spark, sf_dir, "lineitem"), "l_suppkey", "supplier_key", 20)


@register(
    "top_parts",
    oracle="""
    SELECT l_partkey AS part_key,
           count(*) AS total_rows,
           avg(l_quantity) AS avg_qty,
           avg(l_extendedprice) AS avg_price
    FROM lineitem
    GROUP BY 1
    ORDER BY total_rows DESC, part_key ASC
    LIMIT 20
    """,
    description="Top-20 by count on the other foreign key — reference A6 top_destino",
)
def q_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _topk_by_count(load_table(spark, sf_dir, "lineitem"), "l_partkey", "part_key", 20)


# ---------------------------------------------------------------------------
# A7/A8 — categorical profile aggregates
# ---------------------------------------------------------------------------


@register(
    "orders_by_priority",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*) AS total_orders,
           avg(o_totalprice) AS avg_price
    FROM orders
    GROUP BY 1
    """,
    description="Categorical profile (count + mean) — reference A7 pagos",
)
def q_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    return od.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.avg("o_totalprice").alias("avg_price"),
    )


@register(
    "lineitem_by_returnflag",
    oracle="""
    SELECT l_returnflag AS returnflag,
           count(*) AS total_rows,
           avg(l_quantity) AS avg_qty,
           avg(l_extendedprice) AS avg_price
    FROM lineitem
    GROUP BY 1
    """,
    description="Categorical profile on lineitem — reference A8 vendor",
)
def q_lineitem_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.avg("l_quantity").alias("avg_qty"),
        F.avg("l_extendedprice").alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# A9 — 6-way binning (when-chain) + per-bin profile
# ---------------------------------------------------------------------------

QTY_BIN_EDGES = [1.0, 3.0, 5.0, 10.0, 20.0]
QTY_BIN_LABELS = ["0-1", "1-3", "3-5", "5-10", "10-20", "20+"]


@register(
    "quantity_bins",
    oracle="""
    SELECT CASE
             WHEN l_quantity <= 1 THEN '0-1'
             WHEN l_quantity <= 3 THEN '1-3'
             WHEN l_quantity <= 5 THEN '3-5'
             WHEN l_quantity <= 10 THEN '5-10'
             WHEN l_quantity <= 20 THEN '10-20'
             ELSE '20+'
           END AS qty_bin,
           CASE
             WHEN l_quantity <= 1 THEN 0
             WHEN l_quantity <= 3 THEN 1
             WHEN l_quantity <= 5 THEN 2
             WHEN l_quantity <= 10 THEN 3
             WHEN l_quantity <= 20 THEN 4
             ELSE 5
           END AS bin_order,
           count(*) AS total_rows,
           avg(l_extendedprice) AS avg_price,
           avg(l_discount) AS avg_discount
    FROM lineitem
    GROUP BY 1, 2
    """,
    description="6-way when-chain binning + per-bin profile — reference A9 distancia_bins",
)
def q_quantity_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    binned = with_bin(li, "l_quantity", QTY_BIN_EDGES, QTY_BIN_LABELS, "qty_bin", "bin_order")
    return binned.groupBy("qty_bin", "bin_order").agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.avg("l_extendedprice").alias("avg_price"),
        F.avg("l_discount").alias("avg_discount"),
    )


# ---------------------------------------------------------------------------
# A10/A11 — variability marts: stddev + exact percentiles, exploded
# ---------------------------------------------------------------------------


def _variability(ev: DataFrame, key_col, key_alias: str) -> DataFrame:
    agg = ev.groupBy(key_col.alias(key_alias)).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.avg("value").alias("avg_value"),
        F.stddev("value").alias("std_value"),
        F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("_p"),
    )
    return agg.select(
        key_alias,
        "n_events",
        "avg_value",
        "std_value",
        F.col("_p").getItem(0).alias("p25_value"),
        F.col("_p").getItem(1).alias("p50_value"),
        F.col("_p").getItem(2).alias("p75_value"),
    )


_VARIABILITY_ORACLE = """
    SELECT {key_expr} AS {key_alias},
           count(*) AS n_events,
           avg(value) AS avg_value,
           stddev_samp(value) AS std_value,
           quantile_cont(value, 0.25) AS p25_value,
           quantile_cont(value, 0.50) AS p50_value,
           quantile_cont(value, 0.75) AS p75_value
    FROM events
    GROUP BY 1
"""


@register(
    "variability_by_hour",
    oracle=_VARIABILITY_ORACLE.format(key_expr="hour(ts)", key_alias="event_hour"),
    description="stddev + exact p25/p50/p75 by hour — reference A10 variabilidad_hora",
)
def q_variability_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return _variability(ev, F.hour("ts"), "event_hour")


@register(
    "variability_by_dow",
    oracle=_VARIABILITY_ORACLE.format(key_expr="dayofweek(ts) + 1", key_alias="event_dow"),
    description="stddev + exact p25/p50/p75 by day-of-week — reference A11 variabilidad_dia",
)
def q_variability_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return _variability(ev, F.dayofweek("ts"), "event_dow")


# ---------------------------------------------------------------------------
# A12 — error metrics rollup (MAE / RMSE via abs, pow, sqrt)
# ---------------------------------------------------------------------------


@register(
    "errors_by_month",
    oracle="""
    SELECT month(l_shipdate) AS ship_month,
           count(*) AS n_rows,
           avg(abs(l_extendedprice * (1 - l_discount) - l_extendedprice)) AS mae,
           sqrt(avg(pow(l_extendedprice * (1 - l_discount) - l_extendedprice, 2))) AS rmse,
           avg(l_extendedprice * (1 - l_discount)) AS avg_pred,
           avg(l_extendedprice) AS avg_label
    FROM lineitem
    GROUP BY 1
    """,
    description="MAE/RMSE rollup via abs/pow/sqrt — reference A12 errores_por_hora",
)
def q_errors_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pred = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    label = F.col("l_extendedprice")
    err = pred - label
    return li.groupBy(F.month("l_shipdate").alias("ship_month")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.avg(F.abs(err)).alias("mae"),
        F.sqrt(F.avg(F.pow(err, F.lit(2)))).alias("rmse"),
        F.avg(pred).alias("avg_pred"),
        F.avg(label).alias("avg_label"),
    )


# ---------------------------------------------------------------------------
# P7 — quantile-clip outlier filter, then KPIs over the clipped set.
# Exact percentiles on both sides so engine and oracle agree bit-for-bit
# (the production operator also offers approxQuantile — see operators.clean).
# ---------------------------------------------------------------------------


@register(
    "outlier_clipped_kpis",
    oracle="""
    SELECT count(*) AS total_rows,
           avg(l_extendedprice) AS avg_price,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem
    WHERE l_extendedprice >= (SELECT quantile_cont(l_extendedprice, 0.01) FROM lineitem)
      AND l_extendedprice <= (SELECT quantile_cont(l_extendedprice, 0.99) FROM lineitem)
    """,
    description="p1/p99 quantile-clip then KPIs — reference P7 outlier filter + A4",
)
def q_outlier_clipped_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    clipped = clip_to_quantiles(li, ["l_extendedprice"], 0.01, 0.99, exact=True)
    return clipped.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.avg("l_extendedprice").alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "grouped_outlier_clip_profile",
    claims=(
        # The per-group bounds frame broadcasts back onto the fact scan — no
        # sort-merge join, no second corpus shuffle. eqNullSafe compiles to
        # a hash-joinable key, so null-safety costs no plan quality: still a
        # BroadcastHashJoin, never a nested loop.
        has("BroadcastHashJoin"),
        lacks("BroadcastNestedLoopJoin"),
        lacks("SortMergeJoin"),
    ),
    oracle="""
    WITH bounds AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.05) AS lo,
               quantile_cont(l_extendedprice, 0.95) AS hi
        FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag AS returnflag,
           count(*) AS n_kept,
           avg(l.l_extendedprice) AS avg_price,
           min(l.l_extendedprice) AS min_price,
           max(l.l_extendedprice) AS max_price
    FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
    WHERE l.l_extendedprice >= b.lo AND l.l_extendedprice <= b.hi
    GROUP BY 1
    """,
    description="Per-GROUP quantile clipping (clip_to_group_quantiles): each "
    "return flag's prices are fenced to that flag's OWN p5/p95 band — the "
    "segment-aware twin of the global P7 clip (a price normal for one "
    "segment is an outlier for another). One grouped aggregation builds "
    "the per-group bounds, which broadcast back on a NULL-SAFE group key "
    "join, so the fact table is scanned twice and never shuffled. The "
    "oracle restates the band join in SQL; kept-row counts pin the exact "
    "band edges.",
)
def q_grouped_outlier_clip_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clean import clip_to_group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    clipped = clip_to_group_quantiles(
        li, ["l_returnflag"], ["l_extendedprice"], 0.05, 0.95, exact=True
    )
    return clipped.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.avg("l_extendedprice").alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )
