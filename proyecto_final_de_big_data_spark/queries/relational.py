"""Relational capability queries: multi-joins, semi/anti joins, set ops,
windows, pivot, rollup — the engine-capability surface exercised by the
oracle per SURVEY §2.5/§2.6/§2.8 and §5 (the reference's own Spark layer
is join-free; its pandas layer's joins map here).

Join strategy at scale: dimension tables (region/nation/customer at
reasonable SF) are broadcast; the fact-fact join (lineitem ⋈ orders) is
a shuffle hash/sort-merge join on the key both sides are already
bucketable by. AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.rollup import argmax_per_group
from ..utils.plans import count, has, has_any, lacks
from .registry import register

# --------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (groupBy 2 keys, 8 aggregates)
# --------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum(l_extendedprice) AS sum_base_price,
           sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
           avg(l_quantity) AS avg_qty,
           avg(l_extendedprice) AS avg_price,
           avg(l_discount) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1-style pricing summary — flagship aggregate",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (F.lit(1) + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Multi-join revenue rollup (TPC-H Q5 shape)
# --------------------------------------------------------------------------


@register(
    "revenue_by_nation",
    oracle="""
    SELECT n_name AS nation_name,
           sum(l_extendedprice * (1 - l_discount)) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderstatus = 'O'
    GROUP BY 1
    """,
    description="Fact-fact join + broadcast dims, revenue per nation (TPC-H Q5 shape)",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(od, li.l_orderkey == od.o_orderkey, "inner")
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey, "inner")
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey, "inner")
    )
    return joined.groupBy(F.col("n_name").alias("nation_name")).agg(
        F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


# --------------------------------------------------------------------------
# Semi / anti joins
# --------------------------------------------------------------------------


@register(
    "customers_with_big_orders",
    oracle="""
    SELECT c_mktsegment AS segment, count(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    GROUP BY 1
    """,
    description="Left-semi join (EXISTS) — customers having a big order",
)
def q_customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    semi = cu.join(od, cu.c_custkey == od.o_custkey, "left_semi")
    return semi.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_mktsegment AS segment, count(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY 1
    """,
    description="Left-anti join (NOT EXISTS) — customers with no orders",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    anti = cu.join(od, cu.c_custkey == od.o_custkey, "left_anti")
    return anti.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------


@register(
    "union_distinct_customers",
    oracle="""
    SELECT count(*) AS n_customers FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        UNION
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
    description="UNION (distinct) of two key sets",
)
def q_union_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    a = od.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = od.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.unionByName(b).distinct().agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "intersect_customers",
    oracle="""
    SELECT count(*) AS n_customers FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
    description="INTERSECT of two key sets",
)
def q_intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    a = od.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = od.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b).agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "except_customers",
    oracle="""
    SELECT count(*) AS n_customers FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
    description="EXCEPT of two key sets",
)
def q_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    a = od.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = od.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.subtract(b).agg(F.count(F.lit(1)).alias("n_customers"))


# --------------------------------------------------------------------------
# Windows: running total, top-k per group
# --------------------------------------------------------------------------


@register(
    "running_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           sum(o_totalprice) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate ASC, o_orderkey ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS running_spend
    FROM orders
    """,
    description="Per-customer running total (partitioned window cumsum)",
)
def q_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return od.select("o_custkey", "o_orderkey", F.sum("o_totalprice").over(w).alias("running_spend"))


@register(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rank
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        FROM orders
    )
    WHERE rank <= 3
    """,
    description="Top-3 per group via row_number window",
)
def q_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    top = argmax_per_group(od, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], n=3)
    return top.select("o_custkey", "o_orderkey", "o_totalprice", "rank")


# --------------------------------------------------------------------------
# Pivot and rollup
# --------------------------------------------------------------------------


@register(
    "returnflag_linestatus_pivot",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_linestatus = 'O') AS status_O,
           count(*) FILTER (WHERE l_linestatus = 'F') AS status_F
    FROM lineitem
    GROUP BY 1
    """,
    description="Pivot l_linestatus into columns (conditional aggregation)",
)
def q_returnflag_linestatus_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
    )
    # Pivot emits NULL for empty cells; the oracle's count FILTER emits 0 —
    # coalesce so both agree on TPC-H-faithful data where A/R never
    # co-occur with status O.
    return piv.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
    )


@register(
    "rollup_returnflag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows, sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    description="ROLLUP hierarchy aggregate (subtotals + grand total)",
)
def q_rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("l_quantity").alias("sum_qty")
    )


@register(
    "distinct_counts",
    oracle="""
    SELECT count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
    description="Exact distinct counts (expand-style multi-distinct aggregate)",
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "cube_returnflag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           count(*) AS n_rows, sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    description="CUBE aggregate — every grouping-set combination including "
    "per-column marginals ROLLUP skips; grouping_id distinguishes a genuine "
    "NULL key from a subtotal row (identical bit layout in Spark and "
    "DuckDB's GROUPING()).",
)
def q_cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
    ).select("l_returnflag", "l_linestatus", "gid", "n_rows", "sum_qty")


# --------------------------------------------------------------------------
# Pivot / unpivot (long <-> wide reshaping)
# --------------------------------------------------------------------------

# Explicit pivot column list: passing values to pivot() skips the extra
# distinct-collection JOB Spark otherwise runs to discover them — at
# 100 TB that implicit job is a full shuffle of the pivot column before
# the real aggregation even starts. It also fixes the output schema
# (and its order) regardless of which values a given slice contains.
_PRIORITY_COLS = [
    ("1-URGENT", "p_urgent"),
    ("2-HIGH", "p_high"),
    ("3-MEDIUM", "p_medium"),
    ("4-NOT SPECIFIED", "p_not_specified"),
    ("5-LOW", "p_low"),
]


def _pivot_priorities_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy(F.year("o_orderdate").alias("yr"))
        .pivot("o_orderpriority", [v for v, _ in _PRIORITY_COLS])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "yr", *[F.col(f"`{v}`").alias(a) for v, a in _PRIORITY_COLS]
    )


@register(
    "priority_pivot_by_year",
    claims=(
        # The literal value list means no distinct-discovery pass: pivot is
        # two chained aggregations, (yr, priority) then yr, so exactly two
        # exchanges, the second over group-cardinality rows only. No join.
        count(") Exchange", lo=2, hi=2),
        lacks("Join"),
    ),
    oracle="""
    SELECT year(o_orderdate) AS yr,
           count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p_urgent,
           count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p_high,
           count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p_medium,
           count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED')
               AS p_not_specified,
           count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p_low
    FROM orders
    GROUP BY 1
    """,
    description="Long-to-wide pivot: order counts per (year, priority) as one "
    "row per year with a column per priority. The pivot value list is "
    "EXPLICIT, so Spark skips the distinct-discovery job it otherwise "
    "runs over the pivot column (a full extra pass at scale) and the "
    "output schema is fixed up front. The physical shape is two chained "
    "aggregations — corpus to (year, priority) partials, then partials "
    "to wide year rows — so the second exchange moves group-cardinality "
    "rows only (plan-asserted). Missing (year, priority) combinations "
    "surface as 0 (coalesced), matching the oracle's FILTER counts.",
)
def q_priority_pivot_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = _pivot_priorities_wide(spark, sf_dir)
    return wide.select(
        "yr",
        *[F.coalesce(F.col(a), F.lit(0)).alias(a) for _, a in _PRIORITY_COLS],
    )


@register(
    "priority_unpivot_round_trip",
    claims=(
        # Unpivot is a projection-time expansion (Expand/Generate): the
        # round trip shuffles only for the upstream pivot's two aggregations.
        has_any("Expand", "Generate"),
        count(") Exchange", lo=2, hi=2),
        lacks("Join"),
    ),
    oracle="""
    SELECT year(o_orderdate) AS yr,
           CASE o_orderpriority
               WHEN '1-URGENT' THEN 'p_urgent'
               WHEN '2-HIGH' THEN 'p_high'
               WHEN '3-MEDIUM' THEN 'p_medium'
               WHEN '4-NOT SPECIFIED' THEN 'p_not_specified'
               WHEN '5-LOW' THEN 'p_low'
           END AS priority_label,
           count(*) AS cnt
    FROM orders
    GROUP BY 1, 2
    """,
    description="Wide-back-to-long unpivot (DataFrame.unpivot, the SQL "
    "UNPIVOT/melt): the pivoted per-year priority counts flow back into "
    "(yr, priority_label, cnt) rows, dropping the NULL cells unpivot "
    "emits for combinations the wide frame never saw — so the round "
    "trip lands exactly on the plain GROUP BY both engines agree on. "
    "Unpivot is a zero-shuffle projection (each wide row expands to at "
    "most five long rows in place); only the upstream pivot "
    "aggregation exchanges data.",
)
def q_priority_unpivot_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = _pivot_priorities_wide(spark, sf_dir)
    long = wide.unpivot(
        ids=["yr"],
        values=[a for _, a in _PRIORITY_COLS],
        variableColumnName="priority_label",
        valueColumnName="cnt",
    )
    return long.filter(F.col("cnt").isNotNull())


@register(
    "bloom_pruned_join_contract",
    claims=(
        # The bitmap probe sits in a plain Filter fused into the big side's
        # scan (xxhash64 arithmetic, no Python eval, no extra join or
        # exchange for the membership test): the orders stream shrinks
        # BEFORE the join's shuffle/broadcast.
        has("xxhash64"),
        lacks("BatchEvalPython"),
        lacks("ArrowEvalPython"),
        # exactly one join (the real customer join, broadcast — tree line +
        # detail block = 2 mentions); membership is a Filter, not a join
        count("BroadcastHashJoin", lo=2, hi=2),
        lacks("SortMergeJoin"),
        lacks("CartesianProduct"),
    ),
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_buyers,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal > 9000
    GROUP BY 1
    """,
    description="Bloom-filter join pruning (operators/bloomjoin.py): "
    "orders joined to the high-balance customers (c_acctbal > 9000, "
    "~10% of the dimension) with the big side pruned by a broadcast "
    "Bloom bitmap BEFORE the join — the declarative sibling of Spark's "
    "runtime row-level filter. The gate is join-output INVARIANCE: the "
    "oracle runs the plain join, so a single false NEGATIVE (a true "
    "match the bitmap dropped) shorts n_orders/revenue and hash-fails; "
    "false positives are eliminated by the join itself and cost only "
    "shuffled bytes, never rows. Build is ONE word-cardinality agg over "
    "the SMALL side (answer-scale collect: m/64 longs); the prune is a "
    "map-only conjunction of k=5 codegen bit probes fused into the "
    "orders scan. Positions via Kirsch-Mitzenmacher double hashing "
    "(2 xxhash64 evaluations expand to 5 probes, mod-reduced before "
    "the linear combination so ANSI long arithmetic cannot overflow).",
)
def q_bloom_pruned_join_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloomjoin import bloom_pruned_join

    cu = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    joined = bloom_pruned_join(orders, cu, "o_custkey", "c_custkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_buyers"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
