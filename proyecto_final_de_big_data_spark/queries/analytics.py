"""Second-stage analytics queries (reference D1–D10 — pandas in the
reference's dashboard, engine queries here; SURVEY §2.4 dashboard table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.rollup import argmax_per_group, with_cumulative_share, with_share_of_total
from ..utils.caching import pin
from ..utils.plans import count, has, has_any, lacks
from .registry import register

# D1 — re-aggregation across months


@register(
    "monthly_order_rollup",
    oracle="""
    SELECT year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           count(*) AS total_orders,
           sum(o_totalprice) AS sum_price
    FROM orders
    GROUP BY 1, 2
    """,
    description="Per-month re-aggregation — reference D1",
)
def q_monthly_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    return od.groupBy(
        F.year("o_orderdate").alias("order_year"), F.month("o_orderdate").alias("order_month")
    ).agg(F.count(F.lit(1)).alias("total_orders"), F.sum("o_totalprice").alias("sum_price"))


# D2 — count-weighted rollup of per-month means


@register(
    "weighted_avg_price_by_priority",
    oracle="""
    SELECT priority,
           round(sum(sum_price) / sum(n_orders), 6) AS weighted_avg_price,
           sum(n_orders)::BIGINT AS n_orders_total
    FROM (
        SELECT o_orderpriority AS priority,
               month(o_orderdate) AS order_month,
               sum(o_totalprice) AS sum_price,
               count(*) AS n_orders
        FROM orders
        GROUP BY 1, 2
    )
    GROUP BY 1
    """,
    description="Two-stage count-weighted mean rollup — reference D2. Carried as "
    "(sum, count) partials rather than (avg, count) so the rollup is exact under "
    "re-association; rounded to 6 decimals on both sides to pin the value hash.",
)
def q_weighted_avg_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    per_month = od.groupBy(
        F.col("o_orderpriority").alias("priority"), F.month("o_orderdate").alias("order_month")
    ).agg(F.sum("o_totalprice").alias("sum_price"), F.count(F.lit(1)).alias("n_orders"))
    return per_month.groupBy("priority").agg(
        F.round(F.sum("sum_price") / F.sum("n_orders"), 6).alias("weighted_avg_price"),
        F.sum("n_orders").alias("n_orders_total"),
    )


# D3 — argmax per group (peak hour per event type)


@register(
    "peak_hour_by_event_type",
    oracle="""
    SELECT event_type, event_hour, n_events, rank
    FROM (
        SELECT event_type, event_hour, n_events,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY n_events DESC, event_hour ASC) AS rank
        FROM (
            SELECT event_type, hour(ts) AS event_hour, count(*) AS n_events
            FROM events
            GROUP BY 1, 2
        )
    )
    WHERE rank <= 1
    """,
    description="Argmax-per-group via row_number window — reference D3",
)
def q_peak_hour_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    by_hour = ev.groupBy("event_type", F.hour("ts").alias("event_hour")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    peak = argmax_per_group(by_hour, ["event_type"], [F.desc("n_events"), F.asc("event_hour")], n=1)
    return peak.select("event_type", "event_hour", "n_events", "rank")


# D4 + D5 — equi-join of two aggregates on hour + derived ratio


@register(
    "hour_profile_join",
    oracle="""
    WITH counts AS (
        SELECT hour(ts) AS event_hour, count(*) AS n_events
        FROM events GROUP BY 1
    ), sums AS (
        SELECT hour(ts) AS event_hour, sum(value) AS sum_value
        FROM events GROUP BY 1
    )
    SELECT counts.event_hour AS event_hour, n_events, sum_value,
           sum_value / n_events AS value_per_event
    FROM counts JOIN sums ON counts.event_hour = sums.event_hour
    """,
    description="Join of two hourly aggregates + derived ratio — reference D4/D5",
)
def q_hour_profile_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(F.hour("ts").alias("event_hour")).agg(F.count(F.lit(1)).alias("n_events"))
    sums = ev.groupBy(F.hour("ts").alias("event_hour")).agg(F.sum("value").alias("sum_value"))
    # Post-agg frames are tiny (≤24 rows) → broadcast hash join, no shuffle.
    joined = counts.join(F.broadcast(sums), "event_hour", "inner")
    return joined.withColumn("value_per_event", F.col("sum_value") / F.col("n_events"))


# D6 + D8 — cumulative share over ordered hours


@register(
    "cumulative_hour_share",
    oracle="""
    SELECT event_hour, n_events,
           sum(n_events) OVER (ORDER BY event_hour
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / sum(n_events) OVER () AS cum_share
    FROM (
        SELECT hour(ts) AS event_hour, count(*) AS n_events
        FROM events GROUP BY 1
    )
    """,
    description="Hour-ordered running share of total demand — reference D6",
)
def q_cumulative_hour_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    by_hour = ev.groupBy(F.hour("ts").alias("event_hour")).agg(F.count(F.lit(1)).alias("n_events"))
    return with_cumulative_share(by_hour, "event_hour", "n_events", "cum_share")


# D7 — top-/bottom-N


@register(
    "top5_hours_by_events",
    oracle="""
    SELECT hour(ts) AS event_hour, count(*) AS n_events
    FROM events
    GROUP BY 1
    ORDER BY n_events DESC, event_hour ASC
    LIMIT 5
    """,
    description="Top-5 hours by demand — reference D7",
)
def q_top5_hours_by_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").alias("event_hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("event_hour"))
        .limit(5)
    )


# D8 — share of grand total


@register(
    "priority_share_of_total",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*) AS n_orders,
           count(*) / (SELECT count(*)::DOUBLE FROM orders) AS share
    FROM orders
    GROUP BY 1
    """,
    description="Group share of grand total — reference D8",
)
def q_priority_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    by_priority = od.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return with_share_of_total(by_priority, "n_orders", "share")


# D9 — code→label decode via broadcast dimension join


@register(
    "customer_region_decode",
    claims=(
        # the dimension decode is a broadcast join
        has("BroadcastHashJoin"),
        lacks("SortMergeJoin"),  # dims must not shuffle the fact side
    ),
    oracle="""
    SELECT r_name AS region_name, n_name AS nation_name,
           count(*) AS n_customers,
           avg(c_acctbal) AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    """,
    description="Dimension-decode via broadcast joins — reference D9 code→label maps",
)
def q_customer_region_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    decoded = cu.join(
        F.broadcast(na), cu.c_nationkey == na.n_nationkey, "inner"
    ).join(F.broadcast(re), na.n_regionkey == re.r_regionkey, "inner")
    return decoded.groupBy(
        F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
    ).agg(F.count(F.lit(1)).alias("n_customers"), F.avg("c_acctbal").alias("avg_acctbal"))


# D10 — boolean bucketing (weekend / night)


@register(
    "weekend_night_buckets",
    oracle="""
    SELECT CAST(dayofweek(ts) + 1 IN (1, 7) AS INT) AS is_weekend,
           CAST(hour(ts) >= 22 OR hour(ts) <= 5 AS INT) AS is_night,
           count(*) AS n_events,
           avg(value) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    description="Boolean weekend/night bucketing — reference D10",
)
def q_weekend_night_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour = F.hour("ts")
    return (
        ev.withColumn("is_weekend", F.dayofweek("ts").isin(1, 7).cast("int"))
        .withColumn("is_night", ((hour >= 22) | (hour <= 5)).cast("int"))
        .groupBy("is_weekend", "is_night")
        .agg(F.count(F.lit(1)).alias("n_events"), F.avg("value").alias("avg_value"))
    )


# Skew-mitigation surface (operators/skew.py) driven through the gate:
# the salted plans must produce EXACTLY the unsalted GROUP BY / join
# answers — the salt is an execution detail, invisible in the result.


@register(
    "salted_event_type_stats",
    claims=(
        # phase 1 groupBy (key, salt) + phase 2 groupBy key, each with
        # map-side partial aggregation -> at least 3 HashAggregate nodes.
        count("HashAggregate", lo=3),
    ),
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1
    """,
    description="Two-phase salted aggregation (groupBy (key, salt) partial -> "
    "groupBy key final, operators/skew.py) over events; the oracle is the "
    "plain GROUP BY it must be indistinguishable from. Sums rounded to 4 "
    "decimals on both sides: the extra combine step changes float "
    "association order.",
)
def q_salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_aggregate

    ev = load_table(spark, sf_dir, "events")
    agg = salted_aggregate(
        ev, ["event_type"], sums={"total_value": F.col("value")}, count_alias="n_events"
    )
    return agg.select(
        "event_type", "n_events", F.round("total_value", 4).alias("total_value")
    )


@register(
    "salted_nation_customer_counts",
    claims=(
        # the replicated small side broadcasts
        has("BroadcastHashJoin"),
        lacks("SortMergeJoin"),  # the big (salted) side must not shuffle
    ),
    oracle="""
    SELECT n.n_name AS nation_name,
           count(*) AS n_customers,
           round(sum(c.c_acctbal), 4) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
    description="Salt-replicated broadcast join (operators/skew.py "
    "salted_broadcast_left: the small side is replicated per salt and "
    "broadcast, the big side never shuffles for the join) decoding customers "
    "to nations; oracle is the plain equi-join + GROUP BY.",
)
def q_salted_nation_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_broadcast_left

    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_nationkey", "nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").withColumnRenamed(
        "n_nationkey", "nationkey"
    )
    joined = salted_broadcast_left(cust, nat, "nationkey", n_salts=8)
    return joined.groupBy(F.col("n_name").alias("nation_name")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"),
    )


@register(
    "event_props_json_profile",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           avg(json_extract(props, '$.k')::INT) AS avg_k,
           max(json_extract(props, '$.k')::INT) AS max_k,
           count(*) FILTER (WHERE json_extract(props, '$.k')::INT >= 50)
               AS n_high_k
    FROM events
    GROUP BY 1
    """,
    description="Semi-structured payload parsing: the events props column is a "
    "JSON string; get_json_object extracts $.k JVM-side (a codegen'd "
    "projection over the scan — no Python, no UDF) and the profile is "
    "hash-checked against DuckDB's json_extract. At 100 TB this is the "
    "scan-then-shred pattern: parse in the projection, aggregate on the "
    "extracted value, never materialize parsed structs wider than needed.",
)
def q_event_props_json_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.avg(k).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.sum((k >= 50).cast("long")).alias("n_high_k"),
    )


@register(
    "approx_distinct_contract",
    oracle="""
    SELECT count(DISTINCT user_id) AS n_users_exact,
           count(DISTINCT event_id) AS n_events_exact,
           1 AS within_tol
    FROM events
    """,
    description="HyperLogLog cardinality (approx_count_distinct, default "
    "rsd=0.05) as an accuracy contract: the sketch estimates for user_id and "
    "event_id must land within 15% of the exact counts (3x the configured "
    "rsd). The oracle pins the exact counts and that the tolerance held — a "
    "broken sketch flips within_tol and breaks the hash. The scale rationale: "
    "HLL is one pass, fixed memory per group, no shuffle of distinct values; "
    "exact distinct shuffles every distinct key (kept in distinct_counts as "
    "the value-exact variant).",
)
def q_approx_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    est = ev.agg(
        F.approx_count_distinct("user_id").alias("__u"),
        F.approx_count_distinct("event_id").alias("__e"),
        F.countDistinct("user_id").alias("n_users_exact"),
        F.countDistinct("event_id").alias("n_events_exact"),
    )
    return est.select(
        "n_users_exact",
        "n_events_exact",
        (
            (F.abs(F.col("__u") - F.col("n_users_exact")) / F.col("n_users_exact") <= 0.15)
            & (F.abs(F.col("__e") - F.col("n_events_exact")) / F.col("n_events_exact") <= 0.15)
        )
        .cast("int")
        .alias("within_tol"),
    )


# Round-5 extension analytics: rolling time-range baselines + dense
# time-series grids.


@register(
    "rolling_user_zscore",
    claims=(
        # One shuffle for the user_id window, one for the final event_type
        # agg — no third Exchange from accidental repartitioning.
        count("Window", lo=1),
        count("Exchange (", hi=2),  # tree lines only: "Exchange (n)"
    ),
    oracle="""
    WITH w AS (
        SELECT user_id, event_type, value,
               avg(value) OVER win AS m,
               stddev_samp(value) OVER win AS s,
               count(*) OVER win AS n
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
    ), z AS (
        SELECT event_type,
               CASE WHEN n >= 5 AND s > 0 THEN (value - m) / s END AS z
        FROM w
    )
    SELECT event_type,
           count(*) AS n_events,
           count(z)::BIGINT AS n_scored,
           sum(CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END)::BIGINT AS n_anomalies,
           round(avg(abs(z)), 6) AS avg_abs_z
    FROM z
    GROUP BY event_type
    """,
    description="Trailing-24h per-user rolling baseline (RANGE frame on "
    "integer microseconds) with z-score anomaly flags, profiled per "
    "event_type. The window partitions on high-cardinality user_id — the "
    "scale-safe choice; a RANGE frame partitioned on event_type would "
    "funnel the corpus through a handful of window partitions at 100 TB. "
    "Trailing span picked against fixture density: 1 day puts ~17% of "
    "events over the min_n=5 scoring floor (a 1-hour frame scores ~0).",
)
def q_rolling_user_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rolling import with_rolling_stats

    ev = load_table(spark, sf_dir, "events")
    rolled = with_rolling_stats(
        ev, "user_id", ts_col="ts", value_col="value", trailing="1 day", min_n=5
    )
    z = F.col("zscore")
    return rolled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(z).alias("n_scored"),
        F.coalesce(F.sum((F.abs(z) > 3).cast("long")), F.lit(0)).alias("n_anomalies"),
        F.round(F.avg(F.abs(z)), 6).alias("avg_abs_z"),
    )


@register(
    "hourly_counts_gapfilled",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', min(ts)) AS b0,
               date_trunc('hour', max(ts)) AS b1
        FROM events
    ), grid AS (
        SELECT unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        FROM b
    ), c AS (
        SELECT date_trunc('hour', ts) AS bucket,
               count(*) AS n_events,
               round(sum(value), 6) AS sum_value
        FROM events
        GROUP BY 1
    )
    SELECT g.bucket,
           coalesce(c.n_events, 0)::BIGINT AS n_events,
           coalesce(c.sum_value, 0.0) AS sum_value
    FROM grid g LEFT JOIN c ON g.bucket = c.bucket
    """,
    description="Dense hourly time series with zero-filled gaps: grid from a "
    "one-row min/max aggregate (sequence+explode) left-joined to the bucket "
    "aggregation — the corpus is scanned exactly once; the grid side is "
    "bucket-count-sized (8.8k rows/year), never row-sized.",
)
def q_hourly_counts_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timegrid import gap_filled_counts

    ev = load_table(spark, sf_dir, "events")
    return gap_filled_counts(ev, ts_col="ts", grain="hour", value_col="value")


@register(
    "interpolated_user_series",
    claims=(
        # Both IGNORE-NULLS carry directions fuse into ONE Window node (same
        # partitioning + ordering), and the bucket-scale grid joins by
        # broadcast — the corpus-scale shuffle is the bucket aggregation alone.
        count(") Window", lo=1, hi=1),
        has("BroadcastHashJoin"),
        lacks("CartesianProduct"),
    ),
    oracle="""
    WITH obs AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket, avg(value) AS observed
        FROM events WHERE user_id % 37 = 0 GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM obs GROUP BY 1
    ), grid AS (
        SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        FROM bounds
    ), j AS (
        SELECT g.user_id, g.bucket, o.observed
        FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket
    ), w AS (
        SELECT user_id, bucket, observed,
               last_value(observed IGNORE NULLS) OVER wb AS pv,
               last_value(CASE WHEN observed IS NOT NULL THEN bucket END IGNORE NULLS)
                   OVER wb AS pb,
               first_value(observed IGNORE NULLS) OVER wf AS nv,
               first_value(CASE WHEN observed IS NOT NULL THEN bucket END IGNORE NULLS)
                   OVER wf AS nb
        FROM j
        WINDOW wb AS (PARTITION BY user_id ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY bucket
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ), interp AS (
        SELECT user_id, bucket, observed,
               CASE WHEN observed IS NOT NULL THEN observed
                    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                         pv + (nv - pv) *
                         (CAST(epoch(bucket) - epoch(pb) AS DOUBLE)
                          / CAST(epoch(nb) - epoch(pb) AS DOUBLE))
                    ELSE NULL END AS value
        FROM w
    )
    SELECT user_id,
           count(*) AS n_buckets,
           CAST(sum(CASE WHEN observed IS NULL AND value IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_interpolated,
           avg(value) AS mean_value
    FROM interp
    GROUP BY user_id
    """,
    description="Linear gap interpolation (operators/timegrid.py "
    "interpolate_gaps): a sliced set of users' hourly mean-value series is "
    "densified over each user's own span and missing buckets are filled by "
    "linear interpolation between the nearest observed buckets (leading/"
    "trailing gaps stay NULL — no extrapolation). Both carry windows and "
    "the grid join share one user-keyed partitioning; the oracle restates "
    "the identical IGNORE-NULLS window + epoch-ratio arithmetic, and the "
    "per-user interpolated-bucket counts pin the gap structure exactly.",
)
def q_interpolated_user_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timegrid import interpolate_gaps

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 37 == 0)
    series = interpolate_gaps(ev, "user_id", "ts", "value", grain="hour")
    return series.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(
            F.when(F.col("observed").isNull() & F.col("value").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_interpolated"),
        F.avg("value").alias("mean_value"),
    )

@register(
    "heavy_hitter_keys",
    oracle="""
    WITH keyed AS (
        SELECT CASE WHEN event_id % 3 = 0 THEN 'hot_' || (event_id % 2)
                    ELSE 'cold_' || event_id END AS k
        FROM events
    ), tot AS (SELECT count(*) AS n FROM keyed)
    SELECT k, count(*) AS cnt,
           round(count(*) / (SELECT n FROM tot), 6) AS share
    FROM keyed
    GROUP BY k
    HAVING count(*) >= 0.01 * (SELECT n FROM tot)
    """,
    description="Heavy-hitter detection (operators/heavy_hitters.py) over an "
    "injected skewed key: every third event collapses onto one of two hot "
    "keys, the rest stay singletons — a key domain at ~2/3 corpus "
    "cardinality whose >=1%-share answer is exactly two rows. The two-phase "
    "operator (deterministic hash-sample candidates, broadcast semi-join "
    "exact verify) never shuffles the raw key domain; the oracle is the "
    "plain exact GROUP BY ... HAVING, because the output is EXACT by "
    "construction — sampling affects completeness odds (~1e-11 per key), "
    "never the emitted values. The synthetic corpus has no organic skew "
    "(user/word shares are near-uniform at every SF), so the skew is "
    "injected deterministically — the same stance as the PII/boilerplate "
    "fixtures.",
)
def q_heavy_hitter_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.heavy_hitters import heavy_hitters

    ev = load_table(spark, sf_dir, "events").select(
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(F.lit("hot_"), (F.col("event_id") % 2).cast("string")),
        )
        .otherwise(F.concat(F.lit("cold_"), F.col("event_id").cast("string")))
        .alias("k"),
        F.col("event_id"),
    )
    return heavy_hitters(ev, "k", min_share=0.01, sample_on=["event_id"])


@register(
    "variant_props_stats",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
           min(json_extract(props, '$.k')::BIGINT) AS min_k,
           max(json_extract(props, '$.k')::BIGINT) AS max_k,
           'OBJECT<k: BIGINT>' AS props_schema
    FROM events
    GROUP BY 1
    """,
    description="VARIANT-typed semi-structured payloads: parse_json turns the "
    "props JSON string into Spark's binary VARIANT encoding ONCE in the "
    "projection, then every access is a typed variant_get path lookup on "
    "the binary — no re-tokenization per field, which is the difference "
    "from get_json_object (event_props_json_profile) when a pipeline "
    "touches many fields of the same payload: N accesses cost one parse, "
    "not N. schema_of_variant_agg infers the payload schema per group "
    "and the gate pins the inferred string exactly, so a fixture drift "
    "to a different payload shape breaks the hash rather than silently "
    "reading NULLs.",
)
def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.variant_get("v", "$.k", "bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.schema_of_variant_agg("v").alias("props_schema"),
    )


@register(
    "decile_profile_contract",
    claims=(
        # No ntile or global sort anywhere: the plan aggregates a
        # comparison-chain projection.
        lacks("ntile"),
        lacks("rangepartitioning"),
        count(") Exchange", lo=1, hi=1),  # only the profile agg
    ),
    oracle="""
    WITH b AS (
        SELECT quantile_cont(l_extendedprice,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
        FROM lineitem
    ),
    vals AS (
        SELECT l_extendedprice AS v FROM lineitem
    ),
    binned AS (
        SELECT (CASE WHEN v > q[1] THEN 1 ELSE 0 END + CASE WHEN v > q[2] THEN 1 ELSE 0 END + CASE WHEN v > q[3] THEN 1 ELSE 0 END + CASE WHEN v > q[4] THEN 1 ELSE 0 END + CASE WHEN v > q[5] THEN 1 ELSE 0 END + CASE WHEN v > q[6] THEN 1 ELSE 0 END + CASE WHEN v > q[7] THEN 1 ELSE 0 END + CASE WHEN v > q[8] THEN 1 ELSE 0 END + CASE WHEN v > q[9] THEN 1 ELSE 0 END) AS bin,
               v
        FROM vals, b
    )
    SELECT bin,
           count(*) AS n_rows,
           round(min(v), 2) AS min_price,
           round(max(v), 2) AS max_price,
           round(sum(v), 2) AS sum_price
    FROM binned
    GROUP BY 1
    """,
    description="Equal-frequency binning (operators/binning.py:"
    "equal_frequency_bins): deciles of l_extendedprice computed the "
    "scale-correct way — ONE aggregation pass for the 9 interior "
    "quantile bounds (answer-scale driver state), then a map-only "
    "chain of value>bound comparisons; NO ntile and no global sort "
    "anywhere in the plan. The oracle recomputes the bounds with "
    "quantile_cont (the same linear-interpolation definition as "
    "Spark's exact percentile) and replays the strict-> tie rule, so "
    "shifted bounds, an off-by-one bin, or a wrong tie side all break "
    "the hash. Production at 100 TB swaps exact=False for the "
    "approx_percentile sketch (same plan shape, bounded merge).",
)
def q_decile_profile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.binning import equal_frequency_bins

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    binned, _bounds = equal_frequency_bins(li, "l_extendedprice", n_bins=10)
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@register(
    "event_funnel_profile",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t
        GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t
        GROUP BY 1
    ),
    counts AS (
        SELECT 0 AS step_idx, 'view' AS step,
               (SELECT count(*) FROM s1) AS n_users
        UNION ALL
        SELECT 1, 'click', (SELECT count(*) FROM s2)
        UNION ALL
        SELECT 2, 'purchase', (SELECT count(*) FROM s3)
    )
    SELECT step_idx, step, n_users,
           CASE WHEN (SELECT count(*) FROM s1) > 0
                THEN round(n_users / (SELECT count(*) FROM s1), 6)
           END AS conversion
    FROM counts
    """,
    description="Strict sequential funnel (operators/funnel.py): users "
    "completing view -> click -> purchase, each step requiring an "
    "event STRICTLY AFTER the user's earliest completion of the prior "
    "step (equal timestamps do not advance). Per-step frames shrink "
    "monotonically and every stage is keyed on the high-cardinality "
    "user id — per-user mins and user-keyed equi-joins, no global "
    "order anywhere. The funnel is ONE DataFrame plan: each step frame "
    "is lineage-truncated (lazy localCheckpoint) so it is evaluated "
    "exactly once for both its count branch and the next step's join "
    "(the r6 VERDICT O(N^2) recompute, fixed), and conversion vs the "
    "entry step rides an answer-scale window. The oracle replays the "
    "identical three-stage derivation plus the ratio.",
)
def q_event_funnel_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel_counts

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    return funnel_counts(ev, ["view", "click", "purchase"])


@register(
    "weekly_retention_cohorts",
    oracle="""
    WITH weeks AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
        FROM events
    ),
    cohorts AS (
        SELECT user_id, week,
               min(week) OVER (PARTITION BY user_id) AS cohort
        FROM weeks
    )
    SELECT cohort AS cohort_week,
           week - cohort AS week_offset,
           count(DISTINCT user_id) AS n_users
    FROM cohorts
    GROUP BY 1, 2
    """,
    description="Weekly retention triangle (operators/funnel.py): users "
    "grouped by first-seen week, counted once per later week they "
    "return. Week indices are integer epoch-weeks (epoch_seconds // "
    "604800) so no engine-specific week-start semantics exist; one "
    "user-keyed shuffle feeds the cohort window, then the aggregation "
    "runs at (cohort, offset) cardinality — weeks squared, tiny at "
    "any corpus size.",
)
def q_weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import retention_cohorts

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return retention_cohorts(ev)


@register(
    "cm_frequency_rollup_contract",
    oracle="""
    WITH probes AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_custkey % 300 = 7
    ),
    depths AS (SELECT unnest(range(4))::INT AS d),
    cm AS (
        SELECT d,
               CAST(concat('0x', substring(md5(concat(CAST(d AS VARCHAR), ':',
                    CAST(o_custkey AS VARCHAR))), 1, 15)) AS BIGINT) % 1024 AS bucket,
               count(*) AS cnt
        FROM orders, depths
        GROUP BY 1, 2
    ),
    probe_rows AS (
        SELECT o_custkey, d,
               CAST(concat('0x', substring(md5(concat(CAST(d AS VARCHAR), ':',
                    CAST(o_custkey AS VARCHAR))), 1, 15)) AS BIGINT) % 1024 AS bucket
        FROM probes, depths
    ),
    est AS (
        SELECT p.o_custkey AS custkey,
               min(coalesce(cm.cnt, 0))::BIGINT AS cm_est
        FROM probe_rows p LEFT JOIN cm USING (d, bucket)
        GROUP BY 1
    ),
    exact AS (
        SELECT o_custkey AS custkey, count(*) AS exact_cnt
        FROM orders GROUP BY 1
    )
    SELECT e.custkey, e.cm_est, x.exact_cnt,
           CAST(e.cm_est >= x.exact_cnt AS INT) AS overcount_ok
    FROM est e JOIN exact x USING (custkey)
    """,
    description="Count-min sketch frequency rollup (operators/"
    "sketches.py:cm_build/cm_merge/cm_estimate): per-year sketch "
    "partials over order custkeys (depth 4 x width 1024 rows per "
    "partial, regardless of input size) merge by union+sum into the "
    "global sketch — the frequency analog of the HLL/KLL/Theta "
    "partial/rollup pairs — and probe keys read min-over-depth via a "
    "broadcast join. The bucket hash is 60 bits of md5 (portable hex "
    "-> integer on both engines), so the oracle rebuilds the IDENTICAL "
    "table and the gate is an exact hash match on the estimates "
    "themselves, not a tolerance band; overcount_ok additionally pins "
    "the one-sided CM guarantee (est >= exact, always).",
)
def q_cm_frequency_rollup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cm_build, cm_estimate, cm_merge

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("yr")
    )
    partials = cm_build(orders, "o_custkey", group_cols=["yr"])
    merged = cm_merge(partials)  # drop the year: one global sketch
    probes = orders.filter(F.col("o_custkey") % 300 == 7).select("o_custkey")
    est = cm_estimate(merged, probes, "o_custkey").select(
        F.col("o_custkey").alias("custkey"), "cm_est"
    )
    exact = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return est.join(exact, "custkey").select(
        "custkey",
        "cm_est",
        "exact_cnt",
        (F.col("cm_est") >= F.col("exact_cnt")).cast("int").alias("overcount_ok"),
    )


@register(
    "pagerank_contract",
    oracle="""
    WITH raw AS (
        SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges0 AS (
        SELECT c AS src, s AS dst FROM raw
        UNION
        SELECT s AS src, c AS dst FROM raw
    ),
    outdeg AS (SELECT src, count(*) AS od FROM edges0 GROUP BY 1),
    edges AS (SELECT e.src, e.dst, o.od FROM edges0 e JOIN outdeg o USING (src)),
    nodes AS (SELECT src AS node FROM edges0 UNION SELECT dst FROM edges0),
    cnt AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    it0 AS (SELECT node, 1.0 / (SELECT n FROM cnt) AS rank FROM nodes),
    it1 AS (
        SELECT n.node,
               (1.0 - 0.85) / (SELECT n FROM cnt)
                 + 0.85 * coalesce(c.s, 0) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.rank / e.od) AS s
            FROM edges e JOIN it0 p ON e.src = p.node
            GROUP BY 1
        ) c USING (node)
    ),
    it2 AS (
        SELECT n.node,
               (1.0 - 0.85) / (SELECT n FROM cnt)
                 + 0.85 * coalesce(c.s, 0) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.rank / e.od) AS s
            FROM edges e JOIN it1 p ON e.src = p.node
            GROUP BY 1
        ) c USING (node)
    ),
    it3 AS (
        SELECT n.node,
               (1.0 - 0.85) / (SELECT n FROM cnt)
                 + 0.85 * coalesce(c.s, 0) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.rank / e.od) AS s
            FROM edges e JOIN it2 p ON e.src = p.node
            GROUP BY 1
        ) c USING (node)
    ),
    it4 AS (
        SELECT n.node,
               (1.0 - 0.85) / (SELECT n FROM cnt)
                 + 0.85 * coalesce(c.s, 0) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.rank / e.od) AS s
            FROM edges e JOIN it3 p ON e.src = p.node
            GROUP BY 1
        ) c USING (node)
    ),
    it5 AS (
        SELECT n.node,
               (1.0 - 0.85) / (SELECT n FROM cnt)
                 + 0.85 * coalesce(c.s, 0) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.rank / e.od) AS s
            FROM edges e JOIN it4 p ON e.src = p.node
            GROUP BY 1
        ) c USING (node)
    ),
    it6 AS (
        SELECT n.node,
               (1.0 - 0.85) / (SELECT n FROM cnt)
                 + 0.85 * coalesce(c.s, 0) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.rank / e.od) AS s
            FROM edges e JOIN it5 p ON e.src = p.node
            GROUP BY 1
        ) c USING (node)
    ),
    it7 AS (
        SELECT n.node,
               (1.0 - 0.85) / (SELECT n FROM cnt)
                 + 0.85 * coalesce(c.s, 0) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.rank / e.od) AS s
            FROM edges e JOIN it6 p ON e.src = p.node
            GROUP BY 1
        ) c USING (node)
    ),
    it8 AS (
        SELECT n.node,
               (1.0 - 0.85) / (SELECT n FROM cnt)
                 + 0.85 * coalesce(c.s, 0) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.rank / e.od) AS s
            FROM edges e JOIN it7 p ON e.src = p.node
            GROUP BY 1
        ) c USING (node)
    ),
    it9 AS (
        SELECT n.node,
               (1.0 - 0.85) / (SELECT n FROM cnt)
                 + 0.85 * coalesce(c.s, 0) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.rank / e.od) AS s
            FROM edges e JOIN it8 p ON e.src = p.node
            GROUP BY 1
        ) c USING (node)
    ),
    it10 AS (
        SELECT n.node,
               (1.0 - 0.85) / (SELECT n FROM cnt)
                 + 0.85 * coalesce(c.s, 0) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.rank / e.od) AS s
            FROM edges e JOIN it9 p ON e.src = p.node
            GROUP BY 1
        ) c USING (node)
    )
    SELECT node, round(rank, 8) AS rank FROM it10
    """,
    description="Fixed-iteration PageRank (operators/graph.py:pagerank) "
    "over the bidirectional customer-supplier trade graph (node ids "
    "namespaced 2k / 2k+1 so the key spaces cannot collide). Ten "
    "iterations of the Pregel message pattern as DataFrame ops — one "
    "contribution join + one destination-keyed aggregation per round, "
    "lazy localCheckpoint lineage truncation, zero driver state. The "
    "fixed iteration count makes every rank a deterministic double, so "
    "the oracle UNROLLS the same ten iterations as chained CTEs and "
    "the gate hash-matches values at 8 decimals — no tolerance band.",
)
def q_pagerank_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranks = pagerank(edges, iterations=10, damping=0.85)
    return ranks.select("node", F.round("rank", 8).alias("rank"))


@register(
    "event_transition_matrix",
    claims=(
        lacks("CartesianProduct"),
        lacks("BroadcastNestedLoopJoin"),
        # exactly one data-scale window (the user-keyed lead); the
        # normalization window runs over the types^2 matrix after the agg.
        count("(user_id", lo=1),
    ),
    oracle="""
    WITH pairs AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    counted AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
        FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           round(n_transitions::DOUBLE
                   / sum(n_transitions) OVER (PARTITION BY from_type),
                 6) AS p_transition
    FROM counted
    """,
    description="First-order Markov transition matrix over per-user event "
    "sequences (operators/paths.py): consecutive (from, to) event-type "
    "pairs in (ts, event_id) order — the same strict total order the "
    "sessionize family pins — row-normalized per from_type. ONE "
    "user-keyed window pass forms the pairs; the normalization window "
    "runs over the |types|^2-row matrix, answer-scale at any corpus "
    "size. The oracle replays lead() with the identical tie-break.",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.paths import event_transitions

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return event_transitions(ev)


@register(
    "session_path_profile",
    claims=(
        # The path build is collect_list+array_sort INSIDE the session agg:
        # the only Window nodes belong to sessionize (lag + running sum,
        # sharing one sort); the path stage itself must be agg-only.
        lacks("CartesianProduct"),
        count("Window (", hi=2),  # sessionize's two passes share a sort
        has("array_sort"),
    ),
    oracle="""
    WITH us AS (
        SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS t
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, event_type, ts,
               CASE WHEN lag(t) OVER w IS NULL
                         OR t - lag(t) OVER w > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS opens
        FROM us
        WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ), numbered AS (
        SELECT user_id, event_id, event_type, ts,
               sum(opens) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM flagged
    ), paths AS (
        SELECT user_id, session_idx,
               array_to_string(
                   list_slice(list(event_type ORDER BY ts, event_id), 1, 8),
                   '>') AS path,
               CAST(count(*) AS BIGINT) AS n_events
        FROM numbered GROUP BY 1, 2
    )
    SELECT path,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events
    FROM paths GROUP BY 1
    """,
    description="Sessionized path analysis (operators/paths.py + "
    "operators/sessionize.py): per-user sessions split at 30-minute "
    "silences, each session's ordered event types joined into a path "
    "string (capped at 8 steps, cap applied AFTER ordering so it is "
    "deterministic), then profiled by path. The path build is ONE "
    "session-keyed aggregation — collect_list + array_sort on (ts, "
    "event_id, type) structs, whose lexicographic struct order IS the "
    "session order — no second window over the events. The oracle "
    "replays the identical sessionize split (integer-microsecond gaps, "
    "event_id tie-break) and an ORDER BY list aggregation.",
)
def q_session_path_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.paths import session_paths
    from ..operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    s = sessionize(ev, "user_id", "ts", gap="30 minutes", order_cols=("event_id",))
    p = session_paths(s, ["user_id", "session_idx"], max_len=8)
    return p.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


def _srm_oracle() -> str:
    from ..operators.abtest import chi2_critical_approx

    crit = chi2_critical_approx(1)
    return f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    obs AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS grp,
               count(*) AS n
        FROM u GROUP BY 1
    ),
    exp AS (
        SELECT * FROM (VALUES ('control', 0.5::DOUBLE),
                              ('treatment', 0.5::DOUBLE)) t(grp, f)
    ),
    j AS (
        SELECT e.grp, e.f, coalesce(o.n, 0) AS n
        FROM exp e LEFT JOIN obs o ON e.grp = o.grp
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_all FROM j)
    SELECT CAST(count(*) AS BIGINT) AS n_arms,
           max(t.n_all) AS n_total,
           CAST(0 AS BIGINT) AS n_unexpected_units,
           round(sum((j.n::DOUBLE - f * t.n_all) * (j.n::DOUBLE - f * t.n_all)
                     / (f * t.n_all)), 6) AS chi2,
           {round(crit, 6)!r}::DOUBLE AS chi2_crit,
           sum((j.n::DOUBLE - f * t.n_all) * (j.n::DOUBLE - f * t.n_all)
               / (f * t.n_all)) > {crit!r}::DOUBLE AS srm_suspected
    FROM j CROSS JOIN tot t
    """


@register(
    "srm_contract",
    oracle=_srm_oracle(),
    description="Sample-ratio-mismatch check (operators/abtest.py:"
    "srm_check, Fabijan et al. KDD'19) over the parity-assigned "
    "experiment population the ab_test/CUPED gates analyze: distinct "
    "users split control/treatment by user_id parity, observed arm "
    "counts tested chi-square against the designed 50/50 allocation "
    "at the conventional alpha=0.001 alert level (Wilson-Hilferty "
    "critical value, embedded as the same literal on both sides). The "
    "hygiene gate that must run BEFORE any experiment readout is "
    "trusted — a skewed assignment invalidates downstream z-tests "
    "regardless of their p-values. ONE group-cardinality count agg + "
    "a broadcast |arms|-row literal join + a 1-row scalar crossJoin; "
    "O_i are integers so the statistic is exactly restatable. "
    "Hand-worked 40/60-vs-50/50 (chi2=4), 40/60-vs-80/20 (chi2=100), "
    "missing-arm (chi2=76) and unexpected-arm fixtures in "
    "tests/test_srm.py.",
)
def q_srm_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.abtest import srm_check

    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    units = users.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("variant")
    )
    return srm_check(units, "variant", {"control": 0.5, "treatment": 0.5})


@register(
    "cmh_contract",
    oracle="""
    WITH u AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY 1
    ), t AS (
        SELECT user_id % 3 AS cohort,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_t,
               conv
        FROM u
    ), cells AS (
        SELECT cohort,
               count(*) AS n_int,
               sum(CASE WHEN is_t = 1 THEN conv ELSE 0 END)::DOUBLE AS a,
               sum(CASE WHEN is_t = 1 THEN 1 - conv ELSE 0 END)::DOUBLE AS b,
               sum(CASE WHEN is_t = 0 THEN conv ELSE 0 END)::DOUBLE AS c,
               sum(CASE WHEN is_t = 0 THEN 1 - conv ELSE 0 END)::DOUBLE AS d
        FROM t GROUP BY 1
    ), per AS (
        SELECT n_int,
               CASE WHEN a + b + c + d > 0
                    THEN a * d / (a + b + c + d)
                    ELSE 0.0::DOUBLE END AS ad,
               CASE WHEN a + b + c + d > 0
                    THEN b * c / (a + b + c + d)
                    ELSE 0.0::DOUBLE END AS bc,
               CASE WHEN a + b + c + d > 0
                    THEN a - (a + b) * (a + c) / (a + b + c + d)
                    ELSE 0.0::DOUBLE END AS dev,
               CASE WHEN a + b + c + d > 1
                    THEN (a + b) * (c + d) * (a + c) * (b + d)
                         / ((a + b + c + d) * (a + b + c + d)
                            * (a + b + c + d - 1.0::DOUBLE))
                    ELSE 0.0::DOUBLE END AS var
        FROM cells
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST(sum(n_int) AS BIGINT) AS n_units,
           round(CASE WHEN sum(bc) > 0 THEN sum(ad) / sum(bc) END, 6)
               AS or_cmh,
           round(CASE WHEN sum(var) > 0
                      THEN sum(dev) * sum(dev) / sum(var) END, 6)
               AS chi2_cmh,
           3.841459::DOUBLE AS chi2_crit,
           CASE WHEN sum(var) > 0
                THEN sum(dev) * sum(dev) / sum(var)
                     > 3.841458820694124::DOUBLE END AS significant
    FROM per
    """,
    description="Cochran-Mantel-Haenszel stratified experiment readout "
    "(operators/abtest.py:cmh_test, Mantel & Haenszel 1959): the "
    "parity-assigned conversion experiment tested WITHIN user-cohort "
    "strata (user_id mod 3) and pooled — the Simpson's-paradox-safe "
    "sibling of ab_test_contract's marginal z-test (a confounded "
    "allocation cannot manufacture a pooled effect the strata don't "
    "support; pinned by a hand-built paradox fixture in pytest where "
    "the marginal table flips sign). MH common odds ratio "
    "sum(ad/n)/sum(bc/n) and chi2 = (sum(a-E))^2 / sum(Var) with the "
    "textbook zero-margin and n-1 conventions, significance at the "
    "exact 0.95 chi-square(1) quantile embedded as the same literal "
    "on both sides. ONE stratum-cardinality conditional agg to the "
    "four cells + a stratum-cardinality projection + one answer-scale "
    "reduce. Hand-worked crossed-null (chi2=0, OR=1) and effect "
    "(chi2=16/(18000/7600)) fixtures in tests/test_cmh.py.",
)
def q_cmh_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.abtest import cmh_test

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select(
            (F.col("user_id") % 3).alias("cohort"),
            F.when(F.col("user_id") % 2 == 0, F.lit("control"))
            .otherwise(F.lit("treatment"))
            .alias("variant"),
            "conv",
        )
    )
    return cmh_test(units, "cohort", "variant", "conv", "control", "treatment")


@register(
    "effect_size_contract",
    claims=(
        # Six sufficient sums in ONE conditional agg + closed-form
        # projection: no window, no join, no Python anywhere.
        lacks("CartesianProduct"),
        lacks("PythonUDF"),
        lacks("Window"),
        lacks("SortMergeJoin", "BroadcastHashJoin"),
    ),
    oracle="""
    WITH ev AS (
        SELECT event_type,
               CASE WHEN dayofweek(ts) + 1 IN (1, 7)
                    THEN 'weekend' ELSE 'weekday' END AS g,
               CAST(value AS DOUBLE) AS x
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
          AND event_type IS NOT NULL
    ),
    agg AS (
        SELECT event_type,
               sum(CASE WHEN g = 'weekend' THEN 1 ELSE 0 END) AS n_a,
               sum(CASE WHEN g = 'weekday' THEN 1 ELSE 0 END) AS n_b,
               sum(CASE WHEN g = 'weekend' THEN x ELSE 0.0 END) AS sa,
               sum(CASE WHEN g = 'weekday' THEN x ELSE 0.0 END) AS sb,
               sum(CASE WHEN g = 'weekend' THEN x * x ELSE 0.0 END) AS qa,
               sum(CASE WHEN g = 'weekday' THEN x * x ELSE 0.0 END) AS qb
        FROM ev GROUP BY 1
    ),
    expanded AS (
        SELECT event_type, n_a, n_b,
               sa / CAST(n_a AS DOUBLE) AS mean_a,
               sb / CAST(n_b AS DOUBLE) AS mean_b,
               CASE WHEN n_a >= 2 AND n_b >= 2 THEN
                    ((qa - sa * sa / CAST(n_a AS DOUBLE))
                     + (qb - sb * sb / CAST(n_b AS DOUBLE)))
                    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0)
               END AS sp2
        FROM agg
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(CASE WHEN n_a > 0 THEN mean_a END, 6) AS mean_a,
           round(CASE WHEN n_b > 0 THEN mean_b END, 6) AS mean_b,
           round(CASE WHEN n_a > 0 AND n_b > 0 THEN mean_a - mean_b END, 6)
               AS mean_diff,
           round(sqrt(sp2), 6) AS pooled_sd,
           round(CASE WHEN sp2 > 0 THEN (mean_a - mean_b) / sqrt(sp2) END, 6)
               AS cohens_d,
           round(CASE WHEN sp2 > 0 THEN (mean_a - mean_b) / sqrt(sp2) END
                 * (1.0 - 3.0 / (4.0 * (CAST(n_a AS DOUBLE)
                                        + CAST(n_b AS DOUBLE)) - 9.0)), 6)
               AS hedges_g
    FROM expanded
    """,
    description="Cohen's d / Hedges' g effect size (operators/"
    "hyptest.py:effect_size, Cohen 1988 / Hedges 1981): per event_type, "
    "the standardized weekend-vs-weekday mean difference of the event "
    "value — the HOW-BIG readout next to the KS gate's "
    "DID-IT-CHANGE-SHAPE on the same slicing (at 100 TB a z-test "
    "flags a 0.001-sigma difference as significant; d says whether "
    "anyone should care). d = mean_diff / pooled_sd with SSD via the "
    "computational identity, g = d * (1 - 3/(4N - 9)) small-sample "
    "correction; positive d = weekend larger. ONE key-cardinality "
    "conditional agg over six sufficient sums (map-side combined) + "
    "closed-form projection — no join, no window, no collect. NULL "
    "d/g when an arm has n < 2 or pooled variance is 0. Identical "
    "literal order both engines; sqrt IEEE exact-rounded; 6-decimal "
    "rounding absorbs double-sum accumulation-order ULPs (the ANOVA "
    "posture). Hand-worked d = -1/sqrt(4/3), J = 8/11 fixture + "
    "sufficient-stats Python twin in tests/test_effect_size.py.",
)
def q_effect_size_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hyptest import effect_size

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    sided = ev.withColumn(
        "grp",
        F.when(F.dayofweek("ts").isin(1, 7), F.lit("weekend")).otherwise(
            F.lit("weekday")
        ),
    )
    return effect_size(
        sided, "value", "grp", "weekend", "weekday", key_cols=["event_type"]
    )


@register(
    "ab_test_contract",
    oracle="""
    WITH units AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS variant,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY 1
    ), a AS (
        SELECT CAST(sum(CASE WHEN variant = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
               CAST(sum(CASE WHEN variant = 'control' THEN converted ELSE 0 END) AS BIGINT) AS x_c,
               CAST(sum(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
               CAST(sum(CASE WHEN variant = 'treatment' THEN converted ELSE 0 END) AS BIGINT) AS x_t
        FROM units
    ), m AS (
        SELECT n_c, x_c, n_t, x_t,
               x_c::DOUBLE / n_c AS p_c,
               x_t::DOUBLE / n_t AS p_t,
               (x_c + x_t)::DOUBLE / (n_c + n_t) AS pooled
        FROM a
    ), m2 AS (
        SELECT *,
               sqrt(pooled * (1.0 - pooled) * (1.0 / n_c + 1.0 / n_t)) AS se_pooled,
               sqrt(p_c * (1.0 - p_c) / n_c + p_t * (1.0 - p_t) / n_t) AS se_wald,
               p_t - p_c AS diff
        FROM m
    )
    SELECT n_c AS n_control, x_c AS conv_control,
           n_t AS n_treatment, x_t AS conv_treatment,
           round(p_c, 6) AS rate_control,
           round(p_t, 6) AS rate_treatment,
           round(diff, 6) AS abs_lift,
           round(CASE WHEN se_pooled > 0 THEN diff / se_pooled ELSE 0 END, 6)
               AS z_stat,
           round(diff - 1.959963984540054 * se_wald, 6) AS ci_low,
           round(diff + 1.959963984540054 * se_wald, 6) AS ci_high,
           CASE WHEN abs(CASE WHEN se_pooled > 0 THEN diff / se_pooled
                              ELSE 0 END) > 1.959963984540054
                THEN 1 ELSE 0 END AS significant
    FROM m2
    """,
    description="Experiment readout (operators/abtest.py): per-user "
    "conversion units (variant = user_id parity, converted = any "
    "purchase event), reduced to a one-row two-proportion z-test — "
    "pooled-variance z statistic, unpooled Wald 95% CI on the rate "
    "difference, significance flag. The whole readout is ONE user-keyed "
    "aggregation plus one group-cardinality reduce; every statistic is "
    "closed-form sqrt arithmetic the oracle restates exactly (rounded "
    "at 6 decimals). No sampling, no SciPy.",
)
def q_ab_test_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.abtest import two_proportion_ztest

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    units = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    ).select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("variant"),
        "converted",
    )
    return two_proportion_ztest(
        units, "variant", "converted", control="control", treatment="treatment"
    )


def _names_fit_blocking_zones(cu: DataFrame) -> DataFrame:
    """``cu`` with a raising filter on every ``c_name`` that is not 18
    characters long. The filter reads ``c_name``, which the join keys
    need anyway, so column pruning cannot drop it; a NULL name passes
    (it joins nothing)."""
    n = F.length("c_name")
    msg = F.concat(F.lit("fuzzy_name_match_profile: blocking zones assume 18-char names: got "), n.cast("string"))
    return cu.filter(F.when(n != 18, F.raise_error(msg).cast("boolean")).otherwise(F.lit(True)))


@register(
    "fuzzy_name_match_profile",
    claims=(
        # Candidates form by equi-join on block keys — never an all-pairs
        # product, which is what the blocking exists to prevent.
        lacks("CartesianProduct"),
        lacks("BroadcastNestedLoopJoin"),
        has("blocking zones assume 18-char names"),  # the length guard is in the plan
    ),
    oracle="""
    WITH names AS (
        SELECT c_name FROM customer WHERE c_custkey % 4 = 1
    ),
    cand AS (
        SELECT DISTINCT l, r FROM (
            SELECT a.c_name AS l, b.c_name AS r
            FROM names a JOIN names b
              ON concat(substring(a.c_name, 1, 12), substring(a.c_name, 15, 4))
                 = concat(substring(b.c_name, 1, 12), substring(b.c_name, 15, 4))
             AND a.c_name < b.c_name
            UNION ALL
            SELECT a.c_name, b.c_name
            FROM names a JOIN names b
              ON concat(substring(a.c_name, 1, 14), substring(a.c_name, 17, 2))
                 = concat(substring(b.c_name, 1, 14), substring(b.c_name, 17, 2))
             AND a.c_name < b.c_name
            UNION ALL
            SELECT a.c_name, b.c_name
            FROM names a JOIN names b
              ON substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
             AND a.c_name < b.c_name
        )
    ),
    pairs AS (SELECT l, r FROM cand WHERE levenshtein(l, r) <= 1)
    SELECT CAST(levenshtein(l, r) AS INT) AS distance,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CAST(substring(l, 10, 9) AS BIGINT)
                    + CAST(substring(r, 10, 9) AS BIGINT)) AS BIGINT)
               AS sum_ids
    FROM pairs GROUP BY 1
    """,
    description="Multi-pass blocked fuzzy self-join (operators/fuzzyjoin.py:"
    "multipass_edit_distance_self_join, the PassJoin posture): customer "
    "names within Levenshtein distance 1 over a deterministic quarter "
    "sample (c_custkey % 4 = 1). Three 'all characters EXCEPT a 2-digit "
    "zone' blocking passes cover the varying digit zone (positions "
    "13-18; positions 10-12 are constant '000' while custkeys < 1e6, so "
    "the union of passes is COMPLETE for distance-1 substitutions in "
    "this domain, by pigeonhole) with tiny blocks (<=100 names agree on "
    "all-but-2 digits), where a single coarse prefix block needed 1e6 "
    "comparisons per block. Comparisons use Spark's thresholded "
    "levenshtein(l, r, 1) early-exit; the oracle replays the identical "
    "3-pass union. sum_ids pins pair identities, not just counts.",
)
def q_fuzzy_name_match_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzyjoin import multipass_edit_distance_self_join

    # The three blocking zones below are fixed character positions of
    # the fixture's 18-character ``Customer#000xxxxxx`` names: 1-9 the
    # prefix, 10-12 the constant '000', 13-18 the varying digits. Their
    # union covers every distance-1 substitution only in that shape, so
    # a name of another length fails the query at action time instead
    # of silently losing pairs.
    cu = _names_fit_blocking_zones(
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 == 1)
        .select("c_name")
    )
    name = F.col("c_name")
    passes = [
        F.concat(F.substring(name, 1, 12), F.substring(name, 15, 4)),
        F.concat(F.substring(name, 1, 14), F.substring(name, 17, 2)),
        F.substring(name, 1, 16),
    ]
    pairs = multipass_edit_distance_self_join(cu, "c_name", passes, max_distance=1)
    return pairs.groupBy("distance").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.substring("left_value", 10, 9).cast("long")
            + F.substring("right_value", 10, 9).cast("long")
        ).alias("sum_ids"),
    )


@register(
    "event_type_trend_contract",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS DOUBLE) AS y
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n,
               sum(day::DOUBLE) AS sx, sum(y) AS sy,
               sum(day::DOUBLE * day::DOUBLE) AS sxx,
               sum(day::DOUBLE * y) AS sxy,
               sum(y * y) AS syy
        FROM daily GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_points,
           round(CASE WHEN n >= 2 AND n*sxx - sx*sx > 0
                      THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END, 6) AS slope,
           round(CASE WHEN n >= 2 AND n*sxx - sx*sx > 0
                      THEN (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n
                 END, 6) AS intercept,
           round(CASE WHEN n >= 2 AND n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
                      THEN ((n*sxy - sx*sy) * (n*sxy - sx*sy))
                             / ((n*sxx - sx*sx) * (n*syy - sy*sy)) END, 6) AS r2
    FROM s
    """,
    description="Per-key linear trend (operators/trend.py): OLS slope/"
    "intercept/R^2 of daily event counts vs epoch-day per event type, "
    "from sufficient statistics in ONE aggregation pass — no window, no "
    "sort, no per-key iteration; closed-form arithmetic at group "
    "cardinality (the 1-D normal-equations trick of the ML linear "
    "gate). Day indices use truncating integral division (Spark div == "
    "DuckDB //). Degenerate groups yield NULL, not NaN, with ANSI-safe "
    "guards. The oracle restates the identical formulas.",
)
def q_event_type_trend_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import per_key_linear_trend

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_timestamp(ts) div 86400").cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return per_key_linear_trend(daily, ["event_type"], "day", "y")


@register(
    "mann_kendall_contract",
    claims=(
        # The O(n^2) pair stage is a KEY-equi self-join over the
        # pre-aggregated day grid (never a cartesian); Sen's median is the
        # percentile AGGREGATE, so no window appears at all.
        lacks("CartesianProduct"),
        lacks("PythonUDF"),
        lacks("Window"),
    ),
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    st AS (SELECT event_type, count(*) AS n FROM daily GROUP BY 1),
    tiefr AS (
        SELECT event_type,
               sum(CAST(c AS DOUBLE) * (CAST(c AS DOUBLE) - 1.0)
                   * (2.0 * CAST(c AS DOUBLE) + 5.0)) AS tie_sum
        FROM (SELECT event_type, x, count(*) AS c
              FROM daily GROUP BY 1, 2)
        GROUP BY 1
    ),
    pr AS (
        SELECT a.event_type,
               CASE WHEN b.x > a.x THEN 1
                    WHEN b.x < a.x THEN -1 ELSE 0 END AS sg,
               (b.x - a.x) / CAST(b.day - a.day AS DOUBLE) AS slope
        FROM daily a JOIN daily b
          ON b.event_type = a.event_type AND a.day < b.day
    ),
    pc AS (
        SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_stat,
               quantile_cont(slope, 0.5) AS sen
        FROM pr GROUP BY 1
    ),
    zc AS (
        SELECT st.event_type, st.n, pc.s_stat, pc.sen, tiefr.tie_sum,
               (CAST(st.n AS DOUBLE) * (CAST(st.n AS DOUBLE) - 1.0)
                * (2.0 * CAST(st.n AS DOUBLE) + 5.0) - tiefr.tie_sum)
               / 18.0 AS var_raw
        FROM st JOIN tiefr USING (event_type)
        LEFT JOIN pc ON pc.event_type = st.event_type
    ),
    zz AS (
        SELECT *,
               CASE WHEN var_raw > 0 THEN
                    CASE WHEN s_stat > 0
                         THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_raw)
                         WHEN s_stat < 0
                         THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_raw)
                         ELSE 0.0 END
               END AS z_raw
        FROM zc
    )
    SELECT event_type, CAST(n AS BIGINT) AS n, s_stat,
           round(var_raw, 6) AS var_s,
           round(z_raw, 6) AS z,
           CASE WHEN z_raw IS NULL THEN NULL
                WHEN z_raw > CAST(1.959963984540054 AS DOUBLE)
                    THEN 'increasing'
                WHEN z_raw < -CAST(1.959963984540054 AS DOUBLE)
                    THEN 'decreasing'
                ELSE 'no_trend' END AS trend,
           round(sen, 6) AS sen_slope
    FROM zz
    """,
    description="Mann-Kendall monotonic trend + Sen's slope (operators/"
    "trend.py:mann_kendall, Mann 1945 / Kendall 1975 / Sen JASA 1968): "
    "per event_type, the non-parametric drift test over the daily "
    "event-count series — S = sum of pairwise sign(x_j - x_i), the "
    "tie-corrected Var(S) (integer daily counts repeat, so the tie "
    "term is genuinely exercised), the continuity-corrected z with "
    "the 1.959963984540054 two-sided critical literal embedded in "
    "BOTH engines (the z-test portability convention), the "
    "increasing/decreasing/no_trend decision on the UNROUNDED z, and "
    "Sen's slope as the exact interpolated median of pairwise slopes "
    "(percentile == quantile_cont, the house quantile bridge). The "
    "non-parametric sibling of the OLS trend gate directly above — "
    "OLS fits a line, MK asks whether ANY monotonic drift exists. "
    "Engine shape: pre-aggregated day grid (30 points/key), one "
    "key-equi self-join filtered t_i < t_j (O(n^2) per key, ENFORCED "
    "at max_points via an eager guard; duplicate grid points "
    "hard-fail in-plan via raise_error), tie agg at (key, value) "
    "cardinality, key-cardinality reduce. Hand-worked S=2/Var=26/3 "
    "and tie-corrected Var=23/3 fixtures + full pure-Python twin in "
    "tests/test_mann_kendall.py.",
)
def q_mann_kendall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import mann_kendall

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_timestamp(ts) div 86400").cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    return mann_kendall(daily, ["event_type"], "day", "cnt")


_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
    ("l_discount", "l_tax"),
]

def _corr_oracle() -> str:
    """One stats CTE per pair + UNION ALL readout, restating the exact
    raw-moment arithmetic of operators/stats.py:correlation_matrix."""
    selects = []
    for cx, cy in _CORR_PAIRS:
        selects.append(f"""
        SELECT l_returnflag,
               '{cx}' AS col_x, '{cy}' AS col_y,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(CASE WHEN count(*) >= 2
                           AND count(*)::DOUBLE * sum({cx}*{cx}) - sum({cx})*sum({cx}) > 0
                           AND count(*)::DOUBLE * sum({cy}*{cy}) - sum({cy})*sum({cy}) > 0
                          THEN (count(*)::DOUBLE * sum({cx}*{cy}) - sum({cx})*sum({cy}))
                               / sqrt((count(*)::DOUBLE * sum({cx}*{cx}) - sum({cx})*sum({cx}))
                                      * (count(*)::DOUBLE * sum({cy}*{cy}) - sum({cy})*sum({cy})))
                     END, 6) AS corr
        FROM lineitem GROUP BY 1""")
    return " UNION ALL ".join(selects)


@register(
    "correlation_matrix_contract",
    oracle=_corr_oracle(),
    description="Pairwise Pearson correlation matrix "
    "(operators/stats.py:correlation_matrix): all 6 pairs of the four "
    "lineitem numeric measures per l_returnflag group, long-form. ONE "
    "aggregation pass collects every pair's 6 sufficient statistics "
    "(map-side partial agg; 36 doubles per group cross the shuffle "
    "regardless of row count) — never a per-pair df.stat.corr scan — "
    "and the explode to long form runs on answer-scale rows. Pairwise "
    "NULL deletion is the operator contract (unit-tested); the fixture "
    "measures are non-null, so the oracle restates the identical "
    "raw-moment formula with plain sums, per pair, at 6 decimals.",
)
def q_correlation_matrix_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    return correlation_matrix(
        li,
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        by=["l_returnflag"],
    )


@register(
    "survival_km_contract",
    oracle="""
    WITH life AS (
        SELECT user_id, min(ts) AS f, max(ts) AS l FROM events GROUP BY 1
    ),
    mx AS (SELECT max(ts) AS tmax FROM events),
    subj AS (
        SELECT CAST(date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) AS DOUBLE)
                 AS duration,
               CASE WHEN l < tmax - INTERVAL 7 DAY THEN 1 ELSE 0 END AS ev
        FROM life, mx
    ),
    per_t AS (
        SELECT duration, CAST(sum(ev) AS BIGINT) AS n_events,
               CAST(sum(1 - ev) AS BIGINT) AS n_censored
        FROM subj GROUP BY 1
    ),
    curve AS (
        SELECT *,
               CAST(sum(n_events + n_censored) OVER ()
                 - coalesce(sum(n_events + n_censored)
                              OVER (ORDER BY duration
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), 0)
                 AS BIGINT) AS n_at_risk
        FROM per_t
    ),
    km AS (
        SELECT *,
               max(CASE WHEN n_events >= n_at_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY duration
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS absorbed,
               sum(CASE WHEN n_events > 0 AND n_events < n_at_risk
                        THEN ln((n_at_risk - n_events)::DOUBLE
                                  / n_at_risk::DOUBLE) END)
                 OVER (ORDER BY duration
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum_log
        FROM curve
    )
    SELECT duration, n_at_risk, n_events, n_censored,
           round(CASE WHEN absorbed = 1 THEN 0.0
                      ELSE exp(coalesce(cum_log, 0.0)) END, 6) AS survival
    FROM km
    """,
    description="Kaplan-Meier user-lifetime survival curve "
    "(operators/survival.py:kaplan_meier): per-user observed lifetime "
    "in calendar days (first to last event), right-censored for users "
    "still active in the final 7 days of the corpus window — censored "
    "subjects leave the risk set without an event instead of biasing "
    "the curve down. ONE subject-keyed aggregation collapses events to "
    "users, one duration-keyed aggregation collapses users to the "
    "answer-scale day grid, and every cumulative window (at-risk "
    "countdown, running product as exp of summed logs, absorbing-zero "
    "flag for the d==n boundary) runs over THAT grid. The oracle "
    "replays the identical ln/exp arithmetic at 6 decimals.",
)
def q_survival_km_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.survival import kaplan_meier

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    life = ev.groupBy("user_id").agg(
        F.min("ts").alias("f"), F.max("ts").alias("l")
    )
    mx = ev.agg(F.max("ts").alias("tmax"))
    subj = life.crossJoin(mx).select(
        F.datediff(F.to_date("l"), F.to_date("f")).alias("duration"),
        F.when(
            F.col("l") < F.col("tmax") - F.expr("INTERVAL 7 DAYS"), 1
        )
        .otherwise(0)
        .alias("event"),
    )
    return kaplan_meier(subj, "duration", "event")


@register(
    "nelson_aalen_contract",
    claims=(
        # Cumulative hazard windows run over the duration grid (the KM
        # answer-scale posture); the only nested-loop is the 1-row tmax
        # frame; no Python.
        lacks("CartesianProduct"),
        lacks("PythonUDF"),
        has("Window"),
    ),
    oracle="""
    WITH life AS (
        SELECT user_id, min(ts) AS f, max(ts) AS l FROM events GROUP BY 1
    ),
    mx AS (SELECT max(ts) AS tmax FROM events),
    subj AS (
        SELECT CAST(date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) AS DOUBLE)
                 AS duration,
               CASE WHEN l < tmax - INTERVAL 7 DAY THEN 1 ELSE 0 END AS ev
        FROM life, mx
    ),
    per_t AS (
        SELECT duration, CAST(sum(ev) AS BIGINT) AS n_events,
               CAST(sum(1 - ev) AS BIGINT) AS n_censored
        FROM subj GROUP BY 1
    ),
    curve AS (
        SELECT *,
               CAST(sum(n_events + n_censored) OVER ()
                 - coalesce(sum(n_events + n_censored)
                              OVER (ORDER BY duration
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), 0)
                 AS BIGINT) AS n_at_risk
        FROM per_t
    ),
    na AS (
        SELECT *,
               sum(CASE WHEN n_events > 0
                        THEN CAST(n_events AS DOUBLE)
                             / CAST(n_at_risk AS DOUBLE)
                        ELSE 0.0 END)
                 OVER (ORDER BY duration
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS h,
               sum(CASE WHEN n_events > 0
                        THEN CAST(n_events AS DOUBLE)
                             / (CAST(n_at_risk AS DOUBLE)
                                * CAST(n_at_risk AS DOUBLE))
                        ELSE 0.0 END)
                 OVER (ORDER BY duration
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS v
        FROM curve
    )
    SELECT duration, n_at_risk, n_events, n_censored,
           round(h, 6) AS cum_hazard,
           round(v, 6) AS var_hazard,
           round(exp(-h), 6) AS survival_fh
    FROM na
    """,
    description="Nelson-Aalen cumulative hazard (operators/survival.py:"
    "nelson_aalen, Nelson 1972 / Aalen 1978): the hazard-scale twin of "
    "the KM gate directly above, over the SAME user-lifetime subjects "
    "(first-to-last event days, right-censored in the final 7 days) — "
    "H(t) = sum d_j/n_j, Aalen's variance sum d_j/n_j^2, and the "
    "Fleming-Harrington survival exp(-H), which never hits KM's "
    "absorbing zero when d == n (the documented estimator difference "
    "pytest-pinned against KM). H is ADDITIVE: epoch-over-epoch "
    "hazard increments subtract cleanly, the churn-pressure readout "
    "KM's product form obscures. Shares kaplan_meier's risk-table "
    "stage (_risk_table): one subject-keyed agg, one duration-keyed "
    "agg, every cumulative window over the answer-scale day grid in "
    "DETERMINISTIC duration order (no accumulation-order ambiguity). "
    "Identical ratio/exp literal order both engines. Hand-worked "
    "H=0.2/0.45/0.95 fixture + d==n FH-vs-KM contrast + pure-Python "
    "twin in tests/test_nelson_aalen.py.",
)
def q_nelson_aalen_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.survival import nelson_aalen

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    life = ev.groupBy("user_id").agg(
        F.min("ts").alias("f"), F.max("ts").alias("l")
    )
    mx = ev.agg(F.max("ts").alias("tmax"))
    subj = life.crossJoin(mx).select(
        F.datediff(F.to_date("l"), F.to_date("f")).alias("duration"),
        F.when(
            F.col("l") < F.col("tmax") - F.expr("INTERVAL 7 DAYS"), 1
        )
        .otherwise(0)
        .alias("event"),
    )
    return nelson_aalen(subj, "duration", "event")


@register(
    "item_affinity_contract",
    oracle="""
    WITH items AS (SELECT DISTINCT user_id AS b, event_type AS i FROM events),
    sizes AS (SELECT b, count(*) AS s FROM items GROUP BY 1),
    kept AS (SELECT items.b, i FROM items JOIN sizes USING (b) WHERE s <= 64),
    nb AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS n_baskets FROM kept),
    ic AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM kept GROUP BY 1),
    pairs AS (
        SELECT l.i AS item_a, r.i AS item_b, CAST(count(*) AS BIGINT) AS n_both
        FROM kept l JOIN kept r ON l.b = r.b AND l.i < r.i
        GROUP BY 1, 2
    )
    SELECT item_a, item_b, n_both, a.n_i AS n_a, b2.n_i AS n_b,
           round(n_both::DOUBLE / n_baskets, 6) AS support,
           round(n_both::DOUBLE * n_baskets
                   / (a.n_i::DOUBLE * b2.n_i::DOUBLE), 6) AS lift,
           round(n_both::DOUBLE / sqrt(a.n_i::DOUBLE * b2.n_i::DOUBLE), 6)
             AS cosine
    FROM pairs
    JOIN ic a ON pairs.item_a = a.i
    JOIN ic b2 ON pairs.item_b = b2.i, nb
    """,
    description="Market-basket affinity (operators/basket.py:"
    "item_pair_affinity): which event types co-occur in the same "
    "user's behavior, scored with support / lift / cosine over "
    "user-baskets. Canonical a<b pairs from a basket-keyed self-join "
    "of the DISTINCT (user, type) frame — support semantics, each "
    "basket counts a pair once — with the quadratic-blowup guard "
    "(max_basket cap, measured in one aggregation) exercised on the "
    "code path even though type-baskets are tiny. Item counts join "
    "back keyed by item (broadcast-sized: items, not users, drive that "
    "dimension); the basket total is the repo's 1-row crossJoin scalar "
    "pattern. The oracle restates the identical self-join and ratio "
    "arithmetic at 6 decimals.",
)
def q_item_affinity_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.basket import item_pair_affinity

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    return item_pair_affinity(
        ev, basket_col="user_id", item_col="event_type", max_basket=64
    )


@register(
    "frequent_itemsets_contract",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS b, p_brand AS i
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), sizes AS (
        SELECT b, count(*) AS s FROM items GROUP BY 1
    ), kept AS (
        SELECT items.b, i FROM items JOIN sizes USING (b) WHERE s <= 64
    ), nb AS (
        SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM kept
    ), mc AS (
        SELECT CAST(ceil(0.02 * n) AS BIGINT) AS m, n::DOUBLE AS nd FROM nb
    ), s1 AS (
        SELECT i AS itemset, 1 AS size, CAST(count(*) AS BIGINT) AS freq
        FROM kept GROUP BY 1
    ), s2 AS (
        SELECT l.i || ', ' || r.i AS itemset, 2 AS size,
               CAST(count(*) AS BIGINT) AS freq
        FROM kept l JOIN kept r ON l.b = r.b AND l.i < r.i
        GROUP BY 1
    ), s3 AS (
        SELECT x.i || ', ' || y.i || ', ' || z.i AS itemset, 3 AS size,
               CAST(count(*) AS BIGINT) AS freq
        FROM kept x
        JOIN kept y ON x.b = y.b AND x.i < y.i
        JOIN kept z ON y.b = z.b AND y.i < z.i
        GROUP BY 1
    ), allsets AS (
        SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
    )
    SELECT itemset, size, freq, round(freq / nd, 6) AS support
    FROM allsets, mc WHERE freq >= m
    """,
    description="Frequent-itemset mining (operators/itemsets.py:"
    "frequent_itemsets, MLlib parallel FP-Growth — Han et al. "
    "SIGMOD'00 / PFP, Li et al. RecSys'08): order-baskets of distinct "
    "part BRANDS at min_support 0.02, itemsets reported up to size 3 "
    "(the oracle enumerates sizes 1-3 by brute-force self-joins — a "
    "STRUCTURALLY different computation from the FP-tree mining, the "
    "triangle-counting different-algebra precedent). PFP shards "
    "conditional databases by suffix group across executors (no "
    "global FP-tree); baskets dedup + cap at 64 first (the basket.py "
    "quadratic-hazard guard, here bounding conditional-DB fan-out); "
    "minCount = ceil(min_support * n_baskets) restated identically. "
    "Exact counts — the hand-worked 5-basket fixture and a full "
    "brute-force Python twin live in tests/test_itemsets.py.",
)
def q_frequent_itemsets_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.itemsets import frequent_itemsets

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(part), li["l_partkey"] == part["p_partkey"]
    ).select(F.col("l_orderkey").alias("b"), F.col("p_brand").alias("i"))
    return frequent_itemsets(
        baskets, "b", "i", min_support=0.02, max_basket=64, max_len=3
    )


@register(
    "assoc_rules_contract",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS b, p_brand AS i
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), sizes AS (
        SELECT b, count(*) AS s FROM items GROUP BY 1
    ), kept AS (
        SELECT items.b, i FROM items JOIN sizes USING (b) WHERE s <= 64
    ), nb AS (
        SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM kept
    ), mc AS (
        SELECT CAST(ceil(0.02 * n) AS BIGINT) AS m, n::DOUBLE AS nd FROM nb
    ), singles AS (
        SELECT i, CAST(count(*) AS BIGINT) AS c FROM kept GROUP BY 1
    ), pairs AS (
        SELECT l.i AS a, r.i AS b2, CAST(count(*) AS BIGINT) AS c
        FROM kept l JOIN kept r ON l.b = r.b AND l.i < r.i
        GROUP BY 1, 2
    ), fpairs AS (
        SELECT * FROM pairs, mc WHERE c >= m
    ), directed AS (
        SELECT a AS antecedent, b2 AS consequent, c, nd FROM fpairs
        UNION ALL
        SELECT b2 AS antecedent, a AS consequent, c, nd FROM fpairs
    )
    SELECT d.antecedent, d.consequent,
           d.c AS freq_pair,
           sa.c AS freq_ante,
           round(d.c / sa.c::DOUBLE, 6) AS confidence,
           round((d.c / sa.c::DOUBLE) / (sb.c / d.nd), 6) AS lift,
           round(d.c / d.nd, 6) AS support
    FROM directed d
    JOIN singles sa ON d.antecedent = sa.i
    JOIN singles sb ON d.consequent = sb.i
    """,
    description="Single-antecedent association rules (operators/"
    "itemsets.py:association_rules_1to1) from the same FP-Growth fit "
    "as frequent_itemsets_contract: every frequent brand pair emits "
    "both rule directions with confidence = freq(a,b)/freq(a) and "
    "lift = confidence / P(consequent), integer frequencies rehydrated "
    "from the freqItemsets frame so the ratio arithmetic is restated "
    "in ONE shared operation order. The oracle derives the identical "
    "rules from its own brute-force pair enumeration (different "
    "algebra: no FP-tree, no rule generation pass — frequent pairs "
    "ARE the 1->1 rules when min_confidence is 0, since a frequent "
    "pair implies both frequent singles). Hand-worked 6-rule fixture "
    "in tests/test_itemsets.py.",
)
def q_assoc_rules_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.itemsets import association_rules_1to1

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(part), li["l_partkey"] == part["p_partkey"]
    ).select(F.col("l_orderkey").alias("b"), F.col("p_brand").alias("i"))
    return association_rules_1to1(
        baskets, "b", "i", min_support=0.02, min_confidence=0.0, max_basket=64
    )


@register(
    "robust_outlier_profile",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM events GROUP BY 1
    ),
    mad AS (
        SELECT e.event_type, quantile_cont(abs(e.value - med.m), 0.5) AS s
        FROM events e JOIN med USING (event_type) GROUP BY 1
    )
    SELECT e.event_type,
           CAST(count(e.value) AS BIGINT) AS n,
           round(any_value(med.m), 6) AS median,
           round(any_value(mad.s), 6) AS mad,
           CAST(coalesce(sum(CASE WHEN e.value IS NOT NULL
                     AND abs(e.value - med.m) > 3.5 * 1.4826 * mad.s
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_outliers,
           round(CASE WHEN count(e.value) > 0
                      THEN coalesce(sum(CASE WHEN e.value IS NOT NULL
                                AND abs(e.value - med.m)
                                      > 3.5 * 1.4826 * mad.s
                           THEN 1 ELSE 0 END), 0)::DOUBLE
                             / count(e.value) END, 6) AS outlier_frac
    FROM events e
    JOIN med USING (event_type)
    JOIN mad USING (event_type)
    GROUP BY 1
    """,
    description="Median/MAD robust outlier profile (operators/"
    "robust.py:mad_outlier_profile) of event values per type: "
    "|x - median| > 3.5 * 1.4826 * MAD, the Iglewicz-Hoaglin modified "
    "z-score fence with a 50% breakdown point — the heavy-tail-safe "
    "sibling of the mean/stddev clip. Two single-shuffle aggregation "
    "passes (exact interpolated median, then MAD of residuals) with "
    "group-cardinality frames broadcast back, one flagging pass; "
    "exact=False switches both percentiles to the KLL-sketch "
    "approx_percentile for the 100-TB path (the gate pins the exact "
    "mode, which DuckDB's quantile_cont restates verbatim).",
)
def q_robust_outlier_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.robust import mad_outlier_profile

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return mad_outlier_profile(ev, "value", by=["event_type"], k=3.5)


@register(
    "categorical_association_contract",
    claims=(
        # Missing-cell chi2 mass is folded in algebraically: no |A|x|B|
        # cross product and no global window — cells, marginals and totals
        # are all hash aggregations + equi-joins.
        lacks("CartesianProduct"),
        lacks("Window ("),
    ),
    oracle="""
    WITH base AS (
        SELECT year(o_orderdate) AS order_year,
               o_orderstatus AS u, o_orderpriority AS v
        FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
    ),
    cells AS (
        SELECT order_year, u, v, CAST(count(*) AS DOUBLE) AS o
        FROM base GROUP BY 1, 2, 3
    ),
    rm AS (SELECT order_year, u, sum(o) AS r FROM cells GROUP BY 1, 2),
    cm AS (SELECT order_year, v, sum(o) AS c FROM cells GROUP BY 1, 2),
    tt AS (
        SELECT order_year, sum(o) AS n,
               CAST(count(DISTINCT u) AS DOUBLE) AS ra,
               CAST(count(DISTINCT v) AS DOUBLE) AS rb
        FROM cells GROUP BY 1
    ),
    j AS (
        SELECT cells.order_year, o, r, c, n, ra, rb
        FROM cells
        JOIN rm USING (order_year, u)
        JOIN cm USING (order_year, v)
        JOIN tt USING (order_year)
    ),
    agg AS (
        SELECT order_year,
               any_value(n) AS n, any_value(ra) AS ra, any_value(rb) AS rb,
               sum((o - r*c/n) * (o - r*c/n) / (r*c/n) - r*c/n)
                 + any_value(n) AS chi2_raw,
               sum((o / n) * ln(o * n / (r * c))) AS mi_raw
        FROM j GROUP BY 1
    )
    SELECT order_year,
           CAST(n AS BIGINT) AS n,
           CAST(ra AS BIGINT) AS levels_a,
           CAST(rb AS BIGINT) AS levels_b,
           CAST((ra - 1) * (rb - 1) AS BIGINT) AS dof,
           round(CASE WHEN (ra - 1) * (rb - 1) > 0 THEN chi2_raw END, 6)
             AS chi2,
           round(CASE WHEN (ra - 1) * (rb - 1) > 0
                      THEN sqrt(chi2_raw / (n * least(ra - 1, rb - 1))) END, 6)
             AS cramers_v,
           round(CASE WHEN (ra - 1) * (rb - 1) > 0 THEN mi_raw END, 6)
             AS mutual_info
    FROM agg
    """,
    description="Categorical association (operators/stats.py:"
    "categorical_association): chi-square independence statistic, "
    "Cramér's V, and mutual information between order status and "
    "priority, per order year. ONE full-data shuffle (the contingency-"
    "cell groupBy with map-side partial counts); marginals, totals and "
    "all statistics are joins/aggregations over CELL-cardinality "
    "frames. The missing-cell chi-square mass is folded in "
    "algebraically (sum_missing e = n - sum_observed e, because "
    "expected counts over the full cross sum to n) so no |A|x|B| cross "
    "join is ever materialized. The oracle restates the identical "
    "raw-count arithmetic at 6 decimals.",
)
def q_categorical_association_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.stats import categorical_association

    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("order_year"),
        "o_orderstatus",
        "o_orderpriority",
    )
    return categorical_association(
        orders, "o_orderstatus", "o_orderpriority", by=["order_year"]
    )


@register(
    "ewma_anomaly_contract",
    claims=(
        # The sequential recursion is localized to one array fold per key:
        # no Window operator (a running-state window would single-partition
        # under by=[] misuse), no cartesian; residual scale is a keyed agg.
        lacks("Window ("),
        lacks("CartesianProduct"),
        has("aggregate("),  # the higher-order-function fold
    ),
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events GROUP BY 1, 2
    ),
    arr AS (
        SELECT event_type,
               list(day ORDER BY day) AS ds,
               list(cnt ORDER BY day) AS vs
        FROM daily GROUP BY 1
    ),
    ew AS (
        SELECT event_type, ds, vs,
               list_transform(
                   generate_series(1, len(vs)),
                   i -> list_reduce(
                            vs[1:i],
                            (s, x) -> CAST(0.3 AS DOUBLE) * x
                                      + CAST(0.7 AS DOUBLE) * s)
               ) AS ews
        FROM arr
    ),
    pts AS (
        SELECT event_type,
               ds[i] AS day, vs[i] AS cnt, ews[i] AS ewma_raw,
               CASE WHEN i > 1 THEN vs[i] - ews[i - 1] END AS resid_raw
        FROM ew, unnest(generate_series(1, len(vs))) AS t(i)
    ),
    scale AS (
        SELECT event_type,
               CAST(count(resid_raw) AS DOUBLE) AS nr,
               sum(resid_raw) AS sr,
               sum(resid_raw * resid_raw) AS srr
        FROM pts GROUP BY 1
    ),
    sig AS (
        SELECT event_type,
               CASE WHEN nr >= 2
                    THEN sqrt(GREATEST((nr * srr - sr * sr) / (nr * nr),
                                       0.0)) END AS sigma
        FROM scale
    )
    SELECT p.event_type, day, cnt,
           round(ewma_raw, 6) AS ewma,
           round(resid_raw, 6) AS resid,
           CASE WHEN resid_raw IS NOT NULL AND sigma > 0
                THEN abs(resid_raw) > CAST(2.0 AS DOUBLE) * sigma
           END AS is_anomaly
    FROM pts p JOIN sig USING (event_type)
    """,
    description="EWMA smoothing + one-step-ahead anomaly flags "
    "(operators/anomaly.py:ewma_anomaly) over per-type daily event "
    "counts: s_t = 0.3*x_t + 0.7*s_{t-1} seeded with the first point, "
    "resid_t = x_t - s_{t-1} (the forecast residual — the current "
    "point never leaks into its own baseline), flag |resid| > 2*sigma "
    "of the key's residuals. The inherently sequential recursion runs "
    "as ONE in-memory array fold per key (the sessionize discipline, "
    "max_points-guarded), embarrassingly parallel across keys; the "
    "oracle replays the IDENTICAL left fold with DuckDB list_reduce "
    "over the same ordered prefix — same IEEE operation order, so "
    "ewma, resid, sigma and every boolean flag agree bit-for-bit "
    "before the 6-decimal rounding.",
)
def q_ewma_anomaly_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.anomaly import ewma_anomaly

    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    return ewma_anomaly(
        daily, ["event_type"], "day", "cnt", alpha=0.3, k=2.0
    )


@register(
    "holt_forecast_contract",
    claims=(
        # One exchange for the daily grid agg, one for the per-key collect,
        # one for the sigma join-back — nothing at raw-event scale after the
        # first, and no all-pairs join.
        lacks("CartesianProduct"),
        lacks("BroadcastNestedLoopJoin"),
    ),
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events GROUP BY 1, 2
    ),
    arr AS (
        SELECT event_type,
               list(day ORDER BY day) AS ds,
               list(cnt ORDER BY day) AS vs
        FROM daily GROUP BY 1
    ),
    -- [l, b] LIST accumulator, not a struct: DuckDB v1.0 evaluates
    -- struct_pack fields sequentially inside list_reduce lambdas (the
    -- first field is already rebound when the second field's
    -- expression reads the accumulator), silently corrupting any
    -- two-state fold. List construction is one expression.
    st AS (
        SELECT event_type, ds, vs,
               list_transform(
                   generate_series(1, len(vs)),
                   i -> list_reduce(
                        list_transform(vs[1:i], x -> [x, 0.0::DOUBLE]),
                        (s, e) -> [
                            0.3::DOUBLE * e[1] + 0.7::DOUBLE * (s[1] + s[2]),
                            0.1::DOUBLE * ((0.3::DOUBLE * e[1]
                                            + 0.7::DOUBLE * (s[1] + s[2]))
                                           - s[1])
                            + 0.9::DOUBLE * s[2]
                        ])
               ) AS sts
        FROM arr
    ),
    pts AS (
        SELECT event_type,
               ds[i] AS day, vs[i] AS cnt,
               sts[i][1] AS lvl_raw, sts[i][2] AS trd_raw,
               CASE WHEN i > 1
                    THEN sts[i - 1][1] + sts[i - 1][2] END AS fc_raw,
               CASE WHEN i > 1
                    THEN vs[i] - (sts[i - 1][1] + sts[i - 1][2])
               END AS resid_raw
        FROM st, unnest(generate_series(1, len(vs))) AS t(i)
    ),
    scale AS (
        SELECT event_type,
               CAST(count(resid_raw) AS DOUBLE) AS nr,
               sum(resid_raw) AS sr,
               sum(resid_raw * resid_raw) AS srr
        FROM pts GROUP BY 1
    ),
    sig AS (
        SELECT event_type,
               CASE WHEN nr >= 2
                    THEN sqrt(GREATEST((nr * srr - sr * sr) / (nr * nr),
                                       0.0)) END AS sigma
        FROM scale
    )
    SELECT p.event_type, day, cnt,
           round(lvl_raw, 6) AS level,
           round(trd_raw, 6) AS trend,
           round(fc_raw, 6) AS forecast,
           round(resid_raw, 6) AS resid,
           CASE WHEN resid_raw IS NOT NULL AND sigma > 0
                THEN abs(resid_raw) > CAST(3.0 AS DOUBLE) * sigma
           END AS is_anomaly
    FROM pts p JOIN sig USING (event_type)
    """,
    description="Holt linear-trend smoothing + one-step-ahead forecast "
    "anomalies (operators/holt.py:holt_forecast_anomaly) over per-type "
    "daily event counts — the level+trend upgrade of the EWMA gate on "
    "the identical series: l_t = 0.3*x_t + 0.7*(l+b)_prev, b_t = "
    "0.1*(l_t - l_prev) + 0.9*b_prev seeded (x_1, 0), forecast = "
    "(l+b)_prev, flag |resid| > 3*sigma. The inherently sequential "
    "two-state recursion runs as ONE in-memory array fold per key "
    "(the series-collector discipline, max_points-guarded), "
    "embarrassingly parallel across keys; the oracle replays the "
    "IDENTICAL left fold with DuckDB list_reduce over [l, b] LIST "
    "states — same IEEE operation order, so every level/trend/"
    "forecast/flag agrees bit-for-bit before the 6-decimal rounding "
    "(struct states are deliberately avoided: DuckDB v1.0 rebinds "
    "struct fields sequentially inside reduce lambdas — pinned in "
    "tests/test_holt.py alongside the hand-worked alpha=beta=0.5 "
    "fixture).",
)
def q_holt_forecast_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.holt import holt_forecast_anomaly

    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    return holt_forecast_anomaly(
        daily, ["event_type"], "day", "cnt", alpha=0.3, beta=0.1, k=3.0
    )


@register(
    "holt_winters_contract",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events GROUP BY 1, 2
    ),
    arr AS MATERIALIZED (
        SELECT event_type,
               list(day ORDER BY day) AS ds,
               list(cnt ORDER BY day) AS vs
        FROM daily GROUP BY 1
    ),
    -- First-season mean as an explicit left-assoc 7-term sum — same
    -- IEEE order as the engine's 0.0-seeded fold (0.0 + x1 == x1
    -- exactly), and ZERO lambdas.
    sd AS MATERIALIZED (
        SELECT event_type, ds, vs, len(vs) AS n,
               (vs[1] + vs[2] + vs[3] + vs[4] + vs[5] + vs[6] + vs[7])
                 / 7::DOUBLE AS mu
        FROM arr
    ),
    -- The sequential (l, b, s) recursion is replayed as a LAMBDA-FREE
    -- recursive CTE: one row per (key, t) carrying the state needed
    -- for step t+1 — level, trend, and the last seven seasonals
    -- q1..q7 (q1 = s_{t-6}, q7 = s_t), so s_{(t+1)-7} is q1 and the
    -- shift is a plain column rotation. Every r10/r11 driver-hash
    -- divergence lived inside list_reduce lambda semantics (rebinding,
    -- slice/concat type unification — see ORACLE_PORTABILITY.md);
    -- here every step is scalar arithmetic over DOUBLE columns of the
    -- previous iteration's rows, evaluated independently per standard
    -- SQL semantics, in the engine's exact IEEE operation order
    -- (trend inlines the level expression, the same tree the Spark
    -- fold builds).
    rec AS (
        SELECT event_type, vs, n, 7 AS t,
               mu AS lvl, 0.0::DOUBLE AS trd,
               vs[1] - mu AS q1, vs[2] - mu AS q2, vs[3] - mu AS q3,
               vs[4] - mu AS q4, vs[5] - mu AS q5, vs[6] - mu AS q6,
               vs[7] - mu AS q7,
               CAST(NULL AS DOUBLE) AS fc
        FROM sd WHERE n >= 7
      UNION ALL
        SELECT event_type, vs, n, t + 1,
               0.3::DOUBLE * (vs[t + 1] - q1) + 0.7::DOUBLE * (lvl + trd),
               0.1::DOUBLE * ((0.3::DOUBLE * (vs[t + 1] - q1)
                               + 0.7::DOUBLE * (lvl + trd)) - lvl)
                 + 0.9::DOUBLE * trd,
               q2, q3, q4, q5, q6, q7,
               0.2::DOUBLE * (vs[t + 1] - lvl - trd) + 0.8::DOUBLE * q1,
               lvl + trd + q1
        FROM rec WHERE t < n
    ),
    pts AS (
        SELECT event_type, ds[i] AS day, vs[i] AS cnt,
               CASE WHEN n >= 7 THEN mu END AS lvl_raw,
               CASE WHEN n >= 7 THEN 0.0::DOUBLE END AS trd_raw,
               CASE WHEN n >= 7 THEN vs[i] - mu END AS sea_raw,
               CAST(NULL AS DOUBLE) AS fc_raw
        FROM sd, unnest(generate_series(1, LEAST(n, 7))) AS u(i)
        UNION ALL
        SELECT r.event_type, a.ds[r.t] AS day, r.vs[r.t] AS cnt,
               r.lvl, r.trd, r.q7, r.fc
        FROM rec r JOIN arr a USING (event_type)
        WHERE r.t > 7
    ),
    pr AS (
        SELECT *, cnt - fc_raw AS resid_raw FROM pts
    ),
    scale AS (
        SELECT event_type,
               CAST(count(resid_raw) AS DOUBLE) AS nr,
               sum(resid_raw) AS sr,
               sum(resid_raw * resid_raw) AS srr
        FROM pr GROUP BY 1
    ),
    sig AS (
        SELECT event_type,
               CASE WHEN nr >= 2
                    THEN sqrt(GREATEST((nr * srr - sr * sr) / (nr * nr),
                                       0.0)) END AS sigma
        FROM scale
    )
    SELECT p.event_type, day, cnt,
           round(lvl_raw, 6) AS level,
           round(trd_raw, 6) AS trend,
           round(sea_raw, 6) AS seasonal,
           round(fc_raw, 6) AS forecast,
           round(resid_raw, 6) AS resid,
           CASE WHEN resid_raw IS NOT NULL AND sigma > 0
                THEN abs(resid_raw) > CAST(3.0 AS DOUBLE) * sigma
           END AS is_anomaly
    FROM pr p JOIN sig USING (event_type)
    """,
    description="Holt-Winters ADDITIVE seasonal smoothing + one-step "
    "forecast anomalies (operators/holt.py:"
    "holt_winters_forecast_anomaly, Winters 1960 / FPP3 §8.3) over "
    "per-type daily event counts with a weekly season (m=7): "
    "first-season seed (l=mean, b=0, s_i=x_i-mean), then l_t = "
    "0.3*(x_t - s_{t-7}) + 0.7*(l+b)_prev, b_t = 0.1*dl + 0.9*b_prev, "
    "s_t = 0.2*(x_t - (l+b)_prev... detrended) + 0.8*s_{t-7}, "
    "forecast = (l+b)_prev + s_{t-7}, flag |resid| > 3*sigma — the "
    "seasonal completion of the Holt-linear gate on the identical "
    "series. The sequential three-state recursion runs as ONE "
    "in-memory fold per key whose state array holds every (l,b,s) "
    "triple (the s_{t-m} lookup is an index from the end), "
    "embarrassingly parallel across keys; the oracle replays the same "
    "IEEE operation order as a LAMBDA-FREE recursive CTE — one row "
    "per (key, t) carrying (level, trend, last-7-seasonals) scalar "
    "DOUBLE columns, the seasonal window shifting by plain column "
    "rotation — after BOTH list_reduce restatements (r10 ring-state, "
    "r11 flat grow-state) hash-diverged on the driver's DuckDB build "
    "while hash-exact on local 1.0.0; every known divergence lives in "
    "reduce-lambda semantics, which this oracle no longer touches "
    "(see ORACLE_PORTABILITY.md). Keys shorter than one "
    "season carry NULL readouts (honest warm-up). Hand-worked m=2 "
    "alpha=beta=gamma=0.5 fixture + pure-Python seasonal-dict twin "
    "in tests/test_holt.py.",
)
def q_holt_winters_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.holt import holt_winters_forecast_anomaly

    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    return holt_winters_forecast_anomaly(
        daily,
        ["event_type"],
        "day",
        "cnt",
        season=7,
        alpha=0.3,
        beta=0.1,
        gamma=0.2,
        k=3.0,
    )


@register(
    "autocorrelation_contract",
    claims=(
        # The lag fan-out is a tiny broadcast spine (BNLJ against 7 rows is
        # fine); the series self-join itself must be an equi-join on
        # (event_type, day+lag) — never a cartesian product.
        lacks("CartesianProduct"),
        lacks("Window ("),
        has_any("BroadcastHashJoin", "SortMergeJoin"),
    ),
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               CAST(count(cnt) AS DOUBLE) AS n,
               sum(cnt) AS sx_all,
               sum(cnt * cnt) AS sxx_all
        FROM daily GROUP BY 1
    ),
    lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
    pairs AS (
        SELECT l.event_type AS event_type, lags.lag AS lag,
               CAST(count(*) AS DOUBLE) AS np,
               sum(l.cnt * r.cnt) AS sxy,
               sum(l.cnt) AS sx,
               sum(r.cnt) AS sy
        FROM daily l
        CROSS JOIN lags
        JOIN daily r
          ON r.event_type = l.event_type AND r.day = l.day + lags.lag
        GROUP BY 1, 2
    )
    SELECT p.event_type,
           CAST(lag AS BIGINT) AS lag,
           CAST(np AS BIGINT) AS n_pairs,
           round(CASE WHEN sxx_all - sx_all * sx_all / n > 0
                      THEN (sxy - (sx_all / n) * sx - (sx_all / n) * sy
                              + np * (sx_all / n) * (sx_all / n))
                           / (sxx_all - sx_all * sx_all / n)
                 END, 6) AS acf
    FROM pairs p JOIN stats USING (event_type)
    """,
    description="Sample autocorrelation function (operators/stats.py:"
    "autocorrelation) of per-type daily event counts at lags 1..7 — "
    "the seasonality probe (a weekly cycle shows up as an acf peak at "
    "lag 7). Numerator over the lag-shifted pairs, denominator the "
    "full-series centered sum of squares, both expanded to raw moments "
    "so the whole computation is one pre-aggregated self-join (equi-"
    "join on day+lag via a broadcast lag spine) plus keyed "
    "aggregations — no window, no per-key iteration. The oracle "
    "restates the identical raw-moment arithmetic at 6 decimals.",
)
def q_autocorrelation_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import autocorrelation

    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    return autocorrelation(daily, ["event_type"], "day", "cnt", max_lag=7)


@register(
    "ccf_lead_lag_contract",
    claims=(
        # The x15 lag spine and the 1-row sufficient-stats frame both reach
        # the join side broadcast; raw-moment arithmetic means no window and
        # no Python anywhere.
        lacks("CartesianProduct"),
        lacks("PythonUDF"),
        lacks("Window"),
        has_any("BroadcastNestedLoopJoin", "BroadcastHashJoin"),
    ),
    oracle="""
    WITH daily AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS y
        FROM events GROUP BY 1
    ),
    st AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               sum(x) AS sx_all, sum(x * x) AS sxx_all,
               sum(y) AS sy_all, sum(y * y) AS syy_all
        FROM daily
    ),
    lagspine AS (SELECT unnest(generate_series(-7, 7)) AS lg),
    pairs AS (
        SELECT lagspine.lg AS lg, CAST(count(*) AS DOUBLE) AS np,
               sum(l.x * r.y) AS sxy, sum(l.x) AS sx, sum(r.y) AS sy
        FROM daily l
        CROSS JOIN lagspine
        JOIN daily r ON r.day = l.day + lagspine.lg
        GROUP BY 1
    )
    SELECT CAST(lg AS BIGINT) AS lag, CAST(np AS BIGINT) AS n_pairs,
           round(CASE WHEN sxx_all - sx_all * sx_all / n > 0
                       AND syy_all - sy_all * sy_all / n > 0
                 THEN (sxy - (sy_all / n) * sx - (sx_all / n) * sy
                         + np * (sx_all / n) * (sy_all / n))
                      / sqrt((sxx_all - sx_all * sx_all / n)
                             * (syy_all - sy_all * sy_all / n))
                 END, 6) AS ccf
    FROM pairs CROSS JOIN st
    """,
    description="Cross-correlation lead/lag discovery (operators/"
    "stats.py:cross_correlation, Box & Jenkins 1970): the CCF between "
    "the DAILY CLICK count series and the DAILY PURCHASE count series "
    "at lags -7..+7 — positive lag correlates clicks_t with "
    "purchases_{t+lag}, so a positive-side peak reads 'clicks lead "
    "purchases by that many days' (the funnel-latency readout); lag 0 "
    "is plain Pearson r. Box-Jenkins convention: FULL-series means "
    "and sums of squares in the denominator (fixed across lags, "
    "comparable profile), expanded to raw moments so the whole "
    "computation is one sufficient-stats agg (here a 1-row broadcast "
    "scalar frame -- key_cols=[]), a x15 broadcast lag spine, ONE "
    "day-keyed self-join, one per-lag agg -- no window, no collect. "
    "Identical raw-moment literal order in both engines, sqrt is IEEE "
    "exact-rounded, counts are exact integers entering one double "
    "expression; ccf NULL when either variance is 0, lags beyond the "
    "overlap absent. The asymmetric-in-lag-sign sibling of the "
    "autocorrelation gate directly above. Hand-worked 4-point "
    "asymmetric fixture (ccf(+1) != ccf(-1)) + shift-detection "
    "(y = x delayed 2 -> peak at +2) + raw-moment Python twin in "
    "tests/test_ccf.py.",
)
def q_ccf_lead_lag_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import cross_correlation

    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr("unix_timestamp(ts) div 86400").cast("long").alias("day"),
            "event_type",
        )
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("double")
            .alias("clicks"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("double")
            .alias("purchases"),
        )
    )
    return cross_correlation(daily, [], "day", "clicks", "purchases", max_lag=7)


@register(
    "pacf_contract",
    claims=(
        # The D-L recursion is a projection over the 4-value ACF pivot: one
        # conditional agg + a 4-literal posexplode (Generate); the only
        # joins are the ACF stage's keyed self-join + broadcast spine.
        lacks("CartesianProduct"),
        lacks("PythonUDF"),
        has("Generate"),
    ),
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               CAST(count(cnt) AS DOUBLE) AS n,
               sum(cnt) AS sx_all,
               sum(cnt * cnt) AS sxx_all
        FROM daily GROUP BY 1
    ),
    lagspine AS (SELECT unnest(generate_series(1, 4)) AS lag),
    pairs AS (
        SELECT l.event_type AS event_type, lagspine.lag AS lag,
               CAST(count(*) AS DOUBLE) AS np,
               sum(l.cnt * r.cnt) AS sxy,
               sum(l.cnt) AS sx,
               sum(r.cnt) AS sy
        FROM daily l
        CROSS JOIN lagspine
        JOIN daily r
          ON r.event_type = l.event_type AND r.day = l.day + lagspine.lag
        GROUP BY 1, 2
    ),
    acf AS (
        SELECT p.event_type, lag,
               round(CASE WHEN sxx_all - sx_all * sx_all / n > 0
                          THEN (sxy - (sx_all / n) * sx - (sx_all / n) * sy
                                  + np * (sx_all / n) * (sx_all / n))
                               / (sxx_all - sx_all * sx_all / n)
                     END, 12) AS acf
        FROM pairs p JOIN stats USING (event_type)
    ),
    piv AS (
        SELECT event_type,
               max(CASE WHEN lag = 1 THEN acf END) AS r1,
               max(CASE WHEN lag = 2 THEN acf END) AS r2,
               max(CASE WHEN lag = 3 THEN acf END) AS r3,
               max(CASE WHEN lag = 4 THEN acf END) AS r4
        FROM acf GROUP BY 1
    ),
    s2 AS (
        SELECT *, CASE WHEN 1.0 - r1 * r1 <> 0
                       THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS p2
        FROM piv
    ),
    s2b AS (SELECT *, r1 - p2 * r1 AS phi21 FROM s2),
    s3 AS (
        SELECT *, CASE WHEN 1.0 - phi21 * r1 - p2 * r2 <> 0
                       THEN (r3 - phi21 * r2 - p2 * r1)
                            / (1.0 - phi21 * r1 - p2 * r2) END AS p3
        FROM s2b
    ),
    s3b AS (
        SELECT *, phi21 - p3 * p2 AS phi31, p2 - p3 * phi21 AS phi32
        FROM s3
    ),
    s4 AS (
        SELECT *, CASE WHEN 1.0 - phi31 * r1 - phi32 * r2 - p3 * r3 <> 0
                       THEN (r4 - phi31 * r3 - phi32 * r2 - p3 * r1)
                            / (1.0 - phi31 * r1 - phi32 * r2 - p3 * r3)
                  END AS p4
        FROM s3b
    )
    SELECT s4.event_type, CAST(lg.lag AS BIGINT) AS lag,
           round(CASE lg.lag WHEN 1 THEN r1 WHEN 2 THEN p2
                             WHEN 3 THEN p3 ELSE p4 END, 6) AS pacf
    FROM s4 CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS lag) lg
    """,
    description="Partial autocorrelation via unrolled Durbin-Levinson "
    "(operators/stats.py:pacf_by_key, Durbin Biometrika 1960 / "
    "Box-Jenkins 1970): per event_type, PACF of the daily event-count "
    "series at lags 1-4 — the AR-order selector completing the lag "
    "diagnostics (the ACF gate above says which lags correlate; PACF "
    "says which carry NEW information once shorter lags are regressed "
    "out: an AR(p) series cuts off after lag p — pytest-pinned on a "
    "phi=0.8 AR(1)). The recursion phi_kk = (r_k - sum phi_{k-1,j} "
    "r_{k-j})/(1 - sum phi_{k-1,j} r_j) is UNROLLED to closed-form "
    "projections over the 12-decimal ACF estimates (identical literal "
    "order in both engines, zero-denominator -> NULL, missing-lag ACF "
    "propagates NULL); the engine pivots the ACF frame in ONE "
    "key-cardinality conditional agg and posexplodes a 4-literal "
    "array — the recursion touches no data rows. Underneath runs the "
    "autocorrelation gate's raw-moment join shape. Hand-worked "
    "EXACT-FRACTION fixture (p2 = -13/42, p3 = -94/319 over x=[1..5]) "
    "+ fractions.Fraction Durbin-Levinson twin in tests/test_pacf.py.",
)
def q_pacf_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import pacf_by_key

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_timestamp(ts) div 86400").cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    return pacf_by_key(daily, ["event_type"], "day", "cnt", max_lag=4)


@register(
    "attribution_contract",
    claims=(
        # Group formation is the reverse cumulative window, never a
        # touch-x-conversion range join (BNLJ/cartesian at event scale).
        lacks("CartesianProduct"),
        lacks("BroadcastNestedLoopJoin"),
        count("Window (", hi=2),
    ),
    oracle="""
    WITH ev AS (
        SELECT user_id AS u, ts, event_type AS channel, event_id AS eid,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
        FROM events
        WHERE event_type IN ('purchase', 'click', 'view')
    ),
    g AS (
        SELECT *,
               sum(is_conv) OVER (PARTITION BY u
                                  ORDER BY ts, is_conv, eid
                                  ROWS BETWEEN CURRENT ROW
                                           AND UNBOUNDED FOLLOWING) AS grp
        FROM ev
    ),
    touches AS (SELECT * FROM g WHERE grp > 0 AND is_conv = 0),
    ranked AS (
        SELECT u, grp, channel,
               row_number() OVER (PARTITION BY u, grp
                                  ORDER BY ts, eid) AS rn_a,
               row_number() OVER (PARTITION BY u, grp
                                  ORDER BY ts DESC, eid DESC) AS rn_d,
               CAST(count(*) OVER (PARTITION BY u, grp) AS DOUBLE) AS n_t
        FROM touches
    ),
    firsts AS (
        SELECT channel, CAST(count(*) AS BIGINT) AS first_touch
        FROM ranked WHERE rn_a = 1 GROUP BY 1
    ),
    lasts AS (
        SELECT channel, CAST(count(*) AS BIGINT) AS last_touch
        FROM ranked WHERE rn_d = 1 GROUP BY 1
    ),
    lin AS (
        SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
               sum(1.0 / n_t) AS l
        FROM ranked GROUP BY 1
    )
    SELECT lin.channel, n_touches,
           coalesce(first_touch, 0) AS first_touch,
           coalesce(last_touch, 0) AS last_touch,
           round(l, 6) AS linear_credit
    FROM lin
    LEFT JOIN firsts USING (channel)
    LEFT JOIN lasts USING (channel)
    """,
    description="Multi-touch conversion attribution (operators/"
    "attribution.py:conversion_attribution): click/view touches earn "
    "first-touch, last-touch and linear (1/n) credit for the purchase "
    "that follows them in the same user's stream. Group formation is "
    "ONE user-keyed window (a reverse cumulative conversion count "
    "assigns every touch to its NEXT conversion — no range join, no "
    "per-conversion scan); credit allocation then runs at "
    "(user, conversion) cardinality and rolls up to a few doubles per "
    "channel. Same-ts touches attach to the conversion (touches order "
    "before conversions at equal ts); in-group ties break on (ts, "
    "event_id). The oracle restates the identical window/rollup "
    "algebra; min_by/max_by become rank-1 rows under the same "
    "composite ordering.",
)
def q_attribution_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.attribution import conversion_attribution

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    return conversion_attribution(
        ev,
        "user_id",
        "ts",
        "event_type",
        "event_id",
        conversion_type="purchase",
        touch_types=["click", "view"],
    )


@register(
    "jackknife_ratio_contract",
    claims=(
        # The S leave-one-out replicates are algebra on per-stratum sums —
        # one data-scale groupBy, no window, no shuffle join, no S scans.
        lacks("SortMergeJoin", "Join"),
        count("Scan parquet", hi=2),  # one scan; tree + detail
    ),
    oracle="""
    WITH per AS (
        SELECT l_suppkey % 16 AS st,
               sum(CAST(l_extendedprice AS DOUBLE)
                   * CAST(l_discount AS DOUBLE)) AS num,
               sum(CAST(l_extendedprice AS DOUBLE)) AS den
        FROM lineitem GROUP BY 1
    ),
    tot AS (
        SELECT sum(num) AS tn, sum(den) AS td, count(*) AS ns FROM per
    ),
    loo AS (
        SELECT ns, tn, td,
               CASE WHEN td - den != 0
                    THEN (tn - num) / (td - den) END AS r
        FROM per, tot
    ),
    agg AS (
        SELECT any_value(ns) AS ns, any_value(tn) AS tn, any_value(td) AS td,
               avg(r) AS rbar, sum(r * r) AS sum_r2, count(r) AS n_ok
        FROM loo
    ),
    solved AS (
        SELECT ns,
               CASE WHEN td != 0 THEN tn / td END AS theta,
               CASE WHEN n_ok = ns AND ns > 1 THEN
                    (ns - 1) / CAST(ns AS DOUBLE)
                        * (sum_r2 - n_ok * rbar * rbar) END AS v
        FROM agg
    )
    SELECT round(theta, 6) AS theta,
           round(CASE WHEN v IS NOT NULL
                      THEN sqrt(GREATEST(v, 0.0)) END, 6) AS se_jack,
           round(theta - 1.96 * CASE WHEN v IS NOT NULL
                      THEN sqrt(GREATEST(v, 0.0)) END, 6) AS ci_lo,
           round(theta + 1.96 * CASE WHEN v IS NOT NULL
                      THEN sqrt(GREATEST(v, 0.0)) END, 6) AS ci_hi,
           CAST(ns AS BIGINT) AS n_strata
    FROM solved
    """,
    description="Delete-one-stratum jackknife for a ratio metric "
    "(operators/stats.py:jackknife_ratio): the uncertainty on "
    "sum(price*discount)/sum(price) with 16 supplier strata. ONE "
    "data-scale groupBy(stratum) with map-side partial sums; every "
    "leave-one-out replicate is pure subtraction algebra on the "
    "per-stratum sufficient statistics (the crossval trick), so the S "
    "'re-computations' never re-touch the data; variance via the "
    "moment form at stratum cardinality with a normal-approx 95% CI. "
    "The bootstrap alternative re-shuffles the corpus per replicate.",
)
def q_jackknife_ratio_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import jackknife_ratio

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice") * F.col("l_discount")).alias("num"),
        F.col("l_extendedprice").alias("den"),
        (F.col("l_suppkey") % 16).alias("stratum"),
    )
    return jackknife_ratio(li, "num", "den", "stratum")


@register(
    "benford_profile_contract",
    claims=(
        # digit groupBy, joined to the literal spine without a shuffle
        lacks("SortMergeJoin", "CartesianProduct"),
        count("Scan parquet", hi=2),  # one scan; tree + detail
    ),
    oracle="""
    WITH vals AS (
        SELECT abs(CAST(l_extendedprice AS DOUBLE)) AS x
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
          AND abs(CAST(l_extendedprice AS DOUBLE)) > 0
          AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
    ),
    d AS (
        SELECT CAST(regexp_extract(
                   CAST(CAST(x AS DECIMAL(38,18)) AS VARCHAR),
                   '([1-9])', 1) AS INT) AS digit
        FROM vals
    ),
    counts AS (
        SELECT digit, count(*) AS n FROM d
        WHERE digit IS NOT NULL GROUP BY 1
    ),
    spine AS (
        SELECT d AS digit, log10(1.0 + 1.0 / d) AS expected_frac
        FROM generate_series(1, 9) AS t(d)
    ),
    tot AS (SELECT sum(n) AS tot FROM counts)
    SELECT spine.digit,
           CAST(coalesce(counts.n, 0) AS BIGINT) AS n,
           round(coalesce(counts.n, 0) / CAST(tot AS DOUBLE), 6)
               AS observed_frac,
           round(expected_frac, 6) AS expected_frac,
           round(tot * pow(coalesce(counts.n, 0) / CAST(tot AS DOUBLE)
                           - expected_frac, 2) / expected_frac, 6)
               AS chi2_part
    FROM spine LEFT JOIN counts USING (digit), tot
    ORDER BY digit
    """,
    description="Benford first-digit screening (operators/benford.py:"
    "benford_profile) of line-item prices: the forensic data-quality "
    "lens — first significant digit taken LEXICALLY (decimal-cast "
    "string slice, no pow/log10 reconstruction that misassigns "
    "999.999... at the ULP boundary), one map-side-combined groupBy "
    "over <=9 keys, expected log10(1+1/d) mass on a 9-row literal "
    "spine, per-digit chi-square contributions. Synthetic uniform "
    "prices will FAIL Benford loudly - which is exactly the point of "
    "the check; the gate pins the arithmetic, not naturalness.",
)
def q_benford_profile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.benford import benford_profile

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    return benford_profile(spark, li, "l_extendedprice")


@register(
    "cusum_changepoint_contract",
    claims=(
        # The recursion lives in an array fold after ONE groupBy collect —
        # no row-window over the series, no self-join, no iteration loop.
        lacks("Window ("),
        lacks("Join"),
        has("Generate"),  # posexplode back to series cardinality
    ),
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events GROUP BY 1, 2
    ),
    arr AS (
        SELECT event_type,
               list(day ORDER BY day) AS ds,
               list(cnt ORDER BY day) AS vs
        FROM daily GROUP BY 1
    ),
    mom AS (
        SELECT event_type, ds, vs, len(vs[1:14]) AS n,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs[1:14]),
                           (s, x) -> s + x) AS sx,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                        list_transform(vs[1:14],
                                                       x -> x * x)),
                           (s, x) -> s + x) AS sxx
        FROM arr
    ),
    sig AS (
        SELECT event_type, ds, vs, n, sx / n AS mu,
               sqrt(GREATEST(sxx / n - (sx / n) * (sx / n), 0.0)) AS sigma
        FROM mom
    ),
    zs AS (
        SELECT event_type, ds, vs,
               list_transform(vs, x -> CASE WHEN sigma > 0
                                            THEN (x - mu) / sigma
                                            ELSE 0.0::DOUBLE END) AS z
        FROM sig
    ),
    cs AS (
        SELECT event_type, ds, vs,
               list_transform(
                   generate_series(1, len(z)),
                   i -> list_reduce(
                            list_prepend(
                                {'pos': CAST(0.0 AS DOUBLE),
                                 'neg': CAST(0.0 AS DOUBLE)},
                                list_transform(z[1:i],
                                               zz -> {'pos': zz, 'neg': zz})),
                            (a, e) -> {'pos': GREATEST(CAST(0.0 AS DOUBLE),
                                                       a.pos + e.pos
                                                       - 0.5::DOUBLE),
                                       'neg': LEAST(CAST(0.0 AS DOUBLE),
                                                    a.neg + e.neg
                                                    + 0.5::DOUBLE)})
               ) AS states
        FROM zs
    )
    SELECT event_type, ds[i] AS day, vs[i] AS cnt,
           round(states[i].pos, 6) AS cusum_pos,
           round(states[i].neg, 6) AS cusum_neg,
           (states[i].pos > 3.0 OR states[i].neg < -3.0) AS is_change
    FROM cs, unnest(generate_series(1, len(vs))) AS t(i)
    """,
    description="Two-sided CUSUM change-point detection (operators/"
    "changepoint.py:cusum_changepoints) over per-type daily event "
    "counts, k=0.5 slack / h=3 sigma, standardized against a 14-day "
    "Phase-I baseline window (the SPC reference-period split): pos_t = "
    "max(0, pos_{t-1} + z_t - k), neg_t = min(0, neg_{t-1} + z_t + k) "
    "— the level-shift "
    "complement of the EWMA spike detector (small persistent drifts "
    "accumulate until the alarm). Series moments come from SEQUENTIAL "
    "folds over each key's sorted array (never avg/stddev, whose "
    "partition-order float sums would make every downstream state "
    "irreproducible); the one-fold-per-key recursion is O(n) and "
    "embarrassingly parallel across keys. The oracle replays the "
    "identical folds via DuckDB list_reduce with a prepended zero "
    "state.",
)
def q_cusum_changepoint_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.changepoint import cusum_changepoints

    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    return cusum_changepoints(
        daily, ["event_type"], "day", "cnt", k=0.5, h=3.0,
        baseline_points=14,
    )


@register(
    "lorenz_gini_contract",
    claims=(
        # The exact Gini needs every row ranked; the operator instead
        # aggregates to <=n_buckets cells (one data-scale shuffle) and walks
        # the curve on answer-scale windows.
        lacks("Join"),
        count("Scan parquet", hi=2),  # one scan; tree + detail
        has("HashAggregate"),
    ),
    oracle="""
    WITH cells AS (
        SELECT LEAST(GREATEST(CAST(floor((CAST(l_extendedprice AS DOUBLE)
                                          - 0.0) / 105000.0 * 256)
                                   AS BIGINT), 0), 255) AS bucket,
               count(*) AS n,
               sum(CAST(l_extendedprice AS DOUBLE)) AS sum_v
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
        GROUP BY 1
    ),
    cum AS (
        SELECT bucket, n, sum_v,
               sum(n) OVER () AS tn,
               sum(sum_v) OVER () AS tv,
               sum(n) OVER (ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cn,
               sum(sum_v) OVER (ORDER BY bucket
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cv
        FROM cells
    ),
    shaped AS (
        SELECT bucket, n, sum_v, tn, cn, cv,
               n / CAST(tn AS DOUBLE) AS pop_share,
               cv / tv AS l_cur,
               (cv - sum_v) / tv AS l_prev
        FROM cum
    )
    SELECT bucket, CAST(n AS BIGINT) AS n,
           round(sum_v, 6) AS sum_v,
           round(cn / CAST(tn AS DOUBLE), 6) AS cum_pop_share,
           round(l_cur, 6) AS cum_value_share,
           round(1.0 - sum(pop_share * (l_prev + l_cur)) OVER (), 6) AS gini
    FROM shaped
    """,
    description="Lorenz curve + Gini concentration profile (operators/"
    "concentration.py:lorenz_gini) of line-item prices in 256 "
    "fixed-width value cells: the corpus-concentration diagnostic "
    "('what share of total value sits in the heaviest tail?') that "
    "decides whether source caps and heavy-hitter handling are needed. "
    "Exact Gini needs a global sort; quantizing the value axis makes "
    "the whole curve ONE map-side-combined groupBy plus answer-scale "
    "windows over <=256 Lorenz points (the roc_auc machinery pointed "
    "at inequality), trapezoid-exact for within-cell-constant "
    "distributions. Negative values hard-fail (a clamped negative "
    "would silently corrupt Lorenz monotonicity).",
)
def q_lorenz_gini_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.concentration import lorenz_gini

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    return lorenz_gini(li, "l_extendedprice", lo=0.0, hi=105000.0, n_buckets=256)


@register(
    "weighted_percentile_contract",
    oracle="""
    WITH base AS (
        SELECT l_returnflag, l_extendedprice AS x,
               CAST(l_quantity AS INTEGER) AS w
        FROM lineitem
    ),
    expanded AS (
        SELECT l_returnflag, x FROM base, UNNEST(generate_series(1, w))
    )
    SELECT l_returnflag,
           round(quantile_cont(x, 0.25), 6) AS p25,
           round(quantile_cont(x, 0.5), 6) AS p50,
           round(quantile_cont(x, 0.75), 6) AS p75,
           round(quantile_cont(x, 0.9), 6) AS p90
    FROM expanded GROUP BY 1
    """,
    description="Importance-weighted exact percentiles "
    "(operators/clean.py:weighted_percentiles): quantity-weighted "
    "price quartiles per return flag — each lineitem counts "
    "l_quantity times, via percentile's frequency argument (exact "
    "interpolated semantics over the expanded multiset WITHOUT "
    "materializing it; integral weights enforced, negative weights "
    "raise the operator's named error). ONE aggregation pass with "
    "map-side partials; output is group-cardinality. The oracle "
    "proves the frequency-argument semantics the honest-but-"
    "infeasible-at-scale way: it MATERIALIZES the weighted multiset "
    "(unnest over generate_series, fixture-scale only) and takes "
    "quantile_cont over it.",
)
def q_weighted_percentile_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.clean import weighted_percentiles

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("int").alias("qty"),
    )
    return weighted_percentiles(
        li, "l_extendedprice", "qty", [0.25, 0.5, 0.75, 0.9],
        by=["l_returnflag"],
    )


@register(
    "basket_size_profile",
    oracle="""
    WITH sizes AS (
        SELECT l_orderkey, count(DISTINCT l_partkey) AS b
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_baskets,
           CAST(sum(CASE WHEN b > 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_over_cap,
           round(avg(CASE WHEN b > 5 THEN 1.0 ELSE 0.0 END), 6)
               AS over_cap_frac,
           CAST(max(b) AS BIGINT) AS max_size,
           CAST(quantile_disc(b, 0.99) AS BIGINT) AS p99_size
    FROM sizes
    """,
    description="Basket-size cap-pressure report (operators/basket.py:"
    "basket_size_profile) for item_pair_affinity's max_basket guard: "
    "how many order-baskets a cap of 5 distinct parts would drop, "
    "plus max/p99 sizes — the report you run BEFORE choosing the cap "
    "that bounds the C(b,2) pair blowup. ONE distinct + ONE "
    "aggregation, both map-side combined; the whole answer is one "
    "row. p99 rides percentile_approx at accuracy 10000 — over the "
    "small integer basket-size domain the sketch is exact and returns "
    "an actual data value, which DuckDB's quantile_disc restates "
    "(both sides verified value-identical on the fixtures).",
)
def q_basket_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.basket import basket_size_profile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return basket_size_profile(
        li, basket_col="l_orderkey", item_col="l_partkey", max_basket=5
    )


@register(
    "triangle_count_contract",
    claims=(
        # Degree orientation is a struct-key comparison, per-vertex counts
        # are groupBys — a Window here would mean a global vertex rank
        # sneaked back in (the single-partition hazard the operator exists
        # to avoid).
        lacks("Window"),
        lacks("CartesianProduct"),
    ),
    oracle="""
    WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        GROUP BY 1
    ),
    tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM e0 e1
        JOIN e0 e2 ON e2.u = e1.v
        JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pv AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY 1
    )
    SELECT deg.node, deg.degree,
           coalesce(pv.n, 0) AS n_triangles,
           round(CASE WHEN deg.degree >= 2
                      THEN 2.0 * coalesce(pv.n, 0)
                           / (deg.degree * (deg.degree - 1.0))
                      ELSE 0.0 END, 6) AS clustering
    FROM deg LEFT JOIN pv USING (node)
    """,
    description="Per-vertex triangle counts + local clustering "
    "coefficient (operators/graph.py:triangle_stats) over the part "
    "co-purchase graph (parts sharing an order). Degree-oriented "
    "wedge closing (Suri & Vassilvitskii's MapReduce node-iterator++, "
    "public literature): edges orient from the lower-(degree, id) "
    "endpoint via STRUCT-key comparison — no global rank window — so "
    "each triangle closes exactly once and hub vertices never explode "
    "into D^2 wedges (wedges build only at the lower-degree endpoint; "
    "out-degrees are ~sqrt(m)-bounded). The oracle deliberately uses "
    "DIFFERENT algebra — the id-canonical 3-way self-join "
    "(x<y<z, all three edges present) with no orientation at all — so "
    "a bug in the orientation/wedge machinery cannot hide in a shared "
    "restatement; pytest additionally pins K4/path/pendant fixtures "
    "and an O(n^3) brute-force random-graph comparison.",
)
def q_triangle_count_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_stats

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    return triangle_stats(edges)


def _lpa_cte_chain(iterations: int = 4) -> str:
    """Shared unrolled-CTE LPA replay over the bounded part
    co-purchase graph: e0/sym/l0 plus one (count, argmax) CTE pair per
    iteration — a bounded unrolling instead of the operator's loop, so
    the oracles share no iteration machinery with the Spark path. The
    final label frame is ``l{iterations}``."""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(
            f"""c{i} AS (
        SELECT e.s AS node, l.label, count(*) AS c
        FROM sym e JOIN l{i - 1} l ON l.node = e.d
        GROUP BY 1, 2
    ), l{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, label ASC) AS rn
            FROM c{i}) WHERE rn = 1
    )"""
        )
    chain = ", ".join(steps)
    return f"""e0 AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_partkey < 500 AND b.l_partkey < 500
    ), sym AS (
        SELECT u AS s, v AS d FROM e0
        UNION ALL
        SELECT v AS s, u AS d FROM e0
    ), l0 AS (
        SELECT DISTINCT s AS node, s AS label FROM sym
    ), {chain}"""


def _lpa_oracle(iterations: int = 4) -> str:
    return f"""
    WITH {_lpa_cte_chain(iterations)}
    SELECT CAST(label AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node,
           CAST(sum(node % 1000003) AS BIGINT) AS member_checksum
    FROM l{iterations} GROUP BY 1
    """


@register(
    "label_propagation_contract",
    oracle=_lpa_oracle(4),
    description="Deterministic synchronous label-propagation "
    "community detection (operators/graph.py:label_propagation, "
    "Raghavan et al. 2007) over the bounded part co-purchase graph "
    "(parts < 500 sharing an order — the triangle_count_contract "
    "graph family): 4 fixed iterations, every node adopts its "
    "neighbors' most frequent label with ties to the SMALLEST label, "
    "then the per-community census (size, min/max member, mod-1000003 "
    "member checksum) pins the exact final assignment of every node — "
    "one node in the wrong community breaks the hash. The community "
    "readout is what a dedup-pair graph user asks after connected "
    "components: does a giant component hide several dense cores "
    "(threshold set too low)? Spark side is the Pregel message "
    "pattern (per iteration: one label join + one map-side-combined "
    "(node,label) count + one struct-min argmax, no windows over "
    "data, lineage truncated every 2 rounds); the oracle deliberately "
    "UNROLLS the recursion as chained CTEs with a row_number argmax — "
    "different iteration and different argmax machinery. Hand-worked "
    "two-triangles-plus-bridge fixture (3 iterations traced by hand) "
    "+ pure-Python synchronous twin on a random graph in "
    "tests/test_graph.py.",
)
def q_label_propagation_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") < 500)
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    labels = label_propagation(edges, iterations=4)
    return labels.groupBy(
        F.col("label").cast("long").alias("community")
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
        F.max("node").cast("long").alias("max_node"),
        F.sum(F.col("node") % 1000003).cast("long").alias("member_checksum"),
    )


@register(
    "modularity_contract",
    oracle=f"""
    WITH {_lpa_cte_chain(4)},
    deg AS (
        SELECT s AS node, count(*) AS degree FROM sym GROUP BY 1
    ),
    dc AS (
        SELECT l.label, sum(d.degree) AS d_c
        FROM deg d JOIN l4 l USING (node) GROUP BY 1
    ),
    ec AS (
        SELECT la.label, count(*) AS e_c
        FROM e0
        JOIN l4 la ON la.node = e0.u
        JOIN l4 lb ON lb.node = e0.v
        WHERE la.label = lb.label
        GROUP BY 1
    ),
    tot AS (SELECT count(*) AS m FROM e0)
    SELECT CAST(count(*) AS BIGINT) AS n_communities,
           CAST(max(t.m) AS BIGINT) AS n_edges,
           round(CAST(sum(coalesce(ec.e_c, 0)) AS DOUBLE) / max(t.m)
                 - CAST(sum(dc.d_c * dc.d_c) AS DOUBLE)
                   / (4.0::DOUBLE * max(t.m) * max(t.m)), 6) AS modularity
    FROM dc LEFT JOIN ec USING (label) CROSS JOIN tot t
    """,
    description="Newman modularity Q of the 4-iteration LPA partition "
    "(operators/graph.py:modularity, Newman & Girvan 2004) over the "
    "same bounded part co-purchase graph — the score that turns "
    "label_propagation_contract's assignment into a judgement (Q near "
    "0 = random wiring, 0.3+ = real structure; the readout a dedup "
    "user compares across similarity thresholds). Determinism by "
    "construction: within-community edge count and sum of squared "
    "community degrees are INTEGER sums (no float reassociation "
    "across partitions), so Q = sum(e_c)/m - sum(d_c^2)/(4m^2) is two "
    "exact longs divided once and the oracle's restatement matches "
    "bit-for-bit. The oracle re-derives the labels through the shared "
    "unrolled-CTE LPA replay (row_number argmax — different iteration "
    "machinery from the Spark loop), so this gate double-checks the "
    "LPA assignment AND the modularity algebra. Plan: one degree agg, "
    "two node-keyed label joins, answer-scale community aggs, one "
    "1-row scalar crossJoin. Hand-worked two-triangles-plus-bridge "
    "fixture (Q = 6/7 - 98/196) + textbook two-clique Q=0.5 / "
    "one-community Q=0 / singleton Q=-1/6 checks in "
    "tests/test_graph.py.",
)
def q_modularity_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation, modularity

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") < 500)
    )
    a, b = li.alias("a"), li.alias("b")
    edges = pin(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    labels = label_propagation(edges, iterations=4)
    return modularity(edges, labels)


def _kcore_oracle(k: int = 3, iterations: int = 6) -> str:
    """Unrolled-CTE k-core peel replay: one (degree, keep, filter) CTE
    triple per round — a bounded unrolling with IN-subquery filtering
    instead of the operator's semi-join loop. Both sides run EXACTLY
    ``iterations`` peels, so parity holds whether or not the peel has
    converged (the fixed-iteration posture makes convergence a
    property to read off the result, not a source of divergence).

    Every CTE is MATERIALIZED: DuckDB inlines multiply-referenced
    CTEs, and each round references its predecessor ~4 times (degree
    union + two IN filters), so an uninlined chain re-expands e0
    4^rounds times — the unmaterialized form exhausted file handles
    re-opening the parquet scan thousands of times."""
    parts = []
    for i in range(1, iterations + 1):
        prev = f"e{i - 1}"
        parts.append(
            f"""d{i} AS MATERIALIZED (
        SELECT node, count(*) AS deg FROM (
            SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
        ) GROUP BY 1
    ), kp{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {k}),
    e{i} AS MATERIALIZED (
        SELECT u, v FROM {prev}
        WHERE u IN (SELECT node FROM kp{i})
          AND v IN (SELECT node FROM kp{i})
    )"""
        )
    chain = ",\n    ".join(parts)
    last = f"e{iterations}"
    return f"""
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_partkey < 500 AND b.l_partkey < 500
          AND a.l_orderkey % 7 = 0
    ),
    {chain},
    fin AS (
        SELECT node, count(*) AS core_degree FROM (
            SELECT u AS node FROM {last} UNION ALL SELECT v FROM {last}
        ) GROUP BY 1
    )
    SELECT CAST(core_degree AS BIGINT) AS core_degree,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(sum(node % 1000003) AS BIGINT) AS member_checksum
    FROM fin GROUP BY 1
    """


@register(
    "k_core_contract",
    oracle=_kcore_oracle(3, 6),
    description="k-core dense-subgraph extraction (operators/graph.py:"
    "k_core, Seidman 1983 / Montresor et al. TPDS'13) over a 1-in-7 "
    "order sample of the part co-purchase graph: 6 fixed peeling "
    "rounds at k=3 — each round drops every node whose current degree "
    "is under 3 with its incident edges — then the surviving degree "
    "table profiled per core_degree (count, min member, mod-1000003 "
    "member checksum pins the exact surviving node set AND every "
    "node's in-core degree). The peel actually bites on this graph "
    "(sf0.001: 200 -> 194 nodes; sf0.01: 500 -> 303) — the dense-"
    "backbone readout that separates 'similar to many documents' "
    "near-dup hubs from stringy chains connected components cannot "
    "distinguish. Fixed iterations on BOTH sides (no convergence "
    "probe), so the unrolled-CTE oracle — IN-subquery filtering vs "
    "the engine's semi-join loop, different machinery — matches "
    "bit-for-bit whether or not the fixed point was reached. Per "
    "round: one degree agg + two node-keyed semi-joins, lineage "
    "truncated every 2 rounds. Hand-worked K4-plus-tail fixture "
    "(2/3/4-core by hand) + pure-Python peel twin on a random graph "
    "in tests/test_graph.py.",
)
def q_k_core_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import k_core

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(
            (F.col("l_partkey") < 500) & (F.col("l_orderkey") % 7 == 0)
        )
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    core = k_core(edges, 3, iterations=6)
    return core.groupBy(
        F.col("core_degree").cast("long").alias("core_degree")
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
        F.sum(F.col("node") % 1000003).cast("long").alias("member_checksum"),
    )


def _bfs_oracle(hops: int = 6) -> str:
    """Unrolled min-dist relaxation over the bipartite customer-part
    purchase graph — Bellman-Ford-style rounds (r_i = r_{i-1} ∪
    neighbor relaxations, min per node) instead of the operator's
    frontier expansion + anti-join: after h rounds both yield exactly
    the nodes within h hops at their true distance, through different
    machinery (the k-core different-algebra discipline). Every chain
    CTE is referenced twice -> MATERIALIZED (DuckDB inlines
    multiply-referenced CTEs; see ORACLE_PORTABILITY.md)."""
    steps = []
    for i in range(1, hops + 1):
        steps.append(
            f"""r{i} AS MATERIALIZED (
        SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM r{i - 1}
            UNION ALL
            SELECT e.d AS node, r.dist + 1 AS dist
            FROM sym e JOIN r{i - 1} r ON r.node = e.s
        ) GROUP BY 1
    )"""
        )
    chain = ", ".join(steps)
    return f"""
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT CAST(o.o_custkey AS BIGINT) + 1000000 AS u,
                        CAST(l.l_partkey AS BIGINT) AS v
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_partkey < 200 AND o.o_custkey < 300
    ),
    sym AS MATERIALIZED (
        SELECT u AS s, v AS d FROM e0
        UNION ALL
        SELECT v AS s, u AS d FROM e0
    ),
    r0 AS MATERIALIZED (
        SELECT CAST(x AS BIGINT) AS node, 0 AS dist
        FROM unnest([1, 2, 3]) AS t(x)
    ),
    {chain}
    SELECT CAST(dist AS INT) AS dist,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node,
           CAST(sum(node % 1000003) AS BIGINT) AS member_checksum
    FROM r{hops} GROUP BY 1
    """


@register(
    "bfs_distances_contract",
    claims=(
        # Six expansion rounds: frontier semi-joins + anti-joins keyed on
        # node id — never a cartesian, never a Python worker, never a window
        # (the census is a plain groupBy).
        lacks("CartesianProduct"),
        lacks("PythonUDF", "ArrowEval"),
        lacks("Window"),
    ),
    oracle=_bfs_oracle(6),
    description="Multi-source BFS hop distances (operators/graph.py:"
    "bfs_distances, CLRS §22.2 / Malewicz et al. SIGMOD'10 Pregel) "
    "over the bounded bipartite customer-part purchase graph "
    "(customers < 300 offset by 1e6, parts < 200 they ordered): 6 "
    "fixed expansion rounds from seed parts {1, 2, 3}, then the "
    "per-distance census (count, min/max member, mod-1000003 member "
    "checksum) pins every reached node's exact hop distance — one "
    "node settling a hop early or late breaks the hash. The bipartite "
    "layering actually exercises depth (sf0.01 reaches distance 5: "
    "part -> buyer -> co-bought part -> ...) — the 'how far is this "
    "document from the cluster representative' readout that completes "
    "the graph family's reachability story beyond connected "
    "components' membership bit. Fixed rounds on BOTH sides (no "
    "convergence probe); the engine expands a frontier with per-round "
    "semi-join + left-anti settlement while the oracle UNROLLS "
    "Bellman-Ford-style min-dist relaxation rounds over MATERIALIZED "
    "CTEs — different settlement machinery, identical distances "
    "(integer arithmetic, no floats anywhere). Per round: one "
    "frontier semi-join + one distinct + one anti-join, all keyed on "
    "node id, lineage truncated every 2 rounds, zero driver state. "
    "Hand-worked chain-with-branch fixture + multi-source/budget-"
    "truncation traces + pure-Python frontier twin on a random graph "
    "in tests/test_graph.py.",
)
def q_bfs_distances_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_distances

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") < 200)
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .filter(F.col("o_custkey") < 300)
    )
    edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (F.col("o_custkey").cast("long") + 1000000).alias("src"),
        F.col("l_partkey").cast("long").alias("dst"),
    )
    sources = spark.range(1, 4).select(F.col("id").alias("node"))
    d = bfs_distances(edges, sources, max_hops=6)
    return d.groupBy(F.col("dist").cast("int").alias("dist")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
        F.max("node").cast("long").alias("max_node"),
        F.sum(F.col("node") % 1000003).cast("long").alias("member_checksum"),
    )


@register(
    "adamic_adar_contract",
    claims=(
        # Candidate pairs exclude real edges via LeftAnti; top-25 is
        # TakeOrderedAndProject; the ONLY window is the final rank
        # row_number over the already-limited frame — never a pair-scale
        # window, cartesian, or Python worker.
        lacks("CartesianProduct"),
        lacks("PythonUDF"),
        has("LeftAnti"),
        has("TakeOrderedAndProject"),
        count("Window (", hi=1),
    ),
    oracle="""
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT
               least(CAST(o.o_custkey AS BIGINT) + 1000000,
                     CAST(l.l_partkey AS BIGINT)) AS eu,
               greatest(CAST(o.o_custkey AS BIGINT) + 1000000,
                        CAST(l.l_partkey AS BIGINT)) AS ev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_partkey < 200 AND o.o_custkey < 300
    ),
    deg AS MATERIALIZED (
        SELECT node, count(*) AS d FROM (
            SELECT eu AS node FROM e0 UNION ALL SELECT ev FROM e0
        ) GROUP BY 1
    ),
    adj AS (
        SELECT eu AS c, ev AS n FROM e0
        UNION ALL
        SELECT ev AS c, eu AS n FROM e0
    ),
    adjd AS MATERIALIZED (
        SELECT a.c, a.n, deg.d FROM adj a JOIN deg ON deg.node = a.c
        WHERE deg.d <= 10
    ),
    wedge AS (
        SELECT a1.n AS u, a2.n AS w, a1.d
        FROM adjd a1 JOIN adjd a2 ON a1.c = a2.c AND a1.n < a2.n
    ),
    cand AS (
        SELECT wg.u, wg.w, wg.d FROM wedge wg
        WHERE NOT EXISTS (
            SELECT 1 FROM e0 WHERE e0.eu = wg.u AND e0.ev = wg.w
        )
    ),
    s AS (
        SELECT u, w, CAST(count(*) AS BIGINT) AS common,
               round(sum(1.0 / ln(CAST(d AS DOUBLE))), 6) AS aa_score,
               round(sum(1.0 / CAST(d AS DOUBLE)), 6) AS ra_score
        FROM cand GROUP BY 1, 2
    )
    SELECT u, w, common, aa_score, ra_score,
           CAST(row_number() OVER (ORDER BY aa_score DESC, u ASC, w ASC)
                AS INTEGER) AS rank
    FROM s
    ORDER BY aa_score DESC, u ASC, w ASC
    LIMIT 25
    """,
    description="Adamic-Adar link prediction (operators/graph.py:"
    "adamic_adar_topk, Adamic & Adar Social Networks 2003; RA twin "
    "from Zhou/Lu/Zhang EPJ B 2009) over the same bounded bipartite "
    "customer-part purchase graph as the BFS gate: the top-25 "
    "NON-edge pairs by sum(1/ln(deg(v))) over common neighbors v, "
    "with the resource-allocation sibling sum(1/deg(v)) and the "
    "common-neighbor count alongside — the 'which near-dup pair is "
    "the graph about to close' pre-merge readout, scoring wedges that "
    "are NOT edges with the same wedge machinery whose CLOSED wedges "
    "the triangle gate counts. max_degree=10 exercises the standard "
    "hub wedge bound (a degree-D center contributes D^2 pairs each "
    "worth ~1/ln(D): the cap removes the quadratic blowup; applied "
    "identically by both engines, it is part of the statistic under "
    "test). Ranking compares the ROUNDED score then (u, w) ascending "
    "(raw float-sum accumulation order is partitioning-dependent; "
    "rounded sums agree), rank assigned AFTER the 25-row limit -- "
    "TakeOrderedAndProject, never a pair-scale window. Engine shape: "
    "canonicalize+dedup, ONE degree agg, map-only adjacency union, "
    "center-keyed wedge self-join bounded by the cap, one anti-join "
    "against the edge set, ONE pair-keyed agg; the oracle replays it "
    "via NOT EXISTS + join SQL. Hand-worked two-common-neighbor "
    "fixture (aa = 1/ln3 + 1/ln2) + pure-Python brute-force twin "
    "over all node pairs in tests/test_linkpred.py.",
)
def q_adamic_adar_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import adamic_adar_topk

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") < 200)
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .filter(F.col("o_custkey") < 300)
    )
    edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (F.col("o_custkey").cast("long") + 1000000).alias("src"),
        F.col("l_partkey").cast("long").alias("dst"),
    )
    return adamic_adar_topk(edges, k=25, max_degree=10)


@register(
    "rfm_segment_profile",
    claims=(
        # Quintile scores come from quantile BOUNDS + comparisons; ntile (a
        # global customer sort) must never appear.
        lacks("Window"),
        lacks("ntile"),
    ),
    oracle="""
    WITH pc AS (
        SELECT o_custkey AS customer,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         DATE '1998-12-31') AS recency_days,
               count(*) AS frequency,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders GROUP BY 1
    ),
    b AS (
        SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS br,
               quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS bf,
               quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS bm
        FROM pc
    ),
    scored AS (
        SELECT pc.*,
               5 - ((recency_days > br[1])::INT + (recency_days > br[2])::INT
                  + (recency_days > br[3])::INT + (recency_days > br[4])::INT)
                   AS r_score,
               1 + (frequency > bf[1])::INT + (frequency > bf[2])::INT
                 + (frequency > bf[3])::INT + (frequency > bf[4])::INT
                   AS f_score,
               1 + (monetary > bm[1])::INT + (monetary > bm[2])::INT
                 + (monetary > bm[3])::INT + (monetary > bm[4])::INT
                   AS m_score
        FROM pc, b
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(recency_days)::DOUBLE / count(*), 6) AS avg_recency_days,
           round(sum(frequency)::DOUBLE / count(*), 6) AS avg_frequency,
           round(sum(monetary)::DOUBLE / count(*), 6) AS avg_monetary
    FROM scored GROUP BY 1, 2, 3
    """,
    description="RFM customer segmentation (operators/rfm.py:"
    "rfm_segments): recency / frequency / monetary quintile scores "
    "(higher = better, recency inverted) per customer, profiled per "
    "segment. ONE scan of the order log collapses to the "
    "customer-cardinality R/F/M frame; three quintile-BOUND fits "
    "(equal_frequency_bins — no ntile global sort, ties to the lower "
    "bin so the segmentation is partition-stable) and a map-only "
    "score chain; the profile aggregates at <=125-segment "
    "cardinality. Amounts ride DECIMAL(18,2) and segment averages are "
    "exact-sum-then-one-division (the WOE bit-stability pattern) — "
    "F.avg over doubles flipped a 6th decimal at a round boundary on "
    "this very fixture. reference_date is an explicit anchor, never "
    "inferred, so the readout is reproducible.",
)
def q_rfm_segment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rfm import rfm_segments

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "amt", F.col("o_totalprice").cast("decimal(18,2)")
    )
    return rfm_segments(
        orders,
        "o_custkey",
        "o_orderdate",
        "amt",
        reference_date="1998-12-31",
        n_bins=5,
    )


@register(
    "windowed_funnel_contract",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    d AS (SELECT user_id, t, epoch_us(t) + 172800000000 AS dl FROM s1),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t, min(d.dl) AS dl
        FROM events e JOIN d ON e.user_id = d.user_id
        WHERE e.event_type = 'click' AND e.ts > d.t
          AND epoch_us(e.ts) <= d.dl
        GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t
          AND epoch_us(e.ts) <= s2.dl
        GROUP BY 1
    ),
    counts AS (
        SELECT 0 AS step_idx, 'view' AS step,
               (SELECT count(*) FROM s1) AS n_users
        UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s2)
        UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s3)
    )
    SELECT step_idx, step, n_users,
           CASE WHEN (SELECT count(*) FROM s1) > 0
                THEN round(n_users / (SELECT count(*) FROM s1), 6)
           END AS conversion
    FROM counts
    """,
    description="Conversion-window funnel (operators/funnel.py:"
    "funnel_counts_within): view -> click -> purchase where every "
    "later step must ALSO land within 2 days of the user's funnel "
    "ENTRY (anchored at entry, not per hop — a per-hop window lets an "
    "N-step funnel stretch N*W long). The window binds on this "
    "fixture: purchase converts 0.273 vs the unwindowed 0.34 at "
    "sf0.01 (pinned strictly smaller in pytest) — exactly the "
    "overstatement the plain funnel makes. Same plan guarantees as "
    "event_funnel_profile (user-keyed mins/joins, monotonically "
    "shrinking lineage-truncated step frames, ONE action); the "
    "deadline rides as integer microseconds, engine-portable "
    "(epoch_us on the oracle side). Deadline inclusive (<=), "
    "same-instant prior-step repeats still strict (>).",
)
def q_windowed_funnel_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel_counts_within

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    return funnel_counts_within(
        ev, ["view", "click", "purchase"], max_seconds=2 * 24 * 3600
    )


@register(
    "robust_scaler_contract",
    oracle="""
    WITH q AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS qp,
               quantile_cont(l_discount, [0.25, 0.5, 0.75]) AS qd
        FROM lineitem GROUP BY 1
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           round(CASE WHEN qp[3] - qp[1] > 0
                      THEN (l.l_extendedprice - qp[2]) / (qp[3] - qp[1])
                 END, 6) AS price_scaled,
           round(CASE WHEN qd[3] - qd[1] > 0
                      THEN (l.l_discount - qd[2]) / (qd[3] - qd[1])
                 END, 6) AS discount_scaled
    FROM lineitem l JOIN q USING (l_returnflag)
    """,
    description="Median/IQR robust feature scaling (operators/"
    "robust.py:robust_scale — sklearn RobustScaler semantics, the "
    "standardization that survives the outliers a mean/stddev scaler "
    "lets define its own scale): price and discount scaled per return "
    "flag, verified at ROW cardinality (60k scaled values hash at "
    "sf0.01). ONE aggregation fits all quartiles for all columns at "
    "group cardinality (exact percentile for the gate, KLL "
    "approx_percentile at 100 TB), quartile frames broadcast back, "
    "scaling is a map-only projection; degenerate IQR scales to NULL "
    "rather than inf, outlier immunity pinned in pytest.",
)
def q_robust_scaler_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.robust import robust_scale

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("discount"),
    )
    return robust_scale(li, ["price", "discount"], by=["l_returnflag"]).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "price_scaled",
        "discount_scaled",
    )


@register(
    "cuped_ab_contract",
    oracle="""
    WITH units AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS variant,
               coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                 THEN value END), 0.0) AS pre,
               coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                                 THEN value END), 0.0) AS post
        FROM events GROUP BY 1
    ), units_clean AS (
        SELECT * FROM units
        WHERE NOT isnan(pre) AND NOT isnan(post)
    ), s AS (
        SELECT
          CAST(sum(CASE WHEN variant = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
          sum(CASE WHEN variant = 'control' THEN pre ELSE 0 END) AS sx_c,
          sum(CASE WHEN variant = 'control' THEN post ELSE 0 END) AS sy_c,
          sum(CASE WHEN variant = 'control' THEN pre * pre ELSE 0 END) AS sxx_c,
          sum(CASE WHEN variant = 'control' THEN post * post ELSE 0 END) AS syy_c,
          sum(CASE WHEN variant = 'control' THEN pre * post ELSE 0 END) AS sxy_c,
          CAST(sum(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
          sum(CASE WHEN variant = 'treatment' THEN pre ELSE 0 END) AS sx_t,
          sum(CASE WHEN variant = 'treatment' THEN post ELSE 0 END) AS sy_t,
          sum(CASE WHEN variant = 'treatment' THEN pre * pre ELSE 0 END) AS sxx_t,
          sum(CASE WHEN variant = 'treatment' THEN post * post ELSE 0 END) AS syy_t,
          sum(CASE WHEN variant = 'treatment' THEN pre * post ELSE 0 END) AS sxy_t
        FROM units_clean
    ), m AS (
        SELECT *,
               (n_c + n_t)::DOUBLE AS nn,
               ((sxy_c + sxy_t) - (sx_c + sx_t) * (sy_c + sy_t)
                    / (n_c + n_t)::DOUBLE)
                 / ((sxx_c + sxx_t) - (sx_c + sx_t) * (sx_c + sx_t)
                    / (n_c + n_t)::DOUBLE) AS theta,
               (sx_c + sx_t) / (n_c + n_t)::DOUBLE AS mean_x
        FROM s
    ), a AS (
        SELECT *,
               sy_c / n_c AS mean_c, sy_t / n_t AS mean_t,
               sy_c / n_c - theta * (sx_c / n_c - mean_x) AS adj_c,
               sy_t / n_t - theta * (sx_t / n_t - mean_x) AS adj_t,
               greatest(0.0, (syy_c - sy_c * sy_c / n_c) / (n_c - 1.0))
                   AS vraw_c,
               greatest(0.0, (syy_t - sy_t * sy_t / n_t) / (n_t - 1.0))
                   AS vraw_t,
               greatest(0.0, ((syy_c - 2.0 * theta * sxy_c
                     + theta * theta * sxx_c)
                 - (sy_c - theta * sx_c) * (sy_c - theta * sx_c) / n_c)
                 / (n_c - 1.0)) AS vadj_c,
               greatest(0.0, ((syy_t - 2.0 * theta * sxy_t
                     + theta * theta * sxx_t)
                 - (sy_t - theta * sx_t) * (sy_t - theta * sx_t) / n_t)
                 / (n_t - 1.0)) AS vadj_t
        FROM m
    ), f AS (
        SELECT *,
               adj_t - adj_c AS lift_cuped,
               sqrt(vadj_t / n_t + vadj_c / n_c) AS se_cuped,
               CASE WHEN sqrt(vadj_t / n_t + vadj_c / n_c) > 0
                    THEN (adj_t - adj_c) / sqrt(vadj_t / n_t + vadj_c / n_c)
                    ELSE 0.0 END AS z,
               ((n_c - 1.0) * vraw_c + (n_t - 1.0) * vraw_t) / (nn - 2.0)
                   AS pooled_raw,
               ((n_c - 1.0) * vadj_c + (n_t - 1.0) * vadj_t) / (nn - 2.0)
                   AS pooled_adj
        FROM a
    )
    SELECT n_c AS n_control, n_t AS n_treatment,
           round(theta, 6) AS theta,
           round(mean_c, 6) AS mean_control,
           round(mean_t, 6) AS mean_treatment,
           round(mean_t - mean_c, 6) AS lift_raw,
           round(sqrt(vraw_t / n_t + vraw_c / n_c), 6) AS se_raw,
           round(lift_cuped, 6) AS lift_cuped,
           round(se_cuped, 6) AS se_cuped,
           round(z, 6) AS z_cuped,
           round(lift_cuped - 1.959963984540054 * se_cuped, 6) AS ci_low,
           round(lift_cuped + 1.959963984540054 * se_cuped, 6) AS ci_high,
           round(CASE WHEN pooled_raw > 0
                      THEN 100.0 * (1.0 - pooled_adj / pooled_raw)
                      ELSE 0.0 END, 6) AS var_reduction_pct,
           CASE WHEN abs(z) > 1.959963984540054 THEN 1 ELSE 0 END
               AS significant
    FROM f
    """,
    description="CUPED variance-reduced experiment readout (operators/"
    "abtest.py:cuped_mean_ztest, Deng et al. WSDM'13): per-user units "
    "with pre-period spend (ts < Jan 16) as the covariate and "
    "post-period spend as the metric, variant = user_id parity. "
    "theta = cov(X,Y)/var(X) pooled, adjusted per-arm means and SAMPLE "
    "variances expanded algebraically from the six per-arm sufficient "
    "sums — the WHOLE readout is ONE conditional-aggregation pass at "
    "unit-frame scale plus answer-scale arithmetic (no second scan "
    "applies theta row-wise). Welch z on adjusted means, 95% CI, "
    "realized variance-reduction percent. The oracle restates the "
    "identical expansion; the adjusted-mean algebra is additionally "
    "pinned against literal row-wise Y' = Y - theta*(X - mean(X)) "
    "computation on hand-sized fixtures in tests/test_cuped.py.",
)
def q_cuped_ab_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.abtest import cuped_mean_ztest

    boundary = F.lit("2024-01-16").cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ts") < boundary, F.col("value"))),
                F.lit(0.0),
            ).alias("pre"),
            F.coalesce(
                F.sum(F.when(F.col("ts") >= boundary, F.col("value"))),
                F.lit(0.0),
            ).alias("post"),
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, F.lit("control"))
            .otherwise(F.lit("treatment"))
            .alias("variant"),
            "pre",
            "post",
        )
    )
    return cuped_mean_ztest(
        units, "variant", "post", "pre", control="control",
        treatment="treatment",
    )


@register(
    "did_contract",
    oracle="""
    WITH units AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS variant,
               CASE WHEN (user_id // 2) % 2 = 0
                    THEN 'pre' ELSE 'post' END AS period,
               sum(value) AS y
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
          AND ((user_id // 2) % 2 = 0) = (ts < TIMESTAMP '2024-01-16')
        GROUP BY user_id, 2
    ), s AS (
        SELECT
          CAST(sum(CASE WHEN variant = 'control' AND period = 'pre'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
          sum(CASE WHEN variant = 'control' AND period = 'pre'
                   THEN y ELSE 0 END) AS sy_cp,
          sum(CASE WHEN variant = 'control' AND period = 'pre'
                   THEN y * y ELSE 0 END) AS syy_cp,
          CAST(sum(CASE WHEN variant = 'control' AND period = 'post'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_co,
          sum(CASE WHEN variant = 'control' AND period = 'post'
                   THEN y ELSE 0 END) AS sy_co,
          sum(CASE WHEN variant = 'control' AND period = 'post'
                   THEN y * y ELSE 0 END) AS syy_co,
          CAST(sum(CASE WHEN variant = 'treatment' AND period = 'pre'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
          sum(CASE WHEN variant = 'treatment' AND period = 'pre'
                   THEN y ELSE 0 END) AS sy_tp,
          sum(CASE WHEN variant = 'treatment' AND period = 'pre'
                   THEN y * y ELSE 0 END) AS syy_tp,
          CAST(sum(CASE WHEN variant = 'treatment' AND period = 'post'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_to,
          sum(CASE WHEN variant = 'treatment' AND period = 'post'
                   THEN y ELSE 0 END) AS sy_to,
          sum(CASE WHEN variant = 'treatment' AND period = 'post'
                   THEN y * y ELSE 0 END) AS syy_to
        FROM units
    ), m AS (
        SELECT *,
          sy_cp / n_cp AS m_cp, sy_co / n_co AS m_co,
          sy_tp / n_tp AS m_tp, sy_to / n_to AS m_to,
          greatest(0.0, (syy_cp - sy_cp * sy_cp / n_cp) / (n_cp - 1.0))
              AS v_cp,
          greatest(0.0, (syy_co - sy_co * sy_co / n_co) / (n_co - 1.0))
              AS v_co,
          greatest(0.0, (syy_tp - sy_tp * sy_tp / n_tp) / (n_tp - 1.0))
              AS v_tp,
          greatest(0.0, (syy_to - sy_to * sy_to / n_to) / (n_to - 1.0))
              AS v_to
        FROM s
    ), f AS (
        SELECT *,
          (m_to - m_tp) - (m_co - m_cp) AS did_raw,
          sqrt(v_to / n_to + v_tp / n_tp + v_co / n_co + v_cp / n_cp)
              AS se_raw
        FROM m
    )
    SELECT n_cp AS n_control_pre, n_co AS n_control_post,
           n_tp AS n_treatment_pre, n_to AS n_treatment_post,
           round(m_cp, 6) AS mean_control_pre,
           round(m_co, 6) AS mean_control_post,
           round(m_tp, 6) AS mean_treatment_pre,
           round(m_to, 6) AS mean_treatment_post,
           round(m_co - m_cp, 6) AS diff_control,
           round(m_to - m_tp, 6) AS diff_treatment,
           round(did_raw, 6) AS did,
           round(se_raw, 6) AS se,
           round(CASE WHEN se_raw > 0 THEN did_raw / se_raw
                      ELSE 0.0 END, 6) AS z_stat,
           round(did_raw - 1.959963984540054 * se_raw, 6) AS ci_low,
           round(did_raw + 1.959963984540054 * se_raw, 6) AS ci_high,
           CASE WHEN abs(CASE WHEN se_raw > 0 THEN did_raw / se_raw
                              ELSE 0.0 END) > 1.959963984540054
                THEN 1 ELSE 0 END AS significant
    FROM f
    """,
    description="Difference-in-differences readout (operators/abtest.py:"
    "difference_in_differences, the Card & Krueger 1994 two-group/"
    "two-period design): a genuine REPEATED CROSS-SECTION — each user "
    "is sampled in exactly ONE period ((user_id div 2) parity assigns "
    "pre/post; user_id parity assigns variant, independent of it) and "
    "contributes one spend unit from that period's window (pre < Jan "
    "16 <= post), so the four cells are independent samples and the "
    "operator's four-cell Welch SE is the statistically correct form "
    "(per its own docstring: NOT a panel — a same-user pre+post "
    "construction would need a paired SE). The treatment arm's "
    "pre->post change minus the control arm's nets out the shared "
    "time shock under parallel trends. ONE conditional-aggregation "
    "pass reduces the unit frame to the four cells' sufficient sums "
    "(n, Sy, Syy); means, sample variances, the four-cell Welch SE, "
    "z and the 95% CI are closed-form on the single answer row (the "
    "CUPED scale shape — no per-cell rescans). The oracle restates the "
    "identical four-cell expansion; the hand-worked exact fixture "
    "(did=10, se=sqrt(15)) lives in tests/test_did.py.",
)
def q_did_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.abtest import difference_in_differences

    boundary = F.lit("2024-01-16").cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    # Repeated cross-section: each user belongs to ONE period (div-2
    # parity, independent of the variant's mod-2 parity) and only that
    # period's events form their unit — no user appears in two cells.
    assigned_pre = (F.expr("user_id div 2") % 2) == 0
    units = (
        ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .filter(assigned_pre == (F.col("ts") < boundary))
        .groupBy(
            "user_id",
            F.when(assigned_pre, F.lit("pre"))
            .otherwise(F.lit("post"))
            .alias("period"),
        )
        .agg(F.sum("value").alias("y"))
        .select(
            F.when(F.col("user_id") % 2 == 0, F.lit("control"))
            .otherwise(F.lit("treatment"))
            .alias("variant"),
            "period",
            "y",
        )
    )
    return difference_in_differences(
        units, "variant", "period", "y",
        control="control", treatment="treatment", pre="pre", post="post",
    )


@register(
    "bootstrap_ci_contract",
    oracle="""
    WITH rows AS (
        SELECT event_type, event_id AS k, value::DOUBLE AS x
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ), rep AS (
        SELECT unnest(generate_series(0, 100)) AS r
    ), w AS (
        SELECT event_type, r, x,
               CASE WHEN r = 0 THEN 1.0 ELSE CAST(
                 CASE WHEN u < 0.36787944117144233 THEN 0
                      WHEN u < 0.7357588823428847 THEN 1
                      WHEN u < 0.9196986029286055 THEN 2
                      WHEN u < 0.9810118431238462 THEN 3
                      WHEN u < 0.9963401531726563 THEN 4
                      WHEN u < 0.9994058151824183 THEN 5
                      ELSE 6 END AS DOUBLE) END AS w
        FROM (
            SELECT event_type, x, r,
                   (('0x' || substr(md5(coalesce(CAST(k AS VARCHAR), '')
                        || ':boot:' || CAST(r AS VARCHAR)), 1, 15))::BIGINT)
                     / 1152921504606846976.0 AS u
            FROM rows CROSS JOIN rep
        )
    ), g AS (
        SELECT event_type, r,
               sum(w * x) AS swx, sum(w) AS sw, count(*) AS n
        FROM w GROUP BY 1, 2
    ), m AS (
        SELECT event_type, r, n,
               CASE WHEN sw > 0 THEN swx / sw END AS m
        FROM g
    )
    SELECT event_type,
           max(CASE WHEN r = 0 THEN n END) AS n_units,
           round(max(CASE WHEN r = 0 THEN m END), 6) AS mean,
           round(stddev_samp(CASE WHEN r > 0 THEN m END), 6) AS se_boot,
           round(quantile_cont(CASE WHEN r > 0 THEN m END, 0.025), 6)
               AS ci_low,
           round(quantile_cont(CASE WHEN r > 0 THEN m END, 0.975), 6)
               AS ci_high,
           CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_replicates
    FROM m
    GROUP BY 1
    """,
    description="Poisson-bootstrap CI (operators/bootstrap.py:"
    "poisson_bootstrap_mean, Chamandy et al. 2012): per-event-type mean "
    "of value with a 100-replicate percentile-bootstrap 95% CI and "
    "bootstrap SE, ALL replicates from ONE scan — per-row Poisson(1) "
    "weights drawn deterministically from the portable md5 band "
    "(key:salt:replicate), inverse-CDF thresholds as literals truncated "
    "at w=6, replicate 0 pinned to weight 1 so the exact sample mean "
    "rides the same pass. Map-side partial aggregation collapses the "
    "R+1-fold explode to (groups x replicates) rows before the shuffle; "
    "the percentile step runs at answer scale. The gate hash-matches "
    "the CI BOUNDS themselves, not just the point estimate; the weight "
    "draw and replicate means are additionally pinned against a pure "
    "hashlib/Python reimplementation in tests/test_bootstrap.py.",
)
def q_bootstrap_ci_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bootstrap import poisson_bootstrap_mean

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    return poisson_bootstrap_mean(
        ev,
        key_col="event_id",
        value_col="value",
        group_cols=["event_type"],
        n_replicates=100,
    )


@register(
    "rater_agreement_contract",
    claims=(
        # kappa reduces a label CONTINGENCY: the only joins are over
        # k-cardinality marginal frames (broadcast NL join of aggregates),
        # never a corpus-scale CartesianProduct, and the whole chain stays
        # JVM-side.
        lacks("CartesianProduct"),
        lacks("BatchEvalPython"),
        lacks("ArrowEvalPython"),
    ),
    oracle="""
    WITH base AS (
        SELECT event_id,
               least(greatest(CAST(floor(value / 20) AS BIGINT), 0), 4)
                   AS la_n,
               (('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':rater'),
                    1, 15))::BIGINT) / 1152921504606846976.0 AS u
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ), pairs AS (
        SELECT CAST(la_n AS VARCHAR) AS la,
               CAST(CASE WHEN u < 0.25 THEN (la_n + 1) % 5
                         ELSE la_n END AS VARCHAR) AS lb,
               event_id
        FROM base
    ), ct AS (
        SELECT la, lb, count(*) AS c FROM pairs GROUP BY 1, 2
    ), rows_m AS (
        SELECT la, sum(c) AS ra FROM ct GROUP BY 1
    ), cols_m AS (
        SELECT lb, sum(c) AS cb FROM ct GROUP BY 1
    ), nt AS (
        SELECT sum(c)::DOUBLE AS nn, CAST(sum(c) AS BIGINT) AS n_items
        FROM ct
    ), sp AS (
        SELECT greatest((SELECT max(la::DOUBLE) FROM rows_m),
                        (SELECT max(lb::DOUBLE) FROM cols_m))
             - least((SELECT min(la::DOUBLE) FROM rows_m),
                     (SELECT min(lb::DOUBLE) FROM cols_m)) AS s
    ), ncat AS (
        SELECT CAST(count(*) AS INTEGER) AS n_categories FROM (
            SELECT la FROM rows_m UNION SELECT lb FROM cols_m)
    ), po AS (
        SELECT sum(CASE WHEN la = lb THEN c ELSE 0 END)
                   / (SELECT nn FROM nt) AS po_plain,
               sum((1.0 - pow(abs(la::DOUBLE - lb::DOUBLE)
                       / (SELECT s FROM sp), 2)) * c)
                   / (SELECT nn FROM nt) AS po_quad
        FROM ct
    ), pe AS (
        SELECT sum(CASE WHEN la = lb THEN ra * cb ELSE 0 END)
                   / pow((SELECT nn FROM nt), 2) AS pe_plain,
               sum((1.0 - pow(abs(la::DOUBLE - lb::DOUBLE)
                       / (SELECT s FROM sp), 2)) * ra * cb)
                   / pow((SELECT nn FROM nt), 2) AS pe_quad
        FROM rows_m CROSS JOIN cols_m
    ), f_ratings AS (
        SELECT item, la FROM (
            SELECT event_id % 400 AS item, CAST(la_n AS VARCHAR) AS la,
                   row_number() OVER (PARTITION BY event_id % 400
                                      ORDER BY event_id) AS rn,
                   count(*) OVER (PARTITION BY event_id % 400) AS tot
            FROM base)
        WHERE rn <= 3 AND tot >= 3
    ), f_cnt AS (
        SELECT item, la, count(*) AS c FROM f_ratings GROUP BY 1, 2
    ), f_item AS (
        SELECT item, sum(c * c) AS c2 FROM f_cnt GROUP BY 1
    ), f_po AS (
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               avg((c2 - 3.0) / 6.0) AS po_raw
        FROM f_item
    ), f_pj AS (
        SELECT la, sum(c)::DOUBLE AS cj FROM f_cnt GROUP BY 1
    ), f_pe AS (
        SELECT CAST(count(*) AS INTEGER) AS n_categories,
               sum(pow(cj / (SELECT sum(cj) FROM f_pj), 2)) AS pe_raw
        FROM f_pj
    )
    SELECT 'cohen' AS statistic, nt.n_items, ncat.n_categories,
           round(po.po_plain, 6) AS po, round(pe.pe_plain, 6) AS pe,
           round((po.po_plain - pe.pe_plain) / (1.0 - pe.pe_plain), 6)
               AS kappa
    FROM nt, ncat, po, pe
    UNION ALL
    SELECT 'cohen_quadratic', nt.n_items, ncat.n_categories,
           round(po.po_quad, 6), round(pe.pe_quad, 6),
           round((po.po_quad - pe.pe_quad) / (1.0 - pe.pe_quad), 6)
    FROM nt, ncat, po, pe
    UNION ALL
    SELECT 'fleiss', f_po.n_items, f_pe.n_categories,
           round(f_po.po_raw, 6), round(f_pe.pe_raw, 6),
           round((f_po.po_raw - f_pe.pe_raw) / (1.0 - f_pe.pe_raw), 6)
    FROM f_po, f_pe
    """,
    description="Inter-rater agreement readout (operators/agreement.py): "
    "Cohen's kappa, quadratic-weighted Cohen (Cohen 1968) and Fleiss' "
    "kappa (fixed 3-rater panel) in one 3-row contract — the labeling-"
    "QA statistics for human or LLM-as-judge pipelines. Rater A = "
    "clamped value-quintile label; rater B = A with a deterministic "
    "25% md5-band category shift; the Fleiss panel takes the first 3 "
    "events per (event_id % 400) item, items with fewer than 3 "
    "dropped symmetrically in both engines. Every statistic reduces "
    "at contingency-cell cardinality (pe over the FULL marginal cross "
    "product, so unobserved cells still contribute); the kappa "
    "algebra is pinned on published textbook fixtures (Cohen 1960 "
    "2x2, the Fleiss 1971 14-rater worked example, a hand-computed "
    "weighted case) in tests/test_agreement.py, independent of this "
    "oracle.",
)
def q_rater_agreement_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.agreement import cohens_kappa, fleiss_kappa
    from ..operators.mixing import _md5_fold

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    v = F.col("value").cast("double")
    la_n = F.least(
        F.greatest(F.floor(v / 20.0), F.lit(0).cast("long")),
        F.lit(4).cast("long"),
    )
    # base feeds FOUR consumers (two Cohen contingency tables, the
    # Fleiss panel window, and the panel count) — pin it with a lazy
    # localCheckpoint so the events scan + md5 band derivation runs
    # once, not once per consumer (the dsir/winnow barrier discipline).
    base = pin(
        ev.filter(v.isNotNull() & ~F.isnan(v))
        .select(
            "event_id",
            la_n.alias("la_n"),
            (
                _md5_fold(
                    F.concat(F.col("event_id").cast("string"), F.lit(":rater"))
                )
                / F.lit(float(1 << 60))
            ).alias("u"),
        )
    )
    pairs = base.select(
        F.col("la_n").cast("string").alias("la"),
        F.when(F.col("u") < 0.25, (F.col("la_n") + 1) % 5)
        .otherwise(F.col("la_n"))
        .cast("string")
        .alias("lb"),
    )
    c_plain = cohens_kappa(pairs, "la", "lb")
    c_quad = cohens_kappa(pairs, "la", "lb", weighting="quadratic")
    item = (F.col("event_id") % 400).alias("item")
    w_rn = Window.partitionBy(F.col("event_id") % 400).orderBy("event_id")
    w_tot = Window.partitionBy(F.col("event_id") % 400)
    panel = (
        base.select(
            item,
            F.col("la_n").cast("string").alias("la"),
            F.row_number().over(w_rn).alias("rn"),
            F.count(F.lit(1)).over(w_tot).alias("tot"),
        )
        .filter((F.col("rn") <= 3) & (F.col("tot") >= 3))
        .select("item", "la")
    )
    f = fleiss_kappa(panel, "item", "la")
    return c_plain.unionByName(c_quad).unionByName(f)


@register(
    "experiment_power_contract",
    oracle="""
    WITH units AS (
        SELECT user_id,
               coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                 THEN value END), 0.0) AS pre,
               coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                                 THEN value END), 0.0) AS post
        FROM events GROUP BY 1
    ), units_clean AS (
        SELECT * FROM units
        WHERE NOT isnan(pre) AND NOT isnan(post)
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(post) AS sy, sum(post * post) AS syy,
               sum(pre) AS sx, sum(pre * pre) AS sxx,
               sum(pre * post) AS sxy
        FROM units_clean
    ), m AS (
        SELECT n,
               sy / n AS mean,
               (syy - sy * sy / n) / (n - 1.0) AS var,
               (sxx - sx * sx / n) AS ssx,
               (syy - sy * sy / n) AS ssy,
               (sxy - sx * sy / n) AS cxy,
               (1.959963984540054 + 0.8416212335729143) AS zsum
        FROM s
    ), f AS (
        SELECT *,
               cxy * cxy / (ssx * ssy) AS rho2,
               greatest(0.0, var * (1.0 - cxy * cxy / (ssx * ssy)))
                   AS var_adj,
               0.01 * abs(mean) AS delta
        FROM m
    )
    SELECT n AS n_units,
           round(mean, 6) AS mean,
           round(sqrt(var), 6) AS sd,
           round(sqrt(var) / abs(mean), 6) AS cv,
           round(zsum * sqrt(var) * sqrt(4.0 / n), 6) AS mde_abs,
           round(zsum * sqrt(var) * sqrt(4.0 / n) / abs(mean), 6)
               AS mde_rel,
           CAST(ceil(2.0 * var * zsum * zsum / (delta * delta)) AS BIGINT)
               AS n_per_arm_target,
           round(rho2, 6) AS rho2,
           round(100.0 * rho2, 6) AS var_reduction_pct,
           round(zsum * sqrt(var_adj) * sqrt(4.0 / n), 6) AS mde_abs_cuped,
           CAST(ceil(2.0 * var_adj * zsum * zsum / (delta * delta))
               AS BIGINT) AS n_per_arm_target_cuped
    FROM f
    """,
    description="Pre-experiment power planning readout (operators/"
    "abtest.py:experiment_power): MDE at a 50/50 split of the historical "
    "per-user unit frame, required n per arm for a 1% relative effect, "
    "and the CUPED-adjusted twins using the pre-period covariate's rho^2 "
    "(Deng et al. WSDM'13) — ONE aggregation pass collecting six "
    "sufficient sums, closed-form arithmetic on the single answer row "
    "(zsum = z_{0.025} + z_{0.20} for 95% significance / 80% power). "
    "Same unit-frame construction as cuped_ab_contract, so the planning "
    "readout and the analysis readout are verified against each other's "
    "machinery; formulas pinned by hand (n=449 worked example) in "
    "tests/test_power.py.",
)
def q_experiment_power_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.abtest import experiment_power

    boundary = F.lit("2024-01-16").cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    units = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < boundary, F.col("value"))),
            F.lit(0.0),
        ).alias("pre"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= boundary, F.col("value"))),
            F.lit(0.0),
        ).alias("post"),
    )
    return experiment_power(
        units, "post", covariate_col="pre", target_rel_mde=0.01
    )


@register(
    "seasonal_decomposition_contract",
    claims=(
        # Pass 2 joins the key-cardinality trend frame onto the series via
        # broadcast — never a shuffle of the fact side on the key — and the
        # slot-level strength window partitions by key.
        has("BroadcastHashJoin"),
        lacks("SortMergeJoin"),
        lacks("SinglePartition"),
    ),
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               avg(value) AS y
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
        GROUP BY 1, 2
    ), base AS (
        SELECT event_type, day::DOUBLE AS x, y,
               CAST(((day + 4) % 7) + 1 AS INTEGER) AS slot
        FROM daily
    ), sums AS (
        SELECT event_type, count(*)::DOUBLE AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM base GROUP BY 1
    ), tr AS (
        SELECT event_type,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS icept
        FROM sums WHERE n >= 2 AND (n * sxx - sx * sx) > 0
    ), res AS (
        SELECT b.event_type, b.slot,
               b.y - (t.icept + t.slope * b.x) AS r,
               t.slope, t.icept
        FROM base b JOIN tr t USING (event_type)
    ), slotagg AS (
        SELECT event_type, slot, count(*) AS n_obs,
               sum(r) AS sr, sum(r * r) AS srr,
               max(slope) AS slope, max(icept) AS icept
        FROM res GROUP BY 1, 2
    ), keyagg AS (
        SELECT event_type,
               sum(n_obs)::DOUBLE AS n_tot, sum(sr) AS sr_tot,
               sum(srr) AS srr_tot,
               sum(srr - sr * sr / n_obs::DOUBLE) AS ss_rem
        FROM slotagg GROUP BY 1
    )
    SELECT s.event_type, s.slot, s.n_obs,
           round(s.sr / s.n_obs, 6) AS seasonal_index,
           round(s.slope, 6) AS slope,
           round(s.icept, 6) AS intercept,
           round(CASE WHEN (k.srr_tot - k.sr_tot * k.sr_tot / k.n_tot) > 0
                      THEN greatest(0.0, 1.0 - k.ss_rem
                           / (k.srr_tot - k.sr_tot * k.sr_tot / k.n_tot))
                      ELSE 0.0 END, 6) AS seasonal_strength
    FROM slotagg s JOIN keyagg k USING (event_type)
    """,
    description="Classical seasonal decomposition (operators/seasonal.py:"
    "seasonal_decompose): daily mean value per event type decomposed "
    "into an OLS linear trend over epoch days (the SAME normal-equations "
    "sufficient-statistics algebra as per_key_linear_trend — this gate "
    "is the trend gate's decomposition superset), day-of-week seasonal "
    "indices (mean detrended residual per slot), and Hyndman's F_s "
    "seasonal strength from slot-level residual sums — two aggregation "
    "passes plus one broadcast join of the key-cardinality trend frame, "
    "no window over the facts, every share at answer scale. Recovery of "
    "exact synthetic trend+season signals and a pure-Python replica are "
    "pinned in tests/test_seasonal.py, independent of this oracle.",
)
def q_seasonal_decomposition_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.seasonal import seasonal_decompose

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    )
    v = F.col("value").cast("double")
    daily = (
        ev.filter(F.col("ts").isNotNull() & v.isNotNull() & ~F.isnan(v))
        .groupBy(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").cast("long").alias("day"),
        )
        .agg(F.avg("value").alias("y"))
    )
    series = daily.select(
        "event_type",
        F.to_timestamp(F.col("day") * 86400).alias("ts"),
        "y",
    )
    return seasonal_decompose(series, ["event_type"], "ts", "y", season="dow")


@register(
    "anova_oneway_contract",
    claims=(
        # Sufficient statistics: per-group agg + group-cardinality reduce;
        # the deviations-from-mean restatement would need a second scan or
        # a window — neither may appear.
        lacks("Window"),
        lacks("BatchEvalPython"),
        lacks("ArrowEvalPython"),
        lacks("Join"),
    ),
    oracle="""
    WITH g AS (
        SELECT l_returnflag AS grp,
               CAST(count(*) AS DOUBLE) AS n_j,
               sum(CAST(l_quantity AS DOUBLE)) AS s_j,
               sum(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE))
                   AS q_j
        FROM lineitem WHERE l_quantity IS NOT NULL
        GROUP BY 1
    ),
    t AS (
        SELECT CAST(count(*) AS DOUBLE) AS k, sum(n_j) AS n,
               sum(s_j) AS s, sum(q_j) AS q,
               sum(s_j * s_j / n_j) AS br
        FROM g
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(n AS BIGINT) AS n,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within,
           round(br - s * s / n, 6) AS ss_between,
           round(q - br, 6) AS ss_within,
           round(CASE WHEN k > 1 AND n > k AND q - br > 0
                      THEN ((br - s * s / n) / (k - 1))
                             / ((q - br) / (n - k)) END, 6) AS f_stat,
           round(CASE WHEN q - s * s / n > 0
                      THEN (br - s * s / n) / (q - s * s / n) END, 6)
               AS eta_sq
    FROM t
    """,
    description="One-way ANOVA (operators/hyptest.py:oneway_anova): the "
    "F statistic for l_quantity across the three return flags, from "
    "per-group sufficient statistics (n, Σx, Σx²) in ONE map-side-"
    "combined pass plus a group-cardinality reduce — the computational "
    "identities SSB = Σsᵢ²/nᵢ − S²/N, SSW = Σq − Σsᵢ²/nᵢ; no second "
    "data scan, no window. The metric is deliberately INTEGER-valued "
    "(quantities 1-50): every sufficient sum is an integer below 2^53, "
    "so both engines' partial-aggregation orders produce bit-identical "
    "statistics at 6 decimals (the WOE DECIMAL-sums discipline, here "
    "free). Statistic + dfs only, no p-value lookup — the "
    "two_proportion_ztest no-SciPy posture. Hand-checked textbook "
    "fixture in tests/test_hyptest.py.",
)
def q_anova_oneway_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hyptest import oneway_anova

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    return oneway_anova(li, "l_quantity", "l_returnflag")


@register(
    "rank_test_contract",
    oracle="""
    WITH clean AS (
        SELECT l_returnflag AS grp, CAST(l_quantity AS DOUBLE) AS x
        FROM lineitem WHERE l_quantity IS NOT NULL
    ),
    vals AS (SELECT x, CAST(count(*) AS DOUBLE) AS t FROM clean GROUP BY 1),
    ranked AS (
        SELECT x, t,
               coalesce(sum(t) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + (t + 1) / 2 AS avg_rank
        FROM vals
    ),
    cells AS (
        SELECT grp, x, CAST(count(*) AS DOUBLE) AS cnt
        FROM clean GROUP BY 1, 2
    ),
    pg AS (
        SELECT grp, sum(cnt) AS n_j, sum(cnt * avg_rank) AS r_j
        FROM cells JOIN ranked USING (x) GROUP BY 1
    ),
    ties AS (SELECT sum(t * t * t - t) AS tie_sum FROM vals),
    kw AS (
        SELECT CAST(count(*) AS BIGINT) AS k, sum(n_j) AS n,
               sum(r_j * r_j / n_j) AS rr
        FROM pg
    ),
    -- the two-group MWU frame (A vs R) has its OWN pooled ranks
    clean2 AS (SELECT * FROM clean WHERE grp IN ('A', 'R')),
    vals2 AS (SELECT x, CAST(count(*) AS DOUBLE) AS t FROM clean2 GROUP BY 1),
    ranked2 AS (
        SELECT x, t,
               coalesce(sum(t) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + (t + 1) / 2 AS avg_rank
        FROM vals2
    ),
    cells2 AS (
        SELECT grp, x, CAST(count(*) AS DOUBLE) AS cnt
        FROM clean2 GROUP BY 1, 2
    ),
    pg2 AS (
        SELECT grp, sum(cnt) AS n_j, sum(cnt * avg_rank) AS r_j
        FROM cells2 JOIN ranked2 USING (x) GROUP BY 1
    ),
    ties2 AS (SELECT sum(t * t * t - t) AS tie_sum FROM vals2),
    mw AS (
        SELECT sum(CASE WHEN grp = 'A' THEN n_j END) AS n_a,
               sum(CASE WHEN grp = 'A' THEN r_j END) AS r_a,
               sum(CASE WHEN grp = 'R' THEN n_j END) AS n_b
        FROM pg2
    )
    SELECT 'kruskal_wallis' AS test,
           CAST(n AS BIGINT) AS n,
           round((12 / (n * (n + 1)) * rr - 3 * (n + 1))
                   / (1 - tie_sum / (n * n * n - n)), 6) AS stat,
           CAST(NULL AS DOUBLE) AS z
    FROM kw, ties
    UNION ALL
    SELECT 'mann_whitney_a_vs_r' AS test,
           CAST(n_a + n_b AS BIGINT) AS n,
           round(r_a - n_a * (n_a + 1) / 2, 6) AS stat,
           round(((r_a - n_a * (n_a + 1) / 2) - n_a * n_b / 2)
                   / sqrt(n_a * n_b / 12 * (((n_a + n_b) + 1)
                       - tie_sum / ((n_a + n_b) * ((n_a + n_b) - 1)))), 6)
               AS z
    FROM mw, ties2
    """,
    description="Rank tests (operators/hyptest.py): the tie-corrected "
    "Kruskal-Wallis H across all three return flags and the Mann-"
    "Whitney U z (A vs R), both on l_quantity — one readout row per "
    "test (test, n, stat, z; stat is H_adj for KW, U_a for MWU). Ranks "
    "enter only through per-group rank SUMS, so the plan is a "
    "contingency-cardinality agg + a cumulative window over the "
    "DISTINCT-VALUE frame (50 quantity values — the survival/Lorenz "
    "answer-scale grid-window discipline, never a data-scale sort) + a "
    "join back. Midranks over an integer metric are exact half-"
    "integers, so both engines' rank sums are bit-identical. Textbook "
    "hand fixtures AND the k=2 KW = z² cross-operator identity in "
    "tests/test_hyptest.py (an algebra-independence check no oracle "
    "restatement provides).",
)
def q_rank_test_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hyptest import kruskal_wallis, mann_whitney_u

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    kw = kruskal_wallis(li, "l_quantity", "l_returnflag").select(
        F.lit("kruskal_wallis").alias("test"),
        F.col("n"),
        F.col("h_adj").alias("stat"),
        F.lit(None).cast("double").alias("z"),
    )
    mw = mann_whitney_u(li, "l_quantity", "l_returnflag", "A", "R").select(
        F.lit("mann_whitney_a_vs_r").alias("test"),
        (F.col("n_a") + F.col("n_b")).alias("n"),
        F.col("u_a").alias("stat"),
        F.col("z"),
    )
    return kw.unionByName(mw)


@register(
    "jw_name_match_profile",
    oracle="""
    WITH names AS (
        SELECT c_name FROM customer WHERE c_custkey % 4 = 1
    ),
    cand AS (
        SELECT DISTINCT l, r FROM (
            SELECT a.c_name AS l, b.c_name AS r
            FROM names a JOIN names b
              ON concat(substring(a.c_name, 1, 12), substring(a.c_name, 15, 4))
                 = concat(substring(b.c_name, 1, 12), substring(b.c_name, 15, 4))
             AND a.c_name < b.c_name
            UNION ALL
            SELECT a.c_name, b.c_name
            FROM names a JOIN names b
              ON concat(substring(a.c_name, 1, 14), substring(a.c_name, 17, 2))
                 = concat(substring(b.c_name, 1, 14), substring(b.c_name, 17, 2))
             AND a.c_name < b.c_name
            UNION ALL
            SELECT a.c_name, b.c_name
            FROM names a JOIN names b
              ON substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
             AND a.c_name < b.c_name
        )
    ),
    scored AS (
        SELECT l, r, round(jaro_winkler_similarity(l, r), 6) AS jw
        FROM cand
    )
    SELECT jw,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CAST(substring(l, 10, 9) AS BIGINT)
                    + CAST(substring(r, 10, 9) AS BIGINT)) AS BIGINT)
               AS sum_ids
    FROM scored WHERE jw >= 0.95
    GROUP BY 1
    """,
    description="Blocked Jaro-Winkler ER join (operators/fuzzyjoin.py:"
    "jaro_winkler_self_join): customer-name pairs with JW >= 0.95 over "
    "the deterministic quarter sample, using the SAME complete 3-pass "
    "digit-zone blocking as fuzzy_name_match_profile, scored by an "
    "Arrow-batched pandas UDF that is value-for-value identical to "
    "DuckDB's RapidFuzz jaro_winkler_similarity (3000-random-pair "
    "parity test + textbook MARTHA/DIXON/DWAYNE fixtures in "
    "tests/test_fuzzyjoin_jw.py; the one convention divergence — "
    "FLOOR of half-transpositions — is documented at _jaro). The UDF "
    "sees ONLY blocked candidates, never the corpus. The sampled "
    "names' JW values cluster at {0.9431, 0.9556, 0.9660, 0.9778, "
    "0.9889}, so the 0.95 threshold sits in a wide gap — no float-"
    "edge membership risk. sum_ids pins pair identities.",
)
def q_jw_name_match_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzyjoin import jaro_winkler_self_join

    cu = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 == 1)
        .select("c_name")
    )
    name = F.col("c_name")
    passes = [
        F.concat(F.substring(name, 1, 12), F.substring(name, 15, 4)),
        F.concat(F.substring(name, 1, 14), F.substring(name, 17, 2)),
        F.substring(name, 1, 16),
    ]
    pairs = jaro_winkler_self_join(cu, "c_name", passes, threshold=0.95)
    return pairs.groupBy("jw").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.substring("left_value", 10, 9).cast("long")
            + F.substring("right_value", 10, 9).cast("long")
        ).alias("sum_ids"),
    )


@register(
    "blocking_profile_contract",
    oracle="""
    WITH s AS (
        SELECT c_mktsegment AS b1, c_nationkey AS b2 FROM customer
    ), nn AS (
        SELECT count(*) AS n_all,
               sum(CASE WHEN b1 IS NULL OR b2 IS NULL THEN 1 ELSE 0 END)
                   AS n_null
        FROM s
    ), b AS (
        SELECT b1, b2, count(*) AS bs FROM s
        WHERE b1 IS NOT NULL AND b2 IS NOT NULL GROUP BY 1, 2
    ), p AS (
        SELECT CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(max(bs) AS BIGINT) AS max_block_size,
               CAST(quantile_disc(bs, 0.99) AS BIGINT) AS p99_block_size,
               CAST(sum((bs * (bs - 1)) // 2) AS BIGINT) AS candidate_pairs,
               CAST(sum(CASE WHEN bs > 20 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_over_cap
        FROM b
    )
    SELECT CAST(nn.n_all - nn.n_null AS BIGINT) AS n_records,
           CAST(nn.n_null AS BIGINT) AS n_null_key,
           p.n_blocks, p.max_block_size, p.p99_block_size,
           p.candidate_pairs,
           round(CASE WHEN nn.n_all - nn.n_null >= 2 THEN
               1.0::DOUBLE - p.candidate_pairs::DOUBLE
               / ((nn.n_all - nn.n_null)::DOUBLE
                  * (nn.n_all - nn.n_null - 1)::DOUBLE / 2.0::DOUBLE)
           END, 6) AS reduction_ratio,
           p.n_over_cap
    FROM p CROSS JOIN nn
    """,
    description="ER blocking-quality sizing report (operators/"
    "linkage.py:blocking_profile, Christen 2012 ch.4) for a "
    "(segment, nation) blocking of customers: block sizes, the exact candidate-"
    "pair volume Sigma C(|b|,2), the standard reduction ratio vs "
    "all-pairs C(N,2), NULL-key exclusions, and the over-cap block "
    "count at max_block=20 — the report you run BEFORE "
    "fellegi_sunter_scores or any blocked fuzzy join, because one "
    "runaway block turns the bounded-quadratic plan into O(N^2) (the "
    "basket_size_profile cap-pressure posture applied to ER; cap 20). ONE "
    "block-cardinality count agg + one answer-scale reduce; p99 rides "
    "percentile_approx at accuracy 10000 (exact over the integer "
    "block-size domain, restated by quantile_disc). Hand-worked "
    "4/3/1-block fixture with NULL keys in tests/test_linkage.py.",
)
def q_blocking_profile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import blocking_profile

    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey"
    )
    return blocking_profile(
        cust, ["c_mktsegment", "c_nationkey"], max_block=20
    )


@register(
    "neyman_allocation_contract",
    oracle="""
    WITH mom AS (
        SELECT c_nationkey, count(*) AS n_records,
               sum(c_acctbal::DOUBLE) AS sx,
               sum(c_acctbal::DOUBLE * c_acctbal::DOUBLE) AS sxx
        FROM customer
        WHERE c_acctbal IS NOT NULL AND NOT isnan(c_acctbal::DOUBLE)
        GROUP BY 1
    ), w AS (
        SELECT c_nationkey, n_records,
               round(sqrt(GREATEST(
                   (n_records::DOUBLE * sxx - sx * sx)
                   / (n_records::DOUBLE * n_records::DOUBLE),
                   0.0::DOUBLE)), 6) AS stddev
        FROM mom
    ), wi AS (
        SELECT *, CAST(round(n_records * stddev * 1000.0::DOUBLE, 0)
                       AS BIGINT) AS wiv
        FROM w
    ), tot AS (SELECT CAST(sum(wiv) AS BIGINT) AS w_all FROM wi),
    q AS (
        SELECT wi.*, (1000 * wiv) // t.w_all AS base,
               (1000 * wiv) % t.w_all AS rem
        FROM wi CROSS JOIN tot t
    ), r AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, c_nationkey ASC)
                      AS seat,
               sum(base) OVER () AS base_sum
        FROM q
    )
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(n_records AS BIGINT) AS n_records, stddev,
           CAST(base + CASE WHEN seat <= 1000 - base_sum
                            THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
    FROM r
    """,
    description="Neyman optimal stratified-sample allocation "
    "(operators/split.py:neyman_allocation, Neyman 1934 / Cochran "
    "§5.5): a 1000-unit labeling budget apportioned across the 25 "
    "customer nations by n_h ~ N_h*S_h over account balance — big AND "
    "volatile strata earn samples. The integer apportionment is "
    "largest-remainder (Hamilton) over BIGINT-scaled weights (wi = "
    "round(1000*N_h*round(S_h,6)), base = floor(total*wi/W), leftover "
    "seats to the largest total*wi mod W, ties to the smallest "
    "stratum), so the allocation sums to exactly 1000 and every "
    "comparison is integer arithmetic — reproducible across engines "
    "bit-for-bit (the mixing.py integer-limb posture; the oracle "
    "restates floor-div and mod verbatim). ONE stratum-cardinality "
    "moment agg + a scalar crossJoin + one answer-scale remainder "
    "window over the 25-row stratum frame. Hand-worked 3-stratum "
    "fixture (allocation 3/7/0 incl. a zero-variance stratum) + "
    "exact-sum property tests in tests/test_neyman.py.",
)
def q_neyman_allocation_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.split import neyman_allocation

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "c_acctbal",
    )
    return neyman_allocation(cust, ["c_nationkey"], "c_acctbal", 1000)


@register(
    "fs_linkage_contract",
    claims=(
        # The u fits reach the scorer as plan literals, so the only joins
        # left are the blocked-candidate equi-joins, which must broadcast;
        # nothing may cartesian.
        has_any("BroadcastNestedLoopJoin", "BroadcastHashJoin"),
        lacks("CartesianProduct"),
    ),
    oracle="""
    WITH cust AS (
        SELECT c_custkey AS k, c_nationkey AS nat, c_custkey // 100 AS blk,
               c_mktsegment AS seg,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
               c_custkey % 10 AS dig
        FROM customer
    ), u0 AS (
        SELECT sum(f * f)::DOUBLE / (sum(f)::DOUBLE * sum(f)::DOUBLE) AS u_0
        FROM (SELECT count(*) AS f FROM cust GROUP BY seg)
    ), u1 AS (
        SELECT sum(f * f)::DOUBLE / (sum(f)::DOUBLE * sum(f)::DOUBLE) AS u_1
        FROM (SELECT count(*) AS f FROM cust GROUP BY band)
    ), u2 AS (
        SELECT sum(f * f)::DOUBLE / (sum(f)::DOUBLE * sum(f)::DOUBLE) AS u_2
        FROM (SELECT count(*) AS f FROM cust GROUP BY dig)
    ), pairs AS (
        SELECT l.seg AS ls, r.seg AS rs, l.band AS lb, r.band AS rb,
               l.dig AS ld, r.dig AS rd
        FROM cust l JOIN cust r
          ON l.nat = r.nat AND l.blk = r.blk AND l.k < r.k
    ), scored AS (
        SELECT round(
            (CASE WHEN ls = rs THEN log2(0.95 / u_0)
                  ELSE log2(0.05 / (1.0 - u_0)) END)
            + (CASE WHEN lb = rb THEN log2(0.9 / u_1)
                    ELSE log2(0.1 / (1.0 - u_1)) END)
            + (CASE WHEN ld = rd THEN log2(0.85 / u_2)
                    ELSE log2(0.15 / (1.0 - u_2)) END), 6) AS score
        FROM pairs, u0, u1, u2
    ), classed AS (
        SELECT score,
               CASE WHEN score >= 6.0 THEN 'match'
                    WHEN score <= -6.0 THEN 'non_match'
                    ELSE 'possible' END AS match_class
        FROM scored
    )
    SELECT match_class,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(min(score), 6) AS min_score,
           round(max(score), 6) AS max_score,
           round(avg(score), 4) AS avg_score
    FROM classed GROUP BY 1
    """,
    description="Fellegi-Sunter probabilistic record linkage "
    "(operators/linkage.py, Fellegi & Sunter JASA 1969): customer "
    "candidate pairs blocked on (nation, key-century) — Sum-of-"
    "block-squared candidates, never N^2 — scored on three field "
    "agreements (market segment, account-balance band, key digit) "
    "with log2(m/u) evidence weights; u = P(agree | non-match) is the "
    "frequency estimate Sum f^2 / N^2 fit from the full table in one "
    "answer-scale pass per field and broadcast onto the candidates "
    "(estimate_u_probabilities — nothing collects); scoring is a pure "
    "when-chain projection in a FIXED addition order; classes split "
    "at scores >= 6 (match) / <= -6 (non-match) / clerical-review "
    "middle, readout is the per-class census. The oracle restates "
    "blocking, u fits, weights and thresholds term for term; the "
    "hand-worked log2(9)/log2(19) weight fixture lives in "
    "tests/test_linkage.py.",
)
def q_fs_linkage_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import (
        estimate_u_probabilities,
        fellegi_sunter_scores,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("nat"),
        F.expr("c_custkey div 100").alias("blk"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("band"),
        (F.col("c_custkey") % 10).alias("dig"),
    )
    u = estimate_u_probabilities(cust, ["seg", "band", "dig"])
    left = cust.select(
        F.col("k").alias("lk"), F.col("nat").alias("lnat"),
        F.col("blk").alias("lblk"), F.col("seg").alias("ls"),
        F.col("band").alias("lb"), F.col("dig").alias("ld"),
    )
    right = cust.select(
        F.col("k").alias("rk"), F.col("nat").alias("rnat"),
        F.col("blk").alias("rblk"), F.col("seg").alias("rs"),
        F.col("band").alias("rb"), F.col("dig").alias("rd"),
    )
    pairs = left.join(
        right,
        (F.col("lnat") == F.col("rnat"))
        & (F.col("lblk") == F.col("rblk"))
        & (F.col("lk") < F.col("rk")),
    )
    scored = fellegi_sunter_scores(
        pairs,
        [("ls", "rs"), ("lb", "rb"), ("ld", "rd")],
        m=[0.95, 0.9, 0.85],
        u=u,
        upper=6.0,
        lower=-6.0,
    )
    return scored.groupBy("match_class").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.min("score"), 6).alias("min_score"),
        F.round(F.max("score"), 6).alias("max_score"),
        F.round(F.avg("score"), 4).alias("avg_score"),
    )


@register(
    "seq_patterns_contract",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), seq AS (
        SELECT user_id, event_type, rn FROM ranked WHERE rn <= 5
    ), ns AS (
        SELECT count(DISTINCT user_id)::DOUBLE AS nd,
               CAST(ceil(0.2 * count(DISTINCT user_id)) AS BIGINT) AS m
        FROM seq
    ), s1 AS (
        SELECT event_type AS pattern, 1 AS size,
               CAST(count(DISTINCT user_id) AS BIGINT) AS freq
        FROM seq GROUP BY 1
    ), s2 AS (
        SELECT a.event_type || ' -> ' || b.event_type AS pattern,
               2 AS size,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS freq
        FROM seq a JOIN seq b
          ON a.user_id = b.user_id AND a.rn < b.rn
        GROUP BY 1
    ), allp AS (
        SELECT * FROM s1 UNION ALL SELECT * FROM s2
    )
    SELECT pattern, size, freq, round(freq / nd, 6) AS support
    FROM allp, ns WHERE freq >= m
    """,
    description="PrefixSpan sequential-pattern mining (operators/"
    "seqmine.py:sequential_patterns, Pei et al. ICDE'01 via MLlib): "
    "each user's FIRST 5 events (ordered by ts with event_id "
    "tie-break — the truncation is the operator's documented "
    "max_seq_len contract, restated as row_number <= 5) mined for all "
    "patterns up to length 2 at min_support 0.2; a pattern a -> b is "
    "supported when a precedes b anywhere in the subsequence, and "
    "freq counts SEQUENCES, not occurrences. The order-aware sibling "
    "of the FP-Growth itemset gates (co-occurrence ignores order; "
    "b -> a and a -> b differ here). PrefixSpan distributes by "
    "prefix-projected databases; minCount = ceil(min_support * "
    "n_sequences) restated identically. The oracle enumerates "
    "subsequence containment by brute force (distinct users with "
    "rn_a < rn_b per ordered type pair) — a structurally DIFFERENT "
    "algebra from the projection-database mining; the hand-worked "
    "4-sequence fixture and a full brute-force Python twin live in "
    "tests/test_seqmine.py.",
)
def q_seq_patterns_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.seqmine import sequential_patterns

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return sequential_patterns(
        ev,
        "user_id",
        ["ts", "event_id"],
        "event_type",
        min_support=0.2,
        max_pattern_length=2,
        max_seq_len=5,
    )


@register(
    "msprt_contract",
    claims=(
        # The cumulative/running-max windows sort DAY-cardinality rows (30 at
        # any SF): a single-partition window over the daily frame is the
        # intended answer-scale shape, reached through a partial-aggregated
        # groupBy, not a raw sort.
        count("HashAggregate", lo=2),  # map-side combine on units
        lacks("CartesianProduct"),
    ),
    oracle="""
    WITH units AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS variant,
               value AS y
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ), daily AS (
        SELECT day,
               CAST(sum(CASE WHEN variant = 'control' THEN 1 ELSE 0 END)
                    AS BIGINT) AS dn_c,
               sum(CASE WHEN variant = 'control' THEN y ELSE 0 END) AS dsy_c,
               sum(CASE WHEN variant = 'control' THEN y * y ELSE 0 END)
                   AS dsyy_c,
               CAST(sum(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END)
                    AS BIGINT) AS dn_t,
               sum(CASE WHEN variant = 'treatment' THEN y ELSE 0 END) AS dsy_t,
               sum(CASE WHEN variant = 'treatment' THEN y * y ELSE 0 END)
                   AS dsyy_t
        FROM units GROUP BY 1
    ), cum AS (
        SELECT day,
               sum(dn_c) OVER w AS n_c,
               sum(dsy_c) OVER w AS sy_c,
               sum(dsyy_c) OVER w AS syy_c,
               sum(dn_t) OVER w AS n_t,
               sum(dsy_t) OVER w AS sy_t,
               sum(dsyy_t) OVER w AS syy_t
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ), stats AS (
        SELECT day, n_c, n_t,
               sy_c / nc AS mean_c, sy_t / nt AS mean_t,
               sy_t / nt - sy_c / nc AS delta,
               greatest(0.0, (syy_t - sy_t * sy_t / nt) / (nt - 1.0)) / nt
               + greatest(0.0, (syy_c - sy_c * sy_c / nc) / (nc - 1.0)) / nc
                   AS v
        FROM (SELECT *,
                     CASE WHEN n_c >= 2 THEN n_c::DOUBLE END AS nc,
                     CASE WHEN n_t >= 2 THEN n_t::DOUBLE END AS nt
              FROM cum)
    ), lamb AS (
        SELECT *,
               CASE WHEN v > 0 THEN
                   sqrt(v / (v + 4.0))
                   * exp(delta * delta * 4.0 / (2.0 * v * (v + 4.0)))
               END AS lam
        FROM stats
    ), runm AS (
        SELECT *,
               max(lam) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS rmax
        FROM lamb
    )
    SELECT day,
           CAST(n_c AS BIGINT) AS n_control,
           CAST(n_t AS BIGINT) AS n_treatment,
           round(mean_c, 6) AS mean_control,
           round(mean_t, 6) AS mean_treatment,
           round(delta, 6) AS delta,
           round(v, 6) AS variance,
           round(lam, 6) AS lambda,
           round(CASE WHEN rmax IS NOT NULL
                      THEN least(1.0, 1.0 / rmax) END, 6)
               AS p_always_valid,
           CASE WHEN rmax IS NOT NULL THEN
               CASE WHEN least(1.0, 1.0 / rmax) <= 0.05
                    THEN 1 ELSE 0 END
           END AS significant
    FROM runm
    """,
    description="mSPRT always-valid sequential A/B monitoring "
    "(operators/abtest.py:msprt_monitor, Johari et al. 'Always Valid "
    "Inference'): the per-day experiment state a dashboard can refresh "
    "daily WITHOUT inflating false positives — cumulative Welch "
    "delta/variance from per-day sufficient sums, the mixture "
    "likelihood ratio Lambda = sqrt(V/(V+tau^2)) * exp(delta^2 tau^2 / "
    "(2V(V+tau^2))) at tau=2, and the monotone always-valid p = "
    "min(1, 1/running-max Lambda); warm-up days (either arm under 2 "
    "cumulative units) carry NULL honestly. ONE conditional "
    "aggregation reduces raw events to day-cardinality sufficient "
    "sums; cumulative sums and the running max are windows over that "
    "answer-scale frame, never over raw units. The oracle replays the "
    "identical windows and closed form; the hand-worked V=1/delta=3 "
    "Lambda fixture lives in tests/test_msprt.py.",
)
def q_msprt_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.abtest import msprt_monitor

    ev = load_table(spark, sf_dir, "events").select(
        F.expr("unix_timestamp(ts) div 86400").cast("long").alias("day"),
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("variant"),
        F.col("value").alias("y"),
    )
    return msprt_monitor(
        ev, "day", "variant", "y", "control", "treatment", tau=2.0,
        alpha=0.05,
    )


@register(
    "bh_fdr_contract",
    oracle="""
    WITH segs AS (
        SELECT DISTINCT event_type,
               CAST(dayofweek(ts) + 1 AS BIGINT) AS dow
        FROM events
    ), tests AS (
        SELECT event_type, dow,
               (('0x' || substr(md5(event_type || ':' ||
                    dow::VARCHAR), 1, 15))::BIGINT
                % 1000000) / 1000000.0 AS p
        FROM segs
    ), ranked AS (
        SELECT event_type, dow, p,
               row_number() OVER (ORDER BY p, event_type, dow) AS rank,
               count(*) OVER () AS m
        FROM tests
    ), raw AS (
        SELECT *, p * m / rank AS raw_q FROM ranked
    ), adj AS (
        SELECT *,
               least(1.0, min(raw_q) OVER (
                   ORDER BY p DESC, event_type DESC, dow DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )) AS q
        FROM raw
    )
    SELECT event_type, dow,
           round(p, 6) AS p,
           rank,
           CAST(m AS BIGINT) AS m,
           round(q, 6) AS q_value,
           q <= 0.1 AS reject
    FROM adj
    """,
    description="Benjamini-Hochberg FDR correction (operators/"
    "hyptest.py:bh_fdr, Benjamini & Hochberg 1995): one hypothesis per "
    "(event_type, dow) segment — 35 tests — corrected by the step-up "
    "rule at alpha 0.1: rank by p, q = reverse-running-min of p*m/rank "
    "clipped at 1, reject q <= alpha. The synthetic corpus carries no "
    "natural p-value column, so each test's p is the deterministic "
    "md5-fold fraction of its segment key, injected by the SAME "
    "expression in both engines (the pii_redaction_profile fixture-"
    "injection precedent) — the gate verifies the CORRECTION algebra, "
    "which is the operator. Scale shape: the input is a TEST frame "
    "(answer-scale by construction — segments x metrics, never raw "
    "events; the p-values come from the anova/rank-test/z-test "
    "reducers upstream), so the two single-partition windows sort "
    "tests, not data. Invalid p-values hard-fail in-plan (a silently "
    "dropped test changes m and every q). Hand-worked 4-test fixture "
    "+ monotone/clip/tie properties in tests/test_bhfdr.py.",
)
def q_bh_fdr_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hyptest import bh_fdr
    from ..operators.mixing import _md5_fold

    tests = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.dayofweek("ts").alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "event_type",
            F.col("dow").cast("long").alias("dow"),
            (
                F.pmod(
                    _md5_fold(
                        F.concat_ws(":", F.col("event_type"), F.col("dow"))
                    ),
                    F.lit(1000000),
                )
                / F.lit(1000000.0)
            ).alias("p"),
        )
    )
    return bh_fdr(tests, "p", ["event_type", "dow"], alpha=0.1)
