"""Temporal-join queries: as-of (point-in-time) and interval (range)
joins over the events/orders fixtures — the training-pipeline primitives
``operators/asof.py`` adds beyond the reference surface. Both are
oracle-gated: DuckDB has a native ASOF JOIN, and the interval query's
range predicate is plain SQL, so the scale-shaped engine plans are
value-checked against straightforward declarative baselines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.asof import asof_join, interval_join
from ..utils.plans import has, has_any, lacks
from .registry import register


@register(
    "events_asof_last_order",
    claims=(
        # as-of join: no nested loop, one key shuffle
        lacks("BroadcastNestedLoopJoin"),
        lacks("CartesianProduct"),
        has("Window"),  # carry-forward is a window, not a join
    ),
    oracle="""
    WITH day_orders AS (
        SELECT o_custkey AS user_id, o_orderdate,
               round(sum(o_totalprice), 2) AS day_total
        FROM orders
        GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id,
           o.o_orderdate AS last_order_date,
           o.day_total
    FROM events e
    ASOF LEFT JOIN day_orders o
      ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
    """,
    description="Point-in-time join: each event picks up the latest order-day "
    "rollup of its user as of the event time (per-(key,ts)-unique right side, "
    "inclusive boundary). Engine side is the union+window as-of join — one "
    "shuffle by key, no nested loop — checked row-for-row against DuckDB's "
    "native ASOF LEFT JOIN.",
)
def q_events_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    day_orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("day_total"))
    )
    j = asof_join(
        ev,
        day_orders,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_payload=["o_orderdate", "day_total"],
        inclusive=True,
    )
    return j.select(
        "event_id", "user_id", F.col("o_orderdate").alias("last_order_date"), "day_total"
    )


@register(
    "events_in_first_day_window",
    claims=(
        lacks("BroadcastNestedLoopJoin"),
        lacks("CartesianProduct"),
        # bucketing turned the range predicate into an equi-join
        has_any("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"),
    ),
    oracle="""
    WITH win AS (
        SELECT user_id, min(ts) AS w_start,
               min(ts) + INTERVAL 1 DAY AS w_end
        FROM events
        GROUP BY 1
    )
    SELECT e.user_id, count(*) AS n_first_day, min(e.ts) AS first_ts
    FROM events e
    JOIN win w
      ON e.user_id = w.user_id AND e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY 1
    """,
    description="Interval (range) join: per-user validity windows — "
    "[first event, first event + 1 day) — joined back against the event "
    "stream by time-grid bucketing (equi-join on (key, bucket) + exact "
    "range predicate), never a nested loop. The oracle states the same "
    "join as a plain SQL range predicate.",
)
def q_events_in_first_day_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    win = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("w_start"))
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 1 DAY"))
    )
    j = interval_join(
        ev,
        win,
        key="user_id",
        left_ts="ts",
        right_start="w_start",
        right_end="w_end",
        bucket="1 day",
        how="inner",
    )
    return j.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_first_day"), F.min("ts").alias("first_ts")
    )


@register(
    "scd2_user_state_history",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS snap_day,
               arg_max(event_type, event_id) AS state
        FROM events WHERE user_id < 100
        GROUP BY 1, 2
    ), flagged AS (
        SELECT user_id, snap_day, state,
               CASE WHEN row_number() OVER w = 1
                         OR state IS DISTINCT FROM lag(state) OVER w
                    THEN 1 ELSE 0 END AS chg
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY snap_day)
    ), versioned AS (
        SELECT user_id, snap_day, state,
               sum(chg) OVER (PARTITION BY user_id ORDER BY snap_day) AS ver
        FROM flagged
    ), runs AS (
        SELECT user_id, ver, min(state) AS state, min(snap_day) AS valid_from
        FROM versioned GROUP BY user_id, ver
    )
    SELECT user_id, state,
           CAST(valid_from AS VARCHAR) AS valid_from,
           CAST(lead(valid_from) OVER w2 AS VARCHAR) AS valid_to,
           (lead(valid_from) OVER w2 IS NULL) AS is_current
    FROM runs
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
    """,
    description="SCD Type-2 dimension history (operators/scd.py): each "
    "user's daily state (event_type of the day's max event_id — a "
    "deterministic snapshot attr) collapses into validity intervals via "
    "NULL-safe change detection (lag over the content digest), a running "
    "version counter, and a lead() for the exclusive valid_to. The oracle "
    "replays the identical window algebra on raw attributes (IS DISTINCT "
    "FROM), so a missed or phantom change anywhere in the history breaks "
    "the hash. One real shuffle: all three window/agg steps share the "
    "user_id partitioning. Queued for the r6 window rotation; "
    "DuckDB-parity covered by tests/test_oracle_parity.py meanwhile.",
)
def q_scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_from_snapshots

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("snap_day")
    ).agg(F.max_by("event_type", "event_id").alias("state"))
    hist = scd2_from_snapshots(daily, "user_id", ["state"], "snap_day")
    # ISO strings for the gate: a NULLABLE date column dodges Spark's
    # pandas datetime coercion (object dtype) while DuckDB emits
    # datetime64, so the raw types would never canonicalize equal.
    return hist.select(
        "user_id",
        "state",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current",
    )


@register(
    "session_stats_by_dow",
    oracle="""
    WITH us AS (
        SELECT user_id, event_id, ts, epoch_us(ts) AS t
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(t) OVER w IS NULL
                         OR t - lag(t) OVER w > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS opens
        FROM us
        WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               sum(opens) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM flagged
    ), sessions AS (
        SELECT user_id, session_idx, count(*) AS n_events,
               min(ts) AS session_start,
               (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS duration_s
        FROM numbered GROUP BY 1, 2
    )
    SELECT dayofweek(session_start) + 1 AS dow,
           count(*) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           max(n_events) AS max_session_events,
           round(avg(n_events), 6) AS avg_session_events,
           round(avg(duration_s), 4) AS avg_duration_s
    FROM sessions GROUP BY 1
    """,
    description="Batch sessionization (operators/sessionize.py): per-user "
    "sessions split at 30-minute silences, profiled by session-start "
    "day-of-week — the at-rest twin of the streaming session windows "
    "(session_windows_per_user). One shuffle on high-cardinality user_id "
    "shared by both window passes (lag probe + running session counter — "
    "one Exchange, one Sort), gaps compared in integer microseconds, and "
    "event_id as the tie-break so repeated timestamps split identically in "
    "both engines (with ties unbroken, which physical row carries the "
    "session-open flag — and whether its tie peers trail into the prior "
    "session — is engine-dependent).",
)
def q_session_stats_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessionize import session_stats

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    sessions = session_stats(
        ev, "user_id", "ts", gap="30 minutes", order_cols=("event_id",)
    )
    return sessions.groupBy(
        F.dayofweek("session_start").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
        F.round(F.avg("n_events"), 6).alias("avg_session_events"),
        F.round(F.avg("duration_s"), 4).alias("avg_duration_s"),
    )


@register(
    "time_weighted_avg_profile",
    oracle="""
    WITH ordered AS (
        SELECT user_id, value,
               epoch_us(ts) AS t,
               lead(value) OVER w AS nv,
               lead(epoch_us(ts)) OVER w AS nt
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           count(*) AS n_points,
           round(CASE WHEN max(t) > min(t)
                      THEN sum((nv + value) / 2.0 * (nt - t))
                           / (max(t) - min(t))::DOUBLE
                      ELSE avg(value) END, 6) AS twa
    FROM ordered
    GROUP BY 1
    """,
    description="Trapezoidal time-weighted average per user (operators/"
    "rolling.py:time_weighted_avg) — the correct mean for irregularly "
    "sampled series, where a value held for an hour must weigh 60x one "
    "held a minute. One lead window per user (integer-microsecond "
    "weights, event_id tie-break so every engine walks segments "
    "identically) and one grouped agg REUSING the window's key "
    "partitioning: a single user-keyed shuffle end to end. The oracle "
    "replays the identical trapezoid sum; 6-decimal rounding absorbs "
    "summation-order ulps.",
)
def q_time_weighted_avg_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rolling import time_weighted_avg

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value", "event_id"
    )
    out = time_weighted_avg(ev, ["user_id"], "ts", "value", "event_id")
    return out.select(
        "user_id", "n_points", F.round("twa", 6).alias("twa")
    )


@register(
    "rolling_active_users",
    claims=(
        # The sliding distinct comes from a map-side sequence/explode
        # (Generate), never a cartesian/range join of days x events.
        has("Generate"),
        lacks("CartesianProduct"),
    ),
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    days AS (SELECT DISTINCT d AS day FROM ud),
    wau AS (
        SELECT days.day, CAST(count(DISTINCT ud.u) AS BIGINT) AS wau
        FROM days JOIN ud
          ON ud.d <= days.day AND ud.d > days.day - 7
        GROUP BY 1
    ),
    dau AS (
        SELECT d AS day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1
    )
    SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
           round(dau.dau::DOUBLE / wau.wau, 6) AS stickiness
    FROM dau JOIN wau USING (day)
    """,
    description="Rolling active users (operators/activity.py:"
    "rolling_active_users): per active day, DAU, trailing-7-day WAU "
    "and DAU/WAU stickiness. Sliding DISTINCT does not decompose over "
    "windows, so the distributed shape is dedup-to-(user,day) (ONE "
    "distinct at user-day cardinality, never event cardinality), a "
    "map-side sequence/explode expanding each active day to the 7 "
    "target days it covers, and a second distinct + count per target "
    "day — no range join, no per-window recompute; the HLL sketch "
    "family is the documented approx swap at extreme scale. The "
    "oracle deliberately uses the OTHER algebra (a day-range join "
    "with count(DISTINCT)) so the expansion machinery is verified "
    "against an independent restatement, not mirrored.",
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.activity import rolling_active_users

    ev = load_table(spark, sf_dir, "events")
    out = rolling_active_users(ev, "user_id", "ts", window_days=7)
    # ISO string for the gate (the scd2 pattern): Spark date columns
    # reach pandas as python dates while DuckDB emits datetime64 —
    # the raw types never canonicalize equal.
    return out.select(
        F.col("day").cast("string").alias("day"),
        "dau",
        "wau",
        "stickiness",
    )
