"""Time-window queries over ``events`` in batch mode — the same
window operators the Structured-Streaming surface uses
(``streaming/windows.py`` wires identical logic to ``readStream``),
expressed here in batch so the DuckDB oracle can verify the window
semantics: tumbling, sliding, and session windows.

Spark window semantics pinned for the oracle:
- tumbling/sliding windows are [start, end): a row at an exact boundary
  belongs to the later window;
- ``session_window(ts, gap)``: a new session starts when the gap since
  the previous event is >= gap (window end = last_ts + gap, exclusive).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..utils.caching import pin
from ..utils.settings import STREAM_STATE_PARTITIONS, overridden
from .registry import register


def _stage_events(sf_dir: str, prefix: str, copies: int = 1) -> str:
    """Stage the events fixture into a fresh directory (the file stream
    source requires a directory; N copies -> N source files). Callers
    own the directory and must ``shutil.rmtree`` it in a ``finally`` —
    stream-mode queries run repeatedly in a long-lived bench session and
    leaked staging dirs add up."""
    stage = tempfile.mkdtemp(prefix=prefix)
    for i in range(copies):
        shutil.copy(f"{sf_dir}/events.parquet", f"{stage}/part-{i}.parquet")
    return stage


def _drain_stream(
    spark: SparkSession,
    df: DataFrame,
    name_prefix: str,
    output_mode: str,
    confs: Mapping[str, str] = STREAM_STATE_PARTITIONS,
) -> DataFrame:
    """Run a bounded stream into a memory sink, return the drained result
    as an eager catalog-independent frame (tiny — localCheckpoint is
    cheap and detaches it from the sink table), and drop the sink table
    so repeated runs don't accumulate one temp view per invocation.

    ``confs`` are set around ``start()`` only (``utils.settings.
    overridden``) and restored after. A streaming query pins its
    state-partition count from ``spark.sql.shuffle.partitions`` AT
    START (one state-store instance per partition, each with
    open/commit overhead per micro-batch), so the default drops it to
    8: these contract streams hold a bounded fixture, and paying 32
    state stores to shuffle 20k rows is pure machinery cost. A caller
    adds what its stream needs (e.g. the RocksDB state-store provider
    transformWithState requires). A production deployment sizes this
    to key cardinality/throughput; the restore keeps the session's
    batch queries at their tuned value.
    """
    from ..streaming.windows import run_to_completion

    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    with overridden(spark, confs):
        q = run_to_completion(df, name, output_mode=output_mode)
    q.stop()
    try:
        return pin(spark.table(name), eager=True)
    finally:
        spark.catalog.dropTempView(name)


@register(
    "tumbling_hourly_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           count(*) AS n_events,
           avg(value) AS avg_value
    FROM events
    GROUP BY 1
    """,
    description="Tumbling 1-hour window aggregate (streaming-equivalent in batch)",
)
def q_tumbling_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.avg("value").alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "avg_value")
    )


@register(
    "sliding_2h_counts",
    oracle="""
    SELECT window_start, count(*) AS n_events, sum(value) AS sum_value
    FROM (
        SELECT unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
               value
        FROM events
    )
    GROUP BY 1
    """,
    description="Sliding 2h window / 1h slide — each event lands in two windows",
)
def q_sliding_2h_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


@register(
    "session_windows_per_user",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM gaps
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    description="Gap-based session windows (30 min) per user — F.session_window "
    "in batch, gaps-and-islands SQL in the oracle",
)
def q_session_windows_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


@register(
    "tumbling_stream_parity",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           count(*) AS n_events,
           avg(value) AS avg_value
    FROM events
    GROUP BY 1
    """,
    description="The tumbling window run as an ACTUAL stream (file source "
    "-> readStream -> groupBy(window) -> memory sink, complete mode, "
    "availableNow) and value-checked against the same plain GROUP BY "
    "oracle the batch variant uses — the unified-model guarantee "
    "(stream result == batch result on bounded input) as an external "
    "contract rather than an in-repo test.",
)
def q_tumbling_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import read_events_stream

    stage = _stage_events(sf_dir, "events_stream_tw_")
    try:
        stream = read_events_stream(spark, stage)
        agg = (
            stream.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"), F.avg("value").alias("avg_value"))
            .select(F.col("w.start").alias("window_start"), "n_events", "avg_value")
        )
        # Complete mode: every window is (re-)emitted on the final
        # trigger, so the drained table is the full result even for
        # windows a watermark would still hold open in append mode.
        return _drain_stream(spark, agg, "t_tumbling", "complete")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "stream_dedup_counts",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM events
    GROUP BY 1
    """,
    description="Streaming exact deduplication: the fixture is staged TWICE "
    "into the stream source (every event arrives as a cross-micro-batch "
    "duplicate), dropDuplicatesWithinWatermark('event_id') must emit each "
    "exactly once, and the drained sink is profiled per event_type against "
    "the plain single-copy GROUP BY oracle. The training-ingest pattern: "
    "dedup state is bounded by the watermark horizon (an unbounded "
    "dropDuplicates would grow state forever on a real stream).",
)
def q_stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import read_events_stream

    stage = _stage_events(sf_dir, "events_stream_dd_", copies=2)
    try:
        stream = read_events_stream(spark, stage)
        # Watermark wider than the fixture's event-time span: both copies
        # of every event fall inside the dedup horizon, so the second copy
        # is always recognized (on a live stream the horizon bounds state
        # size).
        deduped = stream.withWatermark("ts", "365 days").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        drained = _drain_stream(spark, deduped, "t_dedup", "append")
        return drained.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "stream_static_join_profile",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n_events,
           avg(e.value) AS avg_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    description="Stream-static join: the events stream is enriched against "
    "the static customer dimension (user_id = c_custkey) inside the "
    "streaming query — the standard streaming-enrichment pattern, where the "
    "static side is re-planned per micro-batch and broadcast — then "
    "aggregated per market segment (complete mode) and hash-checked against "
    "the plain batch join GROUP BY.",
)
def q_stream_static_join_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import read_events_stream

    stage = _stage_events(sf_dir, "events_stream_sj_")
    try:
        stream = read_events_stream(spark, stage)
        cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        joined = stream.join(cust, stream.user_id == cust.c_custkey, "inner")
        agg = joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
            F.count(F.lit(1)).alias("n_events"), F.avg("value").alias("avg_value")
        )
        return _drain_stream(spark, agg, "t_sjoin", "complete")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "sliding_stream_parity",
    oracle="""
    SELECT window_start, count(*) AS n_events, sum(value) AS sum_value
    FROM (
        SELECT unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
               value
        FROM events
    )
    GROUP BY 1
    """,
    description="The sliding 2h/1h window run as an ACTUAL stream (complete "
    "mode, availableNow) against the same every-event-in-two-windows oracle "
    "as the batch variant — stream == batch for overlapping windows too.",
)
def q_sliding_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import read_events_stream

    stage = _stage_events(sf_dir, "events_stream_sl_")
    try:
        stream = read_events_stream(spark, stage)
        agg = (
            stream.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        )
        return _drain_stream(spark, agg, "t_sliding", "complete")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "stream_file_sink_round_trip",
    oracle="""
    SELECT event_type, count(*) AS n_events, sum(round(value * 100))::BIGINT AS total_cents
    FROM events
    GROUP BY 1
    """,
    description="Streaming FILE sink: the events stream is written to a "
    "parquet sink with a checkpoint (append mode, availableNow), read back "
    "as a batch table, and profiled against the source oracle — gating the "
    "persistent-sink + checkpoint path the memory-sink contracts skip. "
    "Values compared in exact integer cents (2-decimal fixture), avoiding "
    "float-summation-order noise across engines.",
)
def q_stream_file_sink_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import read_events_stream

    stage = _stage_events(sf_dir, "events_stream_fs_")
    out = tempfile.mkdtemp(prefix="events_sink_")
    ckpt = tempfile.mkdtemp(prefix="events_ckpt_")
    try:
        stream = read_events_stream(spark, stage)
        # Same state-partition bound as _drain_stream (conf is pinned at
        # stream start; restored for the session's batch queries).
        with overridden(spark, STREAM_STATE_PARTITIONS):
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        back = spark.read.parquet(out)
        result = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0)).cast("long").alias("total_cents"),
        )
        # Eager: the sink/checkpoint dirs are removed on return, so the
        # tiny profile must be computed (and detached from them) now.
        return pin(result, eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "stateful_user_profiles_stream",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(round(value * 100)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY 1
    """,
    description="applyInPandasWithState driven END-TO-END as a real stream "
    "(file source -> stateful per-user profile -> memory sink, availableNow): "
    "the fixture arrives as one micro-batch, so the drained update-mode "
    "output is exactly one final profile per user, which the plain GROUP BY "
    "oracle pins value-for-value. The running total is compared in exact "
    "integer cents (fixture values are 2-decimal): pandas' pairwise float "
    "summation differs from DuckDB's sequential sum in the last ulp, which "
    "a rounded-mean comparison can land on a rounding boundary (observed at "
    "sf0.01). Covers the custom-stateful surface the batch window queries "
    "cannot.",
)
def q_stateful_user_profiles_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import user_profile_stream
    from ..streaming.windows import read_events_stream

    # Single file -> single micro-batch, which is what makes the
    # update-mode output equal the batch GROUP BY.
    stage = _stage_events(sf_dir, "events_stream_")
    try:
        stream = read_events_stream(spark, stage)
        drained = _drain_stream(spark, user_profile_stream(stream), "t_stateful", "update")
        # mean_value * n recovers the running total; *100 + round lands on
        # the exact integer cent (float error ~1e-10 << 0.5).
        return drained.select(
            "user_id",
            "n_events",
            F.round(F.col("mean_value") * F.col("n_events") * 100, 0)
            .cast("long")
            .alias("total_cents"),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "stream_stream_join_parity",
    oracle="""
    SELECT a.event_type AS a_type,
           count(*) AS n_pairs,
           CAST(sum(round((b.value - a.value) * 100)) AS BIGINT) AS cents_diff
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    WHERE a.user_id % 5 = 0 AND b.user_id % 5 = 0
    GROUP BY 1
    """,
    description="STREAM-STREAM inner join (the one streaming join mode the "
    "stream-static contract cannot cover): two event streams watermarked 2h "
    "join on user_id within a (0, 1h] event-time band — the time-range "
    "predicate is what lets the state store expire buffered rows past the "
    "watermark horizon, the 100-TB-stream consideration. Joined pairs drain "
    "append-mode and are profiled per left event type; value deltas compare "
    "in exact integer cents. The oracle is the identical batch self-join.",
)
def q_stream_stream_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import read_events_stream

    stage_a = _stage_events(sf_dir, "events_ssj_a_")
    stage_b = _stage_events(sf_dir, "events_ssj_b_")
    try:
        # One user slice (20%) on BOTH sides: the join mechanism, state
        # expiry, and parity check are identical, but buffered state —
        # the whole fixture lands in one micro-batch — stays bounded as
        # SF grows (the contract's cost should be machinery, not volume).
        user_slice = F.col("user_id") % 5 == 0
        sa = (
            read_events_stream(spark, stage_a)
            .where(user_slice)
            .withWatermark("ts", "2 hours")
            .alias("a")
        )
        sb = (
            read_events_stream(spark, stage_b)
            .where(user_slice)
            .withWatermark("ts", "2 hours")
            .alias("b")
        )
        joined = sa.join(
            sb,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("interval 1 hour")),
            "inner",
        ).select(
            F.col("a.event_type").alias("a_type"),
            F.round((F.col("b.value") - F.col("a.value")) * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        # 4 state partitions, not the default 8: a stream-stream join
        # opens FOUR state-store instances per partition (left/right x
        # keyToNumValues/keyWithIndexToValue), so per-micro-batch commit
        # overhead scales 4x harder with partition count than the
        # single-store aggregations. Measured (r11 optimization round,
        # interleaved A/B at sf0.1): 8 -> 4 partitions 4.0 -> 2.7 s
        # warm; 4 -> 2 was flat. Fixture-scale sizing, parameterized as
        # ever — a production deployment sizes this to throughput.
        drained = _drain_stream(
            spark, joined, "t_ssjoin", "append", {"spark.sql.shuffle.partitions": "4"}
        )
        return drained.groupBy("a_type").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("cents").alias("cents_diff"),
        )
    finally:
        shutil.rmtree(stage_a, ignore_errors=True)
        shutil.rmtree(stage_b, ignore_errors=True)


@register(
    "session_stream_parity",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM gaps
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    description="Session windows run as an ACTUAL stream (file source -> "
    "readStream -> session_window(ts, 30 min) per user -> memory sink, "
    "complete mode, availableNow) against the same gaps-and-islands oracle "
    "as the batch variant — completing the tumbling/sliding/session trio "
    "of real-stream parity gates. Session windows are the hardest of the "
    "three for a streaming engine (windows MERGE as late events bridge "
    "gaps), which is exactly why the stream-equals-batch contract earns "
    "its own gate.",
)
def q_session_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import read_events_stream, session_counts

    stage = _stage_events(sf_dir, "events_stream_sw_")
    try:
        stream = read_events_stream(spark, stage)
        # session_counts carries a watermark (required shape for append
        # mode on a live deployment); complete mode re-emits every
        # closed-and-merged session on the final trigger, so the drain
        # is the full result on the bounded fixture.
        return _drain_stream(spark, session_counts(stream), "t_session", "complete")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "stream_cdc_apply_round_trip",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, month(o_orderdate) AS o_month, o_totalprice
        FROM orders
    ), merged AS (
        SELECT o_orderkey, o_month,
               CASE WHEN o_month = 5 AND o_orderkey % 101 = 0
                    THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice
        FROM base
        WHERE NOT (o_month = 3 AND o_orderkey % 97 = 0)
        UNION ALL
        SELECT o_orderkey + 100000000, o_month, o_totalprice
        FROM base WHERE o_month = 7 AND o_orderkey % 103 = 0
    )
    SELECT o_month, count(*) AS n_orders,
           CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS total_cents,
           CAST((CASE WHEN EXISTS (SELECT 1 FROM base
                       WHERE (o_month = 3 AND o_orderkey % 97 = 0)
                          OR (o_month = 5 AND o_orderkey % 101 = 0))
                      THEN 1 ELSE 0 END)
              + (CASE WHEN EXISTS (SELECT 1 FROM base
                       WHERE o_month = 7 AND o_orderkey % 103 = 0)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_applied_batches
    FROM merged
    GROUP BY o_month
    """,
    description="Streaming CDC apply (streaming/cdc.py) end to end: the "
    "same change set the batch cdc_merge_contract applies in one merge "
    "arrives here as a FILE STREAM in two files — deletes+updates, then "
    "inserts — with maxFilesPerTrigger=1, so foreachBatch applies one "
    "partition-pruned merge per micro-batch against the month-partitioned "
    "base table. The final table must profile identically to the SQL "
    "restatement of both batches, and the count of non-empty merges the "
    "stream applied is pinned against the batches the oracle can prove "
    "non-empty — gating that incremental maintenance through the "
    "streaming path converges to the same table as one-shot batch "
    "maintenance.",
)
def q_stream_cdc_apply_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.cdc import apply_change_stream

    base = tempfile.mkdtemp(prefix="cdc_stream_base_")
    stage = tempfile.mkdtemp(prefix="cdc_stream_changes_")
    ckpt = tempfile.mkdtemp(prefix="cdc_stream_ckpt_")
    try:
        orders_m = load_table(spark, sf_dir, "orders").withColumn(
            "o_month", F.month("o_orderdate")
        )
        orders_m.write.partitionBy("o_month").mode("overwrite").parquet(base)

        key, month = F.col("o_orderkey"), F.col("o_month")
        deletes = orders_m.where((month == 3) & (key % 97 == 0)).withColumn(
            "op", F.lit("delete")
        )
        updates = (
            orders_m.where((month == 5) & (key % 101 == 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
            .withColumn("op", F.lit("upsert"))
        )
        inserts = (
            orders_m.where((month == 7) & (key % 103 == 0))
            .withColumn("o_orderkey", key + 100_000_000)
            .withColumn("op", F.lit("upsert"))
        )
        # Two change files -> two micro-batches (maxFilesPerTrigger=1).
        changes = deletes.unionByName(updates).coalesce(1)
        changes.write.mode("overwrite").parquet(os.path.join(stage, "batch_a"))
        inserts.coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, "batch_b"))

        applied: list[int] = []

        def on_batch(batch_id, report):
            if report.affected_partitions:
                applied.append(batch_id)

        schema = spark.read.parquet(os.path.join(stage, "batch_a")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(stage)
        )
        q = apply_change_stream(
            stream,
            base,
            id_col="o_orderkey",
            partition_col="o_month",
            checkpoint_location=ckpt,
            query_name=f"t_cdc_{uuid.uuid4().hex[:8]}",
            on_batch=on_batch,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        result = (
            spark.read.parquet(base)
            .groupBy("o_month")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0))
                .cast("long")
                .alias("total_cents"),
            )
            .withColumn("n_applied_batches", F.lit(len(applied)).cast("long"))
        )
        return pin(result, eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "tws_histogram_parity",
    oracle="""
    SELECT user_id, event_type, count(*) AS cnt
    FROM events
    GROUP BY 1, 2
    """,
    description="Custom stateful streaming operator (streaming/tws.py): "
    "per-user event-type histogram with MapState + event-time eviction "
    "timers, run as a REAL stream and compared against the batch GROUP "
    "BY. The operator targets transformWithStateInPandas (Spark 4's "
    "typed-state API); its Python driver worker needs google.protobuf, "
    "so stateful_histogram_stream falls back to an applyInPandasWithState "
    "twin with identical output semantics where the dependency is "
    "missing (this sandbox) — the gate verifies whichever path the "
    "environment supports, and tests/test_tws.py pins cross-path parity "
    "where both run. Update-mode emissions are running counts, so the "
    "final count per key is the max emitted.",
)
def q_tws_histogram_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.tws import (
        ROCKSDB_PROVIDER,
        has_tws_runtime,
        stateful_histogram_stream,
    )
    from ..streaming.windows import read_events_stream

    stage = _stage_events(sf_dir, "tws_events_")
    try:
        # PRECONDITION (ADVICE r6): reconciling update-mode output with
        # max(cnt) is sound only if the whole fixture arrives in ONE
        # micro-batch — across multiple batches the idle-gap timer could
        # evict a key's state and a later file would restart its count,
        # making max() undercount vs the batch GROUP BY. One staged
        # file == one micro-batch for the file source, so assert the
        # staging shape here instead of leaving it an implicit coupling.
        import os as _os

        staged = [f for f in _os.listdir(stage) if f.endswith(".parquet")]
        if len(staged) != 1:
            raise AssertionError(
                f"tws_histogram_parity needs exactly 1 staged source file "
                f"(single micro-batch) for its max(cnt) reconciliation; "
                f"found {len(staged)}: reconcile per-eviction-generation "
                "sums instead if staging more"
            )
        stream = read_events_stream(spark, stage)
        confs = dict(STREAM_STATE_PARTITIONS)
        if has_tws_runtime():
            confs["spark.sql.streaming.stateStore.providerClass"] = ROCKSDB_PROVIDER
        drained = _drain_stream(
            spark, stateful_histogram_stream(stream), "t_tws_hist", "update", confs
        )
        return drained.groupBy("user_id", "event_type").agg(
            F.max("cnt").alias("cnt")
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
