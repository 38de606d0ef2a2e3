"""Structured-Streaming surface over the events stream: the file-source
reader, a session-window aggregation with watermark-based late-data
handling, and a helper that runs a bounded stream into a memory sink.

The stream-mode queries (``queries/streaming_batch.py``) build their
tumbling / sliding windows inline with the same groupBy(window(...))
logic as their batch twins — which is the point of Structured
Streaming's unified model. File-source streams over the events parquet replay the
fixture as a stream for tests; swap ``.format("kafka")`` in production.

Late data: ``withWatermark(ts, delay)`` bounds state: windows older
than (max event time − delay) finalize and late rows drop. State-store
size is O(open windows × keys), independent of stream length — the
100-TB-stream consideration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over the events parquet fixture.

    ``readStream`` requires a declared schema, so the physical timestamp
    unit is probed from the parquet footer (fixtures have shipped both
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS)): nanos are readable only as
    long (``nanosAsLong``) and truncated to µs here — the same
    conditional conversion ``catalog.load_table`` applies on the batch
    path; micros/millis read natively as TimestampType. The catalog's
    events read settings (UTC, so event-time windows match the
    timezone-free oracle, and ``nanosAsLong``) are set here too.
    """
    from ..catalog import set_read_settings
    from ..io.ingest import TS_UNIT_UNKNOWN, probe_parquet_ts_unit
    from ..utils.logging import get_logger

    set_read_settings(spark, "events")
    unit = probe_parquet_ts_unit(path)
    if unit is None:
        # The probe RAN and 'ts' is absent or not a timestamp: a blind
        # TimestampType schema would fail the stream later with an opaque
        # physical/declared type mismatch — fail loudly at the source.
        raise RuntimeError(
            f"'ts' in {path} is missing or not a parquet timestamp column; "
            "refusing to guess a readStream schema — see "
            "io.ingest.probe_parquet_ts_unit"
        )
    if unit == TS_UNIT_UNKNOWN:
        # The probe INFRASTRUCTURE failed (e.g. pyarrow unavailable) —
        # the file itself may be fine. Fall back to the standard
        # TimestampType schema (correct for MICROS/MILLIS vintages)
        # rather than turning a working read into a hard failure; a
        # NANOS fixture will still error out at stream start.
        get_logger("streaming").warning(
            "ts-unit probe unavailable for %s; assuming TIMESTAMP(MICROS)-"
            "compatible schema (a TIMESTAMP(NANOS) file will fail at read)",
            path,
        )
        unit = "us"
    if unit == "ns":
        raw = (
            spark.readStream.schema(_events_schema(T.LongType()))
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = (
        spark.readStream.schema(_events_schema(T.TimestampType()))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    return raw


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def run_to_completion(df: DataFrame, query_name: str, output_mode: str = "append") -> StreamingQuery:
    """Drive a bounded file-source stream through a memory sink until all
    available input is processed (test/smoke harness)."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    except Exception:
        q.stop()  # don't leak a live query on a failed drain
        raise
    return q
