"""Structured-Streaming surface: file-source replay of the events
fixture through a session window with a watermark. The stream-mode
queries' tumbling and sliding windows are checked against their batch
oracles in tests/test_oracle_parity.py."""

from __future__ import annotations

import shutil

import pytest

from proyecto_final_de_big_data_spark.streaming.windows import (
    read_events_stream,
    run_to_completion,
    session_counts,
)


@pytest.fixture(scope="module")
def events_stream_dir(tmp_path_factory):
    # Multiple files → multiple micro-batches with maxFilesPerTrigger=1.
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "part-0.parquet")
    return str(d)


def test_sliding_and_session_streams_run(spark, events_stream_dir):
    q2 = run_to_completion(session_counts(read_events_stream(spark, events_stream_dir)), "t_session")
    try:
        session = spark.table("t_session").collect()
        assert len(session) > 0
        assert {f.name for f in spark.table("t_session").schema.fields} == {
            "user_id", "session_start", "n_events",
        }
    finally:
        q2.stop()
