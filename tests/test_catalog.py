"""Catalog reads infer each Parquet input's schema once per file version:
a repeat read of unchanged files launches no Spark job, and any rewrite,
added file or schema-relevant setting change is seen on the next read."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import BinaryType, DoubleType, LongType, StringType

from proyecto_final_de_big_data_spark.catalog import _local_path, load_table, read_months
from proyecto_final_de_big_data_spark.utils.settings import overridden

def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


def test_repeat_load_of_unchanged_table_launches_no_job(spark, tmp_path, jobs_launched):
    _write(tmp_path / "region.parquet", r_regionkey=[0, 1, 2], r_name=["A", "B", "C"])
    first, first_jobs = jobs_launched(lambda: load_table(spark, str(tmp_path), "region"))
    second, second_jobs = jobs_launched(lambda: load_table(spark, str(tmp_path), "region"))
    assert first_jobs >= 1  # the cold read infers from the footer
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewrite_with_added_column_is_seen(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    _write(path, n_nationkey=[0, 1], n_name=["X", "Y"])
    assert load_table(spark, str(tmp_path), "nation").columns == ["n_nationkey", "n_name"]
    _write(path, n_nationkey=[0, 1], n_name=["X", "Y"], n_regionkey=[4, 5])
    df = load_table(spark, str(tmp_path), "nation")
    assert df.columns == ["n_nationkey", "n_name", "n_regionkey"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "X", 4), (1, "Y", 5)]


def test_rewrite_with_changed_column_type_is_seen(spark, tmp_path):
    path = tmp_path / "part.parquet"
    _write(path, p_partkey=[1, 2], p_size=pa.array([3, 4], pa.int64()))
    assert load_table(spark, str(tmp_path), "part").schema["p_size"].dataType == LongType()
    _write(path, p_partkey=[1, 2], p_size=pa.array([3.5, 4.25], pa.float64()))
    df = load_table(spark, str(tmp_path), "part")
    assert df.schema["p_size"].dataType == DoubleType()
    assert sorted(r.p_size for r in df.collect()) == [3.5, 4.25]


def test_file_added_to_partition_is_seen_by_read_months(spark, tmp_path):
    part = tmp_path / "year=2024" / "month=01"
    part.mkdir(parents=True)
    _write(part / "part-00000.parquet", fare=[1.0, 2.0])
    assert read_months(spark, str(tmp_path), 2024, ["01"]).count() == 2
    _write(part / "part-00001.parquet", fare=[3.0, 4.0, 5.0])
    df = read_months(spark, str(tmp_path), 2024, ["01"])
    assert sorted(r.fare for r in df.collect()) == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_schema_settings_are_part_of_the_key(spark, tmp_path):
    _write(tmp_path / "documents.parquet", doc_id=[1], body=pa.array([b"abc"], pa.binary()))
    conf = "spark.sql.parquet.binaryAsString"
    with overridden(spark, {conf: "false"}):
        assert load_table(spark, str(tmp_path), "documents").schema["body"].dataType == BinaryType()
    with overridden(spark, {conf: "true"}):
        df = load_table(spark, str(tmp_path), "documents")
        assert df.schema["body"].dataType == StringType()
        assert df.collect()[0].body == "abc"


def test_every_table_read_pins_utc(spark, sf_dir):
    tz = "spark.sql.session.timeZone"
    with overridden(spark, {tz: "America/New_York"}):
        load_table(spark, sf_dir, "lineitem")
        assert spark.conf.get(tz) == "UTC"


@pytest.mark.parametrize(
    ("path", "local"),
    [
        ("/data/t.parquet", "/data/t.parquet"),
        ("rel/t.parquet", None),
        ("file:/data/t.parquet", "/data/t.parquet"),
        ("file:///data/t.parquet", "/data/t.parquet"),
        ("hdfs://nn:8020/data/t.parquet", None),
        ("s3a://bucket/t.parquet", None),
    ],
)
def test_only_absolute_local_paths_are_memoized(spark, path, local):
    assert _local_path(spark, path) == local
