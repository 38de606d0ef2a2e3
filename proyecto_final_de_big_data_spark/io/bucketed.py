"""Bucketed (hash-clustered) parquet tables for co-located joins.

At 100 TB the dominant join cost is shuffling both fact tables on the
join key. Writing each table bucketed on that key (same bucket count)
pays the shuffle ONCE at write time; every subsequent join on the key
is then exchange-free — Spark's bucketed scan exposes the hash
clustering, so SortMergeJoin runs with no Exchange on either side
(``test_bucketed_join_has_no_exchange`` in ``tests/test_plan_quality.py``
reads it from the executed plan).

Native (non-Hive) bucketing: ``bucketBy`` requires ``saveAsTable``;
tables are registered in the session catalog with an explicit external
``path`` so no warehouse directory is implied.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Write ``df`` as an external parquet table bucketed (and
    optionally sorted) on ``bucket_cols``. Sorting within buckets lets
    SortMergeJoin skip its sort as well."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def colocated_join(
    spark: SparkSession,
    left_name: str,
    right_name: str,
    on,
) -> DataFrame:
    """Join two same-bucket-count tables on their bucket key.

    The ``merge`` hint pins SortMergeJoin so the plan shape is
    deterministic (a small side would otherwise broadcast, which also
    avoids the shuffle but wouldn't exercise the bucketing contract).
    """
    left = spark.table(left_name).hint("merge")
    right = spark.table(right_name)
    return left.join(right, on)
