"""Small-file compaction for at-rest datasets.

The reference never needs this (its marts are written once, small); a
100-TB lakehouse does: streaming sinks emit a file per micro-batch,
dynamic-overwrite jobs a file per task, and a year of that turns a
table's scan into a metadata storm — every Spark job pays a driver-side
listing + one task per tiny file, and parquet loses its row-group
locality. Compaction is the maintenance pass that rewrites a fragmented
dataset into files near a target size.

Mechanism, Spark-first: file sizes are METADATA (listed driver-side —
the same listing every scan of the fragmented table already pays, and
the thing compaction makes cheap for every later reader); the row data
itself moves through one round-robin ``repartition(n)`` shuffle, where
``n = ceil(total_bytes / target)``. That single shuffle IS the price of
compaction — there is no narrow rewrite that can merge files across
executors. AQE's ``coalescePartitions`` solves the adjacent problem
(sizing SHUFFLE outputs of a query); it cannot re-bin files already on
disk, which is exactly the case this operator covers.

Parquet-to-parquet output size tracks input size closely (same encoding,
same compression), so the byte-based plan lands within one file of the
target count; the report returns both planned and written counts so
callers can alert on drift (e.g. a codec change).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024  # the classic HDFS-block target


def dataset_file_sizes(df: DataFrame) -> list[int]:
    """Byte size of every file backing ``df``'s scan.

    ``inputFiles()`` is the public listing API; sizes come from
    ``os.stat`` for local paths and the Hadoop FileSystem for any other
    scheme (HDFS/object stores). This is metadata-scale work — one
    round over the file listing the scan itself already performs — but
    it IS proportional to file count, which is the quantity compaction
    exists to shrink; run it from the driver of a maintenance job, not
    inside a hot query.
    """
    spark = df.sparkSession
    sizes: list[int] = []
    # FileSystem handles are scoped to (scheme, authority): a listing
    # spanning buckets or hdfs+s3a would hit 'Wrong FS' if the first
    # handle were reused for every URI.
    fs_cache: dict[tuple[str, str], object] = {}
    for uri in df.inputFiles():
        parsed = urlparse(uri)
        if parsed.scheme in ("file", ""):
            # inputFiles() returns percent-encoded URIs (a path with a
            # space lists as %20) — decode before stat'ing.
            sizes.append(os.stat(unquote(parsed.path)).st_size)
        else:  # pragma: no cover - exercised only on cluster filesystems
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(uri)
            key = (parsed.scheme, parsed.netloc)
            jfs = fs_cache.get(key)
            if jfs is None:
                jfs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
                fs_cache[key] = jfs
            sizes.append(jfs.getFileStatus(jpath).getLen())
    return sizes


def plan_num_files(total_bytes: int, target_file_bytes: int) -> int:
    """ceil(total/target), never below 1 (an empty dataset still writes
    one file so the output path exists and reads back as zero rows)."""
    if target_file_bytes < 1:
        raise ValueError("target_file_bytes must be >= 1")
    return max(1, math.ceil(total_bytes / target_file_bytes))


@dataclass(frozen=True)
class CompactionReport:
    n_input_files: int
    input_bytes: int
    n_planned_files: int
    n_written_files: int


def compact_dataset(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    sort_cols: list[str] | str | None = None,
) -> CompactionReport:
    """Rewrite the parquet dataset at ``in_path`` into
    ``ceil(bytes/target)`` files at ``out_path``; returns the plan/actual
    report. Round-robin ``repartition`` (not ``coalesce``) on purpose:
    coalesce would glue whole input partitions together, preserving any
    size skew between them — the compacted files should be uniform, and
    the one shuffle is this operator's budgeted cost. With ``sort_cols``
    the same shuffle becomes a range partition + in-partition sort, so
    the rewrite also lays data out for row-group skipping. Note the
    range variant balances by ROW count on the sampled key distribution,
    not bytes — with very skewed row widths the byte plan is
    approximate; the report's written-vs-planned drift surfaces that.
    """
    df = spark.read.parquet(in_path)
    sizes = dataset_file_sizes(df)
    n = plan_num_files(sum(sizes), target_file_bytes)
    if sort_cols:
        # Compacted AND skip-friendly in the same single shuffle: the
        # sorted-layout writer with the byte-planned file count (one
        # recipe, owned by io/sorted_write.py).
        from .sorted_write import write_sorted

        write_sorted(df, out_path, sort_cols, n_files=n)
    else:
        df.repartition(n).write.mode("overwrite").parquet(out_path)
    # Re-list through the scan API so the count is filesystem-agnostic
    # (os.listdir would be local-only and would miscount _SUCCESS etc.).
    # The output has the input's schema; passing it skips the footer-
    # reading inference job a bare read launches.
    written = len(spark.read.schema(df.schema).parquet(out_path).inputFiles())
    return CompactionReport(
        n_input_files=len(sizes),
        input_bytes=sum(sizes),
        n_planned_files=n,
        n_written_files=written,
    )
