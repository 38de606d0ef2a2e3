"""Table catalog over the synthetic star-schema lake.

The reference addresses its lake by constructing partition paths by hand
(``scripts/02_spark_etl.py:75-77``), which hides partition columns from
the engine. Here every table is read from its root and predicates are
left to Catalyst (partition pruning / filter pushdown), the idiomatic
equivalent at 100 TB.

Every read goes through ``_read_parquet``, which infers each input's
schema once per file version: a bare ``spark.read.parquet`` launches a
one-task Spark job to read footers that have not changed. The memo key
is the input path, the (path, inode, size, mtime_ns) of every file under it,
and the session settings that change how Parquet types map to Spark
types (``_SCHEMA_CONFS``); a hit reads with
``spark.read.schema(...)``, which lists files but launches no job, and
any rewrite, added or removed file or settings flip is a miss that
infers again. Paths on a non-local filesystem (any scheme but
``file:``, or a schemeless path when ``fs.defaultFS`` is not local)
have no cheap stat and infer on every read, as do relative paths and
paths that cannot be stat'ed. An in-place rewrite that keeps a file's
inode, size and mtime (within the filesystem's timestamp granularity)
is not seen.

The catalog is also the one place that sets the read settings that
must outlive the call (``set_read_settings``): every table read pins
the session timezone to UTC, and an ``events`` read turns on
``nanosAsLong``. They are runtime SQL settings, set here rather than
in a session factory, so a vanilla session (an external verification
harness) reads the lake the same way; ``streaming.windows.
read_events_stream`` calls the same function. Temporary settings go
through ``utils.settings.overridden`` instead.
"""

from __future__ import annotations

import os
import stat
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Settings that change the schema Spark infers from the same footers.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# (path, settings) -> (file versions, inferred schema). The schema is a
# function of the key alone, so one process-wide memo serves every
# session; a new file version replaces its path's entry.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _local_path(spark: SparkSession, path: str) -> str | None:
    """The absolute local filesystem path ``path`` names, or None when
    Spark resolves it on another filesystem or against a working
    directory this process may have left since the JVM started."""
    scheme, sep, _ = path.partition(":")
    if not sep or "/" in scheme:
        default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS") or "file:///"
        return path if default_fs.startswith("file:") and os.path.isabs(path) else None
    return urlparse(path).path if scheme == "file" else None


def _file_versions(local: str) -> tuple | None:
    """(path, inode, size, mtime_ns) of every file under ``local``, in
    a fixed order; None when it cannot be stat'ed."""
    try:
        st = os.stat(local)
        if not stat.S_ISDIR(st.st_mode):
            return ((local, st.st_ino, st.st_size, st.st_mtime_ns),)
        out = []
        for root, dirs, files in os.walk(local, followlinks=True):
            dirs.sort()
            for name in sorted(files):
                full = os.path.join(root, name)
                s = os.stat(full)
                out.append((full, s.st_ino, s.st_size, s.st_mtime_ns))
        return tuple(out)
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only once per
    file version (see the module docstring)."""
    local = _local_path(spark, path)
    files = _file_versions(local) if local is not None else None
    if not files:
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == files:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (files, df.schema)
    return df


def set_read_settings(spark: SparkSession, name: str) -> None:
    """Set the session settings a read of table ``name`` needs (see the
    module docstring). They stay set: the frame a read returns is lazy,
    and its plan reads them when it runs."""
    # hour()/dayofweek()/epoch math over timestamps depend on the session
    # timezone; the oracle (DuckDB over naive timestamps) is
    # timezone-free, so every read pins UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet may carry TIMESTAMP(NANOS) or TIMESTAMP(MICROS)
        # depending on fixture vintage; a vanilla SparkSession rejects
        # NANOS with PARQUET_TYPE_ILLEGAL unless nanosAsLong is on
        # (harmless for MICROS).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    set_read_settings(spark, name)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long (nanosAsLong — MICROS fixtures
        # arrive as timestamp and skip this branch); truncate to µs —
        # integer div (not /) to avoid double-precision loss on int64,
        # matching DuckDB's ns→µs truncation.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_months(
    spark: SparkSession,
    root: str,
    year: int | str,
    months: list[str],
    skip_missing: bool = False,
    logger=None,
) -> DataFrame | None:
    """Union of per-month partition reads with catch-and-continue
    (reference C4, ``scripts/02_spark_etl.py:80-86``): a missing month is
    a warn-and-skip when ``skip_missing``, an error otherwise. Returns
    None when every month was skipped.

    At scale, prefer ``spark.read.parquet(root).where(...)`` (partition
    pruning, one scan node) — this per-month loop exists for the
    reference's explicit present/absent semantics, which a root read
    cannot distinguish from an empty partition.
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    from .utils.logging import get_logger

    log = logger or get_logger("lake")
    out: DataFrame | None = None
    for month in months:
        path = f"{root}/year={year}/month={month}"
        try:
            df = _read_parquet(spark, path)
        except AnalysisException as err:
            if skip_missing:
                log.warning("skipping missing partition %s: %s", path, err)
                continue
            raise
        # Partition-dir addressing strips the partition columns; restore
        # them so downstream sees the same schema as a root read.
        df = df.withColumn("year", F.lit(str(year))).withColumn("month", F.lit(str(month)))
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out

