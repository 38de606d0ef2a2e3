"""Temporary session settings: one context manager.

``overridden(spark, confs)`` is the one way code in this package
changes a session setting for a while: it sets every key in ``confs``
for the block and, on exit, normal or by error, puts back what was
there, unsetting a key that was unset before. A streaming query reads
``spark.sql.shuffle.partitions`` once, at ``start()``, so a block that
only starts the query is enough to bound its state partitions.

Settings that must outlive a lazy plan (the timezone and timestamp
unit a table read is planned under) are not temporary: ``catalog``
sets those, and ``io/pydatasource.py`` turns on Python filter pushdown
when it registers a source, because reads are planned after that.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

# State partitions for the bounded stream-mode contracts: the streams
# hold a small fixture, and one state store per partition pays its
# open/commit cost every micro-batch.
STREAM_STATE_PARTITIONS = {"spark.sql.shuffle.partitions": "8"}


@contextmanager
def overridden(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the block; restore the previous
    values (unset where there was none) on exit and on error."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
