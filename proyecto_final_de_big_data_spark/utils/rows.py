"""Small literal frames, planned in the JVM.

``literal_rows(spark, rows, schema)`` is the package's way to turn a
few driver-side values (a lookup spine, a one-row report) into a
frame. It plans as ``Generate inline`` over a one-row ``Range``: the
rows are literals in the plan, so an action on the frame starts no
Python worker. A frame made from a Python list plans a ``Scan
ExistingRDD`` over a Python RDD instead, and its first action starts
one.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType


def literal_rows(spark: SparkSession, rows: Sequence[Sequence], schema: str | StructType) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a frame whose
    schema is exactly ``schema`` (a DDL string or a ``StructType``),
    nullability included."""
    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    structs = [
        F.struct(*(F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, st.fields, strict=True)))
        for row in rows
    ]
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs).cast(ArrayType(st))))
