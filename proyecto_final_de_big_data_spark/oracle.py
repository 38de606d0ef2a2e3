"""DuckDB oracle comparison harness (mirrors the driver's t2 gate).

Canonicalization per FIXTURES.md §5: sort columns by name, sort rows by
all columns, round doubles to 9 significant digits, then compare values.
"""

from __future__ import annotations

import math
import time
import traceback
from typing import TYPE_CHECKING, Any

import duckdb
import numpy as _np
import pandas as pd

from .catalog import TABLES
from .utils.caching import scope

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

    from .queries.registry import Query


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).df()


def _round_sig(x: float, sig: int = 9) -> float:
    if x == 0 or not math.isfinite(x):
        return x
    return round(x, -int(math.floor(math.log10(abs(x)))) + (sig - 1))


def canonicalize(df: pd.DataFrame) -> list[tuple[Any, ...]]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        canon = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                canon.append(None)
            elif isinstance(v, float):
                # Tag the runtime kind: the driver's value hash is
                # type-sensitive (long 149174 != double 149174.0), so a
                # plain == comparison would hide typing artifacts such as
                # DuckDB HUGEINT sums surfacing as float.
                canon.append(("f", _round_sig(float(v))))
            elif isinstance(v, (bool, _np.bool_)):
                canon.append(("b", bool(v)))
            elif isinstance(v, (int, _np.integer)):
                canon.append(("i", int(v)))
            elif isinstance(v, pd.Timestamp):
                canon.append(v.tz_localize(None) if v.tzinfo else v)
            else:
                canon.append(v)
        rows.append(tuple(canon))
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def compare(spark_df, oracle_df: pd.DataFrame) -> tuple[bool, str]:
    """(match, message). Spark result arrives as a Spark DataFrame."""
    sp = spark_df.toPandas()
    if sorted(sp.columns) != sorted(oracle_df.columns):
        return False, f"schema mismatch: spark={sorted(sp.columns)} oracle={sorted(oracle_df.columns)}"
    if len(sp) != len(oracle_df):
        return False, f"row count mismatch: spark={len(sp)} oracle={len(oracle_df)}"
    a, b = canonicalize(sp), canonicalize(oracle_df)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return False, f"value mismatch; first diffs (spark vs oracle): {diffs}"
    return True, "ok"


def check(spark: SparkSession, query: Query, sf_dir: str) -> dict[str, Any]:
    """Verdict for one registered query at ``sf_dir``: builds it, then
    compares it with its DuckDB oracle, or only counts its rows when it
    has none (``oracle=None``).

    Returns ``{"status": "ok" | "fail" | "rows_only" | "error", "sec": s}``
    plus ``"rows"`` for rows_only and ``"detail"`` for fail and error. A
    query that raises is reported as error (traceback on stderr), not
    propagated, so a catalog sweep keeps going. Build and action run in
    one ``scope()``, which releases the query's pins.
    """
    t0 = time.perf_counter()
    try:
        with scope():
            df = query.spark_fn(spark, sf_dir)
            if query.oracle is None:
                out: dict[str, Any] = {"status": "rows_only", "rows": df.count()}
            else:
                ok, msg = compare(df, run_oracle(query.oracle, sf_dir))
                out = {"status": "ok"} if ok else {"status": "fail", "detail": msg}
    except Exception as e:  # noqa: BLE001 - a sweep reports and continues
        traceback.print_exc()
        out = {"status": "error", "detail": f"{type(e).__name__}: {str(e)[:200]}"}
    out["sec"] = round(time.perf_counter() - t0, 2)
    return out
