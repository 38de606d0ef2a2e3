"""One-pass table profiler: per-column null counts, distinct counts,
min/max, and numeric means — the EDA primitive behind the reference's
exploratory pass (``scripts/03_spark_eda_agg.py`` computes ad-hoc
per-column stats; this is the generalized operator).

Scale shape: ALL columns profile in ONE aggregation over one scan —
every stat is an agg expression, so the partial/final combine handles
100 TB with a single Exchange carrying one row per partition. Distinct
counts default to ``approx_count_distinct`` (HLL sketch — mergeable,
constant memory); ``exact_distinct=True`` switches to exact
``count(DISTINCT)``, which Spark executes via expand (one input replica
per distinct column) — affordable for a bounded column list, and what
the oracle-gated contract uses so DuckDB can restate it verbatim.

The wide single row then unpivots driver-side (it is literally one row)
into the long ``(column, stat...)`` shape via ``stack`` — no second
pass over data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """``(column, n_rows, n_nulls, n_distinct, min_str, max_str,
    mean_val)`` — one output row per profiled column, computed in a
    single aggregation pass.

    ``min_str``/``max_str`` are cast to string so the output schema is
    uniform across column types; ``mean_val`` is NULL for non-numeric
    columns. ``n_distinct`` counts non-NULL values (both the sketch and
    the exact variant share that convention), approximate by default —
    pass ``exact_distinct=True`` when an engine-portable exact answer
    matters more than the extra expand cost.
    """
    names = list(cols) if cols is not None else list(df.columns)
    if not names:
        raise ValueError("no columns to profile")
    types = dict(df.dtypes)
    missing = [c for c in names if c not in types]
    if missing:
        raise KeyError(f"columns not in frame: {missing}")
    by_field = {f.name: f.dataType for f in df.schema.fields}

    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in names:
        # Column references are PARSED (dots -> struct access, stray
        # backticks -> syntax error) — quote the raw name explicitly.
        col = F.col("`" + c.replace("`", "``") + "`")
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"__nulls_{c}"))
        aggs.append(
            (F.count_distinct(col) if exact_distinct else F.approx_count_distinct(col))
            .alias(f"__dist_{c}")
        )
        aggs.append(F.min(col).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(col).cast("string").alias(f"__max_{c}"))
        mean = (
            F.avg(col) if isinstance(by_field[c], NumericType) else F.lit(None).cast("double")
        )
        aggs.append(mean.alias(f"__mean_{c}"))
    wide = df.agg(*aggs)

    # stack() unpivots the single aggregate row; each tuple is
    # (literal column name, its five stat columns). Column names are
    # data here (string literal) and identifiers there — escape both, or
    # one odd ingested header (quote/backtick/backslash) breaks the
    # whole profile with a ParseException.
    def lit(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    def ident(s: str) -> str:
        return "`" + s.replace("`", "``") + "`"

    parts = []
    for c in names:
        parts += [lit(c)] + [
            ident(f"__{stat}_{c}") for stat in ("nulls", "dist", "min", "max", "mean")
        ]
    stacked = wide.select(
        F.col("__n_rows").alias("n_rows"),
        F.expr(
            f"stack({len(names)}, {', '.join(parts)}) AS "
            "(column, n_nulls, n_distinct, min_str, max_str, mean_val)"
        ),
    )
    return stacked.select(
        "column", "n_rows", "n_nulls", "n_distinct", "min_str", "max_str", "mean_val"
    )


def histogram_int(
    df: DataFrame,
    col: str,
    n_bins: int,
    lo: int,
    hi: int,
) -> DataFrame:
    """Equi-width histogram over an integer column with EXPLICIT
    ``[lo, hi]`` bounds: ``(bin, n_rows, min_val, max_val)``, one output
    row per non-empty bin.

    The bin index is pure integer arithmetic —
    ``bin = ((v - lo) * n_bins) div (hi - lo + 1)`` — so every engine
    bins identically: no float edge can land a boundary value in a
    different bucket on a different platform (the failure mode of
    ``width_bucket``-style double math). Intermediate ``(v-lo)*n_bins``
    stays under int64 for ``range × n_bins < 2^63`` — ~9e18, far past
    any real histogram. Rows outside the declared bounds are dropped
    (the caller declared the domain; out-of-range rows belong in a
    separate data-quality count, not silently clamped into edge bins).

    One aggregation over a filtered projection — partial+final combine,
    a single Exchange of at most ``n_bins`` rows per partition.
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    if hi < lo:
        raise ValueError("hi must be >= lo")
    v = F.col(col).cast("long")
    span = hi - lo + 1
    scaled = (v - F.lit(lo)) * F.lit(n_bins)
    # SQL `div` is true int64 division — a double-division reconstruction
    # would lose exactness once scaled exceeds 2^53 and truncate into
    # the wrong bin; `div` keeps the 2^63 bound the docstring promises.
    filtered = df.where(v.between(lo, hi)).withColumn("__hist_scaled", scaled)
    return (
        filtered.groupBy(
            F.expr(f"__hist_scaled div {span}").cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(v).alias("min_val"),
            F.max(v).alias("max_val"),
        )
    )
