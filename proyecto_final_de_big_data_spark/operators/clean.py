"""Data-quality operators: validity predicates + quantile-clip outlier
removal (SURVEY §2.2 P5–P7; reference ``src/etl/clean.py:43-64``).

Scale notes (100 TB):

- The reference runs ``approxQuantile`` once PER COLUMN — one full scan
  each (``src/etl/clean.py:51-64``). ``clip_to_quantiles`` computes all
  column bounds in ONE aggregation pass (``percentile_approx`` /
  ``percentile`` are partial+final aggregates), then applies the band
  filter via a broadcast of the single bounds row — two passes total
  regardless of column count, and the filter stays JVM-side so Parquet
  row-group skipping still applies on the second pass.
- ``exact=True`` uses exact percentiles (needed for oracle-exact tests);
  production at scale uses the approximate sketch (Greenwald–Khanna).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def validity_filter(df: DataFrame, positive: Iterable[str] = (), not_null: Iterable[str] = ()) -> DataFrame:
    """Conjunction of validity predicates: cols > 0 AND cols IS NOT NULL.

    Mirrors reference P5 (``src/etl/clean.py:43-49``). A single Filter
    node → pushed to the parquet scan by Catalyst.
    """
    pred: Column | None = None
    for c in positive:
        clause = F.col(c) > 0
        pred = clause if pred is None else pred & clause
    for c in not_null:
        clause = F.col(c).isNotNull()
        pred = clause if pred is None else pred & clause
    return df.filter(pred) if pred is not None else df


def quantile_bounds(
    df: DataFrame, cols: list[str], lower: float, upper: float, exact: bool = False, relative_error: float = 0.01
) -> DataFrame:
    """One-row DataFrame of per-column [lo, hi] quantile bounds.

    One aggregation pass for ALL columns (vs the reference's
    scan-per-column anti-pattern, SURVEY §4): the ungrouped
    :func:`grouped_quantile_bounds`, as ``df.agg`` is ``df.groupBy().agg``.
    """
    return grouped_quantile_bounds(df, [], cols, lower, upper, exact=exact, relative_error=relative_error)


def clip_to_quantiles(
    df: DataFrame,
    cols: list[str],
    lower: float = 0.01,
    upper: float = 0.99,
    exact: bool = False,
    relative_error: float = 0.01,
) -> DataFrame:
    """Keep rows where every col lies within its [lower, upper] quantile band.

    The bounds row is broadcast-joined (1 row — Catalyst broadcasts it),
    so the band filter runs distributed with no driver round-trip and no
    second shuffle.
    """
    bounds = quantile_bounds(df, cols, lower, upper, exact=exact, relative_error=relative_error)
    out = df.crossJoin(F.broadcast(bounds))
    for c in cols:
        out = out.filter((F.col(c) >= F.col(f"{c}__lo")) & (F.col(c) <= F.col(f"{c}__hi")))
    return out.drop(*[f"{c}__{s}" for c in cols for s in ("lo", "hi")])


def grouped_quantile_bounds(
    df: DataFrame,
    group_cols: list[str],
    cols: list[str],
    lower: float,
    upper: float,
    exact: bool = False,
    relative_error: float = 0.01,
) -> DataFrame:
    """Per-GROUP [lo, hi] quantile bounds: one row per group, all value
    columns in the same single aggregation pass (the grouped twin of
    ``quantile_bounds`` — still no scan-per-column). The result is
    dimension-scale (one row per group), which is what makes the
    grouped clip broadcastable."""
    aggs = []
    for c in cols:
        if exact:
            q = F.percentile(c, F.array(F.lit(lower), F.lit(upper)))
        else:
            q = F.percentile_approx(
                c, F.array(F.lit(lower), F.lit(upper)), int(1.0 / relative_error)
            )
        aggs.append(q.getItem(0).alias(f"{c}__lo"))
        aggs.append(q.getItem(1).alias(f"{c}__hi"))
    return df.groupBy(*group_cols).agg(*aggs)


def clip_to_group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    cols: list[str],
    lower: float = 0.01,
    upper: float = 0.99,
    exact: bool = False,
    relative_error: float = 0.01,
) -> DataFrame:
    """Keep rows whose value columns lie within their own GROUP's
    [lower, upper] quantile band — per-segment outlier fencing (a $5
    taxi fare is normal city-wide but an outlier for an airport run).

    Plan shape: one grouped aggregation builds the bounds (partial +
    final combine), then the bounds — one row per group — broadcast-
    join back on the group key, so the corpus is scanned twice and
    never shuffled. The join is NULL-SAFE on the group key: groupBy
    computes a band for the NULL group, and rows in it must meet that
    band rather than silently vanishing through an equality join.
    """
    bounds = grouped_quantile_bounds(
        df, group_cols, cols, lower, upper, exact=exact, relative_error=relative_error
    )
    renamed = bounds.select(
        *[F.col(g).alias(f"__g_{g}") for g in group_cols],
        *[F.col(f"{c}__{s}") for c in cols for s in ("lo", "hi")],
    )
    cond = None
    for g in group_cols:
        clause = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
        cond = clause if cond is None else cond & clause
    out = df.join(F.broadcast(renamed), cond, "inner")
    for c in cols:
        out = out.filter((F.col(c) >= F.col(f"{c}__lo")) & (F.col(c) <= F.col(f"{c}__hi")))
    return out.drop(
        *[f"__g_{g}" for g in group_cols],
        *[f"{c}__{s}" for c in cols for s in ("lo", "hi")],
    )


def weighted_percentiles(
    df: DataFrame,
    col: str,
    weight_col: str,
    fracs: list[float],
    by: list[str] | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Importance-weighted exact percentiles per group — the corpus
    question "what's the median document quality, weighted by token
    count?" asked correctly (an unweighted median over documents
    answers a different question than one over tokens).

    Uses ``percentile``'s frequency argument (each row counts
    ``weight`` times — exact interpolated semantics over the expanded
    multiset WITHOUT materializing it), so the weight column must be a
    non-negative INTEGRAL type: a float weight silently truncates
    toward a different multiset, so it is rejected loudly (the
    :func:`.split.systematic_weighted_sample` contract). One
    aggregation pass, map-side partials; output one row per group with
    one column per requested fraction (``p50``-style names).
    """
    if not fracs:
        raise ValueError("weighted_percentiles needs at least one fraction")
    if any(not (0.0 <= f <= 1.0) for f in fracs):
        raise ValueError(f"fractions must be in [0, 1], got {fracs}")
    wtype = dict(df.dtypes).get(weight_col)
    if wtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"weighted_percentiles needs an integral weight column; "
            f"{weight_col!r} is {wtype!r} — cast explicitly (and decide "
            "the rounding) first"
        )
    by = by or []
    x = F.col(col).cast("double")
    # Runtime non-negativity guard (ADVICE r7): a negative integral
    # weight fails deep inside Spark's percentile with an opaque error;
    # hard-fail with the operator's own name instead (the lorenz_gini
    # raise_error pattern — in-plan, no extra scan).
    w = F.when(
        F.col(weight_col) < 0,
        F.raise_error(
            F.format_string(
                "weighted_percentiles: negative weight in %s — weights "
                "are multiset frequencies and must be >= 0",
                F.lit(weight_col),
            )
        ).cast(dict(df.dtypes)[weight_col]),
    ).otherwise(F.col(weight_col))
    p = F.percentile(x, F.lit(list(map(float, fracs))), w)
    agg = df.groupBy(*by).agg(p.alias("__p"))

    def _name(f: float) -> str:
        # round before the exactness check: 0.29*100 is
        # 28.999999999999996 in binary, which would otherwise name the
        # column p28_999999999999996 instead of p29
        v = round(f * 100, 6)
        return f"p{int(v)}" if v == int(v) else f"p{v}".replace(".", "_")

    return agg.select(
        *by,
        *[
            F.round(F.element_at("__p", i + 1), decimals).alias(_name(f))
            for i, f in enumerate(fracs)
        ],
    )
