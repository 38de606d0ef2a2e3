"""Multi-mart runner — reference entry point 2
(``scripts/03_spark_eda_agg.py:44-240``) builds 11 marts by re-scanning
the curated input once PER MART (SURVEY §4 anti-pattern: 11 jobs × full
rescan, no cache). This runner pins the input once and fans out the
mart catalog; each mart is still its own job (independent sinks) but
reads the pinned partitions.

At 100 TB, pinning the full input may not fit even MEMORY_AND_DISK
budgets — the fix at scale is multi-aggregate FUSION, where marts
sharing a grouping key are computed in ONE pass (``fuse_marts``).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame

from ..utils.caching import pin, scope

MartFn = Callable[[DataFrame], DataFrame]


def run_marts(
    input_df: DataFrame,
    marts: Mapping[str, MartFn],
    sink: Callable[[str, DataFrame], None] | None = None,
) -> dict[str, DataFrame]:
    """Fan out the mart catalog over a single pinned scan.

    ``sink(name, df)`` is invoked per mart (e.g. parquet write) inside
    this function's own ``scope()``, which releases the pin before
    returning (utils/caching.py). The returned marts are built over
    ``input_df`` itself, so they stay readable after the release.
    """
    if sink is not None:
        with scope():
            src = pin(input_df)
            for name, fn in marts.items():
                sink(name, fn(src))
    return {name: fn(input_df) for name, fn in marts.items()}


def fuse_marts(
    input_df: DataFrame,
    group_cols: list[str],
    agg_exprs: Mapping[str, Mapping[str, object]],
) -> dict[str, DataFrame]:
    """Fuse marts that share a grouping key into ONE aggregation pass.

    ``agg_exprs`` maps mart name -> {output alias: aggregate Column};
    every expression is computed in a single
    ``groupBy(group_cols).agg(...)`` (one shuffle over the input instead
    of one per mart), then each mart projects its own columns. This is
    the scale-path alternative to caching.
    """
    all_exprs = [
        expr.alias(f"{name}__{alias}")
        for name, exprs in agg_exprs.items()
        for alias, expr in exprs.items()
    ]
    fused = input_df.groupBy(*group_cols).agg(*all_exprs)
    out = {}
    for name, exprs in agg_exprs.items():
        selected = group_cols + [
            f"`{name}__{alias}`" for alias in exprs
        ]
        mart = fused.select(*selected)
        for alias in exprs:
            mart = mart.withColumnRenamed(f"{name}__{alias}", alias)
        out[name] = mart
    return out
