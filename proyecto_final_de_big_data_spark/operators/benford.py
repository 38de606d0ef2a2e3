"""Benford first-digit screening — the classic forensic data-quality
check: natural multi-scale magnitudes (transaction amounts, file
sizes, populations) put digit d first with probability log10(1+1/d);
fabricated or truncated feeds don't. One more lens for the
:mod:`.expectations` / :mod:`.profile` data-quality family.

Scale shape (100 TB): the digit is a pure map-side expression (string
slice of the absolute value — no log/pow round-trip, so no float
boundary jitter at exact powers of ten), one map-side-combined
``groupBy`` over ≤9 keys, and the expected-frequency join is a 9-row
literal spine. The chi-square contribution per digit ships with each
row; the statistic is their answer-scale sum.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..utils.rows import literal_rows

BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_profile(
    spark: SparkSession,
    df: DataFrame,
    col: str,
    decimals: int = 6,
) -> DataFrame:
    """``(digit, n, observed_frac, expected_frac, chi2_part)`` for the
    first significant digit of ``abs(col)`` — 9 rows, every digit
    present (zero-count digits still get their expected mass, which is
    what makes the chi-square honest). NULLs, zeros, and non-finite
    values are excluded from n.

    The first significant digit is taken lexically — cast the absolute
    value to ``decimal(38,18)``, render as a plain decimal string, take
    the first char in 1-9. No ``pow(10, floor(log10 x))``
    reconstruction (which misassigns values like 999.999... when log10
    lands on the wrong side of an integer at the ULP boundary), and a
    first digit can never flip across the decimal rounding because the
    shortest/exact renderings of a double only diverge in low-order
    digits. Domain: |x| in (1e-18, 1e20) — outside that the decimal
    cast under/overflows and the value is excluded like a NULL.
    """
    x = F.abs(F.col(col).cast("double"))
    ok = x.isNotNull() & (x > 0) & ~F.isnan(x)
    # try_cast, not cast: under ANSI (Spark 4 default) a plain decimal
    # cast RAISES on |x| >= 1e20 and ''.cast(int) raises on the empty
    # regexp match for |x| < 1e-18 — one bad value would kill a 100-TB
    # scan instead of being excluded as documented.
    digit_str = F.regexp_extract(
        x.try_cast("decimal(38,18)").cast("string"), r"([1-9])", 1
    )
    first = F.nullif(digit_str, F.lit("")).try_cast("int")
    counts = (
        df.filter(ok)
        .select(first.alias("digit"))
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = literal_rows(
        spark,
        [(d, BENFORD_P[d]) for d in range(1, 10)],
        "digit int, expected_frac double",
    )
    # Grand total as an unpartitioned window over the 9-row joined
    # frame — a totals cross-join would re-plan the counts lineage and
    # scan the facts twice.
    from pyspark.sql import Window

    tot = F.sum(F.coalesce(F.col("n"), F.lit(0))).over(Window.partitionBy())
    # Zero-total guard: screening a column whose every value was
    # excluded (all NULL/0/NaN) must yield NULL fractions, not an ANSI
    # DIVIDE_BY_ZERO.
    safe_tot = F.when(F.col("__tot") > 0, F.col("__tot"))
    obs = F.coalesce(F.col("n"), F.lit(0)).cast("double") / safe_tot
    return (
        spine.join(counts, "digit", "left")
        .withColumn("__tot", tot)
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.round(obs, decimals).alias("observed_frac"),
            F.round(F.col("expected_frac"), decimals).alias("expected_frac"),
            # n_total * (obs - exp)^2 / exp — the per-digit chi-square term
            F.round(
                safe_tot
                * F.pow(obs - F.col("expected_frac"), 2)
                / F.col("expected_frac"),
                decimals,
            ).alias("chi2_part"),
        )
        .orderBy("digit")
    )
