"""Behavioral analytics over event streams: strict-order funnels and
weekly retention cohorts — the two dashboard staples every
product-analytics engine ships (Amplitude/Mixpanel territory),
expressed as plain shuffled-on-the-user-key DataFrame plans.

Scale shape (100 TB of events): every stage is keyed on the
high-cardinality ``user_id`` — per-user min aggregations and user-
keyed equi-joins, so work distributes by user and no stage needs a
global order. The funnel's step tables shrink monotonically (step k+1
joins only users who completed step k), so later joins are smaller,
never bigger. Retention reuses ONE user-key shuffle for the cohort
window and then aggregates at (cohort, offset) cardinality —
weeks², tiny.

Determinism: timestamps compare strictly (a same-instant pair does
NOT advance a strict funnel), and week indices are TRUNCATING integral
epoch-division (Spark ``div`` == DuckDB integer ``//``, both rounding
toward zero — verified for negative pre-1970 epochs) so every engine
lands on the same week with no timezone/locale week-start semantics
involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils.caching import pin

WEEK_SECONDS = 7 * 24 * 3600


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_seconds: int | None = None,
) -> DataFrame:
    """Strict sequential funnel: a user completes step k+1 only with an
    event of that type STRICTLY AFTER their earliest completion of
    step k. Returns one row per step:
    ``(step_idx, step, n_users, conversion)`` — ``n_users`` is
    monotonically non-increasing by construction and ``conversion`` is
    ``n_users / n_users(step 0)`` rounded to 6 decimals (NULL when the
    funnel entry step is empty), the number every dashboard plots.

    The whole funnel is ONE DataFrame plan / ONE action: each step's
    per-user frame is pinned (a lazy local checkpoint), so
    step k is evaluated exactly once even though it feeds both its own
    count branch and step k+1's join — without the checkpoint, an
    N-step funnel re-scans the event source O(N²) times. The final
    union therefore contains exactly one ``Scan ExistingRDD`` per step
    and ZERO scans of the raw event source (asserted in
    ``tests/test_funnel.py``). The driver holds no per-row state.
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    if max_seconds is not None and max_seconds <= 0:
        raise ValueError(f"max_seconds must be > 0, got {max_seconds}")
    from functools import reduce

    from pyspark.sql import Window

    # Earliest completion time per user, per step, built iteratively:
    # step 0 is a plain min; step k filters to events after the user's
    # step k-1 time (user-keyed equi-join) before taking the min. The
    # lazy localCheckpoint truncates lineage at first materialisation
    # and persists the step frame (MEMORY_AND_DISK), so each step is
    # computed once per action, never re-derived from step 0.
    # With ``max_seconds`` the entry-anchored deadline rides the SAME
    # frames as one extra integer-microsecond column (__d) — one
    # implementation serves both gates, so a fix to the step machinery
    # can never fork (the r8 review's duplication finding).
    windowed = max_seconds is not None
    entry = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t"))
    )
    carry = [user_col, "__t"]
    if windowed:
        # cast: unix_micros rejects TIMESTAMP_NTZ; the session is
        # UTC-pinned so the wall clock IS the instant (the
        # operators/rolling.py discipline)
        entry = entry.withColumn(
            "__d",
            F.unix_micros(F.col("__t").cast("timestamp"))
            + F.lit(int(max_seconds) * 1_000_000),
        )
        carry = [user_col, "__t", "__d"]
    reached = pin(entry)
    frames = [reached]
    for step in steps[1:]:
        nxt = events.filter(F.col(type_col) == step).join(
            reached.select(*carry), user_col
        )
        cond = F.col(ts_col) > F.col("__t")
        if windowed:
            cond = cond & (
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                <= F.col("__d")
            )
        aggs = [F.min(ts_col).alias("__t")]
        if windowed:
            aggs.append(F.min("__d").alias("__d"))
        reached = pin(
            nxt.filter(cond)
            .groupBy(user_col)
            .agg(*aggs)
        )
        frames.append(reached)
    branches = [
        f.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("step_idx"),
            F.lit(s).alias("step"),
            F.col("n_users"),
        )
        for i, (s, f) in enumerate(zip(steps, frames))
    ]
    out = reduce(DataFrame.unionAll, branches)
    # Conversion vs the entry step. The window runs over exactly
    # len(steps) rows — answer-scale, the single-partition sort is free.
    entry = F.first("n_users").over(
        Window.orderBy("step_idx").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return out.withColumn(
        "conversion",
        F.when(entry > 0, F.round(F.col("n_users") / entry, 6)),
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week
    (cohort), counted once per later week they return. Returns
    (cohort_week, week_offset, n_users) with week indices as truncating
    integral epoch-weeks — engine-portable, no week-start semantics."""
    from pyspark.sql import Window

    # Integer division via ``div`` (matches the DuckDB oracle's ``//``):
    # both truncate toward zero on longs (NOT Python's floor — they
    # differ for pre-1970 timestamps, as the module docstring states),
    # and staying in exact long arithmetic avoids the double
    # intermediate whose 2^53 precision loss the r6 ADVICE flagged.
    week = F.expr(
        f"unix_timestamp(`{ts_col}`) div {WEEK_SECONDS}"
    ).cast("long")
    w = Window.partitionBy(user_col)
    staged = events.select(
        F.col(user_col), week.alias("__week")
    ).withColumn("__cohort", F.min("__week").over(w))
    return (
        staged.select(user_col, "__cohort", "__week")
        .distinct()
        .groupBy(
            F.col("__cohort").alias("cohort_week"),
            (F.col("__week") - F.col("__cohort")).alias("week_offset"),
        )
        .agg(F.count_distinct(user_col).alias("n_users"))
    )


def funnel_counts_within(
    events: DataFrame,
    steps: list[str],
    max_seconds: int,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """:func:`funnel_counts` with a CONVERSION WINDOW: every later step
    must also land within ``max_seconds`` of the user's funnel ENTRY
    (their earliest step-0 event) — the "purchased within 3 days of
    first view" semantics product dashboards mean by conversion rate,
    which the unwindowed funnel overstates by crediting arbitrarily
    late completions.

    Anchor choice is the ENTRY time (not the previous step): a window
    per hop would let an N-step funnel stretch N·W long. Thin wrapper
    over :func:`funnel_counts` — literally the same step machinery,
    plan guarantees included; the deadline is one extra
    integer-microsecond column on the same user-keyed joins.
    Strictness is preserved: an event at exactly the deadline counts
    (``<=``), a same-instant repeat of the prior step does not (``>``).
    """
    if max_seconds is None or max_seconds <= 0:
        raise ValueError(f"max_seconds must be > 0, got {max_seconds}")
    return funnel_counts(
        events,
        steps,
        user_col=user_col,
        type_col=type_col,
        ts_col=ts_col,
        max_seconds=max_seconds,
    )
