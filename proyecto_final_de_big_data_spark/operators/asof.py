"""Temporal joins the built-in operator set lacks: as-of (point-in-time)
join and interval (range) join, both expressed in shuffle-bounded
shapes that survive 100 TB.

Neither exists in the reference (its joins are 4 tiny equi-joins,
``dashboards/streamlit_app.py:329-331,357-359,617,905``) — these are the
temporal primitives a training-data pipeline needs (attach the latest
feature snapshot / label version to each example as of its event time;
join events into validity windows) and they are *the* textbook case
where the naive formulation (a theta-join) planwise degenerates to
BroadcastNestedLoopJoin / CartesianProduct, which dies at scale.

Scale shapes used here:

- **as-of join**: union both sides tagged, ONE shuffle by key, one
  in-partition sort, a running ``last(..., ignorenulls=True)`` window
  carries the most recent right-side payload forward onto each left
  row. No per-row subquery, no range scan, no nested loop; cost is the
  same as a sort-merge join on the key. Skewed keys salt exactly like
  any other single-key shuffle.
- **interval join**: both sides are bucketed to a fixed time grain
  (coarse enough that an interval spans few buckets), equi-joined on
  (key, bucket) — a plain hash join Catalyst can shuffle or broadcast —
  then the exact range predicate filters within the bucket matches.
  Work is O(matches + bucket collisions), never O(|L|·|R|).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: Sequence[str],
    inclusive: bool = True,
) -> DataFrame:
    """For every left row, attach ``right_payload`` of the LATEST right
    row with the same ``key`` and ``right_ts <= left_ts`` (strict ``<``
    when ``inclusive`` is False). Left rows with no prior right row keep
    NULL payload (left-outer as-of semantics, matching ASOF LEFT JOIN).

    Right rows must be unique per (key, right_ts) — pre-aggregate the
    right side to that grain first; otherwise which same-timestamp row
    wins is tie-broken arbitrarily (the same caveat every as-of engine
    carries).

    Implementation: tag and union both sides, shuffle once by ``key``,
    sort within the partition by (ts, tag) — right rows sort BEFORE left
    rows at equal ts when inclusive, AFTER when exclusive — and a
    running ``last(payload, ignorenulls=True)`` window carries the
    newest right payload onto each left row. One Exchange total; no
    nested-loop join in the plan (claimed on ``events_asof_last_order``,
    ``queries/temporal.py``).

    NULL-key semantics follow SQL equality (``NULL = NULL`` is not
    true): NULL-key right rows are dropped before the union, so a
    NULL-key left row always carries a NULL payload — matching DuckDB's
    ``ASOF JOIN ... ON l.k = r.k``, which never matches NULL keys.
    Without the filter the window's ``partitionBy`` would group NULL
    keys together and silently pair them.
    """
    right_tag, left_tag = (0, 1) if inclusive else (1, 0)
    lcols = list(left.columns)
    l_tagged = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(left_tag).alias("__tag"),
        F.struct(*lcols).alias("__left"),
    )
    r_tagged = right.where(F.col(key).isNotNull()).select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(right_tag).alias("__tag"),
        F.struct(*[F.col(c) for c in right_payload]).alias("__payload"),
    )
    unioned = l_tagged.withColumn(
        "__payload", F.lit(None).cast(r_tagged.schema["__payload"].dataType)
    ).unionByName(
        r_tagged.withColumn("__left", F.lit(None).cast(l_tagged.schema["__left"].dataType))
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn("__last_payload", F.last("__payload", ignorenulls=True).over(w))
    return carried.filter(F.col("__tag") == left_tag).select(
        *[F.col("__left")[c].alias(c) for c in lcols],
        *[F.col("__last_payload")[c].alias(c) for c in right_payload],
    )


def _grain_seconds(bucket: str) -> int:
    """Seconds per grain for the supported bucket specs ('N unit')."""
    n, unit = bucket.split()
    mult = {
        "second": 1,
        "seconds": 1,
        "minute": 60,
        "minutes": 60,
        "hour": 3600,
        "hours": 3600,
        "day": 86400,
        "days": 86400,
    }[unit]
    return int(n) * mult


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str | None,
    left_ts: str,
    right_start: str,
    right_end: str,
    bucket: str = "1 day",
    how: str = "inner",
) -> DataFrame:
    """Join each left row into every right interval containing it:
    ``right_start <= left_ts < right_end`` (plus ``key`` equality when
    ``key`` is given). Returns left columns + right columns.

    Naively this is a theta-join (nested loop). Here both sides land on
    a fixed time grid: the left row in one bucket, each right interval
    in ``ceil(duration / grain)`` buckets (``sequence`` + ``explode``),
    and the join becomes an equi-join on (key, bucket) + the exact range
    filter within bucket matches. Pick ``bucket`` near the typical
    interval length — a shorter grain explodes the right side, a longer
    one inflates per-bucket candidate lists; both degrade gracefully,
    neither is O(|L|·|R|). Degenerate intervals (start >= end, or either
    bound NULL) never match: the sequence bounds are NULL-coalesced and
    clamped with ``greatest`` so such a row emits exactly ONE inert
    bucket row (the range predicate can never hold) instead of a
    multi-million-row descending sequence (end << start) or a silent
    explode-drop (NULL bound) — and, unlike a pre-filter, the row still
    surfaces as unmatched under right/full outer joins, symmetrically
    for NULL-start and NULL-end.

    Duplicate avoidance: an interval spanning k buckets appears k times,
    but a left row joins it only in the left row's own single bucket, so
    no dedup pass is needed.

    Buckets are computed on ``unix_micros`` (the timestamp storage
    precision): the interval's last bucket is the one containing
    ``end − 1µs``, so a left row in the final, partially-covered second
    of a [start, end) window still meets its interval (a seconds-cast
    formulation drops that row when ``end`` has a fractional second and
    lands exactly on a grain boundary). TIMESTAMP_NTZ columns are cast
    to TIMESTAMP for the bucket math — both sides through the same cast,
    so the grid stays consistent; the session timezone should be a
    fixed-offset zone (the engine pins UTC) so the mapping is monotonic.
    """
    us = _grain_seconds(bucket) * 1_000_000

    def _micros(col: str):
        return F.unix_micros(F.col(col).cast("timestamp"))

    lb = left.withColumn("__bucket", F.floor(_micros(left_ts) / us))
    start_b = F.floor(_micros(right_start) / us)
    end_b = F.floor((_micros(right_end) - 1) / us)
    # NULL-bound symmetry: a right row with EITHER bound NULL emits
    # exactly one inert bucket row (the range predicate is NULL there,
    # so it can never match) instead of vanishing through
    # sequence(NULL, ...) -> NULL -> explode-drop. Inner-join results
    # are unchanged; under right/full outer joins both NULL-start and
    # NULL-end rows now consistently surface as unmatched.
    seq_start = F.coalesce(start_b, end_b, F.lit(0))
    # Clamp so stop >= start: Spark generates a DESCENDING sequence when
    # stop < start, which would explode a corrupted end<=start interval
    # into millions of bucket rows.
    seq_stop = F.greatest(F.coalesce(end_b, start_b, F.lit(0)), seq_start)
    rb = right.withColumn(
        "__bucket",
        F.explode(F.sequence(seq_start, seq_stop)),
    ).select(
        *([F.col(key).alias("__rk")] if key else []),
        F.col("__bucket"),
        *[F.col(c) for c in right.columns if c != key],
    )
    # Range predicate lives IN the join condition (not a post-filter) so
    # outer variants keep their unmatched left rows.
    cond = (
        (lb["__bucket"] == rb["__bucket"])
        & (lb[left_ts] >= rb[right_start])
        & (lb[left_ts] < rb[right_end])
    )
    if key is not None:
        cond = cond & (lb[key] == rb["__rk"])
    return lb.join(rb, cond, how).drop("__bucket", *(["__rk"] if key else []))
