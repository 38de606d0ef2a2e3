"""Corpus snapshot diffing: classify every document id across two
snapshots of a dataset as added / removed / changed / unchanged — the
audit primitive behind dataset versioning ("what moved between last
month's crawl and this one?") and incremental-pipeline validation
("the delta the ingest claims it applied is the delta that landed").

Scale shape (100 TB snapshots): each side collapses to
``(id, content_digest)`` — a 32-char projection, the payload never
moves — then one full-outer shuffle join keyed on the id. Both sides
are keyed identically, so at scale this is the minimal movement the
semantics allow; with both snapshots bucketed by id
(``io/bucketed.py``) the join is exchange-free. Status is a pure
projection over the join result.

Digest semantics are shared with the dedup family
(``dedup.content_digest``: NULL-safe, multi-column with an explicit
separator), so "changed" here and "duplicate" there agree on what
content identity means.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import content_digest


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    content_cols: list[str],
) -> DataFrame:
    """One row per document id appearing in either snapshot:
    ``(id_col, status)`` with status in
    ``{'added', 'removed', 'changed', 'unchanged'}``.

    A duplicate id WITHIN a snapshot is a data error this operator
    surfaces rather than hides: ids are digest-reduced with
    ``count(*)`` attached, and any id whose count exceeds 1 on either
    side gets status ``'ambiguous'`` instead of a content verdict.
    """
    def keyed(df: DataFrame, side: str) -> DataFrame:
        return df.groupBy(F.col(id_col)).agg(
            # min() is deterministic under duplicate ids; the n-column
            # flags them so no verdict is silently wrong.
            F.min(content_digest(content_cols)).alias(f"__d_{side}"),
            F.count(F.lit(1)).alias(f"__n_{side}"),
        )

    joined = keyed(old, "old").join(keyed(new, "new"), id_col, "full_outer")
    status = (
        F.when(
            (F.coalesce(F.col("__n_old"), F.lit(0)) > 1)
            | (F.coalesce(F.col("__n_new"), F.lit(0)) > 1),
            F.lit("ambiguous"),
        )
        .when(F.col("__d_old").isNull(), F.lit("added"))
        .when(F.col("__d_new").isNull(), F.lit("removed"))
        .when(F.col("__d_old") == F.col("__d_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(F.col(id_col), status.alias("status"))


# 2^61: headroom so a per-row fold (< 2^60) times any realistic group
# size sums inside DECIMAL(38,0) and the reduced value still fits BIGINT.
_CHECKSUM_MOD = 1 << 61


def release_manifest(
    df: DataFrame,
    group_cols: list[str] | str,
    id_col: str,
    content_cols: list[str],
) -> DataFrame:
    """Content-addressed release audit: one row per group with
    ``(group_cols..., n_rows, id_sum, content_checksum)``.

    The checksum is an ORDER-INSENSITIVE reduction of per-row content
    digests — each row's ``content_digest`` folds to an integer (first
    15 md5 hex chars) and the group sums them mod 2^61 — so two
    independently produced copies of a release (different engine, run,
    partitioning, row order) agree on the checksum iff they agree on
    the multiset of row contents. This is the publish-side complement
    of :func:`snapshot_diff`: diff tells you WHAT moved between two
    snapshots you hold; the manifest is the portable fingerprint you
    ship WITH a release so a consumer can verify their copy without
    ever seeing yours.

    Scale shape: one map-side-combined aggregation over a pure
    projection (md5 + substring + integer fold) — no joins, no second
    pass, payload never shuffles beyond the grouped partial sums. The
    fold is exact-integer end to end (DECIMAL(38,0) partial sums), so
    any SQL engine can restate it verbatim — no float drift surface.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    folded = F.conv(
        F.substring(content_digest(content_cols), 1, 15), 16, 10
    ).cast("decimal(38,0)")
    mod = F.lit(_CHECKSUM_MOD).cast("decimal(38,0)")
    return df.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_rows"),
        # id_sum gets the same 2^61 reduction as the content checksum:
        # an unreduced cast would go NULL on int64 overflow (non-ANSI)
        # for exactly the group sizes this module claims to serve.
        F.pmod(F.sum(F.col(id_col).cast("decimal(38,0)")), mod)
        .cast("long")
        .alias("id_sum"),
        F.pmod(F.sum(folded), mod).cast("long").alias("content_checksum"),
    )


def content_digest_sql(content_cols: list[str]) -> str:
    """DuckDB twin of ``dedup.content_digest`` — the SAME NULL sentinel
    (``chr(0)||'NULL'||chr(0)``) and ``chr(31)`` separator, so NULL
    content contributes to the checksum instead of md5(NULL) propagating
    NULL and silently vanishing from the oracle's sum."""
    parts = ", ".join(
        f"coalesce(CAST({c} AS VARCHAR), chr(0) || 'NULL' || chr(0))"
        for c in content_cols
    )
    return f"md5(concat_ws(chr(31), {parts}))"


def id_sum_sql(id_sql: str) -> str:
    """DuckDB twin of the reduced id checksum. Double-mod because
    DuckDB's ``%`` is sign-preserving while the engine uses ``pmod`` —
    a negative id sum must reduce identically on both sides."""
    s = f"sum(CAST({id_sql} AS HUGEINT))"
    return f"CAST((({s} % {_CHECKSUM_MOD}) + {_CHECKSUM_MOD}) % {_CHECKSUM_MOD} AS BIGINT)"


def content_checksum_sql(digest_sql: str) -> str:
    """DuckDB twin of the manifest checksum for a given digest
    expression — HUGEINT partial sums, same 2^61 reduction. Pass
    :func:`content_digest_sql`'s output (NOT a bare ``md5(col)``: on a
    NULL value md5 propagates NULL and ``sum`` would silently skip the
    row, diverging from the engine's sentinel digest)."""
    return (
        f"CAST(sum((('0x' || substr({digest_sql}, 1, 15))::BIGINT)::HUGEINT)"
        f" % {_CHECKSUM_MOD} AS BIGINT)"
    )


def snapshot_diff_summary(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    content_cols: list[str],
) -> DataFrame:
    """Per-status counts and id checksums — the one-screen audit row.
    Columns: ``status``, ``n_docs``, ``id_sum`` (order-insensitive
    checksum so two engines can compare WHICH ids landed in each
    bucket, not just how many)."""
    diff = snapshot_diff(old, new, id_col, content_cols)
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(id_col).cast("decimal(38,0)")).cast("long").alias("id_sum"),
    )
