"""Corpus release publishing: the last mile after curation.

A training-data release is more than the parquet: consumers need the
audit artifacts to trust and verify their copy. ``publish_release``
writes, next to the data, the three the engine already knows how to
compute —

- ``_manifest``: the content-addressed fingerprint
  (``operators/snapshot.py:release_manifest``) a consumer re-derives
  over their copy and compares, per (split, stratum) group;
- ``_profile``: the one-pass per-column table profile
  (``operators/profile.py``) — null rates, distincts, ranges;
- ``_quality``: the expectations report
  (``operators/expectations.py``) for the release's declared contract,
  evaluated on the data AS WRITTEN (reading back the sink, so the
  artifact describes what shipped, not what was intended).

Scale shape: the corpus is written ONCE (the curation sink); every
artifact is computed from read-back aggregations that reduce to one
row per group/column/rule — no second corpus-sized write, no driver
collect beyond the tiny reports. Artifacts are single-file sinks by
design (they're KB-scale summaries; ``coalesce(1)`` is the documented
exception for post-aggregation marts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.expectations import Rule, validate
from ..operators.profile import profile_columns
from ..operators.snapshot import release_manifest
from ..utils.rows import literal_rows


def publish_release(
    spark: SparkSession,
    data_root: str,
    out_root: str,
    id_col: str,
    content_cols: list[str],
    group_cols: list[str],
    rules: list[Rule] | None = None,
) -> dict:
    """Publish audit artifacts for the dataset at ``data_root`` into
    ``out_root`` and return a small summary dict. The data itself is
    whatever the curation sink wrote; this reads it back so the
    artifacts describe the bytes a consumer will actually fetch."""
    if not group_cols:
        raise ValueError("publish_release needs at least one manifest group column")
    back = spark.read.parquet(data_root)

    manifest = release_manifest(back, group_cols, id_col, content_cols)
    manifest.coalesce(1).write.mode("overwrite").json(f"{out_root}/_manifest")

    profile = profile_columns(back)
    profile.coalesce(1).write.mode("overwrite").json(f"{out_root}/_profile")

    summary: dict = {
        # Counted from the just-written KB-scale artifact, NOT by
        # re-running the corpus aggregation (manifest.count() would be a
        # third full scan purely for a summary integer).
        "n_groups": spark.read.json(f"{out_root}/_manifest").count(),
        "n_columns": len(back.columns),
    }
    if rules:
        # validate() is lazy since r11: collect the tiny one-row-per-rule
        # report ONCE and reuse the rows for both the persisted artifact
        # and the failure summary (writing the lazy frame AND collecting
        # it would run the corpus aggregation twice).
        report_rows = validate(back, rules).collect()
        literal_rows(
            spark, report_rows, "check string, n_violations long, passed boolean"
        ).coalesce(1).write.mode("overwrite").json(f"{out_root}/_quality")
        failed = [r["check"] for r in report_rows if not r["passed"]]
        summary["quality_failed"] = failed
    return summary


def read_manifest(spark: SparkSession, out_root: str) -> DataFrame:
    """The shipped fingerprint, for consumer-side verification:
    recompute ``release_manifest`` over your copy and anti-join — any
    row in either direction is a divergent group."""
    return spark.read.json(f"{out_root}/_manifest")


def verify_release(
    spark: SparkSession,
    data_root: str,
    out_root: str,
    id_col: str,
    content_cols: list[str],
    group_cols: list[str],
) -> DataFrame:
    """Consumer-side check: groups whose recomputed fingerprint differs
    from the shipped manifest (empty frame == verified copy). Both
    sides are one-row-per-group summaries, so the comparison is a
    metadata-scale full-outer join regardless of corpus size."""
    shipped = read_manifest(spark, out_root).select(
        *group_cols, "n_rows", "id_sum", "content_checksum"
    )
    mine = release_manifest(
        spark.read.parquet(data_root), group_cols, id_col, content_cols
    )
    return _diverging(mine, shipped, group_cols, ["n_rows", "id_sum", "content_checksum"])


def _diverging(
    mine: DataFrame, shipped: DataFrame, group_cols: list[str], cmp_cols: list[str]
) -> DataFrame:
    from pyspark.sql import functions as F

    m = mine.select(
        *[F.col(c).alias(f"__mg_{c}") for c in group_cols],
        *[F.col(c).alias(f"__m_{c}") for c in cmp_cols],
    )
    s = shipped.select(
        *[F.col(c).alias(f"__sg_{c}") for c in group_cols],
        *[F.col(c).alias(f"__s_{c}") for c in cmp_cols],
    )
    # NULL-SAFE group join: a NULL group value (e.g. lang=NULL) is a
    # legitimate manifest group; plain equality would leave it unmatched
    # on both sides and flag an untampered copy as divergent.
    on = None
    for c in group_cols:
        cond = F.col(f"__mg_{c}").eqNullSafe(F.col(f"__sg_{c}"))
        on = cond if on is None else (on & cond)
    joined = m.join(s, on, "full_outer")
    mismatch = None
    for c in cmp_cols:
        cond = ~F.col(f"__m_{c}").eqNullSafe(F.col(f"__s_{c}"))
        mismatch = cond if mismatch is None else (mismatch | cond)
    return joined.where(mismatch).select(
        *[
            F.coalesce(F.col(f"__mg_{c}"), F.col(f"__sg_{c}")).alias(c)
            for c in group_cols
        ],
        *[F.col(f"__m_{c}").alias(f"mine_{c}") for c in cmp_cols],
        *[F.col(f"__s_{c}").alias(f"shipped_{c}") for c in cmp_cols],
    )
