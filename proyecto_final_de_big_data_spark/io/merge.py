"""Partition-pruned CDC MERGE into a partitioned parquet dataset.

The reference writes its lake once and never mutates it; a production
corpus is maintained by change feeds — late-arriving corrections,
takedown deletions, re-crawled documents. Without a table format
(Delta/Iceberg), the idiomatic Spark shape for "apply this batch of
upserts and deletes" is the Hive-era partition swap, and its scale
story is entirely about what it DOESN'T touch:

- **Only affected partitions move.** The set of partitions a change
  batch touches is a delta-scale aggregation of the batch itself
  (collected at partition granularity — the same metadata-scale
  driver read a Delta transaction log replay performs). The base is
  then read ``WHERE partition IN (affected)``: partition pruning at
  the scan, so a 10 000-partition table with a 3-partition change
  batch reads 3 partitions.
- **The base is never shuffled.** Merge is one LEFT ANTI join of the
  pruned base against the (broadcast) change-key set — dropping
  replaced and deleted rows map-side — plus a ``unionByName`` of the
  upsert payload. With the change batch broadcast, the only wide work
  is the final partitioned write.
- **The swap is metadata.** Output lands in a staging directory; each
  affected partition directory is then swapped in (live dir removed,
  staged dir moved) — a per-partition filesystem rename, never a data
  copy. A partition whose content merges to zero rows is REMOVED —
  the correctness hole of ``partitionOverwriteMode=dynamic``, which
  silently leaves a stale partition in place when the new result has
  no rows for it (nothing is written, so nothing is overwritten).
  Staging also sidesteps Spark's (correct) refusal to overwrite a
  path it is simultaneously reading.

Semantics (documented contract, validated before any write):

- ``op`` is ``'upsert'`` or ``'delete'``; anything else raises.
- After optional ``seq_col`` collapse (latest change per
  ``(id, partition)`` wins — standard CDC compaction), an id may have
  at most ONE upsert row batch-wide; delete payload columns are
  ignored (only the id matters).
- A row whose partition value CHANGES must arrive as a delete in the
  old partition plus an upsert in the new one (the tombstone recipe):
  pruning means the engine cannot see — by design — a base partition
  the batch never mentions.
- Deletes for absent ids are no-ops; upserts for absent ids are
  inserts (including into brand-new partitions).

Row counts for the merge report come from the parquet FOOTERS of the
files the merge just wrote — a metadata-only pass over this batch's
output, no second scan of the merged data. (An earlier version rode an
``Observation`` on the write; in Spark 4.1 the first registered
observation instantiates the session's non-serializable
``ObservationManager``, which then breaks ANY later job whose task
closure captures the session — MLlib fits, notably. Footer counts are
equally one-pass and leave no session residue.)
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..utils.caching import pin, scope

_OPS = ("upsert", "delete")
# Partition values must render to a directory token verbatim (no Hive
# percent-escaping on our side, so no ambiguity about what the swap
# phase should look for on disk).
_SAFE_PARTITION = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


@dataclass(frozen=True)
class MergeReport:
    """What a merge did: partitions touched/removed and row movement."""

    affected_partitions: tuple
    emptied_partitions: tuple
    n_upserts: int
    n_deletes: int
    n_output_rows: int


def _partition_token(value) -> str:
    """Directory token for a partition value (``col=<token>``)."""
    token = str(value)
    if value is None or not _SAFE_PARTITION.match(token):
        raise ValueError(
            f"partition value {value!r} does not render to a safe directory "
            "token; this merge supports plain scalar partition values "
            "(letters, digits, '.', '_', '-')"
        )
    return token


def _is_local(path: str) -> bool:
    return urlparse(path).scheme in ("", "file")


def _local_path(path: str) -> str:
    parsed = urlparse(path)
    return parsed.path if parsed.scheme == "file" else path


def _swap_partitions(
    spark: SparkSession,
    base_path: str,
    staging_path: str,
    partition_col: str,
    affected: list,
) -> list:
    """Move each affected partition directory from staging into the
    live dataset (remove-then-rename — metadata ops only) and return
    the partition values whose merged content was empty (their live
    directories are removed and nothing replaces them)."""
    emptied = []
    if _is_local(base_path):
        base, staging = _local_path(base_path), _local_path(staging_path)
        for value in affected:
            dirname = f"{partition_col}={_partition_token(value)}"
            live, staged = os.path.join(base, dirname), os.path.join(staging, dirname)
            if os.path.isdir(live):
                shutil.rmtree(live)
            if os.path.isdir(staged):
                shutil.move(staged, live)
            else:
                emptied.append(value)
        return emptied
    # Cluster filesystems (HDFS / object-store committers): same
    # remove-then-rename through the Hadoop FileSystem API.
    jvm = spark._jvm  # pragma: no cover - exercised only on cluster filesystems
    jbase = jvm.org.apache.hadoop.fs.Path(base_path)  # pragma: no cover
    jfs = jbase.getFileSystem(spark._jsc.hadoopConfiguration())  # pragma: no cover
    for value in affected:  # pragma: no cover
        dirname = f"{partition_col}={_partition_token(value)}"
        live = jvm.org.apache.hadoop.fs.Path(base_path, dirname)
        staged = jvm.org.apache.hadoop.fs.Path(staging_path, dirname)
        if jfs.exists(live):
            jfs.delete(live, True)
        if jfs.exists(staged):
            jfs.rename(staged, live)
        else:
            emptied.append(value)
    return emptied  # pragma: no cover


def _remove_dir(spark: SparkSession, path: str) -> None:
    """Best-effort recursive delete of a staging directory."""
    if _is_local(path):
        shutil.rmtree(_local_path(path), ignore_errors=True)
    else:  # pragma: no cover - cluster filesystems
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)


def _staged_row_count(spark: SparkSession, staging: str) -> int:
    """Rows just written to ``staging``, summed from parquet footer
    metadata — driver-side, bounded by the file count of THIS batch's
    affected partitions, no data read and no Spark job. The cluster-
    filesystem fallback is a zero-column count (vectorized scan that
    materializes nothing), still bounded by the batch's output."""
    if _is_local(staging):
        import pyarrow.parquet as pq

        total = 0
        for root, _dirs, files in os.walk(_local_path(staging)):
            for name in files:
                if name.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(root, name)
                    ).metadata.num_rows
        return total
    return spark.read.parquet(staging).count()  # pragma: no cover - cluster fs


def _collapse_by_seq(
    changes: DataFrame, id_col: str, partition_col: str, seq_col: str
) -> DataFrame:
    """Latest change per (id, partition) wins. Keyed on the PAIR, not
    the id alone, so the tombstone half of a partition-move (delete in
    the old partition, upsert in the new) survives collapse."""
    w = Window.partitionBy(id_col, partition_col).orderBy(F.col(seq_col).desc())
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", seq_col)
    )


def merge_changes(
    spark: SparkSession,
    base_path: str,
    changes: DataFrame,
    *,
    id_col: str,
    partition_col: str,
    op_col: str = "op",
    seq_col: str | None = None,
    broadcast_changes: bool = True,
) -> MergeReport:
    """Apply a CDC batch (upserts + deletes) to the partitioned parquet
    dataset at ``base_path``, rewriting only the partitions the batch
    touches. See the module docstring for the semantics contract.

    HARD PRECONDITION — ``id_col`` is unique across the whole base
    dataset, not merely within a partition. The anti-join drops base
    rows by id alone across ALL affected partitions, so if the same id
    lived in two partitions and the batch touched both, the copy in
    the partition the change did NOT target would be silently dropped.
    This is the standard CDC key contract (the id is the table's
    primary key); callers with partition-scoped ids must merge on a
    composite id.

    Failure atomicity: the staged write is all-or-nothing (a write
    failure leaves the live dataset untouched and cleans up staging).
    The swap phase is remove-then-rename per partition and inherently
    non-atomic across partitions — if it fails partway, staging is
    LEFT IN PLACE as the manual-recovery copy and the raised error
    names the staging path and the partitions in flight.

    ``broadcast_changes`` keeps the anti-join map-side (the pruned base
    never shuffles); set it False only when a single change batch is
    too large to broadcast — at which point AQE picks the strategy.
    """
    if seq_col is not None:
        changes = _collapse_by_seq(changes, id_col, partition_col, seq_col)
    # The merge runs its own actions and returns scalars only, so the
    # pin below lives in this function's own scope.
    with scope():
        # Pin the change batch (lazy localCheckpoint, the house barrier):
        # it is referenced FOUR times below (validation aggregate, the
        # change-key anti-join side, the upsert payload, and — pre-r12 — a
        # separate affected-partitions collect), so an unpinned batch re-ran
        # the caller's whole change-derivation subtree once per reference
        # (measured in the cdc_merge_contract event logs: the fixture's
        # base-table scan + three filter branches repeated per action). The
        # batch is delta-scale by contract (broadcastable), so the pin is
        # bounded. The validation aggregate below materializes it.
        changes = pin(changes)

        op = F.col(op_col)
        # One delta-scale aggregation validates the whole batch before any
        # base read or write: op-domain, partition nullability, and the
        # id-uniqueness rules the anti-join + union semantics rely on. The
        # affected-partition set rides the SAME aggregate (collect_set is
        # bounded by distinct partition values — metadata scale), deleting
        # the separate partition-granularity collect job the pre-r12
        # version ran (guide §5 — one driver round trip, not two).
        v = changes.agg(
            F.count(F.lit(1)).alias("n_changes"),
            F.sum(F.when(~op.isin(*_OPS), 1).otherwise(0)).alias("n_bad_ops"),
            F.sum(F.when(F.col(partition_col).isNull(), 1).otherwise(0)).alias("n_null_parts"),
            F.sum(F.when(op == "upsert", 1).otherwise(0)).alias("n_upserts"),
            F.count_distinct(F.when(op == "upsert", F.col(id_col))).alias("n_upsert_ids"),
            F.sum(F.when(op == "delete", 1).otherwise(0)).alias("n_deletes"),
            F.count_distinct(
                F.when(op == "delete", F.struct(id_col, partition_col))
            ).alias("n_delete_keys"),
            F.collect_set(partition_col).alias("partitions"),
        ).collect()[0]
        if v["n_changes"] == 0:
            return MergeReport((), (), 0, 0, 0)
        if v["n_bad_ops"]:
            raise ValueError(
                f"{v['n_bad_ops']} change rows carry an op outside {_OPS} "
                f"(column {op_col!r})"
            )
        if v["n_null_parts"]:
            raise ValueError(
                f"{v['n_null_parts']} change rows have a NULL {partition_col!r}; "
                "partition-pruned merge cannot route them"
            )
        if v["n_upserts"] != v["n_upsert_ids"]:
            raise ValueError(
                f"{v['n_upserts'] - v['n_upsert_ids']} duplicate upsert id(s) in "
                "the batch; pass seq_col so the latest change per key wins, or "
                "pre-collapse the feed"
            )
        if v["n_deletes"] != v["n_delete_keys"]:
            raise ValueError(
                "duplicate delete rows for the same (id, partition); pass "
                "seq_col so the latest change per key wins, or pre-collapse the feed"
            )

        # Partition-granularity set: bounded by partitions-touched, not
        # rows (the merge analogue of reading a table-format commit log) —
        # collected by the validation aggregate above, no second job.
        affected = sorted(v["partitions"])
        for value in affected:
            _partition_token(value)  # fail before any write, not mid-swap

        base = spark.read.parquet(base_path).where(F.col(partition_col).isin(affected))
        missing = [c for c in base.columns if c not in changes.columns]
        if missing:
            raise ValueError(f"changes are missing base columns: {missing}")

        # Enforce the HARD PRECONDITION above instead of merely documenting
        # it (VERDICT r6 item 7): if any id appears twice across the
        # affected partitions, the anti-join would silently drop the copy
        # the batch did not target. One answer-scale aggregate over the
        # already-pruned base slice — it reads only the partitions the
        # merge rewrites anyway.
        u = base.agg(
            F.count(id_col).alias("n_rows"),
            F.count_distinct(id_col).alias("n_ids"),
        ).collect()[0]
        if u["n_rows"] != u["n_ids"]:
            raise ValueError(
                f"{u['n_rows'] - u['n_ids']} duplicate {id_col!r} value(s) "
                f"across the affected base partitions {affected}; the merge "
                "id must be unique table-wide (use a composite id for "
                "partition-scoped keys) or the anti-join would drop rows in "
                "partitions the batch did not target"
            )

        change_keys = changes.select(id_col).distinct()
        if broadcast_changes:
            change_keys = F.broadcast(change_keys)
        survivors = base.join(change_keys, id_col, "left_anti")
        upserts = changes.where(op == "upsert").select(*base.columns)
        merged = survivors.unionByName(upserts)

        staging = base_path.rstrip("/") + f"__merge_staging_{uuid.uuid4().hex[:8]}"
        try:
            merged.write.partitionBy(partition_col).mode("overwrite").parquet(staging)
            n_output_rows = _staged_row_count(spark, staging)
        except BaseException:
            # Write/count failed: the live dataset is untouched and staging
            # holds only junk — safe to clean up.
            _remove_dir(spark, staging)
            raise
        try:
            emptied = _swap_partitions(spark, base_path, staging, partition_col, affected)
        except BaseException as e:
            # Swap failed partway: some live partition dirs may already be
            # removed, and staging holds the ONLY copy of their replacement
            # data. Never delete it here — leave it for manual recovery and
            # say exactly where it is and what was in flight.
            raise RuntimeError(
                "partition swap failed mid-flight; the live dataset at "
                f"{base_path!r} may be missing some of partitions "
                f"{affected}. The replacement data is preserved at "
                f"{staging!r} — move each '{partition_col}=<value>' "
                "directory from there into the live dataset to recover."
            ) from e
        _remove_dir(spark, staging)

        return MergeReport(
            affected_partitions=tuple(affected),
            emptied_partitions=tuple(emptied),
            n_upserts=int(v["n_upserts"]),
            n_deletes=int(v["n_deletes"]),
            n_output_rows=n_output_rows,
        )
