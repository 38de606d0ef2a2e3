"""Operator-contract queries: drive the surfaces that only pytest
exercised (SURVEY §2 items P1-P4/F4 canonicalization, S6/S9-S11 export
round-trips, S7 partitioned sink, F1/F9 temporal features) through the
external oracle gate, so "implemented" and "verified" stay the same set.

The export round-trips intentionally perform a write inside a query:
the sink-then-source path IS the operator under test, and the oracle
pins that a full export/import cycle preserves values exactly. Writes
go to a fresh ``tempfile.mkdtemp`` dir per invocation.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..io.export import export_table, read_exported
from ..operators.canonicalize import canonicalize
from ..operators.features import with_duration_minutes
from ..utils.caching import pin
from ..utils.plans import count, has, lacks
from ..utils.rows import literal_rows
from .registry import register

# One shared small aggregate for the round-trip family: stable, typed
# long + double + string, values pinned by the same oracle each time.
_ROUND_TRIP_ORACLE = """
SELECT o_orderpriority AS priority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY o_orderpriority
"""


def _priority_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "canonicalize_contract",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           'direct' AS channel
    FROM orders
    GROUP BY o_orderpriority
    """,
    description="P1-P4/F4 through the gate: a deliberately mis-spelled "
    "projection of orders (Order_Key, TOTALPRICE, ...) is canonicalized "
    "(case-insensitive synonym rename, required-column validation, "
    "literal-default backfill for the absent 'channel', canonical "
    "projection) and then aggregated; the oracle works from the clean "
    "source directly, so any canonicalization slip breaks the hash.",
)
def q_canonicalize_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("Order_Key"),
        F.col("o_totalprice").alias("TOTALPRICE"),
        F.col("o_orderpriority").alias("Priority"),
    )
    clean = canonicalize(
        raw,
        synonyms={
            "order_key": ["orderkey", "order_key", "o_orderkey"],
            "total_price": ["totalprice", "total_price"],
            "priority": ["priority", "orderpriority"],
            "channel": ["channel", "sales_channel"],
        },
        required=["order_key", "total_price"],
        defaults={"channel": "direct"},
    )
    return clean.groupBy("priority", "channel").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("total_price"), 2).alias("total_price"),
    ).select("priority", "n_orders", "total_price", "channel")


@register(
    "export_round_trip_csv",
    oracle=_ROUND_TRIP_ORACLE,
    description="S9/S10/S11 through the gate: aggregate -> coalesce(1) "
    "CSV-with-header sink -> header/inferSchema CSV source; the oracle "
    "pins that the text round trip preserves every value and type class.",
)
def q_export_round_trip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tempfile.mkdtemp(prefix="export_rt_csv_")
    export_table(_priority_agg(spark, sf_dir), out, fmt="csv", single_file=True)
    back = read_exported(spark, out, "csv")
    return back.select(
        "priority", F.col("n_orders").cast("long"), F.col("total_price").cast("double")
    )


@register(
    "export_round_trip_json",
    oracle=_ROUND_TRIP_ORACLE,
    description="S6/S9 through the gate: aggregate -> single-file JSON "
    "sink -> spark.read.json source, value-exact.",
)
def q_export_round_trip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tempfile.mkdtemp(prefix="export_rt_json_")
    export_table(_priority_agg(spark, sf_dir), out, fmt="json", single_file=True)
    return read_exported(spark, out, "json").select("priority", "n_orders", "total_price")


@register(
    "export_round_trip_orc",
    oracle=_ROUND_TRIP_ORACLE,
    description="ORC format coverage: aggregate -> columnar ORC sink -> "
    "spark.read.orc source, value-exact (the second columnar format next "
    "to parquet; both read vectorized).",
)
def q_export_round_trip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tempfile.mkdtemp(prefix="export_rt_orc_")
    export_table(_priority_agg(spark, sf_dir), out, fmt="orc")
    return read_exported(spark, out, "orc").select("priority", "n_orders", "total_price")


@register(
    "export_round_trip_partitioned",
    oracle=_ROUND_TRIP_ORACLE,
    description="S7 through the gate: partitioned parquet sink "
    "(partitionBy the aggregate key) -> root read; partition-directory "
    "encoding must reconstruct the column exactly.",
)
def q_export_round_trip_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tempfile.mkdtemp(prefix="export_rt_part_")
    export_table(_priority_agg(spark, sf_dir), out, fmt="parquet", partition_by=("priority",))
    return read_exported(spark, out, "parquet").select("priority", "n_orders", "total_price")


@register(
    "manifest_ingest_contract",
    oracle="""
    SELECT 'region.parquet' AS file_name,
           (SELECT CAST(count(*) AS BIGINT) FROM pragma_table_info('region')) AS n_cols,
           '02' AS month, TRUE AS size_positive, CAST(2 AS BIGINT) AS n_manifest_rows
    UNION ALL
    SELECT 'nation.parquet',
           (SELECT CAST(count(*) AS BIGINT) FROM pragma_table_info('nation')),
           '01', TRUE, CAST(2 AS BIGINT)
    """,
    description="S1-S3 (io/ingest.py) through the gate: download two fixture "
    "files over file:// URLs, probe their parquet schemas, upsert the JSON "
    "manifest, then RE-ingest the first file under a new month — the "
    "replace-then-append upsert must swap the old record, not append. The "
    "manifest is read back as the engine's ingestion-audit table and its "
    "(file_name, probed column count, month, size>0, total rows) are pinned "
    "against the fixtures' own schemas in the oracle.",
)
def q_manifest_ingest_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.ingest import build_manifest_record, download_file, manifest_table, upsert_manifest

    out = tempfile.mkdtemp(prefix="ingest_manifest_")
    try:
        manifest = os.path.join(out, "manifest.json")
        for name, month in (("region.parquet", "01"), ("nation.parquet", "01")):
            dest = os.path.join(out, name)
            download_file(f"file://{sf_dir}/{name}", dest)
            upsert_manifest(manifest, build_manifest_record(name, dest, 2024, month))
        # Re-ingest region under month 02: replace semantics, not append.
        dest = os.path.join(out, "region.parquet")
        download_file(f"file://{sf_dir}/region.parquet", dest, force=True)
        upsert_manifest(manifest, build_manifest_record("region.parquet", dest, 2024, "02"))
        audit = manifest_table(spark, manifest)
        # Total-row annotation via grouped count + broadcast cross join —
        # NOT an unpartitioned window (WindowExec with no PARTITION BY
        # funnels everything through one task; harmless on a 2-row
        # manifest but the exact pattern operators/rollup.py warns about,
        # and this file models best practice).
        total = audit.agg(F.count(F.lit(1)).alias("n_manifest_rows"))
        result = audit.select(
            "file_name",
            F.size("columns").cast("long").alias("n_cols"),
            "month",
            (F.col("size_bytes") > 0).alias("size_positive"),
        ).crossJoin(F.broadcast(total))
        # Eager: the staging dir (manifest included) is removed on return.
        return pin(result, eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "order_to_ship_latency_by_month",
    oracle="""
    SELECT lpad(CAST(month(l.l_shipdate) AS VARCHAR), 2, '0') AS ship_month,
           count(*) AS n_items,
           round(avg((epoch(l.l_shipdate) - epoch(o.o_orderdate)) / 60.0), 6)
               AS avg_order_to_ship_min
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    description="F1/F9 through the gate: duration-minutes between two "
    "timestamps (unix diff / 60, reference src/etl/features.py:3-7) and "
    "zero-padded month strings (lpad, reference src/utils/fechas.py:9), "
    "over the orders->lineitem ship latency. The catalog pins the "
    "session TZ to UTC so epoch math matches the timezone-free oracle.",
)
def q_order_to_ship_latency_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    j = with_duration_minutes(j, "o_orderdate", "l_shipdate", "order_to_ship_min")
    return (
        j.withColumn("ship_month", F.lpad(F.month("l_shipdate").cast("string"), 2, "0"))
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg("order_to_ship_min"), 6).alias("avg_order_to_ship_min"),
        )
    )


@register(
    "approx_quantile_contract",
    oracle="""
    SELECT count(*) AS n_rows, 1 AS within_tol
    FROM lineitem
    """,
    description="A14 (percentile_approx) through the gate as an accuracy "
    "contract: the one-pass approximate p01/p99 bounds of l_extendedprice "
    "must put 1% +/- 0.5pp of rows below/above them (the sketch guarantees "
    "rank error <= relative_error = 0.1pp, so the flag has 5x headroom while "
    "still failing on a broken sketch). The oracle pins the row count and "
    "that the tolerance held; exact-percentile behavior is value-checked by "
    "outlier_clipped_kpis.",
)
def q_approx_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clean import quantile_bounds

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    bounds = quantile_bounds(
        li, ["l_extendedprice"], 0.01, 0.99, exact=False, relative_error=0.001
    )
    checked = li.crossJoin(F.broadcast(bounds)).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.avg((F.col("l_extendedprice") < F.col("l_extendedprice__lo")).cast("double")).alias("__f_lo"),
        F.avg((F.col("l_extendedprice") > F.col("l_extendedprice__hi")).cast("double")).alias("__f_hi"),
    )
    return checked.select(
        "n_rows",
        (
            (F.abs(F.col("__f_lo") - 0.01) <= 0.005)
            & (F.abs(F.col("__f_hi") - 0.01) <= 0.005)
        )
        .cast("int")
        .alias("within_tol"),
    )


@register(
    "bucketed_colocated_join",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    description="Co-located join via bucketed tables (io/bucketed.py): both "
    "sides are written bucketed on the join key (8 buckets), so the join "
    "itself needs NO exchange — the one-time write shuffle replaces every "
    "subsequent join shuffle (the 100-TB fact-fact join strategy). The "
    "oracle pins that the bucketed write+join round-trip loses nothing; "
    "the exchange-free plan shape is asserted on the executed plan by "
    "test_bucketed_join_has_no_exchange in tests/test_plan_quality.py.",
)
def q_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _bucketed_orders_customer_join(spark, sf_dir)
    return df.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def _bucketed_orders_customer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders/customer projections bucketed on the custkey, return
    the exchange-free join (shared by the gate query and the plan test)."""
    import uuid

    from ..io.bucketed import colocated_join, write_bucketed_table

    sfx = uuid.uuid4().hex[:8]
    base = tempfile.mkdtemp(prefix="bucketed_")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    write_bucketed_table(o, f"t_orders_{sfx}", f"{base}/orders", ["o_custkey"], 8, ["o_custkey"])
    write_bucketed_table(c, f"t_cust_{sfx}", f"{base}/customer", ["c_custkey"], 8, ["c_custkey"])
    return colocated_join(
        spark,
        f"t_orders_{sfx}",
        f"t_cust_{sfx}",
        F.col("o_custkey") == F.col("c_custkey"),
    )


@register(
    "quarter_resolution_contract",
    oracle="""
    SELECT lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0') AS month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE month(o_orderdate) IN (4, 5, 6)
    GROUP BY 1
    """,
    description="F10/C3 through the gate: the real CLI parser "
    "(cli.build_parser) parses `etl --year 2024 --quarter 2`, the parsed "
    "namespace flows through utils.dates.resolve_months (reference "
    "src/utils/fechas.py:11-32), and the resolved zero-padded month list "
    "drives a partition-style month filter over orders. The oracle filters "
    "on the quarter's literal months, so a wrong quarter map, a broken "
    "mutual-exclusion wire-up, or unpadded month strings all produce a "
    "different (or empty) result and break the hash.",
)
def q_quarter_resolution_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..cli import build_parser
    from ..utils.dates import resolve_months

    args = build_parser().parse_args(
        ["etl", "--year", "2024", "--quarter", "2",
         "--raw-root", sf_dir, "--curated-root", os.path.join(tempfile.gettempdir(), "unused")]
    )
    months = resolve_months(args.month, args.months, args.quarter)
    orders = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    month_col = F.lpad(F.month("o_orderdate").cast("string"), 2, "0")
    return (
        orders.where(month_col.isin(months))
        .groupBy(month_col.alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "compaction_contract",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           TRUE AS fewer_files,
           TRUE AS plan_matched
    FROM documents
    """,
    description="Small-file compaction (io/compact.py) through the gate: the "
    "documents table is deliberately fragmented into 48 task-sized parquet "
    "files, then compacted to ceil(bytes/target) files via the one budgeted "
    "round-robin shuffle. The compacted copy must read back with the exact "
    "row count and char sum the oracle computes from the ORIGINAL table "
    "(lossless rewrite), the output file count must be strictly below the "
    "fragment count, and the written count must equal the byte-planned "
    "count — a codec/plan drift flips plan_matched and breaks the hash.",
)
def q_compaction_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.compact import compact_dataset

    frag = tempfile.mkdtemp(prefix="compact_frag_")
    out = tempfile.mkdtemp(prefix="compact_out_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        docs.repartition(48).write.mode("overwrite").parquet(frag)
        report = compact_dataset(spark, frag, out, target_file_bytes=32 * 1024 * 1024)
        # Profile the compacted copy EAGERLY so both temp dirs can be
        # removed before returning — a lazy frame over the tempdir would
        # leak a full rewritten table per verification run.
        row = (
            spark.read.parquet(out)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_chars").alias("total_chars"),
            )
            .collect()[0]
        )
    finally:
        shutil.rmtree(frag, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
    return literal_rows(
        spark,
        [
            (
                row["n_rows"],
                row["total_chars"],
                report.n_written_files < report.n_input_files,
                report.n_written_files == report.n_planned_files,
            )
        ],
        "n_rows long, total_chars long, fewer_files boolean, plan_matched boolean",
    )


@register(
    "table_profile_contract",
    oracle="""
    SELECT 'doc_id' AS column, count(*) AS n_rows,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT doc_id) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_str,
           CAST(max(doc_id) AS VARCHAR) AS max_str,
           avg(doc_id) AS mean_val
    FROM documents
    UNION ALL
    SELECT 'lang', count(*),
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
           CAST(max(lang) AS VARCHAR), NULL::DOUBLE
    FROM documents
    UNION ALL
    SELECT 'source', count(*),
           CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT source), CAST(min(source) AS VARCHAR),
           CAST(max(source) AS VARCHAR), NULL::DOUBLE
    FROM documents
    UNION ALL
    SELECT 'n_chars', count(*),
           CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
           CAST(max(n_chars) AS VARCHAR), avg(n_chars)
    FROM documents
    """,
    description="One-pass table profiler (operators/profile.py): per-column "
    "null/distinct/min/max/mean for four documents columns computed in a "
    "SINGLE aggregation (every stat is an agg expression — partial+final "
    "combine, one Exchange carrying one row per partition), then unpivoted "
    "via stack() over the one-row result. exact_distinct=True here so the "
    "oracle can restate count(DISTINCT) verbatim; the scale default is the "
    "mergeable HLL sketch. Queued for the r6 window rotation (the r5 window "
    "is saturated with first-verification entries); DuckDB-parity covered "
    "by tests/test_oracle_parity.py meanwhile.",
)
def q_table_profile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_columns

    docs = load_table(spark, sf_dir, "documents")
    return profile_columns(
        docs, ["doc_id", "lang", "source", "n_chars"], exact_distinct=True
    )


@register(
    "data_quality_contract",
    oracle="""
    SELECT 'not_null(o_orderkey)' AS check,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)',
           CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT),
           count(o_orderkey) = count(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'in_range(o_totalprice,0.0,1000.0)',
           CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                          AND (o_totalprice < 0 OR o_totalprice > 1000)
                     THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_totalprice IS NOT NULL
                     AND (o_totalprice < 0 OR o_totalprice > 1000)
               THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'in_set(o_orderstatus,{O,F,P})',
           CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O','F','P')
                     THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_orderstatus IS NOT NULL
                     AND o_orderstatus NOT IN ('O','F','P')
               THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'matches_regex(o_orderpriority,[1-3]-[A-Z ]+)',
           CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                          AND NOT regexp_full_match(o_orderpriority,
                                                    '[1-3]-[A-Z ]+')
                     THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_orderpriority IS NOT NULL
                     AND NOT regexp_full_match(o_orderpriority,
                                               '[1-3]-[A-Z ]+')
               THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'foreign_key(o_custkey->c_custkey)',
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) = 0
    """,
    description="Data-quality expectations (operators/expectations.py): "
    "not-null + key-uniqueness + range + domain + format-regex + "
    "referential checks over "
    "orders, reported as one violations table. All row-level rules and the "
    "distinct-count uniqueness check evaluate in ONE aggregation pass; the "
    "FK rule is one broadcast anti-join against customer's distinct keys. "
    "The deliberately-tight price range AND priority format each yield a "
    "NONZERO pinned violation "
    "count, so the gate verifies real counting, not just zeros. Queued for "
    "the r6 window rotation; DuckDB-parity covered by "
    "tests/test_oracle_parity.py meanwhile.",
)
def q_data_quality_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.expectations import (
        foreign_key,
        in_range,
        in_set,
        matches_regex,
        not_null,
        unique,
        validate,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return validate(
        orders,
        [
            not_null("o_orderkey"),
            unique("o_orderkey"),
            in_range("o_totalprice", 0.0, 1000.0),
            in_set("o_orderstatus", ["O", "F", "P"]),
            # Deliberately tight (real priorities run 1-5): a second
            # pinned NONZERO count, exercising the anchored-full-match
            # semantics in the Java∩RE2 dialect both engines share.
            matches_regex("o_orderpriority", "[1-3]-[A-Z ]+"),
            foreign_key("o_custkey", customer, "c_custkey"),
        ],
    )


@register(
    "cdc_merge_contract",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, month(o_orderdate) AS o_month, o_totalprice
        FROM orders
    ), merged AS (
        SELECT o_orderkey, o_month,
               CASE WHEN o_month = 5 AND o_orderkey % 101 = 0
                    THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice
        FROM base
        WHERE NOT (o_month = 3 AND o_orderkey % 97 = 0)
        UNION ALL
        SELECT o_orderkey + 100000000, o_month, o_totalprice
        FROM base WHERE o_month = 7 AND o_orderkey % 103 = 0
    ), touched AS (
        -- the months the change batch actually mentions (a tiny SF may
        -- have no key matching a mod filter in some month)
        SELECT o_month FROM base WHERE o_month = 3 AND o_orderkey % 97 = 0
        UNION ALL
        SELECT o_month FROM base WHERE o_month = 5 AND o_orderkey % 101 = 0
        UNION ALL
        SELECT o_month FROM base WHERE o_month = 7 AND o_orderkey % 103 = 0
    )
    SELECT o_month, count(*) AS n_orders,
           CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS total_cents,
           (SELECT count(DISTINCT o_month) FROM touched) AS n_affected_partitions,
           TRUE AS untouched_intact
    FROM merged
    GROUP BY o_month
    """,
    description="Partition-pruned CDC merge (io/merge.py) through the gate: "
    "orders are written as a month-partitioned base table, then one change "
    "batch applies deletes (month 3, key % 97), price updates (month 5, "
    "key % 101) and inserts (month 7, shifted keys) in a single merge — "
    "anti-join + union on a partition-pruned read, staged write, per-"
    "partition directory swap. The final table is profiled per month "
    "against an oracle that restates the merge in SQL over the original "
    "orders; the month=1 partition's file listing (name, size, mtime) is "
    "pinned byte-identical across the merge (untouched_intact), and the "
    "report's touched-partition count is pinned against the distinct "
    "months the batch actually mentions — together the on-disk proof "
    "that a 3-partition batch rewrote 3 partitions of 12, not the table.",
)
def q_cdc_merge_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.merge import merge_changes

    base = tempfile.mkdtemp(prefix="cdc_base_")
    try:
        orders_m = load_table(spark, sf_dir, "orders").withColumn(
            "o_month", F.month("o_orderdate")
        )
        orders_m.write.partitionBy("o_month").mode("overwrite").parquet(base)

        key, month = F.col("o_orderkey"), F.col("o_month")
        deletes = orders_m.where((month == 3) & (key % 97 == 0)).withColumn(
            "op", F.lit("delete")
        )
        updates = (
            orders_m.where((month == 5) & (key % 101 == 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
            .withColumn("op", F.lit("upsert"))
        )
        inserts = (
            orders_m.where((month == 7) & (key % 103 == 0))
            .withColumn("o_orderkey", key + 100_000_000)
            .withColumn("op", F.lit("upsert"))
        )
        changes = deletes.unionByName(updates).unionByName(inserts)

        def listing(partition_dir: str):
            full = os.path.join(base, partition_dir)
            return sorted(
                (f, os.stat(os.path.join(full, f)).st_size,
                 os.stat(os.path.join(full, f)).st_mtime_ns)
                for f in os.listdir(full)
            )

        before = listing("o_month=1")
        report = merge_changes(
            spark, base, changes, id_col="o_orderkey", partition_col="o_month"
        )
        intact = listing("o_month=1") == before

        result = (
            spark.read.parquet(base)
            .groupBy("o_month")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0))
                .cast("long")
                .alias("total_cents"),
            )
            .withColumn(
                "n_affected_partitions",
                F.lit(len(report.affected_partitions)).cast("long"),
            )
            .withColumn("untouched_intact", F.lit(intact))
        )
        # Eager: the base tempdir is removed on return.
        return pin(result, eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "media_binary_ingest",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest
    FROM documents
    WHERE doc_id % 10 = 0 AND doc_id < 2000
    """,
    description="Raw-file multimodal ingestion (io/binary.py) through the "
    "gate: a bounded slice of documents is materialized as loose .txt "
    "files (the stand-in for an image/audio drop directory — the fixture "
    "fabrication is the only driver-side step), ingested back through the "
    "binaryFile source with a pathGlobFilter, identified from filenames "
    "via with_path_id, and fingerprinted (byte length from the source's "
    "own file metadata, md5 over the binary content) — all projections, "
    "no shuffle until the comparison agg. The oracle recomputes both "
    "fingerprints from the documents table itself, so a byte lost or "
    "reordered anywhere in the file round trip breaks the hash.",
)
def q_media_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.binary import read_binary_dir, with_path_id

    drop_dir = tempfile.mkdtemp(prefix="media_drop_")
    try:
        docs = (
            load_table(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 2000))
            .select("doc_id", "text")
            .collect()
        )
        for row in docs:
            with open(os.path.join(drop_dir, f"doc_{row['doc_id']}.txt"), "wb") as fh:
                fh.write(row["text"].encode("utf-8"))
        # A decoy the glob must prune at listing time.
        with open(os.path.join(drop_dir, "README.md"), "wb") as fh:
            fh.write(b"not media")

        files = read_binary_dir(spark, drop_dir, glob="*.txt")
        result = with_path_id(files, r"doc_(\d+)\.txt$", id_col="doc_id").select(
            "doc_id",
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("digest"),
        )
        return pin(result, eager=True)
    finally:
        shutil.rmtree(drop_dir, ignore_errors=True)


@register(
    "hll_mergeable_rollup_contract",
    claims=(
        # Both the sketch build and the union-merge run partial-then-final
        # (map-side combine), so only pre-combined sketch bytes cross each
        # exchange. "HashAggregate" also matches ObjectHashAggregate.
        count("HashAggregate", lo=2),
        lacks("CartesianProduct"),
    ),
    oracle="""
    SELECT count(DISTINCT date_trunc('day', ts)) AS n_days,
           count(DISTINCT user_id) AS exact_distinct_users,
           TRUE AS global_est_ok,
           TRUE AS daily_est_ok
    FROM events
    """,
    description="Mergeable distinct-count sketches (operators/sketches.py): "
    "per-DAY DataSketches-HLL partials of distinct users are built in one "
    "corpus scan, then UNION-merged to the global distinct estimate at "
    "sketch-row scale — the re-aggregatable distinct count a mart layer "
    "needs (plain distinct is not summable across partials; "
    "approx_count_distinct can't merge across persisted marts). The gate "
    "pins the exact day count and exact global distinct, plus booleans "
    "asserting the merged-global and every per-day estimate land within "
    "5% of their exact counterparts (at these cardinalities the sketch is "
    "in sparse mode and exact, so the band is generous).",
)
def q_hll_mergeable_rollup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_partials, hll_rollup

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    )
    partials = hll_partials(ev, "day", "user_id")

    global_est = hll_rollup(partials, None)  # one row: distinct_est
    daily_est = hll_rollup(partials, ["day"])
    exact_daily = ev.groupBy("day").agg(
        F.count_distinct("user_id").alias("exact_daily")
    )
    daily_ok = (
        daily_est.join(exact_daily, "day")
        .agg(
            F.max(
                F.abs(F.col("distinct_est") - F.col("exact_daily"))
                / F.col("exact_daily")
            ).alias("max_rel_err")
        )
        .select((F.col("max_rel_err") <= 0.05).alias("daily_est_ok"))
    )
    totals = ev.agg(
        F.count_distinct("day").alias("n_days"),
        F.count_distinct("user_id").alias("exact_distinct_users"),
    )
    return (
        totals.crossJoin(F.broadcast(global_est))
        .crossJoin(F.broadcast(daily_ok))
        .select(
            "n_days",
            "exact_distinct_users",
            (
                F.abs(F.col("distinct_est") - F.col("exact_distinct_users"))
                / F.col("exact_distinct_users")
                <= 0.05
            ).alias("global_est_ok"),
            "daily_est_ok",
        )
    )


@register(
    "kll_quantile_rollup_contract",
    oracle="""
    SELECT count(DISTINCT year(o_orderdate)) AS n_years,
           TRUE AS p50_rank_ok,
           TRUE AS p90_rank_ok
    FROM orders
    """,
    description="Mergeable quantile sketches (operators/sketches.py): "
    "per-YEAR KllDoublesSketch partials of order totalprice, UNION-merged "
    "to global p50/p90 at sketch-row scale — the re-aggregatable "
    "percentile a mart layer needs (a median of per-mart medians is NOT "
    "the median; percentile_approx outputs can't merge across persisted "
    "marts, KLL partials can). A KLL answer is correct in RANK space — "
    "the returned value's true rank lands within ~1.65% of the request "
    "at k=200 — so the gate ranks each merged estimate against the "
    "exact CDF (one conditional mean over the corpus) and asserts "
    "|rank - q| <= 0.03, plus the exact year count.",
)
def q_kll_quantile_rollup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kll_partials, kll_rollup

    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"), "o_totalprice"
    )
    merged_q = kll_rollup(
        kll_partials(orders, "yr", "o_totalprice"), None, ranks=[0.5, 0.9]
    )  # one row: q_0_5, q_0_9
    ranks = orders.crossJoin(F.broadcast(merged_q)).agg(
        F.avg((F.col("o_totalprice") <= F.col("q_0_5")).cast("double")).alias("r50"),
        F.avg((F.col("o_totalprice") <= F.col("q_0_9")).cast("double")).alias("r90"),
    )
    return (
        orders.agg(F.count_distinct("yr").alias("n_years"))
        .crossJoin(F.broadcast(ranks))
        .select(
            "n_years",
            (F.abs(F.col("r50") - 0.5) <= 0.03).alias("p50_rank_ok"),
            (F.abs(F.col("r90") - 0.9) <= 0.03).alias("p90_rank_ok"),
        )
    )


@register(
    "theta_cohort_overlap_contract",
    oracle="""
    SELECT count(DISTINCT CASE WHEN year(o_orderdate) = 1995
                               THEN o_custkey END) AS cust_1995,
           count(DISTINCT CASE WHEN year(o_orderdate) = 1996
                               THEN o_custkey END) AS cust_1996,
           count(DISTINCT CASE WHEN year(o_orderdate) IN (1995, 1996)
                               THEN o_custkey END) AS cust_union,
           TRUE AS union_est_ok,
           TRUE AS intersection_est_ok,
           TRUE AS anotb_est_ok
    FROM orders
    """,
    description="Theta-sketch set algebra (operators/sketches.py): "
    "customer cohorts who ordered in 1995 vs 1996, intersected and "
    "differenced from per-year Theta partials — the retention/overlap "
    "question HLL cannot answer (HLL unions but never intersects). One "
    "corpus scan builds the partials; union, intersection, and A-NOT-B "
    "then run on two merged binary sketches. The gate pins the three "
    "exact cohort cardinalities and asserts each sketch estimate "
    "(union, intersection, 1995-only) lands within 5% of its exact "
    "counterpart — below 2^12 distinct customers the sketch is in "
    "exact mode, so the band is generous by design.",
)
def q_theta_cohort_overlap_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import theta_overlap, theta_partials

    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"), "o_custkey"
    )
    cohorts = orders.filter(F.col("yr").isin(1995, 1996))
    est = theta_overlap(
        theta_partials(cohorts, "yr", "o_custkey"),
        F.col("yr") == 1995,
        F.col("yr") == 1996,
    )  # one row: union/intersection/left_only/right_only estimates
    exact = orders.agg(
        F.count_distinct(F.when(F.col("yr") == 1995, F.col("o_custkey"))).alias(
            "cust_1995"
        ),
        F.count_distinct(F.when(F.col("yr") == 1996, F.col("o_custkey"))).alias(
            "cust_1996"
        ),
        F.count_distinct(
            F.when(F.col("yr").isin(1995, 1996), F.col("o_custkey"))
        ).alias("cust_union"),
    )

    def _ok(est_col: str, exact_col) -> "F.Column":
        return F.abs(F.col(est_col) - exact_col) / exact_col <= 0.05

    inter = F.col("cust_1995") + F.col("cust_1996") - F.col("cust_union")
    return exact.crossJoin(F.broadcast(est)).select(
        "cust_1995",
        "cust_1996",
        "cust_union",
        _ok("union_est", F.col("cust_union")).alias("union_est_ok"),
        _ok("intersection_est", inter).alias("intersection_est_ok"),
        _ok("left_only_est", F.col("cust_1995") - inter).alias("anotb_est_ok"),
    )


@register(
    "python_datasource_contract",
    oracle="""
    SELECT 2000 AS n_rows,
           1999000 AS sum_doc_id,
           1072890 AS sum_tokens,
           10130200 AS sum_score_milli,
           4 AS n_langs,
           1000 AS pruned_rows,
           1249500 AS pruned_sum_doc_id
    FROM region LIMIT 1
    """,
    description="Python Data Source API (io/pydatasource.py): the "
    "synthetic_corpus format plans one InputPartition per shard and "
    "prunes partitions from pushed shard predicates (pushFilters, "
    "Spark 4.1) — the custom-source analog of parquet partition "
    "pruning. Every row derives from blake2b(seed, row_id), so the "
    "corpus is bit-identical for any partitioning, executor count, or "
    "task retry; the oracle pins the full-read aggregates AND a "
    "shard-IN-pruned slice as precomputed constants (DuckDB cannot run "
    "the generator — determinism is exactly what makes literal pinning "
    "sound). Unit tests additionally pin that pushFilters shrinks the "
    "planned partition list and hands non-shard filters back.",
)
def q_python_datasource_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.pydatasource import load_synthetic_corpus

    # One fresh relation PER branch: Spark plans a Python data source
    # relation once and shares the planned scan across all references,
    # so a full-read branch and a shard-pruned branch of the same
    # .load() would both get the pruned partition list (r5 verdict bug).
    corpus = load_synthetic_corpus(spark, shards=4, rows_per_shard=500, seed=7)
    pruned_rel = load_synthetic_corpus(spark, shards=4, rows_per_shard=500, seed=7)
    full = corpus.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("score_milli").alias("sum_score_milli"),
        F.count_distinct("lang").alias("n_langs"),
    )
    pruned = pruned_rel.filter(F.col("shard").isin(1, 3)).agg(
        F.count(F.lit(1)).alias("pruned_rows"),
        F.sum("doc_id").alias("pruned_sum_doc_id"),
    )
    return full.crossJoin(F.broadcast(pruned))


@register(
    "zorder_cells_contract",
    claims=(
        # The layout's only shuffle is the range partitioning that IS the
        # layout; the Morton key is a codegen'd projection and the sort
        # stays within partitions.
        has("rangepartitioning"),
        lacks("CartesianProduct", "Join"),
        count(") Exchange", lo=2, hi=2),  # the range layout + the cell-profile agg
    ),
    oracle="""
    WITH b AS (
        SELECT min(l_quantity) AS q0, max(l_quantity) AS q1,
               min(l_extendedprice) AS p0, max(l_extendedprice) AS p1
        FROM lineitem
    ),
    z AS (
        SELECT CAST(floor((l_quantity - q0) * 255.0 / (q1 - q0)) AS BIGINT) AS zq,
               CAST(floor((l_extendedprice - p0) * 255.0 / (p1 - p0)) AS BIGINT) AS zp
        FROM lineitem, b
    ),
    k AS (
        SELECT ((((zq >> 0) & 1) << 0) | (((zp >> 0) & 1) << 1) | (((zq >> 1) & 1) << 2) | (((zp >> 1) & 1) << 3) | (((zq >> 2) & 1) << 4) | (((zp >> 2) & 1) << 5) | (((zq >> 3) & 1) << 6) | (((zp >> 3) & 1) << 7) | (((zq >> 4) & 1) << 8) | (((zp >> 4) & 1) << 9) | (((zq >> 5) & 1) << 10) | (((zp >> 5) & 1) << 11) | (((zq >> 6) & 1) << 12) | (((zp >> 6) & 1) << 13) | (((zq >> 7) & 1) << 14) | (((zp >> 7) & 1) << 15)) AS zkey FROM z
    )
    SELECT zkey >> 10 AS cell,
           count(*) AS n_rows,
           sum(zkey)::BIGINT AS sum_zkey,
           min(zkey) AS min_zkey,
           max(zkey) AS max_zkey
    FROM k
    GROUP BY 1
    """,
    description="Z-order layout clustering (operators/zorder.py): "
    "min-max bucketize l_quantity and l_extendedprice to 8 bits each "
    "(one bounds pass), interleave into a 16-bit Morton key with pure "
    "shift/AND/OR expressions, range-partition-sort by it (the "
    "OPTIMIZE ZORDER BY maintenance shape), and profile the coarse "
    "curve cells. The oracle re-derives the identical key with DuckDB "
    "bit twiddling — floor() on both engines because DuckDB's int cast "
    "rounds while Spark's truncates — so a scaling drift, a swapped "
    "bit lane, or an off-by-one bucket all break the hash. File-stat "
    "tightness (the point of the layout) is measured in "
    "tests/test_zorder.py from real parquet footers.",
)
def q_zorder_cells_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.zorder import zorder_layout

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice"
    )
    laid_out = zorder_layout(li, ["l_quantity", "l_extendedprice"], bits=8)
    return laid_out.groupBy(
        F.shiftright("zkey", 10).alias("cell")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("zkey").alias("sum_zkey"),
        F.min("zkey").alias("min_zkey"),
        F.max("zkey").alias("max_zkey"),
    )


@register(
    "schema_evolution_contract",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
                WHEN o_orderkey % 3 = 0 THEN 'web'
                ELSE 'store' END AS channel,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY 1
    """,
    description="Schema evolution across dataset vintages: half the "
    "orders are staged as an OLD parquet vintage (no channel column), "
    "half as the NEW vintage carrying one; a single mergeSchema read "
    "unions both vintages (planning-time footer merge — no data "
    "rewrite, the standard posture when a 100 TB dataset grows a "
    "column mid-life), the legacy rows are backfilled with a sentinel, "
    "and the channel profile is hash-checked against an oracle that "
    "re-derives vintage membership and channel from the key alone. A "
    "dropped vintage, a misaligned merged schema, or a backfill slip "
    "all break the hash.",
)
def q_schema_evolution_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    stage = tempfile.mkdtemp(prefix="schema_evo_")
    try:
        # Old vintage: the column does not exist yet.
        orders.filter(F.col("o_orderkey") % 2 == 0).write.parquet(
            os.path.join(stage, "v1")
        )
        # New vintage: same rows plus the evolved column.
        orders.filter(F.col("o_orderkey") % 2 != 0).withColumn(
            "channel",
            F.when(F.col("o_orderkey") % 3 == 0, F.lit("web")).otherwise(
                F.lit("store")
            ),
        ).write.parquet(os.path.join(stage, "v2"))

        merged = (
            spark.read.option("mergeSchema", "true")
            .option("recursiveFileLookup", "true")
            .parquet(stage)
        )
        filled = merged.withColumn(
            "channel", F.coalesce(F.col("channel"), F.lit("legacy"))
        )
        out = filled.groupBy("channel").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        return pin(out, eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "incremental_agg_contract",
    claims=(
        # union-and-reaggregate at grain cardinality: no join anywhere,
        # one Union of the two snapshot branches.
        lacks("Join"),
        has("Union"),
    ),
    oracle="""
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS n,
           round(sum(CAST(value AS DOUBLE)), 6) AS sum_v,
           round(sum(CAST(value AS DOUBLE)) / count(value), 6) AS mean_v,
           round(sqrt(GREATEST(
               sum(CAST(value AS DOUBLE) * CAST(value AS DOUBLE))
                   / count(value)
               - pow(sum(CAST(value AS DOUBLE)) / count(value), 2),
               0.0)), 6) AS std_v,
           round(min(CAST(value AS DOUBLE)), 6) AS min_v,
           round(max(CAST(value AS DOUBLE)), 6) AS max_v
    FROM events
    GROUP BY 1
    """,
    description="Incremental aggregate maintenance (operators/"
    "incremental.py): the mart-refresh contract — a per-event-type "
    "statistics snapshot built from facts BEFORE 2024-01-15, merged "
    "with a delta snapshot of the remaining days via union-and-"
    "reaggregate at grain cardinality (the 100-TB path: tomorrow's "
    "refresh reads yesterday's snapshot + the delta, NEVER the base "
    "facts), must equal the one-shot aggregation over everything. "
    "Mean/stddev are read-time views over the mergeable sufficient "
    "statistics (n, sum, sum-of-squares); min/max ride along because "
    "this merge is insert-only (they are not retraction-safe, and "
    "merge_snapshots drops them when insert_only=False).",
)
def q_incremental_agg_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import (
        agg_snapshot,
        merge_snapshots,
        snapshot_stats,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    cut = F.lit("2024-01-15").cast("timestamp")
    snap = agg_snapshot(ev.filter(F.col("ts") < cut), ["event_type"], "value")
    delta = agg_snapshot(
        ev.filter(F.col("ts") >= cut), ["event_type"], "value"
    )
    merged = merge_snapshots(snap, delta, ["event_type"], insert_only=True)
    return snapshot_stats(merged, ["event_type"])
