"""Unified CLI (reference C3): the reference repeats one argparse
contract across six numbered scripts (``scripts/02_spark_etl.py:30-61``
et al.); here it is one entry point with subcommands over the same
pipelines the library exposes.

    python -m proyecto_final_de_big_data_spark.cli download --year 2024 --quarter 1 ...
    python -m proyecto_final_de_big_data_spark.cli etl --year 2024 --months 1,2 ...
    python -m proyecto_final_de_big_data_spark.cli run --queries kpis,pricing_summary ...
    python -m proyecto_final_de_big_data_spark.cli curate --input docs.parquet --output curated/ ...
    python -m proyecto_final_de_big_data_spark.cli train --algo gbt ...
    python -m proyecto_final_de_big_data_spark.cli score --model ... --input ...

Month selectors are mutually exclusive (--month / --months / --quarter,
reference F10); --skip-missing gives catch-and-continue over absent
partitions (C4).
"""

from __future__ import annotations

import argparse
import sys

from .utils.dates import resolve_months
from .utils.logging import get_logger

# Reference feature lists (scripts/04_train_sparkml.py:85-99).
TRIPS_NUMERIC = ["trip_distance", "fare_amount", "passenger_count", "pickup_hour", "pickup_dow", "is_weekend"]
TRIPS_CATEGORICAL = ["payment_type", "vendor_id", "ratecode_id", "pu_location", "do_location"]


def _add_month_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--year", required=True)
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--month")
    g.add_argument("--months", help="comma-separated month list")
    g.add_argument("--quarter", type=int)
    p.add_argument("--skip-missing", action="store_true")


def _add_spark_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None)
    p.add_argument("--app-name", default="proyecto-final-de-big-data-spark")


def _session(args):
    from .session import get_spark

    kwargs = {"app_name": args.app_name}
    if args.master:
        kwargs["master"] = args.master
    return get_spark(**kwargs)


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="proyecto_final_de_big_data_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("download", help="fetch monthly parquet + manifest upsert (S1-S3)")
    _add_month_args(p)
    p.add_argument("--base-url", required=True, help="http(s):// or file:// base")
    p.add_argument("--output-dir", required=True)
    p.add_argument("--file-pattern", default="yellow_tripdata_{year}-{month}.parquet")
    p.add_argument("--manifest-path", default=None)
    p.add_argument("--force", action="store_true")

    p = sub.add_parser("etl", help="raw -> curated partitioned parquet (entry point 02)")
    _add_month_args(p)
    _add_spark_args(p)
    p.add_argument("--raw-root", required=True)
    p.add_argument("--curated-root", required=True)
    p.add_argument("--sample-frac", type=float, default=None)
    p.add_argument("--max-rows", type=int, default=None)
    p.add_argument("--no-outliers", action="store_true", help="skip the quantile clip")
    p.add_argument("--p-lower", type=float, default=0.01)
    p.add_argument("--p-upper", type=float, default=0.99)

    p = sub.add_parser("run", help="run registered queries and export them (03/06)")
    _add_spark_args(p)
    p.add_argument("--sf-dir", required=True, help="table root (e.g. /root/testdata/sf0.01)")
    p.add_argument("--out", required=True)
    p.add_argument("--queries", default="all", help="comma list of registry names, or 'all'")
    p.add_argument("--fmt", default="parquet", choices=["parquet", "csv", "json"])
    p.add_argument("--single-file", action="store_true")

    p = sub.add_parser("curate", help="document-curation pass: PII/quality/dedup/mix/split")
    _add_spark_args(p)
    p.add_argument("--input", required=True, help="documents parquet (id/text columns)")
    p.add_argument("--output", required=True, help="curated parquet root")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--no-pii-redaction", action="store_true")
    p.add_argument("--min-quality", type=float, default=None)
    p.add_argument("--blocklist-terms", default=None, help="comma list of literal terms; matching docs are dropped")
    p.add_argument("--drop-repetitive", action="store_true")
    p.add_argument("--strip-spans", action="store_true", help="strip cross-document duplicated spans (ExactSubstr) before whole-doc dedup")
    p.add_argument("--span-min-len", type=int, default=50, help="minimum duplicated-span length in characters")
    p.add_argument("--no-span-prefilter", action="store_true", help="disable the winnowing candidate prefilter (adversarial corpora)")
    p.add_argument("--dedup", default="exact", choices=["exact", "incremental", "minhash", "none"])
    p.add_argument("--historical", default=None, help="ingested-corpus parquet (incremental dedup)")
    p.add_argument("--minhash-threshold", type=float, default=0.7, help="Jaccard cutoff for near-dup pairs (minhash dedup / cluster-safe split)")
    p.add_argument("--dedup-score-col", default=None, help="keep the highest-scoring member per near-dup cluster (minhash dedup)")
    p.add_argument("--cap-group-cols", default=None, help="comma list (e.g. source,lang) — enables the hard per-group cap")
    p.add_argument("--cap-max", type=int, default=0, help="max rows kept per cap group")
    p.add_argument("--cap-score-col", default=None, help="keep highest values first (default: lowest ids)")
    p.add_argument("--select-stratum-col", default=None, help="e.g. lang — enables token-budget selection (best-quality bins per stratum until the budget fills)")
    p.add_argument("--select-budget", type=int, default=0, help="per-stratum token budget")
    p.add_argument("--select-score-col", default=None, help="existing quality column (default: built-in quality_score over --text-col)")
    p.add_argument("--select-token-col", default=None, help="existing token-count column (default: built-in token_count over --text-col)")
    p.add_argument("--select-strict-budget", action="store_true", help="drop the boundary bin instead of keeping it (undershoot instead of overshoot)")
    p.add_argument("--mix-stratum-col", default=None, help="e.g. lang — enables stratum mixing")
    p.add_argument("--mix-alpha", type=float, default=0.5)
    p.add_argument("--mix-mode", default="temperature", choices=["temperature", "epochs"], help="downsample over-represented strata, or repeat rare strata (adds an epoch column)")
    p.add_argument("--split", default="train=0.9,eval=0.1", help="'none' to skip")
    p.add_argument("--split-mode", default="hash", choices=["hash", "cluster_safe"], help="cluster_safe keys the split on near-dup components so near-duplicates never straddle splits")
    p.add_argument("--publish", action="store_true", help="also write release artifacts (_manifest fingerprint, _profile) next to the data")
    p.add_argument("--manifest-group-cols", default=None, help="comma list for the manifest grouping (default: split)")

    p = sub.add_parser("train", help="fit + evaluate + save regression pipeline (04)")
    _add_spark_args(p)
    p.add_argument("--input", required=True, help="curated parquet root")
    p.add_argument("--label", default="trip_duration_min")
    p.add_argument("--algo", default="gbt", choices=["gbt", "rf", "lr"])
    p.add_argument("--model-out", required=True)
    p.add_argument("--metrics-out", default=None)
    p.add_argument("--sample-frac", type=float, default=None)
    p.add_argument("--max-rows", type=int, default=None)

    p = sub.add_parser("score", help="load model + score a slice to partitioned parquet (05)")
    _add_spark_args(p)
    p.add_argument("--input", required=True)
    p.add_argument("--model", required=True)
    p.add_argument("--output", required=True)

    p = sub.add_parser("optimize", help="lakehouse maintenance: compact small files, optionally sort for data skipping")
    _add_spark_args(p)
    p.add_argument("--input", required=True, help="fragmented parquet dataset")
    p.add_argument("--output", required=True, help="rewritten dataset root")
    p.add_argument("--target-mb", type=int, default=128, help="target file size")
    p.add_argument("--sort-by", default=None, help="comma list — also lay out row groups for skipping on these columns")

    p = sub.add_parser(
        "evaluate",
        help="classifier evaluation: AUC, threshold report, lift table, "
        "calibration (Brier/ECE) over a scored parquet",
    )
    _add_spark_args(p)
    p.add_argument("--input", required=True, help="scored parquet path")
    p.add_argument("--score-col", required=True)
    p.add_argument("--label-col", required=True, help="boolean-castable label column")
    p.add_argument("--lo", type=float, required=True, help="score axis lower bound")
    p.add_argument("--hi", type=float, required=True, help="score axis upper bound")
    p.add_argument("--buckets", type=int, default=1024, help="score cells for AUC")
    p.add_argument(
        "--thresholds", default="0.5", help="comma list for the confusion report"
    )
    p.add_argument("--lift-bins", type=int, default=10)
    p.add_argument(
        "--probability",
        action="store_true",
        help="scores are probabilities in [0,1]: also report Brier/ECE",
    )
    p.add_argument("--output", default=None, help="write results under this dir instead of printing")

    p = sub.add_parser("profile", help="one-pass per-column table profile (EDA)")
    _add_spark_args(p)
    p.add_argument("--input", required=True, help="parquet path")
    p.add_argument("--cols", default=None, help="comma list (default: all columns)")
    p.add_argument("--exact-distinct", action="store_true", help="exact count(DISTINCT) instead of the HLL sketch")
    p.add_argument("--output", default=None, help="write the profile as parquet instead of printing")

    return parser


def cmd_download(args, log) -> int:
    from .io.ingest import ingest_months

    months = resolve_months(args.month, args.months, args.quarter)
    records = ingest_months(
        args.base_url,
        args.output_dir,
        args.year,
        months,
        file_pattern=args.file_pattern,
        manifest_path=args.manifest_path,
        force=args.force,
        skip_missing=args.skip_missing,
        logger=log,
    )
    log.info("ingested %d/%d months", len(records), len(months))
    return 0


def cmd_etl(args, log) -> int:
    from .catalog import read_months
    from .pipelines.etl import EtlConfig, curate_trips, write_curated

    months = resolve_months(args.month, args.months, args.quarter)
    spark = _session(args)
    raw = read_months(spark, args.raw_root, args.year, months, args.skip_missing, log)
    if raw is None:
        log.warning("no input partitions found, nothing to do")
        return 0
    cfg = EtlConfig(
        sample_fraction=args.sample_frac,
        max_rows=args.max_rows,
        apply_clip=not args.no_outliers,
        clip_lower=args.p_lower,
        clip_upper=args.p_upper,
    )
    curated = curate_trips(raw, cfg)
    write_curated(curated, args.curated_root)
    log.info("curated written to %s", args.curated_root)
    return 0


def cmd_run(args, log) -> int:
    from .io.export import export_table
    from .queries import QUERIES

    names = list(QUERIES) if args.queries == "all" else [q.strip() for q in args.queries.split(",") if q.strip()]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        log.error("unknown queries: %s (known: %s)", unknown, sorted(QUERIES))
        return 1
    spark = _session(args)
    for name in names:
        df = QUERIES[name].spark_fn(spark, args.sf_dir)
        export_table(df, f"{args.out}/{name}", fmt=args.fmt, single_file=args.single_file)
        log.info("exported %s (%s)", name, args.fmt)
    return 0


def _parse_split(spec: str | None) -> dict[str, float] | None:
    """'train=0.9,eval=0.1' -> {'train': 0.9, 'eval': 0.1}; 'none'/empty
    -> None. Clear usage errors for malformed parts and duplicates."""
    if not spec or spec == "none":
        return None
    split: dict[str, float] = {}
    for part in spec.split(","):
        name, eq, frac = part.partition("=")
        name = name.strip()
        if not eq or not name:
            raise ValueError(
                f"malformed --split part {part!r}; expected name=fraction "
                "(e.g. train=0.9,eval=0.1) or 'none'"
            )
        try:
            value = float(frac)
        except ValueError:
            raise ValueError(f"--split fraction for {name!r} is not a number: {frac!r}")
        if name in split:
            raise ValueError(f"duplicate --split name {name!r}")
        split[name] = value
    return split


def _comma_list(value: str | None) -> list[str] | None:
    if not value:
        return None
    return [v.strip() for v in value.split(",") if v.strip()]


def _curation_config(args):
    from .pipelines.curation import CurationConfig

    return CurationConfig(
        id_col=args.id_col,
        text_col=args.text_col,
        redact_pii=not args.no_pii_redaction,
        min_quality=args.min_quality,
        blocklist_terms=_comma_list(args.blocklist_terms),
        drop_repetitive=args.drop_repetitive,
        strip_spans=args.strip_spans,
        span_min_len=args.span_min_len,
        span_prefilter=not args.no_span_prefilter,
        dedup=args.dedup,
        minhash_threshold=args.minhash_threshold,
        dedup_score_col=args.dedup_score_col,
        cap_group_cols=_comma_list(args.cap_group_cols),
        cap_max_rows=args.cap_max,
        cap_score_col=args.cap_score_col,
        select_stratum_col=args.select_stratum_col,
        select_token_budget=args.select_budget,
        select_score_col=args.select_score_col,
        select_token_col=args.select_token_col,
        select_include_boundary=not args.select_strict_budget,
        mix_stratum_col=args.mix_stratum_col,
        mix_alpha=args.mix_alpha,
        mix_mode=args.mix_mode,
        split_fractions=_parse_split(args.split),
        split_mode=args.split_mode,
    )


def cmd_curate(args, log) -> int:
    from .pipelines.curation import run_curation

    if args.dedup == "incremental" and not args.historical:
        raise ValueError("--dedup incremental requires --historical")
    # Everything checkable from args fails BEFORE JVM startup and long
    # before the corpus write: split spec parse errors, and publish
    # preconditions (discovering a missing manifest grouping only after
    # run_curation would waste the whole curation job).
    cfg = _curation_config(args)
    publish_group_cols = None
    if getattr(args, "publish", False):
        publish_group_cols = _comma_list(args.manifest_group_cols) or (
            ["split"] if cfg.split_fractions else []
        )
        if not publish_group_cols:
            raise ValueError(
                "--publish needs --manifest-group-cols when --split none"
            )
    spark = _session(args)
    historical = spark.read.parquet(args.historical) if args.historical else None
    # run_curation materializes by WRITING the sink (the curated corpus
    # is never pinned) and releases the stage pins afterwards.
    run_curation(spark.read.parquet(args.input), cfg, args.output, historical)
    log.info("curated documents written to %s", args.output)
    if publish_group_cols is not None:
        from .pipelines.release import publish_release

        summary = publish_release(
            spark,
            args.output,
            args.output,
            cfg.id_col,
            [cfg.text_col],
            publish_group_cols,
        )
        log.info("release artifacts published: %s", summary)
    return 0


def cmd_train(args, log) -> int:
    from .io.export import export_table
    from .ml.pipeline import TrainConfig, metrics_frame, save_model, train_and_evaluate

    spark = _session(args)
    df = spark.read.parquet(args.input)
    if args.sample_frac is not None and 0 < args.sample_frac < 1:
        df = df.sample(args.sample_frac, seed=42)
    if args.max_rows is not None:
        df = df.limit(args.max_rows)
    cfg = TrainConfig(
        label=args.label,
        numeric_features=[c for c in TRIPS_NUMERIC if c != args.label],
        categorical_features=TRIPS_CATEGORICAL,
        algorithm=args.algo,
    )
    model, metrics, _ = train_and_evaluate(df, cfg)
    save_model(model, args.model_out)
    log.info("model saved to %s; metrics %s", args.model_out, metrics)
    if args.metrics_out:
        export_table(
            metrics_frame(spark, metrics, algorithm=args.algo, label=args.label),
            args.metrics_out,
            fmt="json",
            single_file=True,
        )
    return 0


def cmd_score(args, log) -> int:
    from .ml.pipeline import batch_score, load_model

    spark = _session(args)
    df = spark.read.parquet(args.input)
    scored = batch_score(load_model(args.model), df)
    writer = scored.write.mode("overwrite")
    if {"year", "month"} <= set(scored.columns):
        writer = writer.partitionBy("year", "month")
    writer.parquet(args.output)
    log.info("scored output written to %s", args.output)
    return 0


def cmd_optimize(args, log) -> int:
    from .io.compact import compact_dataset

    spark = _session(args)
    sort_cols = (
        [c.strip() for c in args.sort_by.split(",") if c.strip()]
        if args.sort_by
        else None
    )
    report = compact_dataset(
        spark,
        args.input,
        args.output,
        target_file_bytes=args.target_mb * 1024 * 1024,
        sort_cols=sort_cols,
    )
    log.info(
        "optimized %s -> %s: %d files (%d bytes) -> %d written (%d planned)",
        args.input, args.output, report.n_input_files, report.input_bytes,
        report.n_written_files, report.n_planned_files,
    )
    return 0


def cmd_profile(args, log) -> int:
    from .operators.profile import profile_columns

    spark = _session(args)
    cols = (
        [c.strip() for c in args.cols.split(",") if c.strip()] if args.cols else None
    )
    prof = profile_columns(
        spark.read.parquet(args.input), cols, exact_distinct=args.exact_distinct
    )
    if args.output:
        prof.coalesce(1).write.mode("overwrite").parquet(args.output)
        log.info("profile written to %s", args.output)
    else:
        prof.show(truncate=False)
    return 0


def cmd_evaluate(args, log) -> int:
    from .ml.evaluation import (
        brier_and_ece,
        classification_report,
        lift_table,
        roc_auc,
    )

    spark = _session(args)
    df = spark.read.parquet(args.input)
    ths = [float(t) for t in args.thresholds.split(",") if t.strip()]
    results = {
        "auc": roc_auc(
            df, args.score_col, args.label_col, lo=args.lo, hi=args.hi,
            n_buckets=args.buckets,
        ),
        "report": classification_report(
            df, args.score_col, args.label_col, thresholds=ths
        ),
        "lift": lift_table(
            df, args.score_col, args.label_col, n_bins=args.lift_bins
        ),
    }
    if args.probability:
        results["calibration"] = brier_and_ece(
            df, args.score_col, args.label_col
        )
    for name, frame in results.items():
        if args.output:
            dest = f"{args.output.rstrip('/')}/{name}"
            frame.coalesce(1).write.mode("overwrite").parquet(dest)
            log.info("%s written to %s", name, dest)
        else:
            log.info("-- %s --", name)
            frame.show(truncate=False)
    return 0


COMMANDS = {
    "download": cmd_download,
    "evaluate": cmd_evaluate,
    "etl": cmd_etl,
    "run": cmd_run,
    "curate": cmd_curate,
    "train": cmd_train,
    "score": cmd_score,
    "optimize": cmd_optimize,
    "profile": cmd_profile,
}


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    log = get_logger(f"cli.{args.command}")
    try:
        return COMMANDS[args.command](args, log)
    except ValueError as err:
        log.error(str(err))
        return 1


if __name__ == "__main__":
    sys.exit(main())
