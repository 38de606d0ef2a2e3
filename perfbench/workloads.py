"""The benchmark's workloads: what one pass runs and how its output is
checked.

Every operation is a sequence of phases timed by a ``Clock``; each phase
is one call into a public engine function and is named
``<module>.<verb>`` after the module it calls. ``verify(name)`` checks
the output of the last run of an operation, untimed, and returns an
error message, or None when the output is right.
"""

from __future__ import annotations

import math
import os
import random
import time
from contextlib import contextmanager

import datagen

from proyecto_final_de_big_data_spark import oracle
from proyecto_final_de_big_data_spark.catalog import read_months
from proyecto_final_de_big_data_spark.io.compact import compact_dataset
from proyecto_final_de_big_data_spark.io.export import export_table, read_exported
from proyecto_final_de_big_data_spark.ml.pipeline import (
    TrainConfig,
    batch_score,
    load_model,
    save_model,
    train_and_evaluate,
)
from proyecto_final_de_big_data_spark.pipelines.etl import curate_trips, write_curated
from proyecto_final_de_big_data_spark.queries import QUERIES

# Phases that construct frames (their jobs are eager work done before
# the frame exists); every other phase exists to run jobs.
BUILD_PHASES = frozenset(
    {"queries.build", "catalog.read_months", "pipelines.etl.curate", "ml.pipeline.load", "ml.pipeline.score"}
)


class Clock:
    """Times the phases of the current operation. When traced, each
    phase runs under the Spark job group ``<workload>:<op>:<phase>``."""

    def __init__(self, spark, workload: str, traced: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.traced = traced
        self.phases: dict[str, float] = {}

    @contextmanager
    def phase(self, op: str, phase: str):
        if self.traced:
            self.sc.setJobGroup(f"{self.workload}:{op}:{phase}", phase)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[phase] = self.phases.get(phase, 0.0) + time.perf_counter() - t0
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


class MartRefresh:
    """EDA marts and dashboard tables over the generated star schema:
    each operation builds one registered query's frame and exports it as
    one CSV file."""

    name = "mart_refresh"
    queries = (
        "kpis",
        "trips_by_hour_dow",
        "top_suppliers",
        "outlier_clipped_kpis",
        "grouped_outlier_clip_profile",
        "decile_profile_contract",
        "pricing_summary",
        "revenue_by_nation",
        "rollup_returnflag_status",
    )

    def __init__(self, spark, root: str, seed: int, tiny: bool):
        self.spark = spark
        self.input_dir = os.path.join(root, "star")
        self.out_dir = os.path.join(root, "out")
        self.seed = seed
        self.sf = 0.001 if tiny else 0.002
        self.order = random.Random(seed)

    def prepare(self) -> dict:
        rows = datagen.write_star(self.input_dir, self.seed, self.sf)
        return {"sf": self.sf, "rows": rows}

    def pass_ops(self) -> list[str]:
        """The operations of one pass, in an order drawn from the seed."""
        ops = list(self.queries)
        self.order.shuffle(ops)
        return ops

    def layer_counts(self) -> dict[str, float]:
        return {}

    def run_op(self, name: str, clock: Clock) -> None:
        with clock.phase(name, "queries.build"):
            df = QUERIES[name].spark_fn(self.spark, self.input_dir)
        with clock.phase(name, "io.export.write"):
            export_table(df, os.path.join(self.out_dir, name), fmt="csv", single_file=True)

    def verify(self, name: str) -> str | None:
        """Read the exported CSV back and compare it with the query's
        DuckDB oracle; the export must be one data file."""
        path = os.path.join(self.out_dir, name)
        files = [f for f in os.listdir(path) if not f.startswith((".", "_"))]
        if len(files) != 1:
            return f"{name}: export wrote {len(files)} data files, not 1"
        exported = read_exported(self.spark, path, "csv")
        ok, msg = oracle.compare(exported, oracle.run_oracle(QUERIES[name].oracle, self.input_dir))
        return None if ok else f"{name}: exported CSV: {msg}"


TRIP_NUMERIC = ["trip_distance", "passenger_count", "pickup_hour", "pickup_dow", "is_weekend"]
TRIP_CATEGORICAL = ["payment_type", "vendor_id", "ratecode_id"]
MONTHS = list(datagen.MONTHS)


class LakeRefresh:
    """Raw monthly trips -> curated lake -> compacted -> model -> scores."""

    name = "lake_refresh"

    def __init__(self, spark, root: str, seed: int, tiny: bool):
        self.spark = spark
        self.input_dir = os.path.join(root, "raw")
        self.seed = seed
        self.rows_per_month = 2_000 if tiny else 5_000
        self.paths = {k: os.path.join(root, "out", k) for k in ("curated", "compacted", "model", "scored")}
        self.raw_rows = 0
        self.metrics: dict[str, float] = {}
        self.compaction = None

    def prepare(self) -> dict:
        self.raw_rows = datagen.write_raw_trips(self.input_dir, self.seed, self.rows_per_month)
        return {"raw_rows": self.raw_rows, "months": MONTHS}

    def pass_ops(self) -> list[str]:
        return ["etl", "compact", "train", "score"]

    def run_op(self, name: str, clock: Clock) -> None:
        p = self.paths
        if name == "etl":
            with clock.phase(name, "catalog.read_months"):
                raw = read_months(self.spark, self.input_dir, datagen.YEAR, MONTHS)
            with clock.phase(name, "pipelines.etl.curate"):
                curated = curate_trips(raw)
            with clock.phase(name, "pipelines.etl.write"):
                write_curated(curated, p["curated"])
        elif name == "compact":
            with clock.phase(name, "io.compact"):
                self.compaction = compact_dataset(self.spark, p["curated"], p["compacted"], target_file_bytes=128 << 10)
        elif name == "train":
            cfg = TrainConfig(
                label="fare_amount",
                numeric_features=TRIP_NUMERIC,
                categorical_features=TRIP_CATEGORICAL,
                algorithm="lr",
            )
            with clock.phase(name, "ml.pipeline.train"):
                model, self.metrics, _ = train_and_evaluate(self.spark.read.parquet(p["compacted"]), cfg)
            with clock.phase(name, "ml.pipeline.save"):
                save_model(model, p["model"])
        elif name == "score":
            with clock.phase(name, "ml.pipeline.load"):
                model = load_model(p["model"])
            with clock.phase(name, "ml.pipeline.score"):
                scored = batch_score(model, self.spark.read.parquet(p["compacted"]))
            with clock.phase(name, "io.export.write"):
                export_table(
                    scored.drop("features", *[c for c in scored.columns if c.endswith(("__idx", "__oh"))]),
                    p["scored"],
                    partition_by=("year", "month"),
                )
        else:
            raise KeyError(name)

    def _rows(self, key: str) -> int:
        return self.spark.read.parquet(self.paths[key]).count()

    def _months(self, key: str) -> list[str]:
        df = self.spark.read.parquet(self.paths[key])
        return sorted(f"{int(r[0]):02d}" for r in df.select("month").distinct().collect())

    def verify(self, name: str) -> str | None:
        """Rows conserved through every step, all months present and
        finite train metrics."""
        if name == "etl":
            kept = self._rows("curated")
            if not 0.9 * self.raw_rows <= kept < self.raw_rows:
                return f"etl: kept {kept} of {self.raw_rows} raw rows"
            if self._months("curated") != MONTHS:
                return f"etl: months {self._months('curated')}"
        elif name == "compact":
            if self._rows("compacted") != self._rows("curated"):
                return "compact: row count changed"
            if self.compaction.n_written_files > self.compaction.n_input_files:
                return f"compact: {self.compaction}"
        elif name == "train":
            bad = {k: v for k, v in self.metrics.items() if not math.isfinite(v)}
            if bad or not self.metrics:
                return f"train: non-finite metrics {bad}"
        elif name == "score":
            if self._rows("scored") != self._rows("compacted"):
                return "score: row count changed"
            if self._months("scored") != MONTHS:
                return f"score: months {self._months('scored')}"
        return None

    def layer_counts(self) -> dict[str, float]:
        return {
            "pipelines.etl.rows_kept_frac": self._rows("curated") / self.raw_rows,
            "io.compact.files_in": self.compaction.n_input_files,
            "io.compact.files_out": self.compaction.n_written_files,
        }


WORKLOADS = {w.name: w for w in (MartRefresh, LakeRefresh)}
