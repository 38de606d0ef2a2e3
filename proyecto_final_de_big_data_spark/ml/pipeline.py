"""Regression feature/train/score/evaluate loop (reference M1–M7,
``src/ml/pipeline.py:5-47``, ``scripts/04_train_sparkml.py:85-151``,
``src/ml/metrics.py:3-8``): StringIndexer(keep) → OneHotEncoder →
VectorAssembler(keep) → GBT/RF/LR regressor, RMSE/MAE/R² evaluation,
model save/load, metrics as a one-row DataFrame.

Column lists are intersected with actually-present columns
(schema-flexible consumption, reference ``scripts/04_train_sparkml.py:101-102``).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from functools import partial

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.regression import GBTRegressor, LinearRegression, RandomForestRegressor
from pyspark.ml.pipeline import PipelineSharedReadWrite
from pyspark.ml.util import DefaultParamsReader
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..utils.caching import pin, scope
from ..utils.rows import literal_rows
from ..utils.threads import run_concurrently


@dataclass
class TrainConfig:
    label: str
    numeric_features: list[str] = field(default_factory=list)
    categorical_features: list[str] = field(default_factory=list)
    algorithm: str = "gbt"  # gbt | rf | lr
    max_iter: int = 50
    max_depth: int = 5
    num_trees: int = 100
    seed: int = 42
    train_fraction: float = 0.8
    # Indexing determinism knobs. The training default (frequencyDesc +
    # keep) matches the reference's scripts/04_train_sparkml.py:89-93;
    # contract queries set alphabetAsc + error so the index function is
    # a pure, oracle-computable dense rank over the sorted label set.
    string_order_type: str = "frequencyDesc"
    handle_invalid: str = "keep"


def build_pipeline(df: DataFrame, cfg: TrainConfig) -> tuple[Pipeline, list[str], list[str]]:
    """Assemble the feature+regressor pipeline over present columns."""
    present = set(df.columns)
    numeric = [c for c in cfg.numeric_features if c in present]
    categorical = [c for c in cfg.categorical_features if c in present]
    if not numeric and not categorical:
        raise ValueError("no configured feature columns present in the input")

    stages = []
    ohe_cols = [f"{c}__oh" for c in categorical]
    if categorical:
        # Multi-column estimator mode: ONE StringIndexer fit (a single
        # distinct-count pass over all categorical columns together) and
        # ONE OneHotEncoder fit, instead of a fit job per column — the
        # per-stage jobs each rescan the (cached) train split, so stage
        # count is the ML-loop fit cost driver.
        stages.append(
            StringIndexer(
                inputCols=categorical,
                outputCols=[f"{c}__idx" for c in categorical],
                handleInvalid=cfg.handle_invalid,
                stringOrderType=cfg.string_order_type,
            )
        )
        stages.append(
            OneHotEncoder(
                inputCols=[f"{c}__idx" for c in categorical],
                outputCols=ohe_cols,
            )
        )
    stages.append(
        VectorAssembler(inputCols=numeric + ohe_cols, outputCol="features", handleInvalid="keep")
    )
    if cfg.algorithm == "gbt":
        reg = GBTRegressor(
            labelCol=cfg.label, featuresCol="features",
            maxIter=cfg.max_iter, maxDepth=cfg.max_depth, seed=cfg.seed,
        )
    elif cfg.algorithm == "rf":
        reg = RandomForestRegressor(
            labelCol=cfg.label, featuresCol="features",
            numTrees=cfg.num_trees, maxDepth=cfg.max_depth, seed=cfg.seed,
        )
    elif cfg.algorithm == "lr":
        # solver="normal": closed-form via normal equations — ONE
        # distributed pass instead of maxIter gradient scans; valid while
        # feature dim is small (< ~4096), which holds for this surface.
        reg = LinearRegression(
            labelCol=cfg.label, featuresCol="features", maxIter=cfg.max_iter, solver="normal"
        )
    else:
        raise ValueError(f"unknown algorithm {cfg.algorithm!r}")
    stages.append(reg)
    return Pipeline(stages=stages), numeric, categorical


def evaluate(predictions: DataFrame, label: str) -> dict[str, float]:
    """rmse / mae / r2 (reference M7) and ``rows``, the number of
    scored rows — ONE aggregation pass.

    Same metric definitions as ``RegressionEvaluator`` (rmse =
    sqrt(SSE/n), mae = SAE/n, r2 = 1 − SSE/SStot with SStot about the
    label mean), computed from closed-form sufficient sums in a single
    job instead of one evaluator job per metric (three passes over the
    predictions frame became one; agreement with the evaluator is
    summation-order only, ~1e-12 relative — the same tolerance class
    the rounded contract gates already absorb). ``rows`` is that
    aggregation's own count, so a caller needs no second count."""
    y = F.col(label).cast("double")
    p = F.col("prediction").cast("double")
    e = y - p
    row = predictions.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(e * e).alias("sse"),
        F.sum(F.abs(e)).alias("sae"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
    ).collect()[0]
    n = int(row["n"] or 0)
    if n == 0:
        # RegressionEvaluator on an empty frame yields NaN metrics.
        return {"rmse": float("nan"), "mae": float("nan"), "r2": float("nan"), "rows": 0}
    sse, sae = float(row["sse"]), float(row["sae"])
    mean_y = float(row["sy"]) / n
    sstot = float(row["syy"]) - n * mean_y * mean_y
    return {
        "rmse": (sse / n) ** 0.5,
        "mae": sae / n,
        "r2": (1.0 - sse / sstot) if sstot != 0.0 else float("nan"),
        "rows": n,
    }


def train_and_evaluate(df: DataFrame, cfg: TrainConfig) -> tuple[PipelineModel, dict[str, float], DataFrame]:
    """80/20 split → fit → score test → metrics dict + predictions.

    The train split is pinned before ``fit`` — the fit otherwise
    re-reads the source and recomputes the split once per internal job
    (each StringIndexer distinct-count, the regressor solve, …).
    Predictions are scored once, by ``evaluate``'s one aggregation,
    which also counts the test rows, so they are not pinned. The train
    pin lives in this function's own ``scope()`` and is released before
    it returns (utils/caching.py), so the returned predictions frame is
    rebuilt as ``model.transform(test)`` over the unpinned split: it
    recomputes when the caller acts on it.

    The input is pruned to label + used feature columns BEFORE the
    split/pin: every fit job and the pinned train partition then
    carry only what the model reads (at 100 TB, caching unread fact
    columns is the difference between fitting in memory and spilling).
    """
    pipeline, numeric, categorical = build_pipeline(df, cfg)
    df = df.select(cfg.label, *numeric, *categorical)
    train, test = df.randomSplit([cfg.train_fraction, 1 - cfg.train_fraction], seed=cfg.seed)
    with scope():
        train = pin(train)
        model = pipeline.fit(train)
        metrics = evaluate(model.transform(test), cfg.label)
        metrics["rows_train"] = train.count()
        metrics["rows_test"] = metrics.pop("rows")
    return model, metrics, model.transform(test)


def metrics_frame(spark: SparkSession, metrics: dict, **tags: str) -> DataFrame:
    """One-row metrics record (reference's resumen dict → JSON sink):
    metrics as doubles, tags as strings, columns in name order."""
    row = {**{k: float(v) for k, v in metrics.items()}, **tags}
    names = sorted(row)
    schema = StructType([StructField(k, DoubleType() if isinstance(row[k], float) else StringType()) for k in names])
    return literal_rows(spark, [[row[k] for k in names]], schema)


def save_model(model: PipelineModel, path: str) -> None:
    """Write ``model`` to ``path`` in Spark's own PipelineModel layout,
    replacing what is there; Spark's ``PipelineModel.load`` reads it.

    The layout is the one ``model.write().save`` produces:

    - ``path/metadata``: one JSON line, ``class``
      ``org.apache.spark.ml.PipelineModel``, ``timestamp``,
      ``sparkVersion``, ``uid``, ``paramMap.stageUids`` and an empty
      ``defaultParamMap``, in that order with compact separators;
    - ``path/stages/<idx>_<uid>``: each stage's own writer output, named
      by ``PipelineSharedReadWrite.getStagePath``.

    The JVM class name assumes JVM-backed stages, as every stage
    :func:`build_pipeline` makes is.

    Spark writes the metadata and each stage's metadata and data as
    separate one-task jobs, one after another, and most of their time
    is driver-side planning, listing and commit work. The stages are
    independent, so after the overwrite's delete the pipeline metadata
    and every stage are written concurrently
    (``utils/threads.run_concurrently``). The metadata row is built in
    the JVM (``spark.range``), not from a Python list, whose write needs
    a Python worker.
    """
    spark = SparkSession.active()
    _delete_path(spark, path)
    stages = model.stages
    meta = json.dumps(
        {
            "class": "org.apache.spark.ml.PipelineModel",
            "timestamp": int(round(time.time() * 1000)),
            "sparkVersion": spark.version,
            "uid": model.uid,
            "paramMap": {"stageUids": [s.uid for s in stages]},
            "defaultParamMap": {},
        },
        separators=(",", ":"),
    )

    def write_metadata() -> None:
        spark.range(0, 1, 1, 1).select(F.lit(meta).alias("value")).write.text(
            os.path.join(path, "metadata")
        )

    def write_stage(stage, stage_path: str) -> None:
        stage.write().save(stage_path)

    n = len(stages)
    run_concurrently(
        spark,
        [write_metadata] + [partial(write_stage, s, _stage_path(path, s.uid, i, n)) for i, s in enumerate(stages)],
    )


def load_model(path: str) -> PipelineModel:
    """Read a PipelineModel that :func:`save_model` or Spark's own
    writer left at ``path``.

    The pipeline metadata is read once; then every stage is loaded
    concurrently with ``DefaultParamsReader.loadParamsInstance``, the
    loader Spark's reader calls for each stage in turn. The jobs are the
    same as Spark's; they overlap instead of running one by one.
    """
    spark = SparkSession.active()
    meta = DefaultParamsReader.loadMetadata(path, spark)
    uids = meta["paramMap"]["stageUids"]
    load = DefaultParamsReader.loadParamsInstance
    stages = run_concurrently(
        spark, [partial(load, _stage_path(path, u, i, len(uids)), spark) for i, u in enumerate(uids)]
    )
    model = PipelineModel(stages)
    model._resetUid(meta["uid"])
    return model


def _stage_path(path: str, uid: str, index: int, n_stages: int) -> str:
    return PipelineSharedReadWrite.getStagePath(uid, index, n_stages, os.path.join(path, "stages"))


def _delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` through its Hadoop ``FileSystem``, as
    Spark's ``MLWriter.overwrite()`` does, so any scheme works."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if fs.exists(jpath):
        fs.delete(jpath, True)


def batch_score(model: PipelineModel, df: DataFrame) -> DataFrame:
    """Reference entry point 05: load model, transform a full slice."""
    return model.transform(df)
