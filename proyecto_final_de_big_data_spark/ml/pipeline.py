"""Regression feature/train/score/evaluate loop (reference M1–M7,
``src/ml/pipeline.py:5-47``, ``scripts/04_train_sparkml.py:85-151``,
``src/ml/metrics.py:3-8``): StringIndexer(keep) → OneHotEncoder →
VectorAssembler(keep) → GBT/RF/LR regressor, RMSE/MAE/R² evaluation,
model save/load, metrics as a one-row DataFrame.

Column lists are intersected with actually-present columns
(schema-flexible consumption, reference ``scripts/04_train_sparkml.py:101-102``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.regression import GBTRegressor, LinearRegression, RandomForestRegressor
from pyspark.sql import DataFrame, SparkSession

from ..utils.caching import pin, scope


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
    """rmse / mae / r2 (reference M7) — ONE aggregation pass.

    Same metric definitions as ``RegressionEvaluator`` (rmse =
    sqrt(SSE/n), mae = SAE/n, r2 = 1 − SSE/SStot with SStot about the
    label mean), computed from closed-form sufficient sums in a single
    job instead of one evaluator job per metric (three passes over the
    predictions frame became one; agreement with the evaluator is
    summation-order only, ~1e-12 relative — the same tolerance class
    the rounded contract gates already absorb)."""
    from pyspark.sql import functions as F

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
        return {"rmse": float("nan"), "mae": float("nan"), "r2": float("nan")}
    sse, sae = float(row["sse"]), float(row["sae"])
    mean_y = float(row["sy"]) / n
    sstot = float(row["syy"]) - n * mean_y * mean_y
    return {
        "rmse": (sse / n) ** 0.5,
        "mae": sae / n,
        "r2": (1.0 - sse / sstot) if sstot != 0.0 else float("nan"),
    }


def train_and_evaluate(df: DataFrame, cfg: TrainConfig) -> tuple[PipelineModel, dict[str, float], DataFrame]:
    """80/20 split → fit → score test → metrics dict + predictions.

    The train split is pinned before ``fit`` — the fit otherwise
    re-reads the source and recomputes the split once per internal job
    (each StringIndexer distinct-count, the regressor solve, …).
    Predictions are pinned so the metrics aggregation and the test
    count score once. Both pins live in this function's own ``scope()``
    and are released before it returns (utils/caching.py), so the
    returned predictions frame is rebuilt as ``model.transform(test)``
    over the unpinned split: it recomputes when the caller acts on it.

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
        predictions = pin(model.transform(test))
        metrics = evaluate(predictions, cfg.label)
        metrics["rows_train"] = train.count()
        metrics["rows_test"] = predictions.count()
    return model, metrics, model.transform(test)


def metrics_frame(spark: SparkSession, metrics: dict, **tags: str) -> DataFrame:
    """One-row metrics record (reference's resumen dict → JSON sink)."""
    row = {**{k: float(v) for k, v in metrics.items()}, **tags}
    return spark.createDataFrame([row])


def save_model(model: PipelineModel, path: str) -> None:
    model.write().overwrite().save(path)


def load_model(path: str) -> PipelineModel:
    return PipelineModel.load(path)


def batch_score(model: PipelineModel, df: DataFrame) -> DataFrame:
    """Reference entry point 05: load model, transform a full slice."""
    return model.transform(df)
