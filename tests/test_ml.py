"""ML loop: train/evaluate/save/load/score on the sf0.001 fixtures
(reference M1–M7). Metric values are range-asserted, not pinned
(seeded but parallelism-dependent — SURVEY §7 risks)."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from proyecto_final_de_big_data_spark.catalog import load_table
from proyecto_final_de_big_data_spark.ml.pipeline import (
    TrainConfig,
    batch_score,
    build_pipeline,
    load_model,
    metrics_frame,
    save_model,
    train_and_evaluate,
)
from proyecto_final_de_big_data_spark.utils.plans import plan_text


def test_lr_train_evaluate_score_roundtrip(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem")
    cfg = TrainConfig(
        label="l_extendedprice",
        numeric_features=["l_quantity", "l_discount"],
        categorical_features=["l_returnflag"],
        algorithm="lr",
        max_iter=10,
    )
    model, metrics, _ = train_and_evaluate(li, cfg)
    assert set(metrics) == {"rmse", "mae", "r2", "rows_train", "rows_test"}
    assert metrics["rows_train"] + metrics["rows_test"] == li.count()
    # synthetic fixture columns are mutually independent → r2 ≈ 0 is the
    # correct outcome; this test checks the loop's plumbing
    assert -0.5 < metrics["r2"] <= 1.0
    assert metrics["rmse"] > 0 and metrics["mae"] > 0

    path = str(tmp_path / "model")
    save_model(model, path)
    scored = batch_score(load_model(path), li)
    assert scored.count() == li.count()
    assert "prediction" in scored.columns


def test_lr_learns_synthetic_relationship(spark):
    # y = 3x + 2 + tiny noise — the model must actually learn (r2 ≈ 1),
    # proving the loop trains rather than predicting the mean.
    rows = [(float(i), 3.0 * i + 2.0 + (i % 7) * 0.01) for i in range(200)]
    df = spark.createDataFrame(rows, ["x", "y"])
    cfg = TrainConfig(label="y", numeric_features=["x"], algorithm="lr", max_iter=20)
    _, metrics, _ = train_and_evaluate(df, cfg)
    assert metrics["r2"] > 0.99


def test_gbt_and_rf_train(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").limit(500)
    for algo, extra in (("gbt", {"max_iter": 5}), ("rf", {"num_trees": 5})):
        cfg = TrainConfig(
            label="l_extendedprice",
            numeric_features=["l_quantity"],
            categorical_features=[],
            algorithm=algo,
            max_depth=3,
            **extra,
        )
        _, metrics, _ = train_and_evaluate(li, cfg)
        assert metrics["rmse"] > 0


def test_metrics_frame_single_row(spark):
    mf = metrics_frame(spark, {"rmse": 1.0, "mae": 0.5}, algorithm="lr")
    rows = mf.collect()
    assert len(rows) == 1
    assert rows[0]["algorithm"] == "lr"


# ---------------------------------------------------------------------------
# Text quality classifier (ml/text_classifier.py)
# ---------------------------------------------------------------------------


def test_text_classifier_separates_planted_spam(spark):
    from pyspark.sql import functions as F

    from proyecto_final_de_big_data_spark.ml.text_classifier import (
        TextClassifierConfig,
        score_quality,
        train_quality_classifier,
    )

    good = [(i, f"alpha beta gamma delta {i % 7}", 1.0) for i in range(60)]
    spam = [(1000 + i, "zzqx zzqx zzqx zzqx", 0.0) for i in range(60)]
    df = spark.createDataFrame(good + spam, "doc_id long, text string, label double")
    train = df.filter(F.col("doc_id") % 2 == 0)
    test = df.filter(F.col("doc_id") % 2 == 1)
    model = train_quality_classifier(
        train, TextClassifierConfig(n_features=256, max_iter=20)
    )
    scored = score_quality(model, test)
    # output schema: original columns + quality_prob + keep, no ML residue
    assert set(scored.columns) == {"doc_id", "text", "label", "quality_prob", "keep"}
    rows = scored.collect()
    acc = sum(1 for r in rows if r["keep"] == (r["label"] == 1.0)) / len(rows)
    assert acc >= 0.95  # trivially separable by the spam token feature
    assert all(0.0 <= r["quality_prob"] <= 1.0 for r in rows)


def test_text_classifier_scoring_is_map_only(spark):
    from proyecto_final_de_big_data_spark.ml.text_classifier import (
        TextClassifierConfig,
        score_quality,
        train_quality_classifier,
    )

    df = spark.createDataFrame(
        [(i, "alpha beta", float(i % 2)) for i in range(40)],
        "doc_id long, text string, label double",
    )
    model = train_quality_classifier(
        df, TextClassifierConfig(n_features=64, max_iter=5)
    )
    scored = score_quality(model, df)
    # the 100-TB scoring path must be a pure projection over the scan
    assert "Exchange" not in plan_text(scored)


def test_evaluate_matches_regression_evaluator(spark):
    """The single-pass closed-form evaluate() (r11 optimization: one
    aggregation instead of three RegressionEvaluator jobs) must agree
    with MLlib's evaluator on every metric to float tolerance."""
    from pyspark.ml.evaluation import RegressionEvaluator

    from proyecto_final_de_big_data_spark.ml.pipeline import evaluate

    rows = [
        (1.0, 1.5), (2.0, 1.8), (3.0, 3.3), (4.5, 4.4),
        (5.0, 4.0), (0.5, 0.9), (2.5, 2.5), (7.0, 6.1),
    ]
    preds = spark.createDataFrame(rows, ["y", "prediction"])
    got = evaluate(preds, "y")
    for metric in ("rmse", "mae", "r2"):
        ev = RegressionEvaluator(
            labelCol="y", predictionCol="prediction", metricName=metric
        )
        want = ev.evaluate(preds)
        assert abs(got[metric] - want) < 1e-9, (metric, got[metric], want)
    assert got["rows"] == len(rows)


def test_evaluate_empty_frame_nan(spark):
    import math

    from proyecto_final_de_big_data_spark.ml.pipeline import evaluate

    preds = spark.createDataFrame([], "y double, prediction double")
    got = evaluate(preds, "y")
    assert all(math.isnan(got[m]) for m in ("rmse", "mae", "r2"))
    assert got["rows"] == 0


# ---------------------------------------------------------------------------
# Model sink/source (save_model / load_model): Spark's layout, concurrent I/O
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def lr_model(spark, sf_dir):
    """A fitted 4-stage pipeline: StringIndexer, OneHotEncoder,
    VectorAssembler, LinearRegression."""
    li = load_table(spark, sf_dir, "lineitem")
    cfg = TrainConfig(
        label="l_extendedprice",
        numeric_features=["l_quantity", "l_discount"],
        categorical_features=["l_returnflag"],
        algorithm="lr",
    )
    pipeline, _, _ = build_pipeline(li, cfg)
    return pipeline.fit(li), li


def _predictions(scored):
    return [r[0] for r in scored.select("prediction").collect()]


def _metadata(path) -> str:
    (part,) = (Path(path) / "metadata").glob("part-*")
    return re.sub(r'"timestamp":\d+', "", part.read_text())


def _layout(path) -> list[str]:
    """Every file under ``path``, with the write's random part-file ids
    blanked."""
    return sorted(
        re.sub(r"part-00000-[0-9a-f-]+", "part-00000", f.relative_to(path).as_posix())
        for f in Path(path).rglob("*")
        if f.is_file()
    )


def test_save_model_output_loads_with_spark_loaders(spark, lr_model, tmp_path):
    from pyspark.ml import PipelineModel
    from pyspark.sql import DataFrame

    model, li = lr_model
    path = str(tmp_path / "model")
    save_model(model, path)
    want = _predictions(model.transform(li))
    assert _predictions(PipelineModel.load(path).transform(li)) == want
    jvm_model = spark._jvm.org.apache.spark.ml.PipelineModel.load(path)
    assert _predictions(DataFrame(jvm_model.transform(li._jdf), spark)) == want


def test_spark_writer_output_loads_with_load_model(lr_model, tmp_path):
    model, li = lr_model
    path = str(tmp_path / "model")
    model.write().save(path)
    loaded = load_model(path)
    assert loaded.uid == model.uid
    assert [s.uid for s in loaded.stages] == [s.uid for s in model.stages]
    assert _predictions(loaded.transform(li)) == _predictions(model.transform(li))


def test_save_model_writes_spark_writers_layout(lr_model, tmp_path):
    model, _ = lr_model
    ours, spark_s = tmp_path / "ours", tmp_path / "spark"
    save_model(model, str(ours))
    model.write().save(str(spark_s))
    assert _metadata(ours) == _metadata(spark_s)
    assert _layout(ours) == _layout(spark_s)
    stage_dirs = sorted(p.name for p in (ours / "stages").iterdir())
    assert stage_dirs == [f"{i}_{s.uid}" for i, s in enumerate(model.stages)]
    for name in stage_dirs:
        assert _metadata(ours / "stages" / name) == _metadata(spark_s / "stages" / name)


def test_save_model_replaces_a_model_with_other_stage_uids(lr_model, tmp_path):
    model, li = lr_model
    path = str(tmp_path / "model")
    cfg = TrainConfig(label="l_extendedprice", numeric_features=["l_quantity"], algorithm="lr")
    pipeline, _, _ = build_pipeline(li, cfg)
    save_model(pipeline.fit(li), path)  # VectorAssembler + LR, other uids
    save_model(model, path)
    stage_dirs = sorted(p.name for p in (tmp_path / "model" / "stages").iterdir())
    assert stage_dirs == [f"{i}_{s.uid}" for i, s in enumerate(model.stages)]
    assert _predictions(load_model(path).transform(li)) == _predictions(model.transform(li))


def test_save_and_load_jobs_stay_in_the_callers_job_group(spark, lr_model, tmp_path, jobs_launched):
    """Every job the stage threads launch carries the caller's group:
    8 for the save (pipeline metadata + 7 stage metadata/data writes)
    and 15 for the load, and none runs outside a group."""
    model, _ = lr_model
    path = str(tmp_path / "model")
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    _, saved = jobs_launched(lambda: save_model(model, path))
    _, loaded = jobs_launched(lambda: load_model(path))
    assert (saved, loaded) == (8, 15)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_save_load_round_trips_leave_no_jvm_threads(spark, lr_model, tmp_path):
    model, _ = lr_model
    path = str(tmp_path / "model")
    threads = spark.sparkContext._jvm.java.lang.Thread
    save_model(model, path)
    load_model(path)
    before = threads.activeCount()
    for _ in range(20):
        save_model(model, path)
        load_model(path)
    # A leak would hold at least one thread per round trip (20); Spark's
    # own idle task-launch pool may keep a few more or fewer meanwhile.
    assert threads.activeCount() <= before + 4


def test_a_failing_stage_save_fails_save_model(lr_model, tmp_path, monkeypatch):
    model, _ = lr_model
    failing = model.copy()

    def boom():
        raise RuntimeError("stage write failed")

    monkeypatch.setattr(failing.stages[1], "write", boom)
    with pytest.raises(RuntimeError, match="stage write failed"):
        save_model(failing, str(tmp_path / "model"))
    # the other writes ran to the end before the error propagated
    assert (tmp_path / "model" / "metadata" / "_SUCCESS").exists()
    assert (tmp_path / "model" / "stages" / f"3_{model.stages[3].uid}" / "data" / "_SUCCESS").exists()
