"""The cache-lifetime rule (utils/caching.py): a pin lives until the
innermost enclosing ``scope()`` exits; a pin outside any scope is left
to Spark's ContextCleaner."""

from __future__ import annotations

import pytest

from proyecto_final_de_big_data_spark.ml.pipeline import TrainConfig, train_and_evaluate
from proyecto_final_de_big_data_spark.utils.caching import pin, scope


def _registered(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _rdd(df):
    return df._jdf.logicalPlan().rdd()


def test_nested_scopes_release_only_their_own_pins(spark):
    before = _registered(spark)
    with scope():
        outer = pin(spark.range(20))
        assert outer.count() == 20
        outer_id = _rdd(outer).id()
        with scope():
            inner = pin(spark.range(30))
            assert inner.count() == 30
            inner_id = _rdd(inner).id()
            assert {outer_id, inner_id} <= _registered(spark)
        assert inner_id not in _registered(spark)
        assert outer_id in _registered(spark)
        # the outer pin is still readable after the inner scope exits
        assert outer.count() == 20
    assert _registered(spark) - before == set()


def test_scope_releases_on_exception(spark):
    before = _registered(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with scope():
            assert pin(spark.range(10)).count() == 10
            assert _registered(spark) - before
            raise RuntimeError("boom")
    assert _registered(spark) - before == set()


def test_pin_outside_any_scope_is_left_registered(spark):
    pinned = pin(spark.range(5))
    assert pinned.count() == 5
    rdd_id = _rdd(pinned).id()
    with scope():
        pass
    assert rdd_id in _registered(spark)
    _rdd(pinned).unpersist(True)


def test_eager_pin_is_computed_before_return(spark):
    with scope():
        eager = pin(spark.range(8), eager=True)
        assert _rdd(eager).isCheckpointed()
        lazy = pin(spark.range(8))
        assert not _rdd(lazy).isCheckpointed()
        assert lazy.count() == 8
        assert _rdd(lazy).isCheckpointed()


def test_train_and_evaluate_predictions_outlive_its_scope(spark):
    rows = [(float(i), 2.0 * i + 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, ["x", "y"])
    before = _registered(spark)
    cfg = TrainConfig(label="y", numeric_features=["x"], algorithm="lr", max_iter=10)
    _, metrics, predictions = train_and_evaluate(df, cfg)
    # its own scope released the train and prediction pins ...
    assert _registered(spark) - before == set()
    # ... and the returned frame does not read them
    assert predictions.count() == metrics["rows_test"]
    assert "prediction" in predictions.columns
