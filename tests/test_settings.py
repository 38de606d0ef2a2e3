"""``utils.settings.overridden``: the one way to change a session
setting for a while."""

from __future__ import annotations

import pytest

from proyecto_final_de_big_data_spark.utils.settings import overridden

SET = "spark.sql.shuffle.partitions"
UNSET = "spark.sql.test.overriddenUnsetKey"


def test_restores_a_set_key(spark):
    before = spark.conf.get(SET)
    with overridden(spark, {SET: "3"}):
        assert spark.conf.get(SET) == "3"
    assert spark.conf.get(SET) == before


def test_unsets_an_unset_key(spark):
    assert spark.conf.get(UNSET, None) is None
    with overridden(spark, {UNSET: "x"}):
        assert spark.conf.get(UNSET) == "x"
    assert spark.conf.get(UNSET, None) is None


def test_restores_on_exception(spark):
    before = spark.conf.get(SET)
    with pytest.raises(RuntimeError, match="boom"):
        with overridden(spark, {SET: "3", UNSET: "x"}):
            raise RuntimeError("boom")
    assert spark.conf.get(SET) == before
    assert spark.conf.get(UNSET, None) is None
