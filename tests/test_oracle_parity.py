"""t2-style correctness: every registered query with an oracle must
hash-match DuckDB on the same parquet (run at sf0.001 for speed; the
driver reruns at sf0.01).

Each query's build plus compare (or count) runs inside one
``scope()``, and no cached RDD may outlive it: every pin a query makes
is released by its caller's scope (utils/caching.py)."""

from __future__ import annotations

import pytest

from proyecto_final_de_big_data_spark.oracle import compare, run_oracle
from proyecto_final_de_big_data_spark.queries import QUERIES
from proyecto_final_de_big_data_spark.utils.caching import scope

WITH_ORACLE = sorted(name for name, q in QUERIES.items() if q.oracle is not None)
ROWS_ONLY = sorted(name for name, q in QUERIES.items() if q.oracle is None)


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, sf_dir, name):
    q = QUERIES[name]
    before = _persistent_ids(spark)
    with scope():
        spark_df = q.spark_fn(spark, sf_dir)
        oracle_df = run_oracle(q.oracle, sf_dir)
        ok, msg = compare(spark_df, oracle_df)
    assert ok, f"{name}: {msg}"
    # Ids registered earlier may be dropped meanwhile by Spark's
    # ContextCleaner; what the query registered must all be gone.
    assert _persistent_ids(spark) - before == set(), f"{name}: cached RDDs left registered"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, name):
    q = QUERIES[name]
    before = _persistent_ids(spark)
    with scope():
        df = q.spark_fn(spark, sf_dir)
        assert df.count() >= 0
        assert len(df.schema.fields) > 0
    assert _persistent_ids(spark) - before == set(), f"{name}: cached RDDs left registered"
