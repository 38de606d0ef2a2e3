"""utils/threads.run_concurrently: results in task order, a pool no wider
than the cores, and errors raised only once every task has finished."""

from __future__ import annotations

import threading
import time
from functools import partial

import pytest

from proyecto_final_de_big_data_spark.utils.threads import run_concurrently


def test_results_in_task_order_on_a_pool_no_wider_than_the_cores(spark):
    idents = set()

    def task(i):
        idents.add(threading.get_ident())
        time.sleep(0.02 * (12 - i))
        return i

    assert run_concurrently(spark, [partial(task, i) for i in range(12)]) == list(range(12))
    assert 1 < len(idents) <= spark.sparkContext.defaultParallelism


def test_first_failure_raised_after_every_task_finished(spark):
    done = []

    def fail(msg):
        raise RuntimeError(msg)

    def slow():
        time.sleep(0.5)
        done.append("slow")

    with pytest.raises(RuntimeError, match="first"):
        run_concurrently(spark, [partial(fail, "first"), slow, partial(fail, "second")])
    assert done == ["slow"]
