"""Driver-side fan-out of independent Spark calls: one helper.

``run_concurrently(spark, tasks)`` is the one place this package starts
threads. Several small Spark jobs whose driver-side planning, listing
and commit work dominates their run time (a model's per-stage writes
and reads) overlap when they are submitted from more than one thread.

Each task runs under ``pyspark.util.inheritable_thread_target(spark)``,
wrapped in the calling thread, so the caller's job group, local
properties and job tags reach every job the task launches. Each task
gets its own copy of the local properties: Spark SQL sets
``spark.sql.execution.id`` in them while a query runs, so threads must
not share one copy.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")


def run_concurrently(spark: SparkSession, tasks: Sequence[Callable[[], T]]) -> list[T]:
    """Run every task on a pool of at most ``len(tasks)`` and at most
    ``defaultParallelism`` threads; return their results in task order.

    Every task runs to the end before anything is raised; then the
    first failed task's exception, in task order, propagates."""
    if not tasks:
        return []
    workers = min(len(tasks), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(task)) for task in tasks]
    # Leaving the pool waited for every task.
    return [f.result() for f in futures]
