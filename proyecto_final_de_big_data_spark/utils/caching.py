"""Cache lifetime: one rule, two names.

``pin(df, eager=False)`` is the one way to keep a frame alive: it is
``df.localCheckpoint(eager=eager)``, the barrier ``operators/graph.py``
measured as faster than ``persist()``. Every consumer of the returned
frame reads the pinned partitions instead of re-running the subplan;
a lazy pin is computed by the first action that reads it, an eager one
before ``pin`` returns.

``scope()`` owns the lifetime. **A pin lives until the innermost
enclosing** ``scope()`` **exits**; on exit, normal or by error, the scope
unpersists (blocking) every pin recorded in it that is still
registered. So the caller that runs the last action on a frame owns
its pins:

- A function that runs its own actions and returns nothing that
  depends on its pins opens its own scope (``train_and_evaluate``,
  ``run_curation``, ``run_marts``, ``merge_changes``,
  ``ml_tree_ensemble_contract``).
- A function that returns a frame pins lazily and returns; its
  caller's scope releases the pins. ``oracle.check`` and ``bench.py``
  open one scope around each query's build plus action.
- An eager pin is only for a result whose inputs the function deletes
  before returning (temp dirs, temp views).

A released local checkpoint cannot be recomputed, so a scope must not
close before the last action on a frame that depends on its pins.

The scope records the checkpointed RDD's id, not the frame, so pins
superseded inside an iterative loop stay collectable: Spark's
ContextCleaner unpersists them once the frame is garbage collected,
and the scope skips ids that are already gone. A pin made outside any
scope is left to the ContextCleaner alone.

Fault-tolerance caveat: ``localCheckpoint`` blocks are executor-local
and NOT fault-tolerant. With the lineage truncated, losing an executor
makes a pinned frame unrecoverable and fails the job. That is fine in
local mode and for ephemeral query results; on a real cluster prefer a
reliable ``checkpoint()`` to a durable ``checkpointDir`` (or write the
result to a table) when the frame must survive executor loss.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import SparkContext
from pyspark.sql import DataFrame

# The open scopes, innermost last; each holds the RDD ids pinned in it.
_scopes: ContextVar[tuple[list[int], ...]] = ContextVar("caching_scopes", default=())


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager=eager)``, released when the innermost
    enclosing :func:`scope` exits."""
    out = df.localCheckpoint(eager=eager)
    open_scopes = _scopes.get()
    if open_scopes:
        open_scopes[-1].append(out._jdf.logicalPlan().rdd().id())
    return out


@contextmanager
def scope() -> Iterator[None]:
    """Release, blocking, every pin made inside the block that is still
    registered, on exit and on error. Scopes nest: a pin belongs to
    the innermost one."""
    ids: list[int] = []
    token = _scopes.set(_scopes.get() + (ids,))
    try:
        yield
    finally:
        _scopes.reset(token)
        sc = SparkContext._active_spark_context
        if sc is not None and ids:
            registered = sc._jsc.getPersistentRDDs()
            for rdd_id in ids:
                rdd = registered.get(rdd_id)
                if rdd is not None:
                    rdd.unpersist(True)
