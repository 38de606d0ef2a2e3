"""Query registry: name -> (spark callable, optional DuckDB oracle SQL,
plan claims)."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..utils.plans import Claim

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: SparkQuery
    oracle: str | None
    description: str
    # Properties of the formatted physical plan the query relies on
    # (utils/plans.py); tests/test_plan_quality.py checks them all.
    claims: tuple[Claim, ...] = ()


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, description: str = "", claims: tuple[Claim, ...] = ()):
    """Decorator: register a query under ``name`` with its oracle SQL and
    the plan claims it makes."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(
            name=name,
            spark_fn=fn,
            oracle=oracle,
            description=description or (fn.__doc__ or "").strip(),
            claims=claims,
        )
        return fn

    return deco
