"""Named-query registry backing ``__spark_entry__.py``.

Every operator from SURVEY.md §2 is exposed as a named callable
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) an
equivalent ANSI-SQL string the driver runs in DuckDB as a correctness
oracle. Registering both together keeps the column aliases in lockstep
— the driver's compare sorts columns by name before hashing, so every
computed column must carry the same alias on both sides.

Queries that are genuinely not SQL-expressible (stateful streaming,
model-UDF pipelines) register with ``oracle=None`` and get rows-only
driver checks plus pytest unit tests.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None for rows-only
    doc: str


_REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name`` with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    return {q.name: q.fn for q in _REGISTRY.values()}


def all_oracles() -> dict[str, str]:
    """Every oracle SQL string, in registration order."""
    return {q.name: q.oracle for q in _REGISTRY.values() if q.oracle is not None}


def get(name: str) -> Query:
    return _REGISTRY[name]
