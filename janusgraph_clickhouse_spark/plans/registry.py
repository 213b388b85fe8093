"""Query registry: the declared operator inventory.

Every operator claimed done in SURVEY §2 registers here with
- a Spark plan builder ``(spark, sf_dir) -> DataFrame``;
- where SQL-expressible, an equivalent ANSI-SQL oracle for DuckDB.

Column names are aligned between both sides (the driver sorts columns by
name before hashing values).  Floating aggregates are rounded identically
on both sides so cross-engine summation order can't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` → driver runs a rows-only check."""
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def get_queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


def get_oracles() -> dict[str, str]:
    return dict(ORACLES)
