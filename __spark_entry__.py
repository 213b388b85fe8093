"""Entry points for running the registered queries against DuckDB oracles.

A checker runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).  ``tests/test_oracle_parity.py`` does this for every
registered query.

The actual inventory lives in ``janusgraph_clickhouse_spark.plans`` — one
registered entry per implemented operator from SURVEY.md §2.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Make the package importable regardless of the driver's CWD.
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from janusgraph_clickhouse_spark.plans import get_oracles, get_queries  # noqa: E402
from janusgraph_clickhouse_spark.plans.relational import (  # noqa: E402
    q08_customer_top_parts,
)
from janusgraph_clickhouse_spark.session import tune_session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    g.V(customer 42).out('placed').out('contains') → top parts by spend
    (SURVEY §7 M1): point lookup + adjacency joins + agg + top-K.
    """
    tune_session(spark)
    return q08_customer_top_parts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    base = get_queries()

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)
        return run

    return {name: wrap(fn) for name, fn in base.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for genuinely
    non-SQL-expressible ops → rows-only check)."""
    return get_oracles()
