"""ClickHouse map-aggregate analogs: sumMap / maxMap.

ClickHouse's sumMap((k, v)) aggregates a per-group MAP whose values sum
per key (SummingMergeTree's nested-column rollup; reference users lean
on it for per-entity counters).  Spark has no map-valued aggregate
built-in, but the semantics decompose into TWO hash aggregates that
Catalyst executes with map-side partial aggregation:

    groupBy(group, k).sum(v)          -- per-key rollup (the real work)
    groupBy(group).collect -> map     -- assembly of the tiny result

The second aggregate only moves one row per (group, key) — at 100 TB
the shuffle is bounded by group×key cardinality, never row count.  Map
entries are sorted by key before assembly so downstream consumers (and
the DuckDB oracle, via a sorted string rendering) see a deterministic
order; Spark map columns hash nondeterministically across engines, so
``map_as_string`` is the canonical comparison form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _map_agg(df: DataFrame, group_cols: list[str], key_col: str,
             val_col: str | Column, agg_fn, out_col: str) -> DataFrame:
    v = F.col(val_col) if isinstance(val_col, str) else val_col
    inner = (df.groupBy(*group_cols, key_col)
             .agg(agg_fn(v).alias("v")))
    entries = F.sort_array(F.collect_list(
        F.struct(F.col(key_col).alias("k"), F.col("v"))))
    return (inner.groupBy(*group_cols)
            .agg(F.map_from_entries(entries).alias(out_col)))


def sum_map(df: DataFrame, group_cols: list[str], key_col: str,
            val_col: str | Column, out_col: str = "sum_map") -> DataFrame:
    """Per group, a key-sorted map key -> SUM(val): ClickHouse sumMap."""
    return _map_agg(df, group_cols, key_col, val_col, F.sum, out_col)


def max_map(df: DataFrame, group_cols: list[str], key_col: str,
            val_col: str | Column, out_col: str = "max_map") -> DataFrame:
    """Per group, a key-sorted map key -> MAX(val): ClickHouse maxMap."""
    return _map_agg(df, group_cols, key_col, val_col, F.max, out_col)


def map_as_string(map_col: str | Column) -> Column:
    """Canonical 'k1:v1,k2:v2' rendering (entries already key-sorted by
    construction) — the engine-portable comparison form for map
    aggregates, since raw map columns compare/hash engine-specifically."""
    c = F.col(map_col) if isinstance(map_col, str) else map_col
    return F.array_join(
        F.transform(F.map_entries(c),
                    lambda e: F.concat(e.key.cast("string"), F.lit(":"),
                                       e.value.cast("string"))), ",")
