"""Physical layout control: the Spark analog of the reference's clustered
storage.

The reference gets efficient range slices from MergeTree clustering:
``CREATE TABLE … ENGINE = MergeTree() ORDER BY (k,c)``
(QueryHelper.java:57) — the primary index makes every (k, c-range) read an
index scan.  In Spark the equivalent physical choices are ours to make at
WRITE time (SURVEY §4 "layout choice is ours, not Catalyst's"), and every
writer here produces plain parquet directories — no catalog table, so a
layout survives the session that wrote it:

- **repartition + sortWithinPartitions** on (key, col) clusters equal
  keys into the same files and gives parquet row-group min/max stats
  that act like the MergeTree primary index: a (k, c-range) filter
  prunes row groups before decoding anything (`write_sorted_parquet`);
- **partitionBy** on a coarse column (e.g. label, date) is the
  partition-pruning layer above that, and makes expiry a directory
  drop (`apply_ttl`).

The persisted graph (graph/persistence.py) is one such layout: edges
partitioned by edge set and sorted by (src, dst).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_sorted_parquet(df: DataFrame, path: str, sort_cols: list[str],
                         repartition_col: str | None = None,
                         num_files: int | None = None) -> None:
    """Clustered parquet: repartition by the key (clusters equal keys
    into the same files) then sort within partitions so row-group
    min/max stats prune range scans."""
    if num_files is not None and num_files < 1:
        raise ValueError(f"num_files={num_files} must be >= 1")
    out = df
    if repartition_col is not None:
        out = (out.repartition(num_files, repartition_col)
               if num_files is not None else out.repartition(repartition_col))
    elif num_files is not None:
        # honor the requested file count even without a clustering key
        # (previously silently ignored: the output kept whatever
        # incoming partitioning df had)
        out = out.repartition(num_files)
    out.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


def apply_ttl(path: str, partition_col: str, cutoff: int) -> int:
    """ClickHouse ``TTL ... DELETE`` / ``DROP PARTITION`` analog for a
    directory-partitioned parquet table: delete every partition
    directory whose integer partition value is < `cutoff`.  This is a
    METADATA-ONLY operation — whole directories unlink, no row is read
    or rewritten — which is the entire point of partitioning by the
    expiry dimension: at 100 TB, expiring a day of data must not cost
    a scan of that day.  Returns the number of partitions dropped.

    The expiry decision reads only the directory NAMES (one listing),
    so cost is O(partitions), never O(rows).

    Two explicit contracts (r7 review): the NULL partition
    (`__HIVE_DEFAULT_PARTITION__`) is always RETAINED — a NULL expiry
    value has no position relative to the cutoff, and silently
    deleting it would be worse than keeping it (filter NULLs out at
    write time if they must expire); and the implementation walks the
    DRIVER-LOCAL filesystem — for hdfs://-scheme tables route the
    same drop-by-name loop through the Hadoop FileSystem API (the
    operation shape is identical; only the listing/delete calls
    change)."""
    import os
    import shutil

    dropped = 0
    prefix = partition_col + "="
    for name in sorted(os.listdir(path)):
        if not name.startswith(prefix):
            continue
        try:
            val = int(name[len(prefix):])
        except ValueError:
            continue
        if val < cutoff:
            shutil.rmtree(os.path.join(path, name))
            dropped += 1
    return dropped
