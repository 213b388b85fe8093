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
- **Z-order** generalizes that to several dimensions at once
  (`write_zordered_parquet`);
- **partitionBy** on a coarse column (e.g. label, date) is the
  partition-pruning layer above that, and makes expiry a directory
  drop (`apply_ttl`).

The persisted graph (graph/persistence.py) is one such layout: edges
partitioned by edge set and sorted by (src, dst).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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


def zorder_key(cols: list[str | Column], bits: int = 16) -> Column:
    """Z-order (Morton) key: bit-interleave k integer columns into one
    LONG, so sorting by the key clusters rows that are close in EVERY
    dimension — the multi-dimensional generalization of the single-key
    clustering above.  A scan filtered on any subset of the dimensions
    then prunes row groups via min/max stats, where a (x)-sorted layout
    prunes only x.

    Inputs must already be non-negative ints < 2^bits (pre-bucket with
    ntile/width_bucket/scaling); k·bits must fit a signed long.  Pure
    shift/mask expressions — whole-stage codegen, no UDF.

    Domain is ENFORCED per row (raise_error branch, one comparison per
    dimension): an out-of-range or negative value would silently
    collide distant rows into one Z-key — min/max stats widen and
    pruning quietly degrades, the worst kind of layout bug.  NULL in
    any dimension nulls the whole key (those rows co-locate in one
    range partition); pre-filter or fill if that matters.
    """
    k = len(cols)
    if k == 0:
        raise ValueError("zorder_key needs at least one column")
    if bits < 1:
        raise ValueError(f"bits={bits} must be >= 1")
    if k * bits > 63:
        raise ValueError(f"{k} cols × {bits} bits exceeds a signed long")
    lim = 1 << bits
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        raw = (F.col(c) if isinstance(c, str) else c).cast("long")
        col = F.when(
            (raw < 0) | (raw >= lim),
            F.raise_error(F.concat(
                F.lit(f"zorder_key: value out of [0, {lim}) for "
                      f"dimension {j}: "), raw.cast("string")))
            .cast("long")).otherwise(raw)
        for i in range(bits):
            bit = F.shiftrightunsigned(col, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * k + j))
    return key


def write_zordered_parquet(df: DataFrame, path: str,
                           cols: list[str], bits: int = 16,
                           num_files: int = 8) -> None:
    """Write parquet clustered on the Z-order of `cols`: range-partition
    by the Morton key (files = contiguous key ranges) and sort within, so
    both file-level and row-group min/max stats are tight in every
    interleaved dimension."""
    import uuid
    zc = f"__z_{uuid.uuid4().hex[:8]}"  # never clobber a user column
    keyed = df.withColumn(zc, zorder_key(cols, bits))
    (keyed.repartitionByRange(num_files, zc)
     .sortWithinPartitions(zc)
     .drop(zc)
     .write.mode("overwrite").parquet(path))


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
