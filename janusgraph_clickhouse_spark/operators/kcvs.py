"""The reference's KeyColumnValueStore operator surface, Spark-first.

The reference stores ``key → sorted map<column, value>`` rows and exposes
exactly these operations (SURVEY §2.1; citations into /root/reference):

- getSlice(single key)    — ClickhouseKeyColumnValueStore.java:78-95
  (SQL ``SELECT c,v FROM t WHERE k=? AND c>=? AND c<? ORDER BY c LIMIT ?``,
  QueryHelper.java:61)
- getSlice(multi key)     — ClickhouseKeyColumnValueStore.java:108-112
  (a *sequential per-key loop*; multiQuery=false at ClickhouseStoreManager.java:64)
- getKeys(key range)      — ClickhouseKeyColumnValueStore.java:185-187,241-343
  (``SELECT DISTINCT k … ORDER BY k`` then an N+1 slice per key)
- getKeys(unordered)      — :213-215, UnsupportedOperationException upstream
- getKeys(multi slice)    — :218-220, unsupported upstream
- mutate / mutateMany     — :133-171 / ClickhouseStoreManager.java:89-97
  (delete-before-insert upsert emulation on append-only MergeTree)

Here each becomes ONE declarative DataFrame plan over typed columns, so
Catalyst pushes the filters into the parquet scan and the per-key loops
vanish into a single distributed pass:

- the single-key slice is filter + sort + limit → `TakeOrderedAndProject`;
- the multi-key slice is one vectorized pass with a per-key window top-K —
  no N sequential round trips;
- the key-range scan is `filter + dropDuplicates + sort` — the N+1 pattern
  disappears because the "slice per key" is just a groupBy over the same scan;
- the unordered key scan is the plain table scan itself, needing no
  operator (plans.relational.q05_unordered_scan_topk ranks one);
- mutate is an anti-join + union (or partition overwrite at scale), keeping
  the reference's contract that deletions apply strictly before additions
  (ClickhouseKeyColumnValueStore.java:118-121).

``key_col``/``col_col`` generalize (k, c): e.g. on ``lineitem``,
k = l_orderkey, c = l_linenumber.  No byte sign-shift codec is needed
(ClickhouseKeyColumnValueStore.java:351-372) — typed columns sort natively.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def slice_query(df: DataFrame, key_col: str, col_col: str, key,
                col_start=None, col_end=None, limit: int | None = None,
                projection: Sequence[str] | None = None) -> DataFrame:
    """Single-key slice: columns of row `key` in [col_start, col_end), sorted.

    Mirrors getSlice #1 (ClickhouseKeyColumnValueStore.java:78-95). The
    filter is pushed into the parquet scan; sort+limit compiles to
    TakeOrderedAndProject (no full sort).
    """
    out = df.filter(F.col(key_col) == F.lit(key))
    if col_start is not None:
        out = out.filter(F.col(col_col) >= F.lit(col_start))
    if col_end is not None:
        out = out.filter(F.col(col_col) < F.lit(col_end))
    out = out.orderBy(col_col)
    if limit is not None:
        out = out.limit(limit)
    if projection is not None:
        out = out.select(*projection)
    return out


def multi_key_slice(df: DataFrame, key_col: str, col_col: str,
                    keys: "Sequence | DataFrame", col_start=None,
                    col_end=None, limit_per_key: int | None = None,
                    projection: Sequence[str] | None = None,
                    order_extra: Sequence[str] = ()) -> DataFrame:
    """Multi-key slice in ONE pass.

    The reference loops keys sequentially (getSlice #2,
    ClickhouseKeyColumnValueStore.java:108-112, because multiQuery=false).
    Here: a single scan + per-key window row_number ≤ limit — one
    shuffle, fully parallel.  `keys` may be a Python sequence (compiles
    to an `isin` pushed into the scan) or a single-column DataFrame
    (left-semi join — the form that scales to millions of keys where an
    IN-list would blow up the plan; the join is NOT hint-forced to
    broadcast, because a forced hint overrides the size threshold and a
    large key set would then OOM the driver — AQE broadcasts when the
    key side actually fits).  `order_extra` appends tiebreak columns to
    the per-key window ordering so limit_per_key is deterministic when
    col_col has ties."""
    if isinstance(keys, str):
        raise TypeError(
            "keys must be a sequence of key VALUES or a DataFrame; a "
            "plain string would be exploded into per-character keys")
    if isinstance(keys, DataFrame):
        key_df = keys.toDF(key_col).dropDuplicates()
        out = df.join(key_df, key_col, "left_semi")
    else:
        out = df.filter(F.col(key_col).isin(list(keys)))
    if col_start is not None:
        out = out.filter(F.col(col_col) >= F.lit(col_start))
    if col_end is not None:
        out = out.filter(F.col(col_col) < F.lit(col_end))
    if limit_per_key is not None:
        import uuid
        rn = f"__rn_{uuid.uuid4().hex[:8]}"  # never clobber a user column
        w = Window.partitionBy(key_col).orderBy(col_col, *order_extra)
        out = (out.withColumn(rn, F.row_number().over(w))
                  .filter(F.col(rn) <= limit_per_key)
                  .drop(rn))
    if projection is not None:
        out = out.select(*projection)
    return out


def key_range_scan(df: DataFrame, key_col: str, key_start=None,
                   key_end=None) -> DataFrame:
    """Ordered distinct keys in [key_start, key_end).

    Mirrors getKeys #5 (KEY_QUERY, QueryHelper.java:65) without the eager
    driver-side materialization (ClickhouseKeyColumnValueStore.java:263) or
    the N+1 per-key slice (:304): callers needing per-key entries groupBy
    over the same scan instead.
    """
    out = df
    if key_start is not None:
        out = out.filter(F.col(key_col) >= F.lit(key_start))
    if key_end is not None:
        out = out.filter(F.col(key_col) < F.lit(key_end))
    return out.select(key_col).distinct().orderBy(key_col)


def multi_range_scan(df: DataFrame, col_col: str,
                     ranges: Sequence[tuple]) -> DataFrame:
    """Multi-slice scan — unsupported in the reference
    (ClickhouseKeyColumnValueStore.java:218-220). One pass, OR'd half-open
    range predicates; Catalyst pushes the disjunction to the scan.
    None bounds are UNBOUNDED on that side (the module-wide
    convention); an empty ranges sequence is the union of zero slices
    — an empty result, not a crash."""
    pred = None
    for start, end in ranges:
        p = F.lit(True)
        if start is not None:
            p = p & (F.col(col_col) >= F.lit(start))
        if end is not None:
            p = p & (F.col(col_col) < F.lit(end))
        pred = p if pred is None else (pred | p)
    if pred is None:
        return df.filter(F.lit(False))
    return df.filter(pred)


def mutate(current: DataFrame, additions: DataFrame | None,
           deletions: DataFrame | None, key_cols: Sequence[str]) -> DataFrame:
    """Upsert with deletions-strictly-before-additions semantics.

    Mirrors mutate #3 (ClickhouseKeyColumnValueStore.java:133-171): the
    reference deletes every explicitly deleted (k,c) AND the (k,c) of every
    addition (:143-158, overwrite emulation), then inserts.  Here that is a
    single left-anti join against (deletions ∪ addition-keys) followed by a
    union — no per-row ALTER DELETE mutations (QueryHelper.java:73).  At
    scale this runs inside foreachBatch as a partition-overwrite.
    """
    doomed = None
    if deletions is not None:
        doomed = deletions.select(*key_cols)
    if additions is not None:
        add_keys = additions.select(*key_cols)
        doomed = add_keys if doomed is None else doomed.unionByName(add_keys)
    out = current
    if doomed is not None:
        # NULL-SAFE anti join: with plain equality a NULL key component
        # never matches, so a (NULL, ...)-keyed row could never be
        # deleted or overwritten — the upsert would silently leave both
        # the old and the new row (duplicate key in a key->row store)
        d = doomed.dropDuplicates(list(key_cols))
        d = d.toDF(*[f"__d_{c}" for c in key_cols])
        cond = None
        for c in key_cols:
            e = F.col(c).eqNullSafe(F.col(f"__d_{c}"))
            cond = e if cond is None else (cond & e)
        out = out.join(d, cond, "left_anti")
    if additions is not None:
        out = out.unionByName(additions.select(*current.columns))
    return out


def top_k(df: DataFrame, order_cols: Sequence, k: int,
          partition_by: Sequence[str] | None = None) -> DataFrame:
    """order().by().limit(n): global top-K (TakeOrderedAndProject) or
    per-group top-K via window row_number."""
    if not partition_by:
        return df.orderBy(*order_cols).limit(k)
    import uuid
    rn = f"__rn_{uuid.uuid4().hex[:8]}"  # never clobber a user column
    w = Window.partitionBy(*partition_by).orderBy(*order_cols)
    return (df.withColumn(rn, F.row_number().over(w))
              .filter(F.col(rn) <= k)
              .drop(rn))
