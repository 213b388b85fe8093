"""Structured Streaming operators (SURVEY §2.3 Streaming).

The reference's streaming-shaped surface is JanusGraph's `txlog` /
`systemlog` change-log stores (QueryHelper.java:101-102) plus the
delete-before-insert mutate contract
(ClickhouseKeyColumnValueStore.java:118-121,133-171).  Spark-native
replacements:

- change streams       → `readStream` file source over the events
                         table; checkpointing replaces the WAL role
- windowed analytics   → watermark + tumbling/sliding/session windows
- mutate / mutateMany  → `foreachBatch` upsert keeping deletions strictly
                         before additions, batched per micro-batch (the
                         reference batches per 1000 rows,
                         QueryHelper.java:262-278 — a micro-batch is the
                         same idea with a time bound)

Every transformation here works identically on a batch DataFrame (Spark's
unified API) — the correctness oracles run the batch form; pytest runs
the streaming form through a memory sink with availableNow and asserts it
matches the batch answer.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.kcvs import mutate


def events_stream(spark: SparkSession, events_path: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the events table (schema explicit — file
    streams require it; also what you'd do on cloud storage drops).

    The fixture's `ts` unit varies by driver round (TIMESTAMP(NANOS) vs
    MICROS — sources.catalog.TABLES note); probe the footer and mirror
    the batch loader's conversion exactly."""
    from ..sources.catalog import (convert_events_ts, events_schema,
                                   events_ts_unit)
    unit = events_ts_unit(events_path)
    reader = spark.readStream.schema(events_schema(unit))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return convert_events_ts(reader.parquet(events_path), unit)


def tumbling_counts(events: DataFrame, width: str = "10 minutes",
                    watermark: str = "30 minutes") -> DataFrame:
    """Tumbling-window counts/sums per event_type with late-data bound.
    Watermark bounds state: windows older than max(event time) - watermark
    finalize and evict (late rows beyond it drop — the explicit policy)."""
    e = events.withWatermark("ts", watermark)
    return (e.groupBy(F.window("ts", width).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.unix_timestamp(F.col("w.start")).alias("window_start"),
                    "event_type", "cnt", "sum_value"))


def sliding_counts(events: DataFrame, width: str = "10 minutes",
                   slide: str = "5 minutes",
                   watermark: str = "30 minutes") -> DataFrame:
    """Sliding windows (each event lands in width/slide windows)."""
    e = events.withWatermark("ts", watermark)
    return (e.groupBy(F.window("ts", width, slide).alias("w"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.unix_timestamp(F.col("w.start")).alias("window_start"),
                    "cnt"))


def session_stats(events: DataFrame, gap: str = "5 minutes",
                  watermark: str = "30 minutes") -> DataFrame:
    """Session windows per user: sessions close after `gap` of inactivity
    (state size bounded by watermark — the SURVEY §7 'hard part')."""
    e = events.withWatermark("ts", watermark)
    return (e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select("user_id",
                    F.unix_timestamp(F.col("w.start")).alias("session_start"),
                    "n_events", "sum_value"))


def foreach_batch_upsert(stream: DataFrame, target_path: str,
                         key_cols: list[str],
                         checkpoint_dir: str | None = None,
                         order_col: str | None = None):
    """The mutate/mutateMany analog (SURVEY §2.1 #3/#4): per micro-batch,
    delete target rows matching the batch's keys, then append the batch —
    deletions strictly before additions, exactly the reference's contract
    (ClickhouseKeyColumnValueStore.java:118-121) without per-row ALTER
    DELETE mutations (QueryHelper.java:73).

    Each batch writes the merged table ONCE, to `<target>_stage`, then
    swaps it in with two renames (target → `<target>_old`, stage →
    target) and deletes the old copy.  A batch that dies between the two
    renames leaves no target; the next batch (the replay of the failed
    one — foreachBatch is at-least-once) first puts a complete copy back
    — the finished stage if its `_SUCCESS` marker is there, else the
    set-aside old table — and never mistakes the gap for an empty table.
    Replaying a batch onto either copy converges, because the upsert is
    idempotent.

    Plain-parquet caveat (documented, not hidden): the whole table is
    rewritten per micro-batch and one writer is assumed.  At real scale
    back the target with a transactional table format or
    partition-overwrite discipline; the operator shape (anti-join ∪
    additions inside foreachBatch) is identical.

    At-least-once transport (a log redelivering records) can duplicate a
    key WITHIN one micro-batch; a keyed table must still end with one row
    per key, so each batch is deduplicated on `key_cols` first —
    last-wins by `order_col` (e.g. a log offset or event time) when given,
    arbitrary-among-identical otherwise.  Cross-batch duplicates were
    always absorbed by the delete-before-insert merge itself.
    """
    spark = stream.sparkSession

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if order_col is not None:
            from pyspark.sql import Window
            w = Window.partitionBy(*key_cols).orderBy(
                F.col(order_col).desc())
            batch_df = (batch_df.withColumn("__rn", F.row_number().over(w))
                        .filter(F.col("__rn") == 1).drop("__rn"))
        else:
            batch_df = batch_df.dropDuplicates(key_cols)
        import os
        import shutil
        stage, old = target_path + "_stage", target_path + "_old"
        if not os.path.exists(target_path):
            # heal a batch that died between the two swap renames: a
            # missing target beside a complete copy is NOT a first batch
            if os.path.exists(os.path.join(stage, "_SUCCESS")):
                os.rename(stage, target_path)
            elif os.path.exists(old):
                os.rename(old, target_path)
        if os.path.exists(old):
            shutil.rmtree(old)  # a finished swap whose cleanup was lost
        # existence decided by an explicit filesystem probe, NEVER by a
        # broad read-failure catch: a corrupt footer or transient FS
        # error at read time must FAIL THE BATCH loudly — treating it
        # as "table does not exist" would replace the accumulated table
        # with this one batch's rows (unrecoverable data loss that
        # replay cannot converge from)
        exists = os.path.exists(target_path)
        merged = batch_df
        if exists:
            merged = mutate(spark.read.parquet(target_path),
                            additions=batch_df, deletions=None,
                            key_cols=key_cols)
        merged.write.mode("overwrite").parquet(stage)
        if exists:
            os.rename(target_path, old)
        os.rename(stage, target_path)
        shutil.rmtree(old, ignore_errors=True)

    writer = stream.writeStream.foreachBatch(upsert).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (SURVEY §2.3:
    'applyInPandasWithState for custom stateful operators').

    Keeps (n_events, sum_value) per user across micro-batches and emits
    the updated running totals each batch — the arbitrary-state shape
    (fraud counters, session models, rate limiters) that windowed aggs
    can't express.  State is a tiny fixed-width tuple per key, so state
    store size is O(#users), not O(#events)."""
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    def update_totals(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value": [round(total, 2)]})

    return (events.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout))


def enrich_stream(stream: DataFrame, dim: DataFrame,
                  on: str) -> DataFrame:
    """Stream-static join: enrich each micro-batch against a (broadcast)
    dimension — the streaming face of the graphindex lookup.  The static
    side is re-resolved per micro-batch, so slowly-changing dims pick up
    updates without restarting the query."""
    return stream.join(F.broadcast(dim), on, "left")


def self_join_within(events: DataFrame, key: str, interval: str = "5 minutes",
                     watermark: str = "30 minutes") -> DataFrame:
    """Stream-stream self-join: pair events on the same key within a time
    interval (click↔purchase attribution shape).  Both sides carry
    watermarks and the join condition bounds event-time distance, so the
    state store can evict rows older than watermark+interval — without
    the time bound the state would grow forever."""
    a = (events.withWatermark("ts", watermark)
         .select(F.col(key).alias("k"), F.col("ts").alias("ts_a"),
                 F.col("event_id").alias("id_a"),
                 F.col("event_type").alias("type_a")))
    b = (events.withWatermark("ts", watermark)
         .select(F.col(key).alias("k"), F.col("ts").alias("ts_b"),
                 F.col("event_id").alias("id_b"),
                 F.col("event_type").alias("type_b")))
    return a.join(
        b,
        (a.k == b.k) & (a.id_a < b.id_b)
        & (b.ts_b >= a.ts_a)
        & (b.ts_b <= a.ts_a + F.expr(f"INTERVAL {interval}"))).drop(b.k)


def run_to_memory(stream: DataFrame, mode: str = "complete",
                  name: str | None = None) -> DataFrame:
    """Run a streaming query to completion with availableNow into a memory
    sink and return the result as a batch DataFrame (test/driver helper).

    The memory-sink temp view is DROPPED before returning (the result
    is materialized via an eager localCheckpoint first) — without the
    drop every invocation pinned a full result copy in driver memory
    for the session lifetime, one per parity-sweep/bench run of the
    queries that stream inside their builders (s11/s12/s19)."""
    qname = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (stream.writeStream
         .format("memory")
         .queryName(qname)
         .outputMode(mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    spark = stream.sparkSession
    out = spark.table(qname).localCheckpoint(eager=True)
    spark.catalog.dropTempView(qname)
    return out


def trending_counts(events: DataFrame, width: str = "10 minutes",
                    slide: str = "5 minutes",
                    watermark: str = "30 minutes") -> DataFrame:
    """Per-(sliding window, event_type) counts — the stream-safe stage
    of trending-topic detection.  Works unchanged on a batch or a
    streaming DataFrame (unified API)."""
    e = events.withWatermark("ts", watermark)
    return (e.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.unix_timestamp(F.col("w.start")).alias("window_start"),
                    "event_type", "cnt"))


def rank_trending(counts: DataFrame, k: int = 3) -> DataFrame:
    """Top-k event types per window from `trending_counts` output (rank
    by cnt desc, event_type asc — a total order, so the result is
    deterministic).  Partition key = window_start: each window ranks
    independently, so the sort never exceeds one window's type
    cardinality regardless of corpus size."""
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("cnt").desc(), F.col("event_type"))
    return (counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def trending_topk(events: DataFrame, k: int = 3,
                  width: str = "10 minutes", slide: str = "5 minutes",
                  watermark: str = "30 minutes") -> DataFrame:
    """Trending top-k: the k most frequent event types in every sliding
    window.  Batch form = trending_counts |> rank_trending in one plan.

    Streaming form (ranking over a running windowed aggregate is not
    expressible mid-stream in append mode): run `trending_counts` as
    the stateful watermarked stage, and apply `rank_trending` inside
    foreachBatch at the sink — the standard at-sink top-k recipe;
    `tests/test_streaming.py` pins stream==batch equivalence for it."""
    return rank_trending(
        trending_counts(events, width=width, slide=slide,
                        watermark=watermark), k=k)


def left_join_within(events: DataFrame, left_type: str = "click",
                     right_type: str = "purchase", key: str = "user_id",
                     interval: str = "5 minutes",
                     watermark: str = "30 minutes") -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the attribution shape
    with the unconverted side kept: every `left_type` event paired with
    each same-key `right_type` event in the following `interval`, and a
    null right leg where none arrived.  Outer-ness is what makes this a
    distinct capability from `self_join_within`: in streaming, the null
    rows for an unmatched left event can only be emitted once the
    watermark passes its join horizon (ts + interval) — Spark's state
    store handles that eviction; both sides MUST carry watermarks and
    the condition MUST bound event-time distance or the join is
    rejected at analysis time.  Batch runs the identical plan and the
    horizon is simply end-of-input."""
    a = (events.filter(F.col("event_type") == left_type)
         .withWatermark("ts", watermark)
         .select(F.col(key).alias("k"), F.col("ts").alias("ts_a"),
                 F.col("event_id").alias("id_a")))
    b = (events.filter(F.col("event_type") == right_type)
         .withWatermark("ts", watermark)
         .select(F.col(key).alias("k2"), F.col("ts").alias("ts_b"),
                 F.col("event_id").alias("id_b")))
    return a.join(
        b,
        (a.k == b.k2)
        & (b.ts_b >= a.ts_a)
        & (b.ts_b <= a.ts_a + F.expr(f"INTERVAL {interval}")),
        "left_outer").drop("k2")


def scd2_versions(df: DataFrame, key: str = "user_id",
                  state: str = "event_type", ts: str = "ts",
                  tiebreak: str = "event_id") -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change stream: per
    key, compress the event sequence into VERSION rows — one row per
    maximal run of consecutive identical `state` values — each carrying
    [valid_from, valid_to) effective-time bounds, the run's event count,
    and an `is_current` flag on the open version.  The CDC→warehouse
    materialization the reference's txlog change-log feeds
    (QueryHelper.java:101-102): replaying the log through this op yields
    the dimension table as of any watermark.

    Total event order per key is (ts, tiebreak) — the repo's tie
    discipline; run detection is lag(state) != state, version numbering
    a running sum of change flags, and valid_to the NEXT version's
    valid_from (the islands pattern, entirely window + one aggregate).

    Scale shape: one shuffle on `key`, then per-key sorted windows and
    one hash aggregate on (key, version) — no self-joins, no explode.
    In production the stream form runs this per micro-batch in
    foreachBatch merged MERGE-style against the dimension table (the
    open version is the only row a later batch can close); batch form
    below is the oracle-checked semantics over the full log."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    # NULL-safe change detection: lag(state) != state evaluates NULL on
    # a non-NULL→NULL transition and would silently absorb the cleared
    # state into the previous run (r7 review; CDC state columns may
    # legitimately carry NULL).  First-row detection uses the lag of
    # the never-null tiebreak column, so a run STARTING at NULL still
    # opens version 1.
    chg = (F.lag(tiebreak).over(w).isNull()
           | ~F.lag(state).over(w).eqNullSafe(F.col(state)))
    marked = df.select(
        key, state, ts, tiebreak,
        F.when(chg, 1).otherwise(0).alias("_chg"))
    versioned = marked.withColumn(
        "version", F.sum("_chg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    runs = (versioned.groupBy(key, "version")
            .agg(F.min(state).alias("state"),
                 F.min(ts).alias("_from"),
                 F.count(F.lit(1)).alias("n_events")))
    wv = Window.partitionBy(key).orderBy("version")
    return (runs
            .withColumn("valid_from_sec", F.unix_timestamp("_from"))
            .withColumn("valid_to_sec",
                        F.unix_timestamp(F.lead("_from").over(wv)))
            .withColumn("is_current", F.col("valid_to_sec").isNull())
            .drop("_from"))


def incremental_rollup(spark: SparkSession, events_dir: str,
                       rollup_dir: str, checkpoint_dir: str,
                       max_files_per_trigger: int = 1) -> None:
    """ClickHouse materialized-view analog: maintain an hourly
    (bucket, event_type) → (cnt, sum_raw) rollup table INCREMENTALLY as
    micro-batches arrive — each foreachBatch aggregates only the new
    batch and merges it into the persisted rollup (read + union +
    re-aggregate + atomic swap), so per-batch cost is O(batch + rollup
    size), never O(history).  This is the reference backing store's
    signature idiom (an AggregatingMergeTree MV): the raw event log is
    written once, the query-serving aggregate stays current.

    Sums are kept RAW (unrounded) in the rollup — additive state must
    never round intermediates (the repo-wide discipline: round once at
    the read edge).  Counts/sums are associative, so the final table is
    independent of how the log was chunked into batches.

    Crash-safety + idempotency (foreachBatch is AT-LEAST-ONCE, so a
    micro-batch can replay after any crash): versions are immutable
    dirs `v<batch_id>` under `rollup_dir`, and a CURRENT pointer file
    flips atomically (temp-write + os.replace).  A replayed batch whose
    id ≤ CURRENT's is skipped — never double-counted; a crash after
    writing `v<b>` but before the pointer flip leaves CURRENT on the
    previous intact version, and the replay simply rewrites `v<b>` from
    it.  Versions older than the previous one are garbage-collected
    after each flip.  Read the table through `read_rollup` (resolves
    CURRENT).

    Batch ids are PER-CHECKPOINT, so a rollup_dir is bound to the
    checkpoint that produced it: an identity stamp is written on first
    use and verified on every later run — wiping/retargeting the
    checkpoint while keeping the rollup would otherwise silently skip
    the replayed low batch-ids (rollup frozen) or double-count events
    already merged.  Mismatch raises loudly; recover by clearing BOTH
    dirs together."""
    _run_versioned_state(spark, events_dir, rollup_dir, checkpoint_dir,
                         max_files_per_trigger, _rollup_reduce,
                         _rollup_merge)


def _run_versioned_state(spark: SparkSession, events_dir: str,
                         state_dir: str, checkpoint_dir: str,
                         max_files_per_trigger: int, reduce,
                         merge) -> None:
    """The one driver of the version-pointer incremental states (count/
    sum rollup, HLL registers, SCD1): bind the state dir to its
    checkpoint, stream the events, fold every micro-batch with
    `_merge_state_batch`, and wait for availableNow to drain."""
    _bind_state_to_checkpoint(state_dir, checkpoint_dir)
    stream = events_stream(spark, events_dir,
                           max_files_per_trigger=max_files_per_trigger)
    q = (stream.writeStream
         .foreachBatch(lambda batch_df, batch_id:
                       _merge_state_batch(spark, batch_df, batch_id,
                                          state_dir, reduce, merge))
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def _bind_state_to_checkpoint(state_dir: str, checkpoint_dir: str) -> None:
    """Batch ids are PER-CHECKPOINT: stamp the state dir with the
    checkpoint that owns it on first use, verify on every later run
    (see incremental_rollup's idempotency contract)."""
    import os
    os.makedirs(state_dir, exist_ok=True)
    stamp = os.path.join(state_dir, "CHECKPOINT_ID")
    ident = os.path.abspath(checkpoint_dir)
    if os.path.exists(stamp):
        with open(stamp) as f:
            have = f.read().strip()
        if have != ident:
            raise ValueError(
                f"state dir {state_dir} was built by checkpoint "
                f"{have!r} but this run uses {ident!r}; batch-id "
                f"idempotency cannot hold across checkpoints — clear "
                f"both dirs together to reprocess")
    else:
        tmp = stamp + ".tmp"
        with open(tmp, "w") as f:
            f.write(ident)
        os.replace(tmp, stamp)


def _rollup_current(rollup_dir: str) -> int | None:
    """Batch id the CURRENT pointer names, or None before any commit."""
    import os
    ptr = os.path.join(rollup_dir, "CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return int(f.read().strip()[1:])


def _commit_state_version(state_dir: str, batch_id: int,
                          cur: int | None, df: DataFrame) -> None:
    """THE version-commit protocol every incremental state merge
    shares (count/sum rollup, HLL registers, SCD1): write the
    immutable v<batch_id> dir, flip the CURRENT pointer atomically
    (temp-write + os.replace), then GC everything but the new and
    previous versions.  One copy — a future fix to the pointer or GC
    logic cannot silently diverge the three merges' crash stories."""
    import os
    import shutil
    vdir = os.path.join(state_dir, f"v{batch_id}")
    df.write.mode("overwrite").parquet(vdir)
    tmp = os.path.join(state_dir, "CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(f"v{batch_id}")
    os.replace(tmp, os.path.join(state_dir, "CURRENT"))
    for name in os.listdir(state_dir):
        if (name.startswith("v") and name[1:].isdigit()
                and int(name[1:]) not in (batch_id, cur)):
            shutil.rmtree(os.path.join(state_dir, name),
                          ignore_errors=True)


def _merge_state_batch(spark: SparkSession, batch_df: DataFrame,
                       batch_id: int, state_dir: str, reduce,
                       merge) -> None:
    """One idempotent merge step of a version-pointer state (see
    incremental_rollup): skip a replayed batch, `reduce(batch_df)` the
    new rows, `merge(current, new)` them into the committed version
    when one exists, and commit the result as v<batch_id>."""
    import os

    os.makedirs(state_dir, exist_ok=True)
    cur = _rollup_current(state_dir)
    if cur is not None and batch_id <= cur:
        return  # at-least-once replay of an already-committed batch
    new = reduce(batch_df)
    if cur is not None:
        new = merge(spark.read.parquet(os.path.join(state_dir, f"v{cur}")),
                    new)
    _commit_state_version(state_dir, batch_id, cur, new)


def _rollup_reduce(batch_df: DataFrame) -> DataFrame:
    """Count/sum rollup state of one micro-batch: (h, event_type) →
    (cnt, sum_raw)."""
    return (batch_df.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
        .alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.sum("value").alias("sum_raw")))


def _rollup_merge(current: DataFrame, new: DataFrame) -> DataFrame:
    """Counts and raw sums add."""
    return (current.unionByName(new)
            .groupBy("h", "event_type")
            .agg(F.sum("cnt").alias("cnt"),
                 F.sum("sum_raw").alias("sum_raw")))


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """The rollup as of the last committed batch (CURRENT pointer)."""
    import os
    cur = _rollup_current(rollup_dir)
    if cur is None:
        raise ValueError(f"no committed rollup version in {rollup_dir}")
    return spark.read.parquet(os.path.join(rollup_dir, f"v{cur}"))


def decayed_score(events: DataFrame, key: str = "user_id",
                  value: str = "value", ts: str = "ts",
                  tiebreak: str = "event_id",
                  horizon: int = 30) -> DataFrame:
    """Per-key exponentially-decayed score (ClickHouse
    exponentialMovingAverage's event-indexed cousin): each key's most
    recent event contributes its full value, the one before half, then
    a quarter — y = Σ_{k=0..horizon} value_k · 2^-k over the (ts,
    tiebreak)-ordered recency ranks.  The recency-weighted engagement /
    fraud-pressure feature of an event pipeline, maintainable
    incrementally (y ← y/2 + x per arrival).

    Exactness as a design property (the q41/q42 sketch discipline
    applied to decay): values quantize to integer cents —
    floor(v·100 + 0.5), identical on both engines — and the weights
    are powers of two over a HARD horizon of `horizon` ranks, so the
    score is the exact BIGINT  Σ cents_k << (horizon − k); the worst
    term is cents·2^horizon, so int64 exactness requires |cents| <
    2^(62−horizon) — ~2^32 ($43M) at the default horizon 30 — and the
    per-row guard below raises loudly past it instead of wrapping
    (the DuckDB oracle's HUGEINT sum would raise on its own side,
    turning a silent-wrong into a parity-visible loud-fail).
    Returns (key, n_scored, score_fixed); score_fixed / (100·2^horizon)
    is the decayed value in the original unit.  The horizon is honest,
    not a hack: rank-31+ terms are < 2^-30 of the newest — below any
    float representation a pipeline would keep anyway.

    Scale shape: one shuffle on the key, one window rank, one hash
    aggregate — the s10 class."""
    from pyspark.sql import Window

    if not 0 <= horizon <= 40:
        raise ValueError(f"horizon={horizon} outside [0, 40] — the "
                         f"exact-int64 design bound")
    w = Window.partitionBy(key).orderBy(F.col(ts).desc(),
                                        F.col(tiebreak).desc())
    cents_raw = F.floor(F.col(value) * 100 + F.lit(0.5)).cast("long")
    bound = 1 << (62 - horizon)
    cents = F.when(
        F.abs(cents_raw) >= F.lit(bound),
        F.raise_error(F.concat(
            F.lit(f"decayed_score: |cents| >= 2^{62 - horizon} at "
                  f"horizon={horizon} would overflow the exact-int64 "
                  f"score; got "), cents_raw.cast("string")))
        .cast("long")).otherwise(cents_raw)
    ranked = (events.select(key, cents.alias("_c"),
                            (F.row_number().over(w) - 1).alias("_k"))
              .filter(F.col("_k") <= horizon))
    # pow(2, n) for n ≤ 40 is an exact power of two in double and the
    # long cast is exact — mirrors the oracle's 2.0 ** (horizon - k)
    # (shiftleft would read better but Spark's API takes only literal
    # shift amounts)
    weight = F.pow(F.lit(2.0),
                   F.lit(horizon) - F.col("_k")).cast("long")
    return (ranked.groupBy(key)
            .agg(F.count(F.lit(1)).alias("n_scored"),
                 F.sum(F.col("_c") * weight).alias("score_fixed")))


def _hll_reduce(batch_df: DataFrame) -> DataFrame:
    """HLL state of one micro-batch: the per-hour REGISTER table."""
    from ..functions.sketches import hll_registers

    hours = batch_df.withColumn(
        "h", F.unix_timestamp(F.date_trunc("hour", F.col("ts"))))
    return hll_registers(hours, "user_id", ["h"])


def _hll_merge(current: DataFrame, new: DataFrame) -> DataFrame:
    """Per-bucket MAX — the uniqMerge half of the sketch."""
    return (current.unionByName(new)
            .groupBy("h", "bucket")
            .agg(F.max("m").alias("m")))


def incremental_hll_rollup(spark: SparkSession, events_dir: str,
                           state_dir: str, checkpoint_dir: str,
                           max_files_per_trigger: int = 1) -> None:
    """ClickHouse uniqState materialized view maintained INCREMENTALLY
    over a change stream: each micro-batch sketches only itself (per
    hour-bucket, m=256 HLL registers for distinct user_id) and merges
    into the persisted state by per-bucket MAX — the uniqState/
    uniqMerge AggregatingMergeTree idiom, streaming.  Per-batch cost is
    O(batch + state); state is ≤ 256 rows per hour bucket FOREVER, so
    unlike the count/sum rollup the distinct-count state never grows
    with cardinality.  Register merge is associative, commutative and
    IDEMPOTENT (max), so the final state is independent of how the log
    was chunked — and a replayed batch merged twice would not even
    need the version protocol to stay correct (it keeps the state's
    crash story identical to incremental_rollup's anyway).

    Same crash-safety protocol as incremental_rollup: immutable
    v<batch_id> dirs, atomic CURRENT pointer, replayed-batch skip,
    checkpoint-identity stamp.  Read via read_rollup(state_dir) and
    fold with hll_estimate_from_registers."""
    _run_versioned_state(spark, events_dir, state_dir, checkpoint_dir,
                         max_files_per_trigger, _hll_reduce, _hll_merge)


def full_join_within(events: DataFrame, left_type: str = "click",
                     right_type: str = "purchase", key: str = "user_id",
                     interval: str = "5 minutes",
                     watermark: str = "30 minutes") -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the outer
    matrix beside `self_join_within` (inner) and `left_join_within`:
    unmatched events on BOTH sides emit null legs, the reconciliation
    shape (which clicks never converted AND which purchases have no
    attributable click).  In streaming, each side's null rows emit once
    the watermark passes that side's join horizon; both legs carry
    watermarks and the condition bounds event-time distance, so state
    is provably evictable.  Batch runs the identical plan.  The join
    key surfaces as one `k` column (coalesced across legs — either
    side may be the null one)."""
    a = (events.filter(F.col("event_type") == left_type)
         .withWatermark("ts", watermark)
         .select(F.col(key).alias("k"), F.col("ts").alias("ts_a"),
                 F.col("event_id").alias("id_a")))
    b = (events.filter(F.col("event_type") == right_type)
         .withWatermark("ts", watermark)
         .select(F.col(key).alias("k2"), F.col("ts").alias("ts_b"),
                 F.col("event_id").alias("id_b")))
    j = a.join(
        b,
        (a.k == b.k2)
        & (b.ts_b >= a.ts_a)
        & (b.ts_b <= a.ts_a + F.expr(f"INTERVAL {interval}")),
        "full_outer")
    return (j.withColumn("k", F.coalesce("k", "k2")).drop("k2"))


def _scd1_latest(rows: DataFrame) -> DataFrame:
    """One row per key — the argMax-(ts, event_id) latest — by per-key
    struct MAX (associative AND idempotent, like the HLL register
    merge): the SCD1 reduce and merge both."""
    return (rows.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type",
                                "cents")).alias("s"))
            .select("user_id", "s.ts", "s.event_id", "s.event_type",
                    "s.cents"))


def _scd1_reduce(batch_df: DataFrame) -> DataFrame:
    """SCD1 state of one micro-batch (values as integer cents)."""
    return _scd1_latest(batch_df.withColumn(
        "cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")))


def _scd1_merge(current: DataFrame, new: DataFrame) -> DataFrame:
    """The latest row per key across both versions."""
    return _scd1_latest(current.unionByName(new))


def incremental_scd1(spark: SparkSession, events_dir: str,
                     state_dir: str, checkpoint_dir: str,
                     max_files_per_trigger: int = 1) -> None:
    """SCD TYPE-1 dimension maintenance over a change stream — the
    keep-only-latest counterpart of the SCD2 version build (s10): each
    micro-batch reduces to one argMax-(ts, event_id) row per key and
    merges into the persisted current-state table by per-key struct
    MAX.  The merge is associative and IDEMPOTENT, so the final state
    is independent of chunking and replay; state size is O(distinct
    keys), per-batch cost O(batch + state).  Same crash protocol as
    incremental_rollup (version dirs, atomic CURRENT, checkpoint
    stamp); read via read_rollup(state_dir)."""
    _run_versioned_state(spark, events_dir, state_dir, checkpoint_dir,
                         max_files_per_trigger, _scd1_reduce, _scd1_merge)
