"""True Structured-Streaming path tests: file source → availableNow →
memory sink, asserted equal to the batch answers (unified-API check),
plus the foreachBatch upsert contract (deletes-before-adds)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from janusgraph_clickhouse_spark.sources import load_table
from janusgraph_clickhouse_spark.streaming import (
    events_stream,
    foreach_batch_upsert,
    run_to_memory,
    session_stats,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_dir(sf_smoke):
    """File-source streams want a directory of files."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    shutil.copy(f"{sf_smoke}/events.parquet", f"{d}/events.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(df):
    return sorted([tuple(r) for r in df.collect()])


def test_streaming_tumbling_equals_batch(spark, events_dir, sf_smoke):
    stream = events_stream(spark, events_dir)
    got = run_to_memory(tumbling_counts(stream), mode="complete")
    want = tumbling_counts(load_table(spark, sf_smoke, "events"))
    assert _rows(got) == _rows(want)


def test_streaming_sessions_equal_batch(spark, events_dir, sf_smoke):
    stream = events_stream(spark, events_dir)
    got = run_to_memory(session_stats(stream), mode="complete")
    want = session_stats(load_table(spark, sf_smoke, "events"))
    assert _rows(got) == _rows(want)


def test_foreach_batch_upsert_delete_before_add(spark, events_dir, tmp_path):
    target = str(tmp_path / "target.parquet")
    # seed the target with rows the stream will overwrite: same keys,
    # sentinel values (load through the catalog so ts is a real timestamp,
    # matching the stream's schema)
    events = load_table(spark, events_dir, "events")
    old = events.limit(100).withColumn("value", F.lit(-999.0))
    old.write.mode("overwrite").parquet(target)

    stream = events_stream(spark, events_dir)
    ck = str(tmp_path / "ck")
    q = foreach_batch_upsert(stream, target, key_cols=["event_id"],
                             checkpoint_dir=ck).trigger(availableNow=True).start()
    q.awaitTermination()

    final = spark.read.parquet(target)
    # every sentinel row was deleted-then-replaced (delete-before-add)
    assert final.filter(F.col("value") == -999.0).count() == 0
    # exactly one row per event_id, equal to the source
    assert final.count() == events.count()
    assert final.select("event_id").distinct().count() == events.count()


@pytest.mark.parametrize("survivor", ["stage", "old"])
def test_foreach_batch_upsert_heals_crash_between_swap_renames(
        spark, events_dir, tmp_path, monkeypatch, survivor):
    """A batch that dies after moving the target aside but before
    renaming the finished stage into place leaves NO target.  The next
    batch (the replay) must put a complete copy back — the finished
    stage, or the set-aside old table when the stage is gone — and
    merge onto it.  Taking the first-batch branch instead would keep
    only that batch's rows and lose the `extra` keys the stream never
    carries."""
    import os

    target = str(tmp_path / "target.parquet")
    stage, old = target + "_stage", target + "_old"
    events = load_table(spark, events_dir, "events")
    seed = events.limit(100).withColumn("value", F.lit(-999.0))
    extra = (events.limit(50)
             .withColumn("event_id", F.col("event_id") + 10**12))
    seed.unionByName(extra).write.mode("overwrite").parquet(target)

    real_rename = os.rename

    def crash_before_stage_lands(src, dst):
        if str(src) == stage and str(dst) == target:
            raise OSError("injected crash between the swap renames")
        return real_rename(src, dst)

    ck = str(tmp_path / "ck")
    monkeypatch.setattr(os, "rename", crash_before_stage_lands)
    q = foreach_batch_upsert(events_stream(spark, events_dir), target,
                             key_cols=["event_id"], checkpoint_dir=ck) \
        .trigger(availableNow=True).start()
    with pytest.raises(Exception):
        q.awaitTermination()
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(target)
    assert os.path.exists(os.path.join(stage, "_SUCCESS"))
    assert os.path.exists(old)
    if survivor == "old":
        shutil.rmtree(stage)

    q = foreach_batch_upsert(events_stream(spark, events_dir), target,
                             key_cols=["event_id"], checkpoint_dir=ck) \
        .trigger(availableNow=True).start()
    q.awaitTermination()

    final = spark.read.parquet(target)
    n = events.count() + 50
    assert final.count() == n
    assert final.select("event_id").distinct().count() == n
    assert final.filter(F.col("value") == -999.0).count() == 0
    assert not os.path.exists(stage) and not os.path.exists(old)


def test_late_data_drop_policy(spark, sf_smoke):
    """Watermark semantics sanity on batch: rows older than the horizon
    would be dropped in streaming; here we verify the windowing itself
    never produces a window older than its inputs."""
    events = load_table(spark, sf_smoke, "events")
    out = tumbling_counts(events)
    bounds = events.agg(F.min("ts"), F.max("ts")).first()
    min_ws = out.agg(F.min("window_start")).first()[0]
    import calendar
    lo = calendar.timegm(bounds[0].timetuple())
    assert min_ws <= lo < min_ws + 600


def test_apply_in_pandas_with_state(spark, events_dir, sf_smoke):
    """Custom stateful operator: running per-user totals must equal the
    batch groupBy answer once the stream drains."""
    from janusgraph_clickhouse_spark.streaming.ops import running_user_totals
    stream = events_stream(spark, events_dir)
    got = run_to_memory(running_user_totals(stream), mode="update")
    # "update" emits one row per user per batch; the LAST row per user is
    # the final running total (single batch here → exactly one row each)
    final = {r.user_id: (r.n_events, r.sum_value) for r in got.collect()}
    want = {r.user_id: (r.n, r.s) for r in
            load_table(spark, sf_smoke, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("s")).collect()}
    assert final == want


def test_stream_static_enrich(spark, events_dir, sf_smoke):
    from janusgraph_clickhouse_spark.streaming.ops import enrich_stream
    stream = events_stream(spark, events_dir)
    dim = (load_table(spark, sf_smoke, "events")
           .select("user_id").distinct()
           .withColumn("user_tier",
                       (F.col("user_id") % 3).cast("int")))
    got = run_to_memory(enrich_stream(stream, dim, "user_id"),
                        mode="append")
    batch = load_table(spark, sf_smoke, "events")
    assert got.count() == batch.count()
    assert got.filter(F.col("user_tier").isNull()).count() == 0
    one = got.filter(F.col("user_id") == got.first().user_id).first()
    assert one.user_tier == one.user_id % 3


def test_stream_stream_self_join(spark, events_dir, sf_smoke):
    from janusgraph_clickhouse_spark.streaming.ops import self_join_within
    stream = events_stream(spark, events_dir)
    got = run_to_memory(self_join_within(stream, "user_id", "5 minutes"),
                        mode="append")
    # batch equivalent on the same data
    ev = load_table(spark, sf_smoke, "events")
    a = ev.select(F.col("user_id").alias("k"), F.col("ts").alias("ts_a"),
                  F.col("event_id").alias("id_a"))
    b = ev.select(F.col("user_id").alias("k"), F.col("ts").alias("ts_b"),
                  F.col("event_id").alias("id_b"))
    want = a.join(b, (a.k == b.k) & (a.id_a < b.id_b)
                  & (b.ts_b >= a.ts_a)
                  & (b.ts_b <= a.ts_a + F.expr("INTERVAL 5 minutes"))).count()
    assert got.count() == want
    assert want > 0


def test_foreach_batch_upsert_multiple_microbatches(spark, sf_smoke, tmp_path):
    """Incremental semantics across several micro-batches: 3 source files
    + maxFilesPerTrigger=1 → 3 sequential upserts into the same target."""
    import shutil
    src_dir = str(tmp_path / "incoming")
    import os
    os.makedirs(src_dir)
    # write splits through the unit-adaptive loader (typed TimestampType
    # µs parquet — the current fixture convention; events_stream probes
    # the footer of whatever convention it finds)
    from janusgraph_clickhouse_spark.sources.catalog import load_table
    events = load_table(spark, sf_smoke, "events")
    parts = events.randomSplit([1.0, 1.0, 1.0], seed=1)
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(f"{src_dir}/batch{i}.parquet")
        for f in os.listdir(f"{src_dir}/batch{i}.parquet"):
            if f.endswith(".parquet"):
                shutil.move(f"{src_dir}/batch{i}.parquet/{f}",
                            f"{src_dir}/file{i}.parquet")
        shutil.rmtree(f"{src_dir}/batch{i}.parquet")

    target = str(tmp_path / "target.parquet")
    stream = events_stream(spark, src_dir, max_files_per_trigger=1)
    q = foreach_batch_upsert(stream, target, key_cols=["event_id"],
                             checkpoint_dir=str(tmp_path / "ck")) \
        .trigger(availableNow=True).start()
    q.awaitTermination()

    final = spark.read.parquet(target)
    assert final.count() == events.count()
    assert final.select("event_id").distinct().count() == events.count()


def test_txlog_replay_end_to_end(spark, sf_smoke, tmp_path):
    """The txlog/systemlog analog end-to-end: typed events land as
    parquet files in a change-log directory with a planted REDELIVERY
    (the same 40 rows appear again in a later file, as at-least-once
    transport delivers them) and stream through the ordered idempotent
    apply (foreach_batch_upsert with order_col).  The store must
    converge to exactly-once state and every column must round-trip
    µs-exactly."""
    import time

    events = (load_table(spark, sf_smoke, "events")
              .orderBy("event_id").limit(200).cache())
    log_dir = tmp_path / "txlog"
    events.coalesce(1).write.parquet(str(log_dir / "fetch0"))
    time.sleep(1.1)  # file source orders batches by mtime
    # at-least-once: 40 records redelivered in a later fetch
    events.limit(40).coalesce(1).write.parquet(str(log_dir / "fetch1"))

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(log_dir / "*")))
    q = (foreach_batch_upsert(stream, str(tmp_path / "store"),
                              key_cols=["event_id"],
                              checkpoint_dir=str(tmp_path / "ck"),
                              order_col="ts")
         .trigger(availableNow=True).start())
    q.awaitTermination()

    store = spark.read.parquet(str(tmp_path / "store"))
    cols = ["event_id", "user_id", "event_type", "value", "props", "ts"]
    assert store.count() == 200  # redelivery absorbed, one row per key
    exp = {tuple(r) for r in events.select(*cols).collect()}
    got = {tuple(r) for r in store.select(*cols).collect()}
    assert got == exp  # every column µs-exact, timestamps included
    events.unpersist()


def test_streaming_trending_topk_equals_batch(spark, events_dir, sf_smoke):
    """Trending top-k: the watermarked count stage runs as a true stream
    (file source → availableNow → memory sink) and the per-window rank
    is applied at the sink — the documented at-sink top-k recipe; the
    result must equal the single-plan batch form."""
    from janusgraph_clickhouse_spark.streaming.ops import (
        rank_trending, trending_counts, trending_topk)
    stream = events_stream(spark, events_dir)
    counts = run_to_memory(trending_counts(stream), mode="complete")
    got = rank_trending(counts, k=3)
    want = trending_topk(load_table(spark, sf_smoke, "events"), k=3)
    assert _rows(got) == _rows(want)


def _attr_events(spark, rows):
    """(event_id, ts_offset_sec, user_id, event_type) → events-shaped DF."""
    import datetime
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    data = [(eid, base + datetime.timedelta(seconds=off), uid, et, 1.0, "{}")
            for eid, off, uid, et in rows]
    return spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")


def test_left_join_within_batch_semantics(spark):
    """Converted click pairs with its purchase; unconverted click keeps a
    null right leg; a purchase BEFORE the click never matches."""
    from janusgraph_clickhouse_spark.streaming.ops import left_join_within
    ev = _attr_events(spark, [
        (1, 0, 7, "click"), (2, 120, 7, "purchase"),      # converts
        (3, 0, 8, "click"),                               # no purchase
        (4, 0, 9, "purchase"), (5, 60, 9, "click"),       # wrong order
        (6, 1000, 7, "purchase"),                         # outside window
    ])
    got = sorted((r.id_a, r.id_b)
                 for r in left_join_within(ev).collect())
    assert got == [(1, 2), (3, None), (5, None)]


def test_streaming_outer_interval_join_emits_nulls(spark, tmp_path):
    """True streaming outer join: null rows for unconverted clicks emit
    once the watermark passes click.ts + interval.  Far-future dummy
    events on BOTH legs push the watermark past every real click's
    horizon; the trailing dummy click itself stays held back — exactly
    the eviction semantics the operator documents."""
    from janusgraph_clickhouse_spark.streaming.ops import left_join_within
    real = [
        (1, 0, 7, "click"), (2, 120, 7, "purchase"),
        (3, 0, 8, "click"),                      # unconverted -> null row
    ]
    dummies = [(98, 86400, 998, "purchase"), (99, 86400, 999, "click")]
    ev = _attr_events(spark, real + dummies)
    d = str(tmp_path / "attr_events")
    ev.write.parquet(d)

    stream = events_stream(spark, d)
    got = run_to_memory(left_join_within(stream), mode="append")
    got_rows = sorted((r.id_a, r.id_b) for r in got.collect())
    # batch answer minus the held-back trailing dummy click (id 99)
    want = sorted((r.id_a, r.id_b)
                  for r in left_join_within(ev).collect()
                  if r.id_a != 99)
    assert got_rows == want
    assert (3, None) in got_rows


def test_scd2_versions_runs_and_bounds(spark):
    """A,A,B,A per one user → 3 versions with adjacent [from, to) bounds
    and is_current only on the open run; ts ties break on event_id."""
    from janusgraph_clickhouse_spark.streaming.ops import scd2_versions
    ev = _attr_events(spark, [
        (1, 0, 7, "A"), (2, 60, 7, "A"),       # run 1: A x2
        (3, 120, 7, "B"),                      # run 2: B
        (4, 180, 7, "A"),                      # run 3: A (reopens)
        (5, 0, 8, "X"), (6, 0, 8, "Y"),        # same ts: event_id orders
    ])
    out = {(r.user_id, r.version): r for r in scd2_versions(ev).collect()}
    assert len(out) == 5
    r1, r2, r3 = out[(7, 1)], out[(7, 2)], out[(7, 3)]
    assert (r1.state, r1.n_events, r1.is_current) == ("A", 2, False)
    assert (r2.state, r2.n_events, r2.is_current) == ("B", 1, False)
    assert (r3.state, r3.n_events, r3.is_current) == ("A", 1, True)
    # adjacency: each version closes exactly where the next opens
    assert r1.valid_to_sec == r2.valid_from_sec
    assert r2.valid_to_sec == r3.valid_from_sec
    assert r3.valid_to_sec is None
    # same-ts tie: event_id 5 ("X") precedes 6 ("Y")
    assert out[(8, 1)].state == "X" and out[(8, 2)].state == "Y"


def test_incremental_rollup_merges_across_real_batches(spark, tmp_path,
                                                       sf_smoke):
    """s12's core property: the rollup maintained across MULTIPLE real
    micro-batches (maxFilesPerTrigger=1 over 3 chunk files — verified
    via the checkpoint's offset log) equals the one-shot batch
    aggregate."""
    import os
    from janusgraph_clickhouse_spark.streaming.ops import (
        incremental_rollup, read_rollup)
    ev = load_table(spark, sf_smoke, "events")
    chunks = str(tmp_path / "chunks")
    ev.repartition(3).write.parquet(chunks)
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    incremental_rollup(spark, chunks, rollup, ckpt,
                       max_files_per_trigger=1)
    # three offsets committed = three real merge invocations
    offsets = os.listdir(os.path.join(ckpt, "offsets"))
    assert len([o for o in offsets if not o.startswith(".")]) == 3
    got = _rows(read_rollup(spark, rollup)
                .select("h", "event_type", "cnt",
                        F.round("sum_raw", 2).alias("sum_value")))
    want = _rows(ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h"),
        "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.round(F.sum("value"), 2).alias("sum_value")))
    assert got == want


def test_rollup_merge_is_idempotent_and_crash_safe(spark, tmp_path,
                                                   sf_smoke):
    """foreachBatch is at-least-once: replaying an already-committed
    batch id must be a no-op (no double counts), and a torn version dir
    left by a crash BEFORE the pointer flip is repaired by the replay
    without losing the committed history."""
    import os
    import shutil
    from janusgraph_clickhouse_spark.streaming.ops import (
        _rollup_merge, _rollup_reduce, _merge_state_batch, read_rollup)
    fold = (_rollup_reduce, _rollup_merge)
    ev = load_table(spark, sf_smoke, "events")
    half = ev.filter(F.col("event_id") % 2 == 0)
    rest = ev.filter(F.col("event_id") % 2 == 1)
    d = str(tmp_path / "rollup")
    _merge_state_batch(spark, half, 0, d, *fold)
    _merge_state_batch(spark, rest, 1, d, *fold)
    want = _rows(read_rollup(spark, d))
    # replay both batches — committed ids are skipped
    _merge_state_batch(spark, half, 0, d, *fold)
    _merge_state_batch(spark, rest, 1, d, *fold)
    assert _rows(read_rollup(spark, d)) == want
    # simulate a crash between writing v2 and the pointer flip: a torn
    # v2 exists, CURRENT still says v1 — the replay of batch 2 must
    # rebuild v2 from v1 and commit
    torn = os.path.join(d, "v2")
    os.makedirs(torn, exist_ok=True)
    extra = ev.limit(10)
    _merge_state_batch(spark, extra, 2, d, *fold)
    merged = read_rollup(spark, d)
    assert merged.agg(F.sum("cnt")).collect()[0][0] == ev.count() + 10


def test_rollup_stream_crash_mid_merge_converges_on_restart(
        spark, tmp_path, sf_smoke, monkeypatch):
    """END-TO-END failure injection for the shared crash protocol
    (s12/s20/s22 all ride _commit_state_version + the CURRENT pointer):
    the foreachBatch merge DIES mid-merge on batch 2 of 3 — after the
    immutable v<batch> dir is written but BEFORE the pointer flip (the
    torn-write window) — through the REAL Structured Streaming restart
    machinery, not a hand-replayed merge call.  The restart must replay
    batch 1 from the intact v0, rebuild v1, and finish batch 2; the
    final rollup must equal the one-shot aggregate (r7 verdict task:
    replay-noop was tested, the torn-write path itself was not)."""
    import os

    import janusgraph_clickhouse_spark.streaming.ops as ops
    from janusgraph_clickhouse_spark.streaming.ops import (
        incremental_rollup, read_rollup)

    ev = load_table(spark, sf_smoke, "events")
    chunks = str(tmp_path / "chunks")
    ev.repartition(3).write.parquet(chunks)
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    real_commit = ops._commit_state_version
    crashed = {"yet": False}

    def torn_commit(state_dir, batch_id, cur, df):
        if batch_id == 1 and not crashed["yet"]:
            crashed["yet"] = True
            df.write.mode("overwrite").parquet(
                os.path.join(state_dir, f"v{batch_id}"))
            raise RuntimeError("injected crash: v1 written, pointer "
                               "NOT flipped")
        real_commit(state_dir, batch_id, cur, df)

    monkeypatch.setattr(ops, "_commit_state_version", torn_commit)
    with pytest.raises(Exception, match="injected crash"):
        incremental_rollup(spark, chunks, rollup, ckpt,
                           max_files_per_trigger=1)
    # torn state on disk: v1 exists, CURRENT still names v0
    assert os.path.isdir(os.path.join(rollup, "v1"))
    with open(os.path.join(rollup, "CURRENT")) as f:
        assert f.read().strip() == "v0"
    # restart the SAME stream/checkpoint: batch 1 replays and heals
    incremental_rollup(spark, chunks, rollup, ckpt,
                       max_files_per_trigger=1)
    assert crashed["yet"]  # the injection really fired
    got = _rows(read_rollup(spark, rollup)
                .select("h", "event_type", "cnt",
                        F.round("sum_raw", 2).alias("sum_value")))
    want = _rows(ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h"),
        "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.round(F.sum("value"), 2).alias("sum_value")))
    assert got == want


def test_decayed_score_closed_form_and_horizon(spark):
    """s13: 3 events valued 1.00/2.00/4.00 oldest→newest score
    4·2^30 + 2·2^29 + 1·2^28 cents-fixed; events past the horizon
    contribute nothing; horizon outside [0,40] raises."""
    import pytest
    from janusgraph_clickhouse_spark.streaming.ops import decayed_score
    ev = _attr_events(spark, [
        (1, 0, 7, "a"), (2, 60, 7, "a"), (3, 120, 7, "a")])
    ev = ev.drop("value").withColumn(
        "value", F.when(F.col("event_id") == 1, 1.0)
        .when(F.col("event_id") == 2, 2.0).otherwise(4.0))
    row = decayed_score(ev).collect()[0]
    assert row.n_scored == 3
    assert row.score_fixed == (400 << 30) + (200 << 29) + (100 << 28)
    # horizon cut: only the newest horizon+1 ranks score
    many = _attr_events(spark, [(i, i, 9, "a") for i in range(1, 40)])
    many = many.withColumn("value", F.lit(1.0))
    r9 = decayed_score(many, horizon=2).collect()
    r9 = [r for r in r9 if r.user_id == 9][0]
    assert r9.n_scored == 3
    assert r9.score_fixed == 100 * (4 + 2 + 1)
    with pytest.raises(ValueError, match="horizon"):
        decayed_score(many, horizon=41)


def test_delta_sum_closed_form(spark):
    from datetime import datetime
    from janusgraph_clickhouse_spark.operators.temporal import delta_sum
    rows = [(1, datetime(2024, 1, 1, 0, i), v, i)
            for i, v in enumerate([1.00, 3.00, 2.00, 5.00])]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, "
                                     "value double, event_id long")
    out = delta_sum(df, "user_id", "ts", "value",
                    order_extra="event_id").collect()[0]
    # increases: 1.00->3.00 (+200), 2.00->5.00 (+300); 3.00->2.00 ignored
    assert out.n_events == 4
    assert out.n_increases == 2
    assert out.delta_sum_cents == 500


def test_gap_fill_locf_closed_form(spark):
    from datetime import datetime
    from janusgraph_clickhouse_spark.operators.temporal import gap_fill_locf
    # buckets 0 and 2 observed; bucket 1 is a gap
    rows = [("a", datetime(2024, 1, 1, 0, 0), 1.50),
            ("a", datetime(2024, 1, 1, 0, 21), 2.25)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {r.b: r for r in
           gap_fill_locf(df, "k", "ts", "v", width_sec=600).collect()}
    assert len(out) == 3
    bs = sorted(out)
    assert bs[1] - bs[0] == 600 and bs[2] - bs[1] == 600
    gap = out[bs[1]]
    assert gap.is_gap and gap.cnt == 0 and gap.filled_sum_cents == 150
    assert not out[bs[0]].is_gap and out[bs[0]].filled_sum_cents == 150
    assert out[bs[2]].filled_sum_cents == 225


def test_pit_enrich_null_leg_and_state(spark, sf_oracle):
    """Facts before a user's first browse event keep a NULL state leg;
    enriched rows carry the state whose interval contains the fact."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    out = QUERIES["s15_pit_enrich"](spark, sf_oracle)
    rows = out.collect()
    assert rows, "no facts enriched"
    # every non-null enrichment must satisfy the interval contract
    from janusgraph_clickhouse_spark.sources import load_table
    from janusgraph_clickhouse_spark.streaming.ops import scd2_versions
    from pyspark.sql import functions as F
    ev = load_table(spark, sf_oracle, "events")
    dim = {(r.user_id, r.version): r for r in scd2_versions(
        ev.filter(F.col("event_type").isin("view", "click", "signup"))
    ).collect()}
    nulls = 0
    for r in rows:
        if r.browse_state is None:
            nulls += 1
            continue
        d = dim[(r.user_id, r.state_version)]
        assert d.state == r.browse_state
        assert d.valid_from_sec <= r.ts_sec
        assert d.valid_to_sec is None or r.ts_sec < d.valid_to_sec
    assert nulls < len(rows)


def test_lttb_downsample_closed_form(spark):
    """Three buckets: endpoints keep first/last points; the middle
    bucket keeps its max-triangle-area point (the spike, not the
    flat points)."""
    from datetime import datetime
    from janusgraph_clickhouse_spark.operators.temporal import (
        lttb_downsample)
    mk = lambda m, s, v, i: ("a", datetime(2024, 1, 1, 0, m, s), v, i)
    rows = [
        mk(0, 0, 1.00, 1), mk(5, 0, 1.00, 2),          # bucket 0
        mk(10, 0, 1.00, 3), mk(12, 0, 9.00, 4),        # bucket 1: spike
        mk(14, 0, 1.00, 5),
        mk(20, 0, 1.00, 6), mk(25, 0, 2.00, 7),        # bucket 2
    ]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, value double, event_id long")
    out = sorted(lttb_downsample(df, "k", "ts", "value", "event_id",
                                 width_sec=600).collect(),
                 key=lambda r: r.b)
    assert [r.rule for r in out] == ["first", "area", "last"]
    assert out[0].cents == 100 and out[0].ts_sec == out[0].b
    assert out[1].cents == 900          # the spike wins the area vote
    assert out[2].cents == 200          # last point of the last bucket


def test_scd2_null_state_transition_opens_version(spark):
    """A non-NULL→NULL state change must open a NEW version (the old
    null-unsafe != absorbed it into the previous run); NULL→NULL stays
    one run; a key STARTING at NULL still opens version 1."""
    from janusgraph_clickhouse_spark.streaming.ops import scd2_versions
    rows = [(1, "A", 10, 1), (1, None, 20, 2), (1, None, 30, 3),
            (1, "B", 40, 4),
            (2, None, 10, 5), (2, None, 20, 6)]
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts long, event_id long")
    df = df.withColumn("ts", F.timestamp_seconds("ts"))
    out = scd2_versions(df)
    k1 = {r.version: (r.state, r.n_events) for r in
          out.filter(F.col("user_id") == 1).collect()}
    assert k1 == {1: ("A", 1), 2: (None, 2), 3: ("B", 1)}
    k2 = {r.version: (r.state, r.n_events) for r in
          out.filter(F.col("user_id") == 2).collect()}
    assert k2 == {1: (None, 2)}


def test_decayed_score_overflow_raises_loudly(spark):
    """A value whose cents exceed 2^(62-horizon) must raise, never wrap
    silently into a wrong exact-int64 score."""
    import pytest
    from janusgraph_clickhouse_spark.streaming.ops import decayed_score
    from pyspark.sql import functions as F
    big = float((1 << 24))  # cents = 2^24 * 100 > 2^22 bound at h=40
    df = (spark.createDataFrame([(1, big, 10, 1)],
                                "user_id long, value double, ts long, "
                                "event_id long")
          .withColumn("ts", F.timestamp_seconds("ts")))
    with pytest.raises(Exception, match="overflow the exact-int64"):
        decayed_score(df, horizon=40).collect()


def test_incremental_rollup_checkpoint_mismatch_raises(spark, tmp_path):
    """Retargeting a rollup_dir to a different checkpoint must fail
    loudly — batch-id idempotency cannot hold across checkpoints."""
    import os
    import shutil
    import pytest
    from janusgraph_clickhouse_spark.streaming.ops import (
        incremental_rollup)
    src = "/root/testdata/sf0.001/events.parquet"
    d = tmp_path / "events"
    d.mkdir()
    if os.path.isdir(src):
        shutil.copytree(src, d / "events.parquet")
    else:
        shutil.copy(src, d)
    roll = str(tmp_path / "rollup")
    incremental_rollup(spark, str(d), roll, str(tmp_path / "ck1"),
                       max_files_per_trigger=None)
    with pytest.raises(ValueError, match="idempotency cannot hold"):
        incremental_rollup(spark, str(d), roll, str(tmp_path / "ck2"))


def test_time_rollup_daily_grain_actually_rolls_up(spark):
    """Each grouping set aggregates ONE grain alone: the daily rows
    (h NULL) must each equal the sum of their hourly rows — the old
    cumulative-prefix sets produced hourly aggregates twice and no
    daily rows at all (r7 review; both sides of s06 mirrored the bug
    so parity hid it)."""
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.operators.temporal import time_rollup
    rows = [(i, i * 3600 // 4) for i in range(96)]   # 4 events/hour, 1 day+
    df = (spark.createDataFrame(rows, "event_id long, sec long")
          .withColumn("ts", F.timestamp_seconds("sec"))
          .withColumn("t", F.lit("x")))
    out = time_rollup(df, "ts", {"h": "1 hour", "d": "1 day"},
                      group_extra=["t"], aggs=["count(*) AS cnt"])
    hourly = out.filter(F.col("h").isNotNull())
    daily = out.filter(F.col("d").isNotNull())
    assert hourly.filter(F.col("d").isNotNull()).count() == 0
    assert daily.filter(F.col("h").isNotNull()).count() == 0
    assert daily.count() == 1
    assert daily.collect()[0].cnt == 96           # the true daily total
    assert hourly.agg(F.sum("cnt")).first()[0] == 96


def test_as_of_join_null_keys_never_match(spark):
    """NULL-key left rows emit with NULL legs; NULL-key right rows
    match nothing (SQL ASOF semantics — Window.partitionBy would
    otherwise pair the NULL groups; r7 review)."""
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.operators.temporal import as_of_join
    left = (spark.createDataFrame(
        [(1, 100, 10), (None, 100, 11)], "k long, sec long, lv long")
        .withColumn("ts", F.timestamp_seconds("sec")).drop("sec"))
    right = (spark.createDataFrame(
        [(1, 50, 7), (None, 50, 9)], "k long, sec long, rv long")
        .withColumn("ts", F.timestamp_seconds("sec")).drop("sec"))
    out = {r.lv: r for r in
           as_of_join(left, right, key="k", ts="ts",
                      right_cols=["rv"]).collect()}
    assert out[10].rv == 7
    assert out[11].rv is None and out[11].matched_ts is None


def test_as_of_join_column_collision_raises(spark):
    import pytest
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.operators.temporal import as_of_join
    df = (spark.createDataFrame([(1, 1, 1.0)], "k long, sec long, value double")
          .withColumn("ts", F.timestamp_seconds("sec")).drop("sec"))
    with pytest.raises(ValueError, match="collide"):
        as_of_join(df, df, key="k", ts="ts")


def test_as_of_join_subsecond_tolerance(spark):
    """Fractional tolerances compare raw epoch doubles, not truncated
    whole seconds (r7 review: 0.9 s old was kept at tolerance 0.5, and
    0.1 s old was nulled)."""
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.operators.temporal import as_of_join
    left = (spark.createDataFrame([(1, 100.9, 10), (2, 101.0, 11)],
                                  "k long, sec double, lv long")
            .withColumn("ts", F.timestamp_seconds("sec")).drop("sec"))
    right = (spark.createDataFrame([(1, 100.0, 7), (2, 100.9, 8)],
                                   "k long, sec double, rv long")
             .withColumn("ts", F.timestamp_seconds("sec")).drop("sec"))
    out = {r.lv: r for r in
           as_of_join(left, right, key="k", ts="ts", right_cols=["rv"],
                      tolerance_seconds=0.5).collect()}
    assert out[10].rv is None     # 0.9 s old: outside 0.5 s tolerance
    assert out[11].rv == 8        # 0.1 s old: inside
