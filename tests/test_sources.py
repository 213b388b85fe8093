"""JSON round-trip, layout and ts-probe tests + hypothesis model-based
check of mutate semantics (SURVEY §5 property-based spot checks)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from janusgraph_clickhouse_spark.operators import kcvs
from janusgraph_clickhouse_spark.sources import load_table
from janusgraph_clickhouse_spark.sources.formats import write_json


def test_json_roundtrip(spark, sf_smoke, tmp_path):
    src = load_table(spark, sf_smoke, "customer")
    path = str(tmp_path / "cust_json")
    write_json(src, path)
    back = spark.read.schema(src.schema).json(path)
    assert back.count() == src.count()
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, src.collect()))


# -- model-based mutate check ----------------------------------------------

KV = st.tuples(st.integers(0, 5), st.integers(0, 3))


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    base=st.dictionaries(KV, st.text("ab", min_size=1, max_size=3),
                         max_size=12),
    additions=st.dictionaries(KV, st.text("cd", min_size=1, max_size=3),
                              max_size=6),
    deletions=st.sets(KV, max_size=6),
)
def test_mutate_matches_dict_model(spark, base, additions, deletions):
    """kcvs.mutate must behave exactly like the dict model of the
    reference's contract (ClickhouseKeyColumnValueStore.java:118-121):
    apply all deletions, then all additions (additions overwrite)."""
    model = dict(base)
    for k in deletions:
        model.pop(k, None)
    model.update(additions)

    schema = "k long, c long, v string"
    df = spark.createDataFrame(
        [(k, c, v) for (k, c), v in base.items()] or [], schema)
    add_df = spark.createDataFrame(
        [(k, c, v) for (k, c), v in additions.items()] or [], schema)
    del_df = spark.createDataFrame(
        [(k, c) for (k, c) in deletions] or [],
        T.StructType([T.StructField("k", T.LongType()),
                      T.StructField("c", T.LongType())]))
    out = kcvs.mutate(df, add_df if additions else None,
                      del_df if deletions else None, key_cols=["k", "c"])
    got = {(r.k, r.c): r.v for r in out.collect()}
    assert got == model


def test_events_ts_unit_probe(spark, tmp_path):
    """The footer probe distinguishes the three on-disk ts conventions the
    fixture/driver have produced: logical µs, raw INT64 nanos, and
    Spark-written INT96 — and load-through returns the same instants."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from janusgraph_clickhouse_spark.sources.catalog import events_ts_unit

    us = 1704067200_000_000  # 2024-01-01 in µs
    base = {"event_id": [1], "user_id": [2], "event_type": ["click"],
            "value": [1.0], "props": ["{}"]}

    p_us = str(tmp_path / "us.parquet")
    pq.write_table(pa.table({**base, "ts": pa.array([us], pa.timestamp("us"))}), p_us)
    assert events_ts_unit(p_us) == "us"

    p_ns = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({**base, "ts": pa.array([us * 1000], pa.int64())}), p_ns)
    assert events_ts_unit(p_ns) == "ns"

    p_96 = str(tmp_path / "int96")
    spark.createDataFrame([(1,)], "event_id long") \
        .selectExpr("event_id", "timestamp_micros(%d) AS ts" % us) \
        .write.option("spark.sql.parquet.writeLegacyFormat", "true") \
        .parquet(p_96)
    # Spark's default output is INT96; whatever it wrote must read back
    # as the identical instant through the probe+loader pair
    from janusgraph_clickhouse_spark.sources.catalog import (
        convert_events_ts, events_ts_unit as probe)
    import glob
    unit = probe(p_96)
    import pyspark.sql.types as T
    sch = T.StructType([T.StructField("event_id", T.LongType()),
                        T.StructField("ts", T.LongType() if unit == "ns"
                                      else T.TimestampType())])
    got = convert_events_ts(
        spark.read.schema(sch).parquet(p_96), unit).first()
    assert int(got.ts.timestamp() * 1_000_000) == us


def test_events_ts_unit_bounded_probe_and_eviction(tmp_path, monkeypatch):
    """Driver cost stays bounded on many-part directories (sampled
    probe), regens are detected, and the cache keeps ONE entry per path
    (stale generations evicted, not accumulated)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from janusgraph_clickhouse_spark.sources import catalog as C

    us = 1704067200_000_000
    base = {"event_id": [1], "user_id": [2], "event_type": ["click"],
            "value": [1.0], "props": ["{}"]}

    d = tmp_path / "events.parquet"
    d.mkdir()

    def write_all(unit):
        for i in range(40):
            if unit == "us":
                ts = pa.array([us + i], pa.timestamp("us"))
            else:
                ts = pa.array([(us + i) * 1000], pa.int64())
            pq.write_table(pa.table({**base, "ts": ts}),
                           str(d / f"part-{i:05d}.parquet"))

    write_all("us")
    calls = []
    real = C._probe_ts_unit
    monkeypatch.setattr(C, "_probe_ts_unit",
                        lambda f: (calls.append(f), real(f))[1])
    assert C.events_ts_unit(str(d)) == "us"
    assert len(calls) == 2 * C._TS_PROBE_SAMPLE  # sampled, not all 40
    calls.clear()
    assert C.events_ts_unit(str(d)) == "us"
    assert calls == []                           # cached: zero re-probes
    # in-place regen with a different unit: mtimes change -> re-probe,
    # new unit returned, and still exactly one cache entry for the path
    import time
    time.sleep(0.02)
    write_all("ns")
    assert C.events_ts_unit(str(d)) == "ns"
    assert len([k for k in C._TS_UNIT_CACHE if k == str(d)]) == 1


def test_apply_ttl_drops_whole_partitions_only(spark, tmp_path):
    """TTL unlinks expired partition dirs without touching survivors or
    non-partition files; the decision reads only directory names."""
    import os
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.sources.layout import apply_ttl
    tbl = str(tmp_path / "t")
    (spark.range(100)
     .select((F.col("id") % 5).alias("d"), F.col("id").alias("x"))
     .write.partitionBy("d").parquet(tbl))
    before = spark.read.parquet(tbl).count()
    assert before == 100
    dropped = apply_ttl(tbl, "d", cutoff=2)
    assert dropped == 2                      # d=0, d=1
    left = spark.read.parquet(tbl)
    assert left.count() == 60
    assert sorted(r.d for r in left.select("d").distinct().collect()) \
        == [2, 3, 4]
    # idempotent: nothing left below the cutoff
    assert apply_ttl(tbl, "d", cutoff=2) == 0
    # partition pruning works on the survivors (scan-level filter)
    plan = (left.filter(F.col("d") >= 4)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan


def test_jsonl_corpus_corrupt_record_policies(spark, tmp_path):
    """The three malformed-line policies behave as declared: PERMISSIVE
    quarantines the bad line in _corrupt_record, DROPMALFORMED drops
    it, FAILFAST raises; the corrupt-column collision guard fires."""
    import pytest
    from pyspark.sql import types as T

    from janusgraph_clickhouse_spark.sources.formats import (
        read_jsonl_corpus)

    p = tmp_path / "corpus"
    p.mkdir()
    (p / "part-0.jsonl").write_text(
        '{"doc_id": 1, "text": "good one"}\n'
        '{"doc_id": 2, "text": "also good"}\n'
        '{"doc_id": 3, "text": "torn line...\n'       # invalid JSON
        'not json at all\n')
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])

    perm = read_jsonl_corpus(spark, str(p), schema).cache()
    rows = perm.collect()
    assert len(rows) == 4
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 2 and all(r.doc_id is None for r in bad)
    good = {r.doc_id for r in rows if r._corrupt_record is None}
    assert good == {1, 2}
    perm.unpersist()

    dropped = read_jsonl_corpus(spark, str(p), schema,
                                mode="DROPMALFORMED")
    assert {r.doc_id for r in dropped.collect()} == {1, 2}

    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        read_jsonl_corpus(spark, str(p), schema,
                          mode="FAILFAST").collect()

    clash = T.StructType([T.StructField("_corrupt_record",
                                        T.StringType())])
    with pytest.raises(ValueError, match="collides"):
        read_jsonl_corpus(spark, str(p), clash)


def test_jsonl_corpus_gzip_roundtrip(spark, tmp_path):
    """Compressed JSONL (the on-the-wire corpus format) round-trips
    exactly through the corpus writer/reader pair."""
    from pyspark.sql import types as T

    from janusgraph_clickhouse_spark.sources.formats import (
        read_jsonl_corpus, write_jsonl_corpus)
    rows = [(i, f"doc {i} body") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "gz")
    write_jsonl_corpus(df, out, compression="gzip")
    import glob
    assert glob.glob(out + "/*.gz"), "no gzip part files written"
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    back = read_jsonl_corpus(spark, out, schema)
    got = sorted((r.doc_id, r.text) for r in back.collect()
                 if r._corrupt_record is None)
    assert got == sorted(rows)
