"""Unit tests for the KCVS operator surface (SURVEY §2.1 parity) and the
clustered layout writers."""

from __future__ import annotations

from pyspark.sql import functions as F

from janusgraph_clickhouse_spark.functions import P
from janusgraph_clickhouse_spark.operators import kcvs
from janusgraph_clickhouse_spark.sources.layout import (
    write_sorted_parquet,
)


def _store(spark):
    # a tiny KCV store: key k, column c, value v
    rows = [(k, c, f"v{k}{c}") for k in range(5) for c in range(4)]
    return spark.createDataFrame(rows, "k long, c long, v string")


def test_slice_query_bounds_sort_limit(spark):
    df = _store(spark)
    out = kcvs.slice_query(df, "k", "c", key=2, col_start=1, col_end=3,
                           limit=5).collect()
    assert [(r.k, r.c) for r in out] == [(2, 1), (2, 2)]
    out = kcvs.slice_query(df, "k", "c", key=2, limit=2).collect()
    assert [(r.c) for r in out] == [0, 1]


def test_multi_key_slice_per_key_limit(spark):
    df = _store(spark)
    out = kcvs.multi_key_slice(df, "k", "c", keys=[1, 3], col_start=1,
                               limit_per_key=2).collect()
    got = sorted((r.k, r.c) for r in out)
    assert got == [(1, 1), (1, 2), (3, 1), (3, 2)]


def test_key_range_scan_distinct_sorted(spark):
    df = _store(spark)
    out = kcvs.key_range_scan(df, "k", key_start=1, key_end=4).collect()
    assert [r.k for r in out] == [1, 2, 3]


def test_multi_range_scan_disjunction(spark):
    df = _store(spark)
    out = kcvs.multi_range_scan(df, "c", [(0, 1), (3, 4)])
    assert sorted(set(r.c for r in out.collect())) == [0, 3]


def test_mutate_delete_before_add(spark):
    """The reference's contract: deletions apply strictly before
    additions, and every addition overwrites its own (k,c)
    (ClickhouseKeyColumnValueStore.java:118-121,150-158)."""
    df = _store(spark)
    additions = spark.createDataFrame(
        [(2, 1, "NEW"), (9, 0, "FRESH")], "k long, c long, v string")
    deletions = spark.createDataFrame([(0, 0)], "k long, c long")
    out = kcvs.mutate(df, additions, deletions, key_cols=["k", "c"])
    rows = {(r.k, r.c): r.v for r in out.collect()}
    assert (0, 0) not in rows                 # explicit delete
    assert rows[(2, 1)] == "NEW"              # overwrite, not duplicate
    assert rows[(9, 0)] == "FRESH"            # plain insert
    assert len(rows) == 20 - 1 + 1
    # a (k,c) deleted AND re-added in the same mutation → addition wins
    both = kcvs.mutate(df, additions=spark.createDataFrame(
        [(1, 1, "REBORN")], "k long, c long, v string"),
        deletions=spark.createDataFrame([(1, 1)], "k long, c long"),
        key_cols=["k", "c"])
    assert {(r.k, r.c): r.v for r in both.collect()}[(1, 1)] == "REBORN"


def test_top_k_global_and_grouped(spark):
    df = _store(spark)
    top = kcvs.top_k(df, [F.col("c").desc(), F.col("k")], k=3).collect()
    assert [(r.k, r.c) for r in top] == [(0, 3), (1, 3), (2, 3)]
    per = kcvs.top_k(df, [F.col("c").desc()], k=1, partition_by=["k"])
    assert sorted((r.k, r.c) for r in per.collect()) == [
        (k, 3) for k in range(5)]


def test_predicate_library(spark):
    df = spark.createDataFrame(
        [(1, "hello world", 10.0), (2, "help wanted", 20.0),
         (3, "goodbye", 30.0)], "id long, txt string, x double")
    assert df.filter(P.between("x", 10, 30)).count() == 2      # half-open
    assert df.filter(P.inside("x", 10, 30)).count() == 1
    assert df.filter(P.outside("x", 15, 25)).count() == 2
    assert df.filter(P.within("id", [1, 3])).count() == 2
    assert df.filter(P.without("id", [1, 3])).count() == 1
    assert df.filter(P.text_contains("txt", "world")).count() == 1
    assert df.filter(P.text_contains("txt", "orl")).count() == 0  # token, not substr
    assert df.filter(P.text_prefix("txt", "hel")).count() == 2
    assert df.filter(P.text_regex("txt", "hel.*")).count() == 2
    assert df.filter(P.text_regex("txt", "hel")).count() == 0     # whole match
    assert df.filter(P.text_fuzzy("txt", "goodby")).count() == 1


def test_sorted_parquet_layout_prunes(spark, tmp_path):
    """write_sorted_parquet clusters keys; re-read + range slice returns
    the same answer (and the scan carries pushed filters)."""
    df = _store(spark)
    path = str(tmp_path / "clustered")
    write_sorted_parquet(df, path, sort_cols=["k", "c"],
                         repartition_col="k", num_files=4)
    back = spark.read.parquet(path)
    out = kcvs.slice_query(back, "k", "c", key=3, col_start=1, col_end=4)
    assert [r.c for r in out.collect()] == [1, 2, 3]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "pushed" in plan.lower()


def test_as_of_join_micro(spark):
    from janusgraph_clickhouse_spark.operators.temporal import as_of_join
    left = spark.createDataFrame(
        [(1, 10.0, "L1"), (1, 20.0, "L2"), (2, 5.0, "L3")],
        "k long, ts double, lv string").withColumn(
            "ts", F.timestamp_seconds("ts"))
    right = spark.createDataFrame(
        [(1, 8.0, "X"), (1, 15.0, "Y"), (1, 20.0, "Z"), (3, 1.0, "W")],
        "k long, ts double, rv string").withColumn(
            "ts", F.timestamp_seconds("ts"))
    out = {r.lv: (r.rv, r.matched_ts) for r in
           as_of_join(left, right, key="k", ts="ts").collect()}
    assert out["L1"][0] == "X"      # latest right ≤ 10 is ts=8
    assert out["L2"][0] == "Z"      # tie at ts=20 matches (inclusive)
    assert out["L3"][0] is None     # key 2 has no right rows
    # tolerance: L1's match at ts=8 is 2s old; tolerance 1s nulls it
    tol = {r.lv: r.rv for r in
           as_of_join(left, right, key="k", ts="ts",
                      tolerance_seconds=1).collect()}
    assert tol["L1"] is None and tol["L2"] == "Z"


def test_as_of_join_unorderable_right_column(spark):
    """A MAP column on the right must be carried (not sorted): the window
    tiebreaker only orders by the orderable projection, so unorderable
    types no longer fail analysis."""
    from janusgraph_clickhouse_spark.operators.temporal import as_of_join
    left = spark.createDataFrame(
        [(1, 10.0, "L1")], "k long, ts double, lv string").withColumn(
            "ts", F.timestamp_seconds("ts"))
    right = spark.createDataFrame(
        [(1, 8.0, {"a": 1}), (1, 9.0, {"b": 2})],
        "k long, ts double, m map<string,int>").withColumn(
            "ts", F.timestamp_seconds("ts"))
    out = as_of_join(left, right, key="k", ts="ts").collect()
    assert len(out) == 1 and out[0]["m"] == {"b": 2}  # latest right ≤ 10


def test_approx_distinct_within_tolerance(spark, sf_oracle):
    from janusgraph_clickhouse_spark.sources import load_table
    li = load_table(spark, sf_oracle, "lineitem")
    exact = li.select("l_partkey").distinct().count()
    approx = li.agg(F.approx_count_distinct("l_partkey", rsd=0.02)
                    .alias("a")).first()["a"]
    assert abs(approx - exact) / exact < 0.05


def test_multi_key_slice_dataframe_keys(spark):
    from janusgraph_clickhouse_spark.operators import kcvs
    df = _store(spark)
    keys = spark.createDataFrame([(1,), (3,), (3,), (99,)], "k long")
    out = kcvs.multi_key_slice(df, "k", "c", keys=keys, col_start=1,
                               limit_per_key=2).collect()
    assert sorted((r.k, r.c) for r in out) == [(1, 1), (1, 2), (3, 1), (3, 2)]


def test_geo_predicates_closed_form(spark):
    """Geo surface (Geoshape analog): haversine distance against known
    city pairs, box containment/intersection truth tables."""
    # (lat, lon): Paris, London, and a point on the equator/meridian
    df = spark.createDataFrame(
        [(1, 48.8566, 2.3522), (2, 51.5074, -0.1278), (3, 0.0, 0.0)],
        "id long, lat double, lon double")
    # Paris-London great-circle distance ≈ 343.6 km
    d = {r.id: r.d for r in df.select(
        "id", P.geo_distance_km("lat", "lon", 51.5074, -0.1278)
        .alias("d")).collect()}
    assert abs(d[2]) < 1e-9                       # self-distance
    assert 340 < d[1] < 348
    # circle: 400 km around London catches Paris, not the origin
    got = {r.id for r in df.filter(P.geo_within_circle(
        "lat", "lon", 51.5074, -0.1278, 400.0)).collect()}
    assert got == {1, 2}
    # box around western Europe
    got = {r.id for r in df.filter(P.geo_within_box(
        "lat", "lon", 45.0, 55.0, -5.0, 10.0)).collect()}
    assert got == {1, 2}
    # box-box intersect / disjoint (per-row boxes vs a literal box)
    boxes = spark.createDataFrame(
        [(1, 0.0, 10.0, 0.0, 10.0),      # overlaps query box
         (2, 20.0, 30.0, 0.0, 10.0),     # disjoint in lat
         (3, 5.0, 6.0, 9.0, 20.0)],      # touches corner region
        "id long, lat_min double, lat_max double, "
        "lon_min double, lon_max double")
    hit = {r.id for r in boxes.filter(P.geo_intersect_box(
        "lat_min", "lat_max", "lon_min", "lon_max",
        4.0, 9.0, 8.0, 15.0)).collect()}
    assert hit == {1, 3}
    miss = {r.id for r in boxes.filter(P.geo_disjoint_box(
        "lat_min", "lat_max", "lon_min", "lon_max",
        4.0, 9.0, 8.0, 15.0)).collect()}
    assert miss == {2}


def test_multi_range_scan_none_bounds_and_empty(spark, sf_smoke):
    """None bounds mean UNBOUNDED (module convention); zero ranges mean
    the union of zero slices — empty, not a crash (r7 review)."""
    from janusgraph_clickhouse_spark.operators.kcvs import multi_range_scan
    from janusgraph_clickhouse_spark.sources import load_table
    li = load_table(spark, sf_smoke, "lineitem")
    below = multi_range_scan(li, "l_quantity", [(None, 10)]).count()
    want = li.filter("l_quantity < 10").count()
    assert below == want and want > 0
    assert multi_range_scan(li, "l_quantity", []).count() == 0
    everything = multi_range_scan(li, "l_quantity", [(None, None)]).count()
    assert everything == li.count()


def test_multi_key_slice_rejects_plain_string(spark, sf_smoke):
    import pytest
    from janusgraph_clickhouse_spark.operators.kcvs import multi_key_slice
    from janusgraph_clickhouse_spark.sources import load_table
    li = load_table(spark, sf_smoke, "lineitem")
    with pytest.raises(TypeError, match="per-character"):
        multi_key_slice(li, "l_orderkey", "l_linenumber", keys="abc")


def test_mutate_null_keys_upsert(spark):
    """A NULL-keyed addition must REPLACE the NULL-keyed current row
    (null-safe anti join) — plain equality left both rows (r7 review)."""
    from janusgraph_clickhouse_spark.operators.kcvs import mutate
    cur = spark.createDataFrame([(None, 1), (7, 1)], "k long, v long")
    add = spark.createDataFrame([(None, 2)], "k long, v long")
    out = sorted(((r.k, r.v) for r in
                  mutate(cur, additions=add, deletions=None,
                         key_cols=["k"]).collect()), key=repr)
    assert out == sorted([(None, 2), (7, 1)], key=repr)


def test_topk_preserves_user_rn_column(spark):
    """A pre-existing '__rn' column survives per-group top-k (unique
    temp names; the old fixed name clobbered and dropped it)."""
    from janusgraph_clickhouse_spark.operators.kcvs import top_k
    df = spark.createDataFrame([(1, 5, 100), (1, 3, 200), (2, 9, 300)],
                               "g long, v long, __rn long")
    out = top_k(df, ["v"], k=1, partition_by=["g"])
    assert "__rn" in out.columns
    assert sorted(r["__rn"] for r in out.collect()) == [200, 300]
