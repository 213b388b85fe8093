"""Physical-plan shape assertions (SURVEY §4): the optimizations the
engine relies on at scale must actually appear in the executed plans —
pushdown at the scan, broadcast for dimensions, top-K instead of total
sort, partial aggregation. Guards against silent plan regressions."""

from __future__ import annotations

from janusgraph_clickhouse_spark.plans.graph_queries import g02_two_hop_parts
from janusgraph_clickhouse_spark.plans.relational import (
    q01_slice_point,
    q05_unordered_scan_topk,
    q06_agg_pricing_summary,
    q08_customer_top_parts,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_point_slice_pushes_filters_and_prunes_columns(spark, sf_smoke):
    df = q01_slice_point(spark, sf_smoke)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "l_orderkey" in plan.split("PushedFilters")[1][:400]
    # column pruning: the scan schema must not include unprojected columns
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_extendedprice" not in read_schema
    assert "l_returnflag" not in read_schema


def test_topk_compiles_to_take_ordered(spark, sf_smoke):
    df = q05_unordered_scan_topk(spark, sf_smoke)
    assert "TakeOrderedAndProject" in _plan(df)


def test_agg_has_partial_final_pair(spark, sf_smoke):
    df = q06_agg_pricing_summary(spark, sf_smoke)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_" in plan


def test_flagship_broadcasts_dimensions(spark, sf_smoke):
    df = q08_customer_top_parts(spark, sf_smoke)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # the point-filtered customer must be pushed to its scan
    assert "c_custkey" in plan.split("PushedFilters")[1][:2000] or \
           plan.count("PushedFilters") >= 2


def test_traversal_is_single_plan_with_joins(spark, sf_smoke):
    df = g02_two_hop_parts(spark, sf_smoke).to_df() if hasattr(
        g02_two_hop_parts(spark, sf_smoke), "to_df") else \
        g02_two_hop_parts(spark, sf_smoke)
    plan = _optimized(df)
    # two adjacency expansions → at least two joins in ONE plan tree
    assert plan.count("Join") >= 2


def test_semi_anti_joins_compile_as_such(spark, sf_smoke):
    from janusgraph_clickhouse_spark.plans.relational import (
        q09_semi_join, q10_anti_join)
    assert "LeftSemi" in _optimized(q09_semi_join(spark, sf_smoke))
    assert "LeftAnti" in _optimized(q10_anti_join(spark, sf_smoke))


def test_clustered_graph_partition_pruning(spark, sf_smoke):
    """Graph queries default to the persisted clustered adjacency: a
    label-restricted traversal must show partition pruning on the edge
    set (etype) — the MergeTree ORDER BY (k,c) analog — and exactly the
    per-hop edge joins (vertex-prop joins deferred to terminal steps)."""
    from janusgraph_clickhouse_spark.plans.graph_queries import (
        g02_two_hop_parts)

    df = g02_two_hop_parts(spark, sf_smoke)
    plan = _plan(df)
    assert "jcs_graph_cache" in plan  # reads the persisted layout
    assert "PartitionFilters" in plan and "etype" in plan
    n_joins = plan.count("Join")
    assert n_joins <= 2, f"expected <=2 joins (got {n_joins}):\n{plan}"


def test_clustered_restriction_matches_derivation(spark, sf_smoke):
    """The clustered read restricted by edge_labels must reproduce the
    in-plan derivation exactly — including NOT leaking supplier→nation
    edges into `in_nation` selections (etype, not label, is the key)."""
    from janusgraph_clickhouse_spark.graph.model import (
        derive_star_graph, star_schema_graph)

    for labels in ({"in_nation", "in_region"}, {"placed"}, None):
        clustered = star_schema_graph(spark, sf_smoke, labels)
        derived = derive_star_graph(spark, sf_smoke, labels)
        ce = sorted(map(tuple, clustered.edges
                        .select("src", "dst", "label").collect()))
        de = sorted(map(tuple, derived.edges
                        .select("src", "dst", "label").collect()))
        assert ce == de, f"edge mismatch for {labels}"
        cv = sorted(r.id for r in clustered.vertices.collect())
        dv = sorted(r.id for r in derived.vertices.collect())
        assert cv == dv, f"vertex mismatch for {labels}"


def test_graph_cache_is_one_parquet_layout(spark, sf_smoke):
    """The persisted graph is plain parquet and nothing else: building
    and serving the star-schema and interaction graphs registers no
    catalog table, and each cache directory holds only `edges/`,
    `vertices/` and the `_BUILT` marker (no second copy of the edges
    in another layout)."""
    import os

    from janusgraph_clickhouse_spark.graph.model import (
        interaction_graph, star_schema_graph)
    from janusgraph_clickhouse_spark.graph.persistence import (
        ensure_clustered_graph, ensure_interaction_graph)

    before = sorted(t.name for t in spark.catalog.listTables())
    paths = [ensure_clustered_graph(spark, sf_smoke),
             ensure_interaction_graph(spark, sf_smoke, "10 minutes")]
    assert star_schema_graph(spark, sf_smoke).edges.count() > 0
    assert star_schema_graph(spark, sf_smoke, {"placed"}).edges.count() > 0
    assert interaction_graph(spark, sf_smoke, "10 minutes").edges.count() > 0
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    for path in paths:
        assert sorted(os.listdir(path)) == ["_BUILT", "edges", "vertices"]


def test_sequence_packing_has_no_global_single_partition_window(
        spark, sf_smoke):
    """l24's running sum must be the two-level distributed prefix sum:
    the per-document window partitions by shard (hash exchange), never
    `Window.orderBy` over the whole corpus (which plans a SinglePartition
    exchange carrying every row through one task).  The only
    SinglePartition stage allowed is the 65,536-row shard-offset table."""
    from janusgraph_clickhouse_spark.llm.split import pack_sequences
    from janusgraph_clickhouse_spark.sources import load_table
    docs = load_table(spark, sf_smoke, "documents")
    plan = _plan(pack_sequences(docs, "doc_id", "text", budget=2048))
    segs = plan.split("Window ")
    for seg in segs[1:]:
        # each Window operator's partition spec: the doc-level cumsum
        # must be keyed (partitionBy shard); an unkeyed spec means the
        # corpus funnels through one task
        head = seg[:200]
        if "local_cum" in head:
            assert "shard" in head, head
    # the corpus-side exchange feeding the doc window is hash, not single
    assert "Exchange hashpartitioning(shard" in plan, plan[:2000]


def test_adamic_adar_join_path_salts_hub_keys(spark):
    """When a wedge center crosses the hub threshold, the join key must
    become (w, _salt) with the probe side exploded across salts — the
    skew defense has to be IN the plan, not a docstring."""
    from janusgraph_clickhouse_spark.graph.algorithms import adamic_adar
    from janusgraph_clickhouse_spark.graph.model import graph_from_edge_list
    g = graph_from_edge_list(
        spark, [(0, i) for i in range(1, 30)] + [(1, 2), (3, 4)])
    # dist_max_nodes=0 too: since r11 the mid-size tile tier would
    # otherwise absorb any small graph before the join path is reached
    df = adamic_adar(g, top=10, dense_max_nodes=0, dist_max_nodes=0,
                     hub_degree_threshold=5, hub_salt=4)
    plan = _optimized(df)
    assert "_salt" in plan
    assert "explode" in plan.lower()


def test_triangle_count_plan_has_no_cartesian(spark, sf_smoke):
    """Degree-oriented triangles stay equi-join-only (the closing edge
    join must not degrade to a cartesian/broadcast-nested-loop)."""
    from janusgraph_clickhouse_spark.graph.algorithms import (
        _degree_oriented_edges, _oriented_wedges)
    from janusgraph_clickhouse_spark.graph.model import graph_from_edge_list
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    oriented = _degree_oriented_edges(g)
    from pyspark.sql import functions as F
    closer = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tri = _oriented_wedges(oriented).join(closer, ["b", "c"])
    plan = _plan(tri)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_scans_index_not_resignatures(spark, tmp_path):
    """The per-batch plan must touch the index through scans + equi-joins
    only: no pandas/python eval stage and no signature aggregate may run
    over the index side (only the batch's shingle explode aggregates)."""
    from janusgraph_clickhouse_spark.llm import incremental as I
    corpus = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} a b c") for i in range(20)],
        "doc_id long, text string")
    index = {}
    for t, tbl in I.fingerprint_tables(corpus, "doc_id", "text").items():
        tbl.write.parquet(str(tmp_path / t))
        index[t] = spark.read.parquet(str(tmp_path / t))
    new = spark.createDataFrame([(100, "w1 x1 y1 z1 a b c")],
                                "doc_id long, text string")
    df = I.incremental_dedup_pairs(new, "doc_id", "text", index)
    plan = _plan(df)
    # shingles + sizes index tables come in as plain parquet scans (the
    # buckets scan runs inside the eager candidate-pair checkpoint job,
    # so it is not in the final plan — and runs exactly once)
    assert plan.count("FileScan parquet") >= 2
    assert "CartesianProduct" not in plan
    # the final plan is signature-FREE: the batch's 48-wide min block
    # lives behind the checkpointed candidate list, and re-signaturing
    # the index would surface a partial_min block here
    assert plan.count("partial_min") == 0


def test_bloom_prefilter_runs_before_confirm_join(spark, sf_smoke):
    """l34's scale claim is structural: the Arrow-batched Bloom probe
    (an *EvalPython/ArrowEval* node) must sit UNDER the shingle confirm
    join — the corpus side is filtered before the exchange, not after."""
    from janusgraph_clickhouse_spark.plans.llm_queries import (
        l34_bloom_decontaminate)
    plan = _plan(l34_bloom_decontaminate(spark, sf_smoke))
    assert "EvalPython" in plan or "ArrowEval" in plan, plan[:2000]
    # the probe node appears below (= later in the indented tree than)
    # the last SortMergeJoin/ShuffledHashJoin on `shingle`
    probe_at = max(plan.find("EvalPython"), plan.find("ArrowEval"))
    join_markers = [plan.find(m) for m in
                    ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
                    if plan.find(m) != -1]
    assert join_markers and probe_at > min(join_markers)


def test_sq8_shortlist_is_takeordered_single_scan(spark, sf_smoke):
    """l35: the quantized scoring pass must compile to ONE corpus scan
    feeding a TakeOrderedAndProject (the shortlist), never a join or a
    global sort before the rerank."""
    from janusgraph_clickhouse_spark.plans.llm_queries import l35_sq8_topk
    plan = _plan(l35_sq8_topk(spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") <= 2  # corpus scan + rerank reread


def test_domain_cap_is_two_bounded_windows(spark, sf_smoke):
    """l36: the skew-safe form must show BOTH window passes — the
    per-(domain, salt-bucket) partial top-cap and the final per-domain
    window — so no single partition ever sorts a whole domain."""
    from janusgraph_clickhouse_spark.plans.llm_queries import l36_domain_cap
    plan = _plan(l36_domain_cap(spark, sf_smoke))
    assert plan.count("RunningWindowFunction") + plan.count("Window") >= 2


def test_local_clustering_routes_dense_to_bitset(spark, monkeypatch):
    """g24's routing: a small-id-space graph must take the bitset path,
    a large-id-space graph the oriented-wedge join path.  (The per-op
    checkpoints hide the internals from the final plan string, so the
    route is spied at the helper boundary.)"""
    from janusgraph_clickhouse_spark.graph import algorithms as A
    from janusgraph_clickhouse_spark.graph.model import graph_from_edge_list
    calls = []
    orig_dense = A._vertex_triangles_dense
    # r14: the join path funnels through the sym-level orientation
    # helper (`_lcc_join_triangles` → `_degree_oriented_edges_sym`),
    # so spy there — the graph-level wrapper no longer sits on g24's
    # route
    orig_oriented = A._degree_oriented_edges_sym
    monkeypatch.setattr(
        A, "_vertex_triangles_dense",
        lambda sym, n: (calls.append("dense"), orig_dense(sym, n))[1])
    monkeypatch.setattr(
        A, "_degree_oriented_edges_sym",
        lambda e: (calls.append("wedge"), orig_oriented(e))[1])
    base = [(1, 2), (2, 3), (1, 3), (3, 4)]
    A.local_clustering(graph_from_edge_list(spark, base))
    assert calls == ["dense"]
    # since r11, offset/sparse ids REMAP to the dense path (cardinality
    # routes, not id values — the scale-study finding)
    off = A.DENSE_LCC_MAX_NODES + 5
    A.local_clustering(graph_from_edge_list(
        spark, [(a + off, b + off) for a, b in base]))
    assert calls == ["dense", "dense"]
    # the wedge join remains the route when no dense tier is allowed
    monkeypatch.setattr(A, "DENSE_LCC_MAX_NODES", 0)
    A.local_clustering(graph_from_edge_list(spark, base))
    assert calls == ["dense", "dense", "wedge"]


def test_argmax_is_single_hash_aggregate_and_tie_stable(spark, sf_smoke):
    """q38: max_by compiles to ONE partial+final aggregate pair with
    map-side combine (the Exchange carries one row per partition-group,
    never the raw events; string-keyed max_by buffers aren't UnsafeRow-
    mutable so the pair is SortAggregate, still partial/final) and NO
    Window; ts ties resolve by event_id through the padded ordering
    string."""
    import datetime
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    import janusgraph_clickhouse_spark.plans.relational  # noqa: F401
    plan = QUERIES["q38_argmax_latest"](
        spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan and "Window" not in plan

    base = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, base, 7, "a", 1.0, "{}"), (2, base, 7, "b", 2.0, "{}"),
         (3, base - datetime.timedelta(seconds=5), 7, "c", 3.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    okey = F.format_string("%020d%012d", F.unix_micros("ts"),
                           F.col("event_id"))
    row = ev.groupBy("user_id").agg(
        F.max_by("event_type", okey).alias("last_type"),
        F.min_by("event_type", okey).alias("first_type")).collect()[0]
    assert (row.last_type, row.first_type) == ("b", "c")


def test_window_funnel_closed_form(spark):
    """q39's funnel logic on a hand-built event log: full 3-step chain,
    a chain broken by ordering (purchase before click), a chain broken
    by the window, and a user with no anchor at all."""
    import datetime
    from janusgraph_clickhouse_spark.plans.relational import (
        q39_window_funnel)
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, off, uid, et):
        return (eid, base + datetime.timedelta(seconds=off), uid, et,
                1.0, "{}")

    rows = [
        # user 1: view -> click -> purchase inside the hour = level 3
        ev(1, 0, 1, "view"), ev(2, 600, 1, "click"),
        ev(3, 1200, 1, "purchase"),
        # user 2: purchase BEFORE the click never counts = level 2
        ev(4, 0, 2, "view"), ev(5, 300, 2, "purchase"),
        ev(6, 600, 2, "click"),
        # user 3: click lands outside the 1h window = level 1
        ev(7, 0, 3, "view"), ev(8, 4000, 3, "click"),
        # user 4: no view anchor = level 0
        ev(9, 0, 4, "click"), ev(10, 60, 4, "purchase"),
        # user 5: late view REANCHORS: second funnel completes = 3
        ev(11, 0, 5, "view"), ev(12, 5000, 5, "view"),
        ev(13, 5100, 5, "click"), ev(14, 5200, 5, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    import janusgraph_clickhouse_spark.plans.relational as rel
    orig = rel.load_table
    try:
        rel.load_table = lambda s, d, n: df
        got = {r.user_id: r.funnel_level
               for r in q39_window_funnel(spark, "unused").collect()}
    finally:
        rel.load_table = orig
    assert got == {1: 3, 2: 2, 3: 1, 4: 0, 5: 3}


def test_retention_base_gates_followups(spark):
    """q40: follow-up flags are ANDed with the base — a user who viewed
    but never signed up retains 0 everywhere."""
    import datetime
    from janusgraph_clickhouse_spark.plans.relational import q40_retention
    base = datetime.datetime(2024, 1, 1)
    rows = [(1, base, 1, "signup", 1.0, "{}"),
            (2, base, 1, "purchase", 1.0, "{}"),
            (3, base, 2, "view", 1.0, "{}"),
            (4, base, 2, "purchase", 1.0, "{}"),
            (5, base, 3, "signup", 1.0, "{}"),
            (6, base, 3, "view", 1.0, "{}")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    import janusgraph_clickhouse_spark.plans.relational as rel
    orig = rel.load_table
    try:
        rel.load_table = lambda s, d, n: df
        got = {r.user_id: (r.r_signup, r.r_view, r.r_purchase)
               for r in q40_retention(spark, "unused").collect()}
    finally:
        rel.load_table = orig
    assert got == {1: (1, 0, 1), 2: (0, 0, 0), 3: (1, 1, 0)}


def test_hll_estimate_accuracy_and_determinism(spark):
    """m=256 HLL on 10k distinct keys lands within 4σ (~26%) of truth,
    and two runs give the bit-identical estimate (md5, not RNG)."""
    from janusgraph_clickhouse_spark.functions.sketches import hll_distinct
    df = spark.range(10_000).withColumnRenamed("id", "k")
    a = hll_distinct(df, "k").collect()[0]
    b = hll_distinct(df, "k").collect()[0]
    assert a == b
    assert a.n_exact == 10_000
    assert abs(a.rel_error) < 0.26
    # duplicated input must not move the sketch (max is idempotent)
    c = hll_distinct(df.unionAll(df), "k").collect()[0]
    assert c.hll_estimate == a.hll_estimate


def test_hll_register_merge_equals_direct_sketch(spark):
    """uniqState/uniqMerge exactness (q46): merging per-group register
    tables by per-bucket MAX then folding gives the BIT-IDENTICAL
    estimate a direct global sketch would — rollups never need the
    fact table again."""
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.functions.sketches import (
        hll_distinct, hll_estimate_from_registers, hll_registers)
    df = (spark.range(5_000)
          .select(F.col("id").alias("k"),
                  (F.col("id") % 7).alias("grp")))
    regs = hll_registers(df, "k", ["grp"])
    merged = regs.groupBy("bucket").agg(F.max("m").alias("m")) \
        .withColumn("g", F.lit("ALL"))
    est = hll_estimate_from_registers(merged, ["g"]).collect()[0]
    direct = hll_distinct(df, "k").collect()[0]
    assert est.uniq_estimate == direct.hll_estimate


def test_cms_never_underestimates_and_is_deterministic(spark):
    """Count-Min property: estimate >= exact for EVERY key (min of
    counters each of which includes the key's own count); determinism
    across runs; skewed key surfaces first."""
    from janusgraph_clickhouse_spark.functions.sketches import (
        cms_heavy_hitters)
    from pyspark.sql import functions as F
    df = (spark.range(3000)
          .select((F.when(F.col("id") % 3 == 0, 7)
                   .otherwise(F.col("id") % 100)).alias("uid")))
    a = cms_heavy_hitters(df, "uid", k=10).collect()
    b = cms_heavy_hitters(df, "uid", k=10).collect()
    assert a == b
    assert all(r.overcount >= 0 for r in a)
    # 1000 ids with id%3==0 plus the 20 non-multiples-of-3 with
    # id%100==7 land on key 7
    assert a[0].key == 7 and a[0].exact_cnt == 1020


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_copurchase_plan_broadcasts_dims_no_cartesian(spark, sf_smoke):
    """g29: degree/name lookups broadcast; pair join + top-50 stay
    shuffle-shaped (TakeOrderedAndProject), no CartesianProduct (the
    1-row count side may appear as a broadcast nested loop — that is
    the broadcast of a scalar, not a quadratic join)."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    plan = _physical(QUERIES["g29_copurchase_lift"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_url_dedup_plan_is_pure_codegen(spark, sf_smoke):
    """l48: canonicalization is regex codegen — no Python evaluation
    anywhere in the plan."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    plan = _physical(QUERIES["l48_url_canonical_dedup"](spark, sf_smoke))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_kmv_plan_uses_take_ordered_sketches(spark, sf_smoke):
    """q43: every k-min sketch compiles to TakeOrderedAndProject (local
    k-minima per partition + driver merge), never a global sort."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    plan = _physical(QUERIES["q43_kmv_set_ops"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Sort ") <= plan.count("TakeOrderedAndProject") + 2


def test_pit_enrich_no_cartesian(spark, sf_smoke):
    """s15: the interval join must be an equi-join on user with the
    range as a post-probe filter — never a CartesianProduct."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    plan = _physical(QUERIES["s15_pit_enrich"](spark, sf_smoke))
    assert "CartesianProduct" not in plan


def test_gap_fill_generates_axis_no_cartesian(spark, sf_smoke):
    """s14: the dense time axis comes from sequence()+explode, not a
    join against a generated calendar table."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    plan = _physical(QUERIES["s14_gap_fill"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_map_aggregates_plan_two_hash_aggs_no_python(spark, sf_smoke):
    """q47: sumMap/maxMap compile to hash-aggregate pairs with map-side
    combine and zero Python evaluation; no window, no sort."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    plan = _physical(QUERIES["q47_map_aggregates"](spark, sf_smoke))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_histogram_quantiles_plan_state_side_agg(spark, sf_smoke):
    """q48: the state build is a hash aggregate on (group, bin) — the
    scan side; the quantile fold windows over ≤64-row states, and no
    Python appears anywhere."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    plan = _physical(QUERIES["q48_histogram_quantiles"](spark, sf_smoke))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_sequence_match_plan_single_agg_no_join(spark, sf_smoke):
    """s17: one hash aggregate builds the per-key letter string; the
    funnel checks are codegen regexes — no self-joins at all."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    plan = _physical(QUERIES["s17_sequence_match"](spark, sf_smoke))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_paragraph_dedup_plan_no_cartesian_no_python(spark, sf_smoke):
    """l53: keep-first is a window over the md5-keyed shuffle and
    reassembly one aggregate — never a self-join of paragraphs."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    plan = _physical(QUERIES["l53_paragraph_dedup"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stratified_split_plan_broadcasts_seat_table(spark, sf_smoke):
    """l54: the per-stratum seat table joins back by BROADCAST (it is
    strata-sized); rows take exactly the rank-window shuffle."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    plan = _physical(QUERIES["l54_stratified_split"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_recall_plan_equi_join_candidates(spark, sf_smoke):
    """l55: ANN candidates come from bucket EQUI-joins; the exact side
    is the broadcast of the tiny query sample (BroadcastNestedLoopJoin
    of a scalar-sized side is that broadcast, not a quadratic join) —
    no CartesianProduct, no Python."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    plan = _physical(QUERIES["l55_ann_recall_eval"](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hll_and_kmv_ignore_null_inputs(spark):
    """NULL values contribute NOTHING to either sketch (count(DISTINCT)
    semantics): a NULL previously forged a phantom max-rank HLL
    register (inflating every rollup it merged into) and stole a KMV
    sketch slot NULLS-FIRST in Spark only (r7 review)."""
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.functions.sketches import (
        hll_distinct, kmv_set_ops)
    base = spark.range(500).select(F.col("id").alias("k"))
    with_nulls = base.union(spark.createDataFrame(
        [(None,)] * 10, "k long"))
    a = hll_distinct(base, "k").collect()[0]
    b = hll_distinct(with_nulls, "k").collect()[0]
    assert a.hll_estimate == b.hll_estimate
    assert b.n_exact == 500
    ka = kmv_set_ops(base, base, "k").collect()[0]
    kb = kmv_set_ops(with_nulls, with_nulls, "k").collect()[0]
    assert ka.est_a == kb.est_a and kb.n_a == 500


def test_cms_null_key_is_a_real_hitter(spark):
    """A NULL key that IS the heaviest hitter must appear in the top-k
    (sentinel-coalesced bucket; the NULL probe join silently dropped
    it before — r7 review)."""
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.functions.sketches import (
        cms_heavy_hitters)
    df = (spark.range(300).select(
        F.when(F.col("id") < 200, None).otherwise(F.col("id") % 7)
        .alias("k")))
    top = cms_heavy_hitters(df, "k", k=3).collect()
    assert top[0].key is None and top[0].exact_cnt == 200


def test_histogram_quantiles_union_merged_state_deterministic(spark):
    """A state merged by plain UNION (duplicate bins) folds identically
    to the properly summed merge — the defensive re-aggregate makes
    the cumulative fold total (r7 review)."""
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.functions.sketches import (
        histogram_quantiles, histogram_state)
    df = spark.range(1000).select(F.lit("g").alias("g"),
                                  (F.col("id") % 640).alias("c"))
    st = histogram_state(df, "c", ["g"], lo=0, width=10, n_bins=64)
    unioned = st.union(st)   # duplicate bins, doubled counts
    summed = (unioned.groupBy("g", "bin")
              .agg(F.sum("cnt").alias("cnt")))
    qa = {r.pct: r.est_micro for r in histogram_quantiles(
        unioned, ["g"], lo=0, width=10, percents=[50, 99]).collect()}
    qb = {r.pct: r.est_micro for r in histogram_quantiles(
        summed, ["g"], lo=0, width=10, percents=[50, 99]).collect()}
    assert qa == qb
