"""Closed-form + invariant tests for the graph algorithms (SURVEY §5)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from janusgraph_clickhouse_spark.graph.algorithms import (
    bfs_distances,
    connected_components,
    pagerank,
    triangle_count,
)
from janusgraph_clickhouse_spark.graph.model import graph_from_edge_list
from janusgraph_clickhouse_spark.graph.traversal import Traversal


def test_cc_two_components(spark):
    # path 1-2-3 and pair 10-11: components {1,2,3}->1, {10,11}->10
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (10, 11)])
    cc = {r.id: r.component for r in connected_components(g).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_cycle(spark):
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 1)])
    cc = {r.id: r.component for r in connected_components(g).collect()}
    assert cc == {1: 1, 2: 1, 3: 1}


def test_bfs_path_graph(spark):
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    d = {r.id: r.distance for r in bfs_distances(g, [1], max_hops=3).collect()}
    assert d == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 beyond max_hops


def test_bfs_undirected(spark):
    g = graph_from_edge_list(spark, [(2, 1), (2, 3)])
    d = {r.id: r.distance
         for r in bfs_distances(g, [1], max_hops=2, directed=False).collect()}
    assert d == {1: 0, 2: 1, 3: 2}


def test_triangle_count(spark):
    # one triangle + a dangling edge
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    assert triangle_count(g) == 1
    # K4 has 4 triangles
    k4 = graph_from_edge_list(
        spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])
    assert triangle_count(k4) == 4


def test_dense_triangle_variants_match_generic(spark):
    from janusgraph_clickhouse_spark.graph.algorithms import (
        co_occurrence_triangles)
    # K5 minus one edge: C(5,3)=10 triangles minus the 3 through (1,2) = 7
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)
             if (a, b) != (1, 2)]
    g = graph_from_edge_list(spark, edges)
    assert triangle_count(g) == 7
    # co-occurrence: groups {0,1,2},{2,3,4} → two triangles
    inc = spark.createDataFrame(
        [(10, 0), (10, 1), (10, 2), (20, 2), (20, 3), (20, 4)], "g long, n long")
    co = co_occurrence_triangles(inc, "g", "n", n_nodes=5).first()["triangles"]
    assert co == 2


def test_pagerank_sum_invariant(spark):
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 1), (4, 1)])
    pr = pagerank(g, max_iter=15)
    total = pr.agg(F.sum("rank")).first()[0]
    assert math.isclose(total, 4.0, rel_tol=1e-6)


def test_pagerank_star_graph(spark):
    # star: spokes 2..5 all point at hub 1; hub is dangling.
    g = graph_from_edge_list(spark, [(2, 1), (3, 1), (4, 1), (5, 1)])
    pr = {r.id: r.rank for r in pagerank(g, max_iter=30).collect()}
    assert pr[1] > pr[2]
    assert math.isclose(sum(pr.values()), 5.0, rel_tol=1e-6)
    # spokes are symmetric
    assert math.isclose(pr[2], pr[5], rel_tol=1e-9)


def test_traversal_dsl_micro(spark):
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (1, 4)])
    assert sorted(
        r.id for r in Traversal.V(g, 1).out().to_df().collect()) == [2, 4]
    assert Traversal.V(g, 1).out().out().to_df().collect()[0].id == 3
    assert sorted(r.id for r in
                  Traversal.V(g).where_out().to_df().collect()) == [1, 2]
    assert sorted(r.id for r in
                  Traversal.V(g).not_out().to_df().collect()) == [3, 4]
    both = Traversal.V(g, 2).both().dedup().to_df()
    assert sorted(r.id for r in both.collect()) == [1, 3]


def test_repeat_times_matches_chained_hops(spark):
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 4), (1, 5), (5, 6)])
    chained = sorted(r.id for r in
                     Traversal.V(g, 1).out().out().to_df().collect())
    looped = sorted(r.id for r in
                    Traversal.V(g, 1).repeat(lambda t: t.out(), times=2)
                    .to_df().collect())
    assert looped == chained == [3, 6]


def test_repeat_emit_unions_every_frontier(spark):
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 4)])
    got = sorted(r.id for r in
                 Traversal.V(g, 1).repeat(lambda t: t.out(), times=3,
                                          emit=True).to_df().collect())
    assert got == [1, 2, 3, 4]  # start + each hop


def test_repeat_until_stops_at_predicate(spark):
    # path 1→2→3→4; stop at vertex 3: traverser exits there, never sees 4
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 4)])
    got = [r.id for r in
           Traversal.V(g, 1)
           .repeat(lambda t: t.out(),
                   until=lambda t: t.has("id", F.col("id") == 3))
           .to_df().collect()]
    assert got == [3]


def test_repeat_until_terminates_on_cycle(spark):
    # 1→2→3→1 cycle with no vertex satisfying until: visited-set pruning
    # must terminate the loop and return an empty frontier
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 1)])
    got = (Traversal.V(g, 1)
           .repeat(lambda t: t.out(),
                   until=lambda t: t.has("id", F.col("id") == 99),
                   max_iter=10)
           .to_df().collect())
    assert got == []


def test_weighted_shortest_paths(spark):
    from janusgraph_clickhouse_spark.graph.algorithms import shortest_paths
    from janusgraph_clickhouse_spark.graph.model import PropertyGraph
    from pyspark.sql import functions as F
    # 1→2 (w=5), 1→3 (w=1), 3→2 (w=1): shortest 1→2 is 2 via 3, not 5
    e = spark.createDataFrame(
        [(1, 2, 5.0), (1, 3, 1.0), (3, 2, 1.0), (2, 4, 2.0)],
        "src long, dst long, w double")
    v = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 9)], "id long")
    g = PropertyGraph(v, e)
    d = {r.id: r.dist for r in shortest_paths(g, [1], "w").collect()}
    assert d == {1: 0.0, 3: 1.0, 2: 2.0, 4: 4.0}  # 9 unreachable, absent
    # unweighted defaults to hop counts (1→2 direct = 1 hop, 4 via 2)
    d2 = {r.id: r.dist for r in shortest_paths(g, [1]).collect()}
    assert d2[2] == 1.0 and d2[4] == 2.0


def test_motif_finding(spark):
    from janusgraph_clickhouse_spark.graph.motif import find
    # triangle 1→2→3→1 plus chord 1→4
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 1), (1, 4)])
    chains = find(g, [("a", None, "b"), ("b", None, "c")]).collect()
    assert sorted(tuple(r) for r in chains) == [
        (1, 2, 3), (2, 3, 1), (3, 1, 2), (3, 1, 4)]
    cycles = find(
        g, [("x", None, "y"), ("y", None, "z"), ("z", None, "x")],
        distinct_vertices=True).count()
    assert cycles == 3  # the 3 rotations of the one directed triangle
    # repeated-variable pattern: out-and-back (none in this DAG-ish graph)
    assert find(g, [("a", None, "b"), ("b", None, "a")]).count() == 0


def test_traversal_edge_steps(spark):
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (1, 4)])
    oe = Traversal.V(g, 1).out_e().collect()
    assert sorted((r.src, r.dst) for r in oe) == [(1, 2), (1, 4)]
    ie = Traversal.V(g, 3).in_e().collect()
    assert [(r.src, r.dst) for r in ie] == [(2, 3)]


def test_cc_long_path_converges_fast(spark):
    """Pointer jumping: a 60-hop chain must resolve well under 60
    supersteps (label propagation alone would need the full diameter)."""
    g = graph_from_edge_list(spark, [(i, i + 1) for i in range(60)])
    cc = connected_components(g, max_iter=10).collect()
    assert {r.component for r in cc} == {0}
    assert len(cc) == 61


def test_cc_raises_when_not_converged(spark):
    """An exhausted max_iter refuses loudly instead of returning labels
    that may split a component: one superstep cannot resolve a 60-hop
    chain."""
    import pytest
    g = graph_from_edge_list(spark, [(i, i + 1) for i in range(60)])
    with pytest.raises(RuntimeError, match="raise max_iter"):
        connected_components(g, max_iter=1)


def test_graph_persistence_roundtrip(spark, sf_smoke, tmp_path):
    from janusgraph_clickhouse_spark.graph.model import star_schema_graph
    from janusgraph_clickhouse_spark.graph.persistence import (
        load_graph, save_graph)
    g = star_schema_graph(spark, sf_smoke, edge_labels={"placed"})
    path = str(tmp_path / "graph")
    save_graph(g, path, num_files=4)
    back = load_graph(spark, path)
    assert back.vertices.count() == g.vertices.count()
    assert back.edges.count() == g.edges.count()
    # adjacency slice on the clustered layout still answers correctly
    t = Traversal.V(back, 42 + 1_000_000_000).out("placed")
    want = Traversal.V(g, 42 + 1_000_000_000).out("placed")
    assert sorted(r.id for r in t.to_df().collect()) == \
        sorted(r.id for r in want.to_df().collect())


def test_longest_path_levels_micro(spark):
    from janusgraph_clickhouse_spark.graph.algorithms import (
        longest_path_levels)
    # diamond with a long leg: 1→2→3→5, 1→4→5 — level(5) = 3 (longest)
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 5), (1, 4), (4, 5)])
    lv = {r.id: r.level for r in longest_path_levels(g).collect()}
    assert lv == {1: 0, 2: 1, 3: 2, 4: 1, 5: 3}


def test_bfs_no_broadcast_above_threshold(spark):
    """A frontier larger than broadcast_threshold must shuffle-join, not
    broadcast (the hub-fan-out driver-OOM guard): inspect the hop-join
    plan both ways."""
    from janusgraph_clickhouse_spark.graph.algorithms import _next_frontier

    g = graph_from_edge_list(spark, [(1, i) for i in range(2, 30)])
    edges = g.edges.select("src", "dst")
    frontier = spark.createDataFrame([(1, 0)], "id long, distance int")
    visited = frontier

    small = _next_frontier(edges, frontier, visited, 1, use_broadcast=True)
    assert "Broadcast" in small._jdf.queryExecution().executedPlan().toString()

    big = _next_frontier(edges, frontier, visited, 1, use_broadcast=False)
    plan = big._jdf.queryExecution().executedPlan().toString()
    # first join (frontier ⋈ edges) must be a shuffle join; the trailing
    # anti-join against tiny `visited` may still broadcast — locate the
    # frontier join node specifically
    first_join = [ln for ln in plan.splitlines() if "Join" in ln][-1]
    assert "Broadcast" not in first_join, plan

    # and both shapes give the same answer
    assert sorted(r.id for r in small.collect()) == \
        sorted(r.id for r in big.collect())


def test_bfs_shuffle_path_correct(spark):
    """bfs with broadcast_threshold=0 (always shuffle) equals default."""
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 4), (2, 5)])
    a = {(r.id, r.distance)
         for r in bfs_distances(g, [1], max_hops=3).collect()}
    b = {(r.id, r.distance)
         for r in bfs_distances(g, [1], max_hops=3,
                                broadcast_threshold=0).collect()}
    assert a == b == {(1, 0), (2, 1), (3, 2), (5, 2), (4, 3)}


def test_co_occurrence_or_reduce_single_matrix(spark):
    """The partial-adjacency OR-reduce must deliver exactly ONE matrix to
    the driver regardless of input partitioning (round-1 shape collected
    one n²-bit partial PER PARTITION)."""
    from janusgraph_clickhouse_spark.graph.algorithms import (
        co_occurrence_triangles)

    rows = [(g, n) for g in range(6) for n in range(g, g + 4)]
    inc = spark.createDataFrame(rows, "grp long, node long").repartition(16)
    out = co_occurrence_triangles(inc, "grp", "node", n_nodes=16)
    tri = out.collect()[0].triangles
    # each group of 4 nodes is a clique K4 (4 triangles); overlapping
    # groups share edges — verify against the generic join counter
    edges = (inc.alias("a").join(inc.alias("b"), "grp")
             .filter(F.col("a.node") < F.col("b.node"))
             .select(F.col("a.node").alias("src"),
                     F.col("b.node").alias("dst")).distinct())
    from janusgraph_clickhouse_spark.graph.model import PropertyGraph
    verts = (edges.select(F.col("src").alias("id"))
             .unionAll(edges.select(F.col("dst").alias("id"))).distinct()
             .withColumn("label", F.lit("v"))
             .withColumn("name", F.col("id").cast("string")))
    assert tri == triangle_count(PropertyGraph(verts, edges.withColumn(
        "label", F.lit("e")).withColumn("weight", F.lit(1.0))))


def test_pagerank_tol_early_exit(spark):
    """tol wiring: on a star graph pagerank converges in a few supersteps;
    with tol set it must stop early AND still satisfy the invariants."""
    g = graph_from_edge_list(spark, [(i, 99) for i in range(1, 11)])
    pr = {r.id: r.rank for r in pagerank(g, max_iter=50, tol=1e-9).collect()}
    assert abs(sum(pr.values()) - 11.0) < 1e-6
    # closed form: leaves all equal; hub dominated by leaf contributions
    leaves = [v for k, v in pr.items() if k != 99]
    assert max(leaves) - min(leaves) < 1e-9
    assert pr[99] > max(leaves)


def test_kcore_clique_with_pendant(spark):
    """K4 plus a pendant chain: the 2-core is exactly the clique (pendant
    path peels in two rounds), each survivor with degree 3 inside the
    core; the 4-core is empty."""
    from janusgraph_clickhouse_spark.graph.algorithms import k_core

    g = graph_from_edge_list(
        spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                (4, 5), (5, 6)])
    core = {r.id: r.core_degree for r in k_core(g, k=2).collect()}
    assert core == {1: 3, 2: 3, 3: 3, 4: 3}
    assert k_core(g, k=4).count() == 0


def test_kcore_whole_graph_is_core(spark):
    """A cycle is its own 2-core: nothing peels, degrees all 2."""
    from janusgraph_clickhouse_spark.graph.algorithms import k_core

    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    core = {r.id: r.core_degree for r in k_core(g, k=2).collect()}
    assert core == {1: 2, 2: 2, 3: 2, 4: 2}


def test_label_propagation_disjoint_triangles(spark):
    """Hand-computed sync LPA on a triangle: s0=(1,2,3) → (2,1,1) →
    (1,1,1) fixpoint (ties → smallest label).  Two disjoint triangles
    each converge to their own min-id community."""
    from janusgraph_clickhouse_spark.graph.algorithms import (
        label_propagation)

    g = graph_from_edge_list(
        spark, [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)])
    comm = {r.id: r.community for r in
            label_propagation(g, max_iter=4).collect()}
    assert comm == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


def test_adamic_adar_square(spark):
    """C4 cycle: the only non-adjacent pairs are the diagonals, each with
    both off-diagonal vertices (deg 2) as common neighbors —
    AA = 2/ln(2), common_neighbors = 2; adjacent pairs are excluded."""
    from janusgraph_clickhouse_spark.graph.algorithms import adamic_adar

    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    rows = {(r.u, r.v): (r.common_neighbors, r.adamic_adar)
            for r in adamic_adar(g).collect()}
    expect = round(2.0 / math.log(2.0), 6)
    assert rows == {(1, 3): (2, expect), (2, 4): (2, expect)}


def test_hits_star_graph(spark):
    """Directed star u_i → c (i=1..4): the center is the unique
    authority (1.0), leaves split hub mass equally (0.25 each), and the
    L1 invariants sum(hub) == sum(authority) == 1 hold."""
    from janusgraph_clickhouse_spark.graph.algorithms import hits

    g = graph_from_edge_list(spark, [(1, 9), (2, 9), (3, 9), (4, 9)])
    out = {r.id: (r.hub, r.authority) for r in hits(g, max_iter=4).collect()}
    assert abs(out[9][1] - 1.0) < 1e-9 and abs(out[9][0]) < 1e-9
    for leaf in (1, 2, 3, 4):
        assert abs(out[leaf][0] - 0.25) < 1e-9
        assert abs(out[leaf][1]) < 1e-9
    assert abs(sum(v[0] for v in out.values()) - 1.0) < 1e-9
    assert abs(sum(v[1] for v in out.values()) - 1.0) < 1e-9


def test_personalized_pagerank_mass_and_locality(spark):
    from janusgraph_clickhouse_spark.graph.algorithms import (
        personalized_pagerank)
    # two disconnected paths: 1->2->3 and 10->11; source 1 — all mass
    # stays in 1's component, sum(rank) == 1
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (10, 11)])
    rows = {r.id: r.rank
            for r in personalized_pagerank(g, [1], max_iter=10).collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-9
    assert rows[10] == 0.0 and rows[11] == 0.0
    # restart bias: the source outranks its descendants' tail
    assert rows[1] > rows[3]


def test_personalized_pagerank_two_sources(spark):
    from janusgraph_clickhouse_spark.graph.algorithms import (
        personalized_pagerank)
    # symmetric pair of sources on a symmetric graph → symmetric ranks
    g = graph_from_edge_list(spark, [(1, 2), (3, 2)])
    rows = {r.id: r.rank
            for r in personalized_pagerank(g, [1, 3], max_iter=8).collect()}
    assert abs(rows[1] - rows[3]) < 1e-12
    assert abs(sum(rows.values()) - 1.0) < 1e-9


def test_seeded_random_walks_valid_and_deterministic(spark):
    from janusgraph_clickhouse_spark.graph.algorithms import (
        seeded_random_walks)
    edges = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)]
    g = graph_from_edge_list(spark, edges)
    t1 = sorted((r.walk_id, r.step, r.vertex)
                for r in seeded_random_walks(g, [1], steps=3).collect())
    t2 = sorted((r.walk_id, r.step, r.vertex)
                for r in seeded_random_walks(g, [1], steps=3).collect())
    assert t1 == t2  # bit-identical re-run
    assert t1[0] == (1, 0, 1)
    # every consecutive (step t -> t+1) hop is a real directed edge
    bystep = {s: v for (_, s, v) in t1}
    eset = set(edges)
    for s in range(len(bystep) - 1):
        assert (bystep[s], bystep[s + 1]) in eset


def test_seeded_random_walks_sink_terminates(spark):
    from janusgraph_clickhouse_spark.graph.algorithms import (
        seeded_random_walks)
    g = graph_from_edge_list(spark, [(1, 2)])
    rows = sorted((r.step, r.vertex)
                  for r in seeded_random_walks(g, [1], steps=5).collect())
    assert rows == [(0, 1), (1, 2)]  # dies at sink vertex 2


def test_clustered_interaction_matches_derivation(spark, sf_smoke):
    from janusgraph_clickhouse_spark.graph.model import (
        derive_interaction_graph, interaction_graph)
    g_c = interaction_graph(spark, sf_smoke, "10 minutes")
    g_d = derive_interaction_graph(spark, sf_smoke, "10 minutes")
    assert (sorted((r.src, r.dst) for r in g_c.edges.collect())
            == sorted((r.src, r.dst) for r in g_d.edges.collect()))
    assert (sorted(r.id for r in g_c.vertices.collect())
            == sorted(r.id for r in g_d.vertices.collect()))


def test_adamic_adar_dense_matches_join_path(spark):
    from janusgraph_clickhouse_spark.graph.algorithms import adamic_adar
    # irregular graph: hub 0, chain, a square — enough non-adjacent pairs
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2), (2, 3), (4, 5),
             (5, 6), (6, 7), (7, 4), (3, 5)]
    g = graph_from_edge_list(spark, edges)
    dense = [(r.u, r.v, r.common_neighbors, r.adamic_adar)
             for r in adamic_adar(g, top=50).collect()]
    join = [(r.u, r.v, r.common_neighbors, r.adamic_adar)
            for r in adamic_adar(g, top=50, dense_max_nodes=0).collect()]
    assert dense == join and len(dense) > 0


def test_triangle_orientation_bounds_wedges_on_power_law(spark):
    """Degree-ordered orientation must keep wedge rows O(m^1.5) on a
    hub-dominated graph: a 200-leaf star plus a leaf ring.  The naive
    center-join materializes C(200,2)=19900 wedges through the hub; the
    oriented form emits none there (every leaf out-degree ≤ 3)."""
    from janusgraph_clickhouse_spark.graph.algorithms import (
        _degree_oriented_edges, _oriented_wedges)
    n = 200
    edges = [(0, i) for i in range(1, n + 1)]
    edges += [(i, i + 1) for i in range(1, n)] + [(n, 1)]
    g = graph_from_edge_list(spark, edges)
    # each ring edge closes a triangle through the hub; the ring itself
    # (length 200 > 3) adds none
    assert triangle_count(g) == n
    oriented = _degree_oriented_edges(g)
    wedge_rows = _oriented_wedges(oriented).count()
    m = len(edges)
    naive_wedges = sum(d * (d - 1) // 2
                       for d in [n] + [3] * n)  # hub degree n, leaves 3
    assert wedge_rows <= 2 * int(m ** 1.5)
    assert wedge_rows * 10 < naive_wedges  # hub wedges actually gone
    # orientation out-degree bound: no vertex fans out more than O(√m)
    max_out = (oriented.groupBy("a").count()
               .agg(F.max("count")).first()[0])
    assert max_out <= int(2 * m ** 0.5) + 1


def test_adamic_adar_hub_salting_matches_unsalted(spark):
    """Salting hub wedge centers must not change a single output row —
    same pairs, counts and scores as the unsalted join path."""
    from janusgraph_clickhouse_spark.graph.algorithms import adamic_adar
    edges = [(0, i) for i in range(1, 41)]           # hub 0, deg 40
    edges += [(i, i + 1) for i in range(1, 40, 3)]   # sparse cross edges
    g = graph_from_edge_list(spark, edges)
    salted = [(r.u, r.v, r.common_neighbors, r.adamic_adar)
              for r in adamic_adar(g, top=1000, dense_max_nodes=0,
                                   hub_degree_threshold=10,
                                   hub_salt=4).collect()]
    plain = [(r.u, r.v, r.common_neighbors, r.adamic_adar)
             for r in adamic_adar(g, top=1000, dense_max_nodes=0,
                                  hub_degree_threshold=10 ** 9).collect()]
    assert salted == plain and len(salted) > 0


def test_adamic_adar_negative_ids_use_join_path(spark):
    """Negative vertex ids must fall through to the join path — numpy
    fancy indexing in the dense path would silently WRAP them into
    wrong adjacency rows."""
    from janusgraph_clickhouse_spark.graph.algorithms import adamic_adar
    g = graph_from_edge_list(spark, [(-1, 2), (2, 3), (-1, 3), (3, 4)])
    rows = {(r.u, r.v): (r.common_neighbors, r.adamic_adar)
            for r in adamic_adar(g, top=10).collect()}
    # N(3) = {-1, 2, 4}: pairs (-1,4) and (2,4) share only w=3, deg 3
    score = round(1 / math.log(3), 6)
    assert rows == {(-1, 4): (1, score), (2, 4): (1, score)}


def test_adamic_adar_dense_tiling_matches_untiled(spark):
    """The block-tiled dense matmul must be exact for any tile size —
    including tiles that straddle the candidate pairs."""
    from janusgraph_clickhouse_spark.graph.algorithms import (
        _adamic_adar_dense, adamic_adar)
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2), (2, 3), (4, 5),
             (5, 6), (6, 7), (7, 4), (3, 5)]
    g = graph_from_edge_list(spark, edges)
    sym = g.undirected_edges()
    expect = [(r.u, r.v, r.common_neighbors, r.adamic_adar)
              for r in adamic_adar(g, top=50, dense_max_nodes=0).collect()]
    for block in (3, 8, 1024):
        got = [(r.u, r.v, r.common_neighbors, r.adamic_adar)
               for r in _adamic_adar_dense(sym, 8, top=50,
                                           block=block).collect()]
        assert got == expect, f"block={block}"


def test_seeded_random_walks_dataframe_sources(spark):
    """A sources DataFrame (the in-plan, no-collect form) must walk
    exactly like the literal id list."""
    from janusgraph_clickhouse_spark.graph.algorithms import (
        seeded_random_walks)
    edges = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (2, 5)]
    g = graph_from_edge_list(spark, edges)
    by_list = sorted((r.walk_id, r.step, r.vertex)
                     for r in seeded_random_walks(g, [1, 2],
                                                  steps=3).collect())
    src_df = spark.createDataFrame([(1,), (2,)], "id long")
    by_df = sorted((r.walk_id, r.step, r.vertex)
                   for r in seeded_random_walks(g, src_df,
                                                steps=3).collect())
    assert by_df == by_list and len(by_df) > 0


def test_harmonic_centrality_path_graph(spark):
    from janusgraph_clickhouse_spark.graph.algorithms import (
        harmonic_centrality)
    g = graph_from_edge_list(spark, [(1, 2), (2, 3), (3, 4)])
    got = {r.id: r.harmonic for r in harmonic_centrality(
        g, [1], max_hops=3, directed=True).collect()}
    assert got == {1: round(1 + 0.5 + 1 / 3, 6)}
    # undirected from the middle; horizon clips nothing at hops=2
    got = {r.id: r.harmonic for r in harmonic_centrality(
        g, [2], max_hops=2, directed=False).collect()}
    assert got == {2: round(1 + 1 + 0.5, 6)}
    # bounded horizon actually clips: hops=1 sees only direct neighbors
    df_seeds = spark.createDataFrame([(1,), (2,)], "id long")
    got = {r.id: r.harmonic for r in harmonic_centrality(
        g, df_seeds, max_hops=1, directed=True).collect()}
    assert got == {1: 1.0, 2: 1.0}


def test_biased_walks_return_parameter_forces_oscillation(spark):
    """p → 0 makes the return weight 1/p dominate the race: after the
    first hop the walker must bounce source↔first-hop forever."""
    from janusgraph_clickhouse_spark.graph.algorithms import (
        biased_random_walks)
    edges = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2)]
    g = graph_from_edge_list(spark, edges)
    tr = {r.step: r.vertex for r in biased_random_walks(
        g, [1], steps=5, p=1e-9, q=1.0).collect()}
    assert tr[0] == 1
    first = tr[1]
    for t in range(2, 6):
        assert tr[t] == (1 if t % 2 == 0 else first)


def test_biased_walks_q_steers_outward_moves(spark):
    """Vertex 4 is reachable ONLY via an outward (non-return,
    non-triangle) move from the 1-2-3 triangle: q=1e9 must never visit
    it, q=1e-9 must reach it immediately."""
    from janusgraph_clickhouse_spark.graph.algorithms import (
        biased_random_walks)
    tri = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2)]
    spikes = [(2, 4), (3, 4)]
    g = graph_from_edge_list(spark, tri + spikes)
    avoid = [r.vertex for r in biased_random_walks(
        g, [1], steps=6, p=1.0, q=1e9).collect()]
    assert 4 not in avoid and len(avoid) == 7
    seek = {r.step: r.vertex for r in biased_random_walks(
        g, [1], steps=2, p=1.0, q=1e-9).collect()}
    # step 1 is a uniform race (no prev); step 2 must take the outward
    # spike to 4 from either 2 or 3
    assert seek[2] == 4


def test_biased_walks_deterministic_and_edge_valid(spark):
    from janusgraph_clickhouse_spark.graph.algorithms import (
        biased_random_walks)
    edges = [(1, 2), (2, 3), (3, 1), (2, 4), (4, 1), (3, 4)]
    g = graph_from_edge_list(spark, edges)
    a = sorted((r.walk_id, r.step, r.vertex)
               for r in biased_random_walks(g, [1, 2], steps=4,
                                            p=2.0, q=0.5).collect())
    b = sorted((r.walk_id, r.step, r.vertex)
               for r in biased_random_walks(g, [1, 2], steps=4,
                                            p=2.0, q=0.5).collect())
    assert a == b and len(a) == 10
    eset = set(edges)
    for wid in (1, 2):
        path = [v for (w, t, v) in a if w == wid]
        for x, y in zip(path, path[1:]):
            assert (x, y) in eset
