"""Graph-analytics queries (SURVEY §2.3 graph core) with DuckDB oracles.

The graph is derived from the star schema (FIXTURES.md "derived
property-graph fixture"): offset vertex ids per label (ID_OFFSETS), edges
placed/contains/supplied_by/in_nation/in_region.  Oracles re-derive the
same answers relationally — e.g. connected components of the
customer→nation→region forest are provably "min vertex id in the region
subtree", which one window function computes.

Every registered query here carries a full SQL oracle — including the
iterative ones: PageRank (g06) is oracled by an unrolled 8-step chain of
``AS MATERIALIZED`` CTEs (one per power iteration), the same pattern the
fixpoint queries g13/g25 use.  The registry has a zero-rows-only
invariant for this module; iterative invariants are additionally
pytest-verified on closed-form graphs (tests/test_graph_algorithms.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.algorithms import (bfs_distances, connected_components,
                                pagerank, co_occurrence_triangles)
from ..graph.model import ID_OFFSETS, PropertyGraph, star_schema_graph
from ..graph.traversal import Traversal
from ..sources import load_table
from .registry import query

_C = ID_OFFSETS["customer"]
_O = ID_OFFSETS["order"]
_P = ID_OFFSETS["part"]
_S = ID_OFFSETS["supplier"]
_N = ID_OFFSETS["nation"]
_R = ID_OFFSETS["region"]


@query(
    "g01_out_degree",
    oracle=f"""
    SELECT o_custkey + {_C} AS id, count(*) AS degree
    FROM orders GROUP BY o_custkey
    """,
)
def g01_out_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g.V().hasLabel('customer').out('placed').count() per vertex — one
    hash aggregate over the placed edge set (SURVEY §2.3 degree row)."""
    g = star_schema_graph(spark, sf_dir, edge_labels={"placed"})
    return g.degrees("out").select("id", "degree")


@query(
    "g02_two_hop_parts",
    oracle=f"""
    SELECT DISTINCT l.l_partkey + {_P} AS id
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_custkey = 42
    """,
)
def g02_two_hop_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g.V(cust42).out('placed').out('contains').dedup() — the flagship
    traversal through the DSL: one Catalyst plan, two equi-joins, not
    per-vertex slice round trips (SURVEY §3 EP1)."""
    g = star_schema_graph(spark, sf_dir, edge_labels={"placed", "contains"})
    t = (Traversal.V(g, 42 + _C)
         .out("placed")
         .out("contains")
         .dedup())
    return t.values("id")


@query(
    "g03_supplier_triangles",
    oracle="""
    WITH sp AS MATERIALIZED (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.s AS src, b.s AS dst
      FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
    )
    SELECT count(*) AS triangles FROM pairs e1
    JOIN pairs e2 ON e1.dst = e2.src
    JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """,
)
def g03_supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the supplier co-supply projection (suppliers
    linked when they supply the same part).  Canonical (src<dst)
    orientation → each triangle counted exactly once, no /3 division
    (SURVEY §2.3 triangle row)."""
    # Suppliers are a bounded dimension, and the co-supply projection is
    # near-complete (K~1000 at sf0.1) — both the per-part pair-enumeration
    # join (67M rows) and the generic wedge join (166M rows) are
    # throughput-bound.  co_occurrence_triangles routes by supplier
    # cardinality: the global bit matrix here (one shuffle of the distinct
    # incidence, finishes on kilobytes; measured 25s → ~2s), the remapped
    # one for sparse/offset ids, per-component kernels past the cap.
    return co_occurrence_triangles(load_table(spark, sf_dir, "lineitem"),
                                   "l_partkey", "l_suppkey")


@query(
    "g04_connected_components",
    oracle=f"""
    WITH vs AS MATERIALIZED (
      SELECT c_custkey + {_C} AS id, n_regionkey AS rk
      FROM customer JOIN nation ON n_nationkey = c_nationkey
      UNION ALL
      SELECT n_nationkey + {_N} AS id, n_regionkey AS rk FROM nation
      UNION ALL
      SELECT r_regionkey + {_R} AS id, r_regionkey AS rk FROM region
    )
    SELECT id, min(id) OVER (PARTITION BY rk) AS component FROM vs
    """,
)
def g04_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by min-id propagation on the
    customer→nation→region forest.  The oracle exploits the known
    structure: each region subtree is one component whose min id is a
    window min — so the iterative algorithm is checked against a
    closed-form relational answer."""
    g = star_schema_graph(spark, sf_dir, edge_labels={"in_nation", "in_region"})
    return connected_components(g, max_iter=10).select("id", "component")


@query(
    "g05_bfs_distances",
    oracle=f"""
    WITH h1o AS MATERIALIZED (SELECT o_orderkey FROM orders WHERE o_custkey = 42),
    h1n AS MATERIALIZED (SELECT c_nationkey FROM customer WHERE c_custkey = 42),
    h2p AS MATERIALIZED (SELECT DISTINCT l_partkey FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM h1o)),
    sp  AS MATERIALIZED (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    h3s AS MATERIALIZED (SELECT DISTINCT l_suppkey FROM sp
            WHERE l_partkey IN (SELECT l_partkey FROM h2p))
    SELECT 42 + {_C} AS id, 0 AS distance
    UNION ALL SELECT o_orderkey + {_O}, 1 FROM h1o
    UNION ALL SELECT c_nationkey + {_N}, 1 FROM h1n
    UNION ALL SELECT l_partkey + {_P}, 2 FROM h2p
    UNION ALL SELECT n_regionkey + {_R}, 2 FROM nation
              WHERE n_nationkey IN (SELECT c_nationkey FROM h1n)
    UNION ALL SELECT l_suppkey + {_S}, 3 FROM h3s
    """,
)
def g05_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances from customer 42, ≤3 hops, over the full directed
    edge set.  The layered star-schema graph gives a closed-form oracle
    (orders/nation at 1, parts/region at 2, suppliers at 3)."""
    g = star_schema_graph(spark, sf_dir)
    out = bfs_distances(g, [42 + _C], max_hops=3, directed=True)
    return out.select("id", F.col("distance").cast("int").alias("distance"))


def _pagerank_oracle(iters: int = 8, damping: float = 0.85) -> str:
    """Emit the damped-iteration SQL for exactly `iters` supersteps of the
    SAME recurrence graph.algorithms.pagerank runs:

        r_{t+1}(v) = (1-d) + d·D_t/N + d·Σ_{u→v} r_t(u)/outdeg(u)
        D_t = Σ_{outdeg(u)=0} r_t(u)   (dangling mass)

    A bounded iteration is perfectly SQL-expressible as chained CTEs —
    "iterative ⇒ no oracle" was wrong for a fixed superstep count.
    Float literals use Python repr so both engines parse the identical
    double (1-0.85 is NOT 0.15 in binary).

    Every CTE is AS MATERIALIZED — the g25 lesson, rediscovered here
    in r8: each r{t} is referenced TWICE per level (the dangling-mass
    probe and the message join), so plain CTEs let DuckDB inline the
    whole chain exponentially.  It happened to plan acceptably until
    the r8 fixture regen nudged the optimizer: 200 s at sf0.01,
    0.26 s once materialized."""
    one_minus_d = repr(1.0 - damping)
    d = repr(damping)
    parts = [
        f"""verts AS MATERIALIZED (
      SELECT c_custkey + {_C} AS id FROM customer
      UNION ALL SELECT n_nationkey + {_N} FROM nation
      UNION ALL SELECT r_regionkey + {_R} FROM region
      UNION ALL SELECT o_orderkey + {_O} FROM orders
      UNION ALL SELECT p_partkey + {_P} FROM part
      UNION ALL SELECT s_suppkey + {_S} FROM supplier)""",
        f"""edges AS MATERIALIZED (
      SELECT c_custkey + {_C} AS src, c_nationkey + {_N} AS dst FROM customer
      UNION ALL SELECT n_nationkey + {_N}, n_regionkey + {_R} FROM nation
      UNION ALL SELECT o_custkey + {_C}, o_orderkey + {_O} FROM orders
      UNION ALL SELECT l_orderkey + {_O}, l_partkey + {_P} FROM lineitem
      UNION ALL SELECT DISTINCT l_partkey + {_P}, l_suppkey + {_S}
                FROM lineitem
      UNION ALL SELECT s_suppkey + {_S}, s_nationkey + {_N} FROM supplier)""",
        "deg AS MATERIALIZED "
        "(SELECT src, count(*) AS d FROM edges GROUP BY src)",
        "nv AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM verts)",
        "r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS rank FROM verts)",
    ]
    for t in range(iters):
        parts.append(f"""dang{t} AS MATERIALIZED (
      SELECT coalesce(sum(r.rank), 0) AS dm FROM r{t} r
      WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = r.id))""")
        parts.append(f"""r{t + 1} AS MATERIALIZED (
      SELECT v.id,
             {one_minus_d} + {d} * (SELECT dm FROM dang{t}) / (SELECT n FROM nv)
             + {d} * coalesce(m.s, 0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(r.rank / deg.d) AS s
        FROM edges e
        JOIN r{t} r ON r.id = e.src
        JOIN deg ON deg.src = e.src
        GROUP BY e.dst) m ON m.id = v.id)""")
    # 5dp, not 6: cross-engine sum order differs and the error compounds
    # per superstep (~1e-12 after 8 steps); a 1e-5 grid keeps compared
    # values ~1000× away from rounding boundaries, a 1e-6 grid only ~100×
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT id, round(rank, 5) AS rank FROM r{iters}")


@query("g06_pagerank", oracle=_pagerank_oracle(iters=8))
def g06_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the full derived graph (damping 0.85, 8 supersteps).
    Hash-checked against a programmatically generated 8-step chained-CTE
    DuckDB oracle re-deriving the identical dangling-mass redistribution;
    invariants (sum(rank)=|V|, star-graph closed form) stay pytest-checked.
    Runs tol=None (fixed 8 supersteps) so the superstep count is
    bit-stable against the oracle; production callers pass tol for the
    early-exit convergence probe."""
    g = star_schema_graph(spark, sf_dir)
    pr = pagerank(g, max_iter=8)
    # 5dp matches the oracle's grid — see _pagerank_oracle's rounding note
    return pr.select("id", F.round(F.col("rank"), 5).alias("rank"))


@query(
    "g14_repeat_until",
    oracle=f"""
    WITH o42 AS MATERIALIZED (SELECT o_orderkey FROM orders WHERE o_custkey = 42),
    p2 AS MATERIALIZED (SELECT DISTINCT l_partkey FROM lineitem
           WHERE l_orderkey IN (SELECT o_orderkey FROM o42)),
    s3 AS MATERIALIZED (SELECT DISTINCT l_suppkey FROM lineitem
           WHERE l_partkey IN (SELECT l_partkey FROM p2)),
    n4 AS MATERIALIZED (SELECT c_nationkey AS nk FROM customer WHERE c_custkey = 42
           UNION
           SELECT s_nationkey FROM supplier
           WHERE s_suppkey IN (SELECT l_suppkey FROM s3))
    SELECT DISTINCT n_regionkey + {_R} AS id
    FROM nation WHERE n_nationkey IN (SELECT nk FROM n4)
    """,
)
def g14_repeat_until(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g.V(cust42).repeat(out()).until(hasLabel('region')) — variable-depth
    reachability through the bounded-loop DSL step (Traversal.repeat):
    traversers stop at the first region vertex on their walk, everything
    else keeps expanding (set semantics, visited-set pruned, checkpointed
    per iteration).  Closed-form oracle: the regions reachable from
    customer 42 are the region of its nation plus the regions of every
    nation of every supplier supplying any part in any of its orders."""
    g = star_schema_graph(spark, sf_dir)
    t = (Traversal.V(g, 42 + _C)
         .repeat(lambda x: x.out(),
                 until=lambda x: x.has_label("region"), max_iter=8))
    return t.values("id")


# The interaction graph (users linked iff co-active in the same 10-min
# window — g11's derivation) re-derived in SQL, symmetrized: the shared
# prelude of the k-core / label-propagation oracles.
#
# Every CTE in these unrolled-iteration oracles is AS MATERIALIZED:
# DuckDB otherwise may inline a CTE at each reference, and a chained
# recurrence where step t+1 reads step t twice re-expands the whole
# prefix per reference — exponential plan growth that hangs the oracle
# even at sf0.001.  Materialization evaluates each step exactly once
# (semantics unchanged).
_INTERACTION_EDGES_SQL = """
    b AS MATERIALIZED (SELECT DISTINCT user_id,
                 time_bucket(INTERVAL '10 minutes', ts) AS w FROM events),
    eu AS MATERIALIZED (SELECT DISTINCT a.user_id AS src, c.user_id AS dst
           FROM b a JOIN b c ON a.w = c.w AND a.user_id < c.user_id),
    e AS MATERIALIZED (SELECT src, dst FROM eu
                       UNION ALL SELECT dst, src FROM eu)"""


def _kcore_oracle(k: int, rounds: int = 10) -> str:
    """Unrolled peeling: v{t+1} = vertices of v{t} whose degree inside
    the v{t}-induced subgraph is ≥ k.  `rounds` must exceed the peel
    depth at every tested sf (verified: depth ≤ 4 at sf0.001-0.1) so the
    last round is a fixpoint — then (id, degree-inside-core) matches the
    converged Spark peel exactly."""
    parts = [_INTERACTION_EDGES_SQL,
             "v0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM e)"]
    for t in range(rounds):
        parts.append(f"""d{t} AS MATERIALIZED (
      SELECT e.src AS id, count(*) AS core_degree FROM e
      JOIN v{t} a ON e.src = a.id
      JOIN v{t} c ON e.dst = c.id
      GROUP BY e.src)""")
        parts.append(f"v{t + 1} AS MATERIALIZED (SELECT id FROM d{t} "
                     f"WHERE core_degree >= {k})")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT id, core_degree FROM d{rounds - 1} "
              f"WHERE core_degree >= {k}")


@query("g15_kcore", oracle=_kcore_oracle(k=8))
def g15_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-core of the user-interaction graph — iterative peeling (drop
    degree<k vertices until fixpoint), the standard corpus-quality /
    community-density primitive.  Hash-checked against a bounded-unroll
    peeling oracle (the g06 emit-the-iteration pattern); closed-form
    invariants pytest-checked on micro graphs."""
    from ..graph.algorithms import k_core
    from ..graph.model import interaction_graph
    g = interaction_graph(spark, sf_dir, "10 minutes")
    return k_core(g, k=8)


def _lpa_oracle(iters: int = 4) -> str:
    """Unrolled synchronous label propagation: per superstep every vertex
    adopts the most frequent label among neighbors (ties → smallest
    label, no neighbors → keep), all reads from the previous superstep.
    Deterministic for a FIXED iteration count, so Spark and DuckDB agree
    round for round by construction."""
    parts = [_INTERACTION_EDGES_SQL,
             "v AS MATERIALIZED (SELECT DISTINCT user_id AS id FROM events)",
             "s0 AS MATERIALIZED (SELECT id, id AS community FROM v)"]
    for t in range(iters):
        parts.append(f"""c{t} AS MATERIALIZED (
      SELECT e.dst AS id, s.community, count(*) AS votes
      FROM e JOIN s{t} s ON s.id = e.src
      GROUP BY e.dst, s.community)""")
        parts.append(f"""p{t} AS MATERIALIZED (
      SELECT id, community FROM (
        SELECT id, community, row_number() OVER (
          PARTITION BY id ORDER BY votes DESC, community ASC) AS rn
        FROM c{t}) WHERE rn = 1)""")
        parts.append(f"""s{t + 1} AS MATERIALIZED (
      SELECT s.id, coalesce(p.community, s.community) AS community
      FROM s{t} s LEFT JOIN p{t} p ON p.id = s.id)""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT id, community FROM s{iters}")


@query("g16_label_propagation", oracle=_lpa_oracle(iters=4))
def g16_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities on the interaction graph
    (4 supersteps — GraphX LPA's bounded-iteration contract: LPA
    oscillates rather than converging, so the fixed count IS the
    semantics).  Hash-checked against the 4-step unrolled SQL oracle."""
    from ..graph.algorithms import label_propagation
    from ..graph.model import interaction_graph
    g = interaction_graph(spark, sf_dir, "10 minutes")
    return label_propagation(g, max_iter=4)


@query(
    "g07_traversal_semi_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE c.c_nationkey = 3
      AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def g07_traversal_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g.V().has('nation',3).where(out('placed')) via the DSL —
    where(out()) compiles to a left-semi join (SURVEY §2.3)."""
    g = star_schema_graph(spark, sf_dir, edge_labels={"placed", "in_nation"})
    c = load_table(spark, sf_dir, "customer")
    nat3 = c.filter(F.col("c_nationkey") == 3).select(
        (F.col("c_custkey") + _C).alias("id"))
    t = Traversal(g, g.vertices.join(nat3, "id", "left_semi"))
    kept = t.where_out("placed").to_df()
    return kept.select((F.col("id") - _C).alias("c_custkey"),
                       F.col("name").alias("c_name"))


@query(
    "g08_path_query",
    oracle=f"""
    SELECT DISTINCT array_to_string(
        CAST([o.o_custkey + {_C}, o.o_orderkey + {_O},
              l.l_partkey + {_P}] AS VARCHAR[]), '-') AS path
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_custkey = 42
    """,
)
def g08_path_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path query with path accumulation (SURVEY §2.3 path/cycle row):
    the traversal carries an ARRAY<LONG> path column grown per hop via
    array_append — one Catalyst plan, no driver-side path assembly.  The
    path is surfaced as a '-'-joined string so the driver canonicalizer
    can hash it (ARRAY cells are unhashable in pandas)."""
    g = star_schema_graph(spark, sf_dir, edge_labels={"placed", "contains"})
    t = (Traversal.V(g, 42 + _C, with_path=True)
         .out("placed")
         .out("contains")
         .dedup())
    return (t.values("path").dropDuplicates()
            .select(F.array_join(F.transform(
                "path", lambda x: x.cast("string")), "-").alias("path")))


@query(
    "g09_in_traversal",
    oracle=f"""
    SELECT DISTINCT o.o_custkey + {_C} AS id
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_partkey = 7
    """,
)
def g09_in_traversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse expansion g.V(part 7).in('contains').in('placed').dedup()
    — in() flips the join side (dst→src), same single-plan compilation."""
    g = star_schema_graph(spark, sf_dir, edge_labels={"placed", "contains"})
    t = (Traversal.V(g, 7 + _P)
         .in_("contains")
         .in_("placed")
         .dedup())
    return t.values("id")


@query(
    "g10_weighted_sssp",
    oracle=f"""
    WITH o42 AS MATERIALIZED (SELECT o_orderkey FROM orders WHERE o_custkey = 42)
    SELECT 42 + {_C} AS id, 0.0 AS dist
    UNION ALL
    SELECT o_orderkey + {_O}, 1.0 FROM o42
    UNION ALL
    SELECT l_partkey + {_P}, 1.0 + min(l_quantity)
    FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM o42)
    GROUP BY l_partkey
    """,
)
def g10_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths from customer 42 over
    placed (w=1) and contains (w=l_quantity edge property) —
    Bellman-Ford-on-Pregel (graph.algorithms.shortest_paths).  The
    layered DAG gives the closed-form oracle: dist(part) = 1 + min
    quantity over the customer's lineitems for that part."""
    from ..graph.algorithms import shortest_paths
    g = star_schema_graph(spark, sf_dir, edge_labels={"placed", "contains"})
    out = shortest_paths(g, [42 + _C], weight_col="weight", max_iter=6)
    return out.select("id", F.round(F.col("dist"), 2).alias("dist"))


@query(
    "g11_interaction_degree",
    oracle="""
    WITH b AS MATERIALIZED (SELECT DISTINCT user_id,
                      time_bucket(INTERVAL '10 minutes', ts) AS w
               FROM events),
    e AS MATERIALIZED (SELECT DISTINCT a.user_id AS u1, c.user_id AS u2
          FROM b a JOIN b c ON a.w = c.w AND a.user_id < c.user_id)
    SELECT id, count(*) AS degree FROM (
      SELECT u1 AS id FROM e UNION ALL SELECT u2 AS id FROM e
    ) GROUP BY id
    """,
)
def g11_interaction_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal graph derived from the event stream: users co-active in
    the same 10-minute window are linked (FIXTURES 'interacted' edges);
    output = undirected degree per user.  Shows graph derivation from
    streaming-shaped data — window bucketing bounds the self-join."""
    from ..graph.model import interaction_graph
    g = interaction_graph(spark, sf_dir, "10 minutes")
    return g.degrees("both").select("id", "degree")


@query(
    "g12_motif_count",
    # closed-form pair count, NOT the literal 4-way join: the motif
    # matches are ordered pairs of lineitem rows sharing a part whose
    # orders belong to different customers, so with N_{p,c} = lineitem
    # rows of part p under customer c and T_p = Σ_c N_{p,c},
    # matches = Σ_p [T_p² − Σ_c N_{p,c}²] = Σ_{p,c} n·(T_p − n).
    # The literal self-join oracle planned quadratically in DuckDB
    # after the r8 fixture regen (177 s at sf0.01); the aggregate form
    # is exact, 50 ms, and scale-stable.  The Spark side still runs
    # the real motif join tree — the oracle only changed shape.
    oracle="""
    WITH pc AS MATERIALIZED (
      SELECT l.l_partkey AS p, o.o_custkey AS c, count(*) AS n
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2),
    pt AS MATERIALIZED (SELECT p, sum(n) AS t FROM pc GROUP BY p)
    SELECT CAST(coalesce(sum(pc.n * (pt.t - pc.n)), 0) AS BIGINT)
           AS matches
    FROM pc JOIN pt ON pt.p = pc.p
    """,
)
def g12_motif_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif query: (c1)-[placed]->(o1)-[contains]->(p)<-[contains]-(o2)
    <-[placed]-(c2), c1≠c2 — 'two different customers ordered the same
    part' — compiled from the declarative pattern into one join tree
    (graph.motif.find)."""
    from ..graph.motif import find
    g = star_schema_graph(spark, sf_dir, edge_labels={"placed", "contains"})
    m = find(g, [("c1", "placed", "o1"), ("o1", "contains", "p"),
                 ("c2", "placed", "o2"), ("o2", "contains", "p")])
    return (m.filter(F.col("c1") != F.col("c2"))
            .agg(F.count(F.lit(1)).alias("matches")))


@query(
    "g13_topo_levels",
    oracle=f"""
    SELECT c_custkey + {_C} AS id, 0 AS level FROM customer
    UNION ALL
    SELECT o_orderkey + {_O}, 1 FROM orders
    UNION ALL
    SELECT p_partkey + {_P},
           CASE WHEN EXISTS (SELECT 1 FROM lineitem l
                             WHERE l.l_partkey = p.p_partkey)
                THEN 2 ELSE 0 END
    FROM part p
    """,
)
def g13_topo_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-path topological levels (critical-path layering) on the
    customer→order→part DAG.  Closed-form oracle: customers are sources
    (0), every order has a customer (1), a part is 2 iff some lineitem
    references it (else an isolated source at 0)."""
    from ..graph.algorithms import longest_path_levels
    g = star_schema_graph(spark, sf_dir, edge_labels={"placed", "contains"})
    out = longest_path_levels(g, max_iter=5)
    # restrict to the customer/order/part id ranges the subgraph models
    # (the loader also materializes supplier/nation/region vertices, which
    # are isolated here and not part of the oracle's universe)
    return out.filter(F.col("id") < ID_OFFSETS["supplier"])


_G17_ORACLE = ("WITH " + _INTERACTION_EDGES_SQL + """,
    deg AS MATERIALIZED (SELECT src AS w, count(*) AS d FROM e
                         GROUP BY src),
    hop AS MATERIALIZED (
      SELECT a.src AS u, b.dst AS v, a.dst AS w
      FROM e a JOIN e b ON a.dst = b.src AND a.src < b.dst),
    agg AS MATERIALIZED (
      SELECT u, v, count(*) AS common_neighbors,
             round(sum(1.0 / ln(deg.d)), 6) AS adamic_adar
      FROM hop JOIN deg ON deg.w = hop.w
      GROUP BY u, v),
    ex AS MATERIALIZED (SELECT src AS u, dst AS v FROM e WHERE src < dst)
    SELECT u, v, common_neighbors, adamic_adar FROM agg
    WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.u = agg.u AND ex.v = agg.v)
    ORDER BY adamic_adar DESC, u, v LIMIT 100""")


@query("g17_link_prediction", oracle=_G17_ORACLE)
def g17_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the user-interaction graph: top-100
    non-adjacent pairs by Adamic-Adar (Σ 1/ln(deg) over common
    neighbors) with the common-neighbor count.  Two-hop self-join +
    co-partitioned degree join + anti-join against existing edges;
    ordering by the ROUNDED score with (u, v) tiebreak keeps the cut
    cross-engine stable."""
    from ..graph.algorithms import adamic_adar
    from ..graph.model import interaction_graph
    g = interaction_graph(spark, sf_dir, "10 minutes")
    return adamic_adar(g, top=100)


def _hits_oracle(iters: int = 8) -> str:
    """Unrolled HITS: per iteration sum hubs into authorities, then sum
    authorities back into hubs — UNNORMALIZED, with one L1 normalization
    at the end, the same deferred-normalization recurrence
    algorithms.hits runs (per-step normalization is a pure scalar
    rescale of a linear recurrence, so the final normalized vectors are
    identical).  MATERIALIZED throughout (the g25 lesson)."""
    parts = [
        f"""verts AS MATERIALIZED (
      SELECT c_custkey + {_C} AS id FROM customer
      UNION ALL SELECT n_nationkey + {_N} FROM nation
      UNION ALL SELECT r_regionkey + {_R} FROM region
      UNION ALL SELECT o_orderkey + {_O} FROM orders
      UNION ALL SELECT p_partkey + {_P} FROM part
      UNION ALL SELECT s_suppkey + {_S} FROM supplier)""",
        f"""edges AS MATERIALIZED (
      SELECT c_custkey + {_C} AS src, c_nationkey + {_N} AS dst FROM customer
      UNION ALL SELECT n_nationkey + {_N}, n_regionkey + {_R} FROM nation
      UNION ALL SELECT o_custkey + {_C}, o_orderkey + {_O} FROM orders
      UNION ALL SELECT l_orderkey + {_O}, l_partkey + {_P} FROM lineitem
      UNION ALL SELECT DISTINCT l_partkey + {_P}, l_suppkey + {_S}
                FROM lineitem
      UNION ALL SELECT s_suppkey + {_S}, s_nationkey + {_N} FROM supplier)""",
        """s0 AS MATERIALIZED (
      SELECT id, 1.0::DOUBLE AS hub, 1.0::DOUBLE AS authority FROM verts)""",
    ]
    for t in range(iters):
        parts.append(f"""ar{t} AS MATERIALIZED (
      SELECT e.dst AS id, sum(s.hub) AS a_raw
      FROM edges e JOIN s{t} s ON s.id = e.src GROUP BY e.dst)""")
        parts.append(f"""an{t} AS MATERIALIZED (
      SELECT s.id, s.hub, coalesce(ar.a_raw, 0.0) AS authority
      FROM s{t} s LEFT JOIN ar{t} ar ON ar.id = s.id)""")
        parts.append(f"""hr{t} AS MATERIALIZED (
      SELECT e.src AS id, sum(an.authority) AS h_raw
      FROM edges e JOIN an{t} an ON an.id = e.dst GROUP BY e.src)""")
        parts.append(f"""s{t + 1} AS MATERIALIZED (
      SELECT an.id, coalesce(hr.h_raw, 0.0) AS hub, an.authority
      FROM an{t} an LEFT JOIN hr{t} hr ON hr.id = an.id)""")
    # 5dp: the pagerank-oracle lesson — cross-engine double-sum order
    # noise compounds per iteration; a 1e-5 grid stays ~1000× from
    # rounding boundaries
    return ("WITH " + ",\n".join(parts)
            + f"""
    SELECT id,
           round(hub / (SELECT sum(hub) FROM s{iters}), 5) AS hub,
           round(authority / (SELECT sum(authority) FROM s{iters}), 5)
             AS authority
    FROM s{iters}""")


@query("g18_hits", oracle=_hits_oracle(iters=8))
def g18_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the full star-schema graph, 8 synchronous
    iterations with deferred (final) L1 normalization — hash-checked
    against the 8-step unrolled oracle (the g06 emit-the-iteration
    pattern; per-step normalization cancels in the linear recurrence)."""
    from ..graph.algorithms import hits
    g = star_schema_graph(spark, sf_dir)
    out = hits(g, max_iter=8)
    return out.select("id", F.round("hub", 5).alias("hub"),
                      F.round("authority", 5).alias("authority"))


_STAR_EDGES_SQL = f"""edges AS MATERIALIZED (
      SELECT c_custkey + {_C} AS src, c_nationkey + {_N} AS dst FROM customer
      UNION ALL SELECT n_nationkey + {_N}, n_regionkey + {_R} FROM nation
      UNION ALL SELECT o_custkey + {_C}, o_orderkey + {_O} FROM orders
      UNION ALL SELECT l_orderkey + {_O}, l_partkey + {_P} FROM lineitem
      UNION ALL SELECT DISTINCT l_partkey + {_P}, l_suppkey + {_S}
                FROM lineitem
      UNION ALL SELECT s_suppkey + {_S}, s_nationkey + {_N} FROM supplier)"""


def _ppr_oracle(source: int, iters: int = 6, damping: float = 0.85) -> str:
    """Unrolled personalized PageRank from a single source: teleport (and
    dangling mass) land on the source only —

        r_{t+1}(v) = ((1-d) + d·D_t)·1[v=src] + d·Σ_{u→v} r_t(u)/deg(u)

    the same recurrence algorithms.personalized_pagerank runs.  Float
    literals via repr so both engines parse the identical double."""
    one_minus_d = repr(1.0 - damping)
    d = repr(damping)
    parts = [
        f"""verts AS MATERIALIZED (
      SELECT c_custkey + {_C} AS id FROM customer
      UNION ALL SELECT n_nationkey + {_N} FROM nation
      UNION ALL SELECT r_regionkey + {_R} FROM region
      UNION ALL SELECT o_orderkey + {_O} FROM orders
      UNION ALL SELECT p_partkey + {_P} FROM part
      UNION ALL SELECT s_suppkey + {_S} FROM supplier)""",
        _STAR_EDGES_SQL,
        "deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges "
        "GROUP BY src)",
        f"""r0 AS MATERIALIZED (
      SELECT id, CASE WHEN id = {source} THEN 1.0::DOUBLE
                      ELSE 0.0::DOUBLE END AS rank FROM verts)""",
    ]
    for t in range(iters):
        parts.append(f"""dang{t} AS MATERIALIZED (
      SELECT coalesce(sum(r.rank), 0) AS dm FROM r{t} r
      WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = r.id))""")
        parts.append(f"""r{t + 1} AS MATERIALIZED (
      SELECT v.id,
             CASE WHEN v.id = {source}
                  THEN {one_minus_d} + {d} * (SELECT dm FROM dang{t})
                  ELSE 0.0 END
             + {d} * coalesce(m.s, 0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, sum(r.rank / deg.d) AS s
        FROM edges e
        JOIN r{t} r ON r.id = e.src
        JOIN deg ON deg.src = e.src
        WHERE r.rank <> 0
        GROUP BY e.dst) m ON m.id = v.id)""")
    # 6dp: masses are ≤1 over ~1e4 vertices and 6 supersteps compound
    # ~1e-13 cross-engine sum noise — a 1e-6 grid keeps ~1e7 margin
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT id, round(rank, 6) AS rank FROM r{iters}")


@query("g19_personalized_pagerank", oracle=_ppr_oracle(source=42 + _C))
def g19_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from customer 42 (damping 0.85, 6
    supersteps): the 'related entities' ranking — an α-restarting
    random surfer whose teleport (and dangling mass) return to the
    source.  Hash-checked against the 6-step unrolled CTE oracle (g06
    emit-the-iteration pattern); mass-conservation invariant
    (sum(rank)=1) pytest-checked on closed-form graphs."""
    from ..graph.algorithms import personalized_pagerank
    g = star_schema_graph(spark, sf_dir)
    pr = personalized_pagerank(g, [42 + _C], max_iter=6)
    return pr.select("id", F.round(F.col("rank"), 6).alias("rank"))


def _walks_oracle(steps: int = 4, seed: str = "w") -> str:
    """Unrolled deterministic walks: per step one argmin-by-md5 join —
    both engines hash the identical 'seed:walk:step:candidate' string,
    so each picks the same neighbor.  Walkers die at sinks (inner
    join), exactly like the Spark loop."""
    parts = [
        _STAR_EDGES_SQL,
        f"""w0 AS MATERIALIZED (
      SELECT c_custkey + {_C} AS walk_id, c_custkey + {_C} AS cur
      FROM customer WHERE c_custkey % 100 = 0)""",
    ]
    for t in range(1, steps + 1):
        parts.append(f"""c{t} AS MATERIALIZED (
      SELECT f.walk_id, e.dst, row_number() OVER (
        PARTITION BY f.walk_id
        ORDER BY md5('{seed}:' || CAST(f.walk_id AS VARCHAR)
                     || ':{t}:' || CAST(e.dst AS VARCHAR)), e.dst) AS rn
      FROM w{t - 1} f JOIN edges e ON e.src = f.cur)""")
        parts.append(f"w{t} AS MATERIALIZED "
                     f"(SELECT walk_id, dst AS cur FROM c{t} WHERE rn = 1)")
    selects = ["SELECT walk_id, 0 AS step, walk_id AS vertex FROM w0"]
    selects += [f"SELECT walk_id, {t} AS step, cur AS vertex FROM w{t}"
                for t in range(1, steps + 1)]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


@query("g20_random_walks", oracle=_walks_oracle(steps=4))
def g20_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic random walks (node2vec/DeepWalk sampling):
    one 4-step walker per every-100th customer; the next hop is
    argmin_{neighbor} md5(seed:walk:step:neighbor) — a pure hash
    function both engines compute identically, making the 'random'
    walk exactly reproducible and SQL-oracle-able.  Output is the full
    trace (walk_id, step, vertex)."""
    from ..graph.algorithms import seeded_random_walks
    from ..sources import load_table
    g = star_schema_graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    # sources stay in-plan (scan-side modulo predicate + semi-join) — the
    # old `.collect()` here was the only driver-side id list in a
    # registered query's build path and grows linearly with the corpus
    srcs = (cust.filter(F.col("c_custkey") % 100 == 0)
            .select((F.col("c_custkey") + _C).alias("id")))
    return seeded_random_walks(g, srcs, steps=4, seed="w")


@query(
    "g21_harmonic_centrality",
    oracle=f"""
    WITH seeds AS MATERIALIZED (
      SELECT c_custkey AS ck, c_custkey + {_C} AS source
      FROM customer WHERE c_custkey % 200 = 0),
    o1 AS MATERIALIZED (
      SELECT s.source, o_orderkey FROM seeds s
      JOIN orders ON o_custkey = s.ck),
    n1 AS MATERIALIZED (
      SELECT s.source, c_nationkey FROM seeds s
      JOIN customer ON c_custkey = s.ck),
    p2 AS MATERIALIZED (
      SELECT DISTINCT o1.source, l_partkey FROM o1
      JOIN lineitem ON l_orderkey = o1.o_orderkey),
    r2 AS MATERIALIZED (
      SELECT n1.source, n_regionkey FROM n1
      JOIN nation ON n_nationkey = n1.c_nationkey),
    sp AS MATERIALIZED (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    s3 AS MATERIALIZED (
      SELECT DISTINCT p2.source, sp.l_suppkey FROM p2
      JOIN sp ON sp.l_partkey = p2.l_partkey),
    dists AS MATERIALIZED (
      SELECT source, 1.0 AS invd FROM o1
      UNION ALL SELECT source, 1.0 FROM n1
      UNION ALL SELECT source, 0.5 FROM p2
      UNION ALL SELECT source, 0.5 FROM r2
      UNION ALL SELECT source, 1.0 / 3 FROM s3)
    SELECT source AS id, round(sum(invd), 6) AS harmonic
    FROM dists GROUP BY 1
    """,
)
def g21_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon (3-hop) harmonic centrality for every-200th
    customer over the directed star graph — C_H(s) = Σ 1/d(s,v), the
    'how connected is this entity' score, computed by ONE source-labeled
    multi-source BFS (k seeds ≠ k BFS runs; the frontier carries
    (source, vertex) pairs).  Seeds stay in-plan (modulo predicate +
    semi-join, the g20 discipline).

    Oracle: the layered star schema makes each hop's reach closed-form —
    orders/nation at d=1, parts/region at d=2, suppliers at d=3 — so the
    iterative BFS is checked against per-seed relational set algebra."""
    from ..graph.algorithms import harmonic_centrality
    from ..sources import load_table
    g = star_schema_graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    seeds = (cust.filter(F.col("c_custkey") % 200 == 0)
             .select((F.col("c_custkey") + _C).alias("id")))
    return harmonic_centrality(g, seeds, max_hops=3, directed=True)


def _biased_walks_oracle(steps: int = 3, p: float = 4.0, q: float = 0.25,
                         seed: str = "n2v") -> str:
    """Unrolled node2vec (p, q) walks: per step, every out-neighbor of
    the walker runs the Efraimidis–Spirakis race -ln(u)/w where u is a
    pure md5 hash of (seed, walk, step, candidate) — so both engines
    derive the IDENTICAL uniform, weight it by the identical
    return/triangle/outward class, and crown the identical winner.
    Weight literals go through repr() so both parsers see the same
    double; the race key is rounded to 1e-12 with the candidate id as
    tiebreaker on BOTH sides, so a sub-grid libm ulp difference in ln()
    cannot flip the argmin.  Walkers die at sinks (inner join), exactly
    like the Spark loop."""
    rp, rq = repr(1.0 / p), repr(1.0 / q)
    parts = [
        _STAR_EDGES_SQL,
        f"""w0 AS MATERIALIZED (
      SELECT c_custkey + {_C} AS walk_id, CAST(NULL AS BIGINT) AS prev,
             c_custkey + {_C} AS cur
      FROM customer WHERE c_custkey % 100 = 0)""",
    ]
    for t in range(1, steps + 1):
        u = (f"((('0x' || substr(md5('{seed}:' "
             f"|| CAST(f.walk_id AS VARCHAR) || ':{t}:' "
             f"|| CAST(e.dst AS VARCHAR)), 1, 8))::BIGINT + 1.0) "
             f"/ 4294967296.0)")
        w = (f"CASE WHEN e.dst = f.prev THEN {rp} "
             f"WHEN tri.src IS NOT NULL THEN 1.0 ELSE {rq} END")
        parts.append(f"""c{t} AS MATERIALIZED (
      SELECT f.walk_id, f.cur, e.dst AS cand, row_number() OVER (
        PARTITION BY f.walk_id
        ORDER BY round(-ln({u}) / ({w}), 12), e.dst) AS rn
      FROM w{t - 1} f
      JOIN edges e ON e.src = f.cur
      LEFT JOIN (SELECT DISTINCT src, dst FROM edges) tri
        ON tri.src = f.prev AND tri.dst = e.dst)""")
        parts.append(f"w{t} AS MATERIALIZED (SELECT walk_id, "
                     f"cur AS prev, cand AS cur FROM c{t} WHERE rn = 1)")
    selects = ["SELECT walk_id, 0 AS step, walk_id AS vertex FROM w0"]
    selects += [f"SELECT walk_id, {t} AS step, cur AS vertex FROM w{t}"
                for t in range(1, steps + 1)]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


@query("g22_biased_walks", oracle=_biased_walks_oracle())
def g22_biased_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec SECOND-ORDER biased walks (p=4, q=0.25 — the DFS-ish
    outward-exploring regime) from every-100th customer, 3 steps: each
    hop weights return / triangle / outward candidates 1/p / 1 / 1/q
    and picks by a deterministic Efraimidis–Spirakis race over hash
    uniforms, so the 'random' walk is exactly reproducible and
    SQL-oracle-able (the g20 discipline, now with WEIGHTED choice).
    Per step: one frontier×edges equi-join, one LEFT edge join for the
    triangle class, one per-walk top-1 window — frontier rows = #walks;
    trace output (walk_id, step, vertex)."""
    from ..graph.algorithms import biased_random_walks
    g = star_schema_graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    srcs = (cust.filter(F.col("c_custkey") % 100 == 0)
            .select((F.col("c_custkey") + _C).alias("id")))
    return biased_random_walks(g, srcs, steps=3, p=4.0, q=0.25,
                               seed="n2v")


@query(
    "g23_scc",
    oracle="""
    WITH ev AS MATERIALIZED (SELECT * FROM events WHERE event_id % 7 = 0),
    mx AS MATERIALIZED (SELECT max(user_id) AS m FROM ev),
    seq AS MATERIALIZED (
      SELECT user_id,
             lead(user_id) OVER (PARTITION BY event_type
                                 ORDER BY event_id) AS nxt
      FROM ev),
    e AS MATERIALIZED (SELECT DISTINCT user_id AS u, nxt AS v FROM seq, mx
          WHERE nxt IS NOT NULL AND nxt <> user_id
            AND ((user_id * 5) // (m + 1) = (nxt * 5) // (m + 1)
                 OR user_id < nxt)),
    nodes AS MATERIALIZED (SELECT u AS id FROM e UNION SELECT v FROM e),
    reach AS MATERIALIZED (
      WITH RECURSIVE r(s, d) AS (
        SELECT u, v FROM e
        UNION
        SELECT r.s, e.v FROM r JOIN e ON e.u = r.d)
      SELECT * FROM r),
    mutual AS MATERIALIZED (
      SELECT a.s AS v, a.d AS w
      FROM reach a JOIN reach b ON b.s = a.d AND b.d = a.s)
    SELECT n.id, greatest(n.id, coalesce(max(m2.w), n.id)) AS component
    FROM nodes n LEFT JOIN mutual m2 ON m2.v = n.id GROUP BY n.id
    """,
)
def g23_scc(spark: SparkSession, sf_dir: str,
            band_width: int | None = None) -> DataFrame:
    """Strongly connected components (FW-BW coloring) on the user
    referral digraph sessionized from the event stream: every 7th event,
    consecutive actors within an event_type are linked u→v, and an edge
    survives only within the same user-id band or pointing forward
    (u < v) — cycles live inside bands, cross-band flow is a DAG, so
    the SCC structure is mid-size band components plus singletons at
    EVERY scale factor and the FW-BW phase count stays a small
    constant.  The oracle recomputes mutual reachability from first
    principles (recursive-CTE transitive closure — viable at oracle
    scale, never the engine plan); component id = max member id on
    both sides.

    `band_width=None` (the REGISTERED semantics, oracle-matched) bands
    by user-id quintile of max(user_id) — scale-RELATIVE, so weak-
    scaling fixtures with disjoint per-copy key offsets shift every
    band boundary and cross-scale timings are incomparable (r11 scale
    study: x10 read FASTER than x1, one user lost to a phase shift).
    A fixed `band_width` uses ABSOLUTE bands (user_id div width): each
    offset copy reproduces x1's band structure verbatim, making g23 a
    usable weak-scaling probe.  At sf0.1 (user_id ∈ [0,1500)) width
    300 IS the quintile width, so the x1 edges are identical."""
    from pyspark.sql.window import Window
    from ..graph.algorithms import strongly_connected_components
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 7 == 0)
    w = Window.partitionBy("event_type").orderBy("event_id")
    seq = ev.select("user_id", F.lead("user_id").over(w).alias("nxt"))
    seq = seq.filter(F.col("nxt").isNotNull()
                     & (F.col("nxt") != F.col("user_id")))
    if band_width is None:
        mx = ev.agg(F.max("user_id").alias("m"))
        band_eq = (F.expr("(user_id * 5) div (m + 1)")
                   == F.expr("(nxt * 5) div (m + 1)"))
        seq = seq.crossJoin(F.broadcast(mx))
    else:
        band_eq = (F.expr(f"user_id div {int(band_width)}")
                   == F.expr(f"nxt div {int(band_width)}"))
    e = (seq.filter(band_eq | (F.col("user_id") < F.col("nxt")))
         .select(F.col("user_id").alias("src"), F.col("nxt").alias("dst"))
         .distinct())
    return strongly_connected_components(e)


# NON-registered weak-scaling probes (tools/scalestudy.py only; never
# in the driver window or the parity sweep): variants whose banding is
# ABSOLUTE so cross-scale ratios compare like-for-like.  Width 300 =
# the sf0.1 quintile width, so the x1 run is edge-identical to the
# registered g23_scc.
SCALE_PROBES: dict = {
    "g23_scc_absband": lambda spark, sf_dir: g23_scc(spark, sf_dir,
                                                     band_width=300),
}


@query(
    "g24_local_clustering",
    oracle="""
    WITH b AS MATERIALIZED (SELECT DISTINCT user_id,
                      time_bucket(INTERVAL '10 minutes', ts) AS w
               FROM events),
    e AS MATERIALIZED (SELECT DISTINCT a.user_id AS u, c.user_id AS v
          FROM b a JOIN b c ON a.w = c.w AND a.user_id < c.user_id),
    deg AS MATERIALIZED (SELECT id, count(*) AS degree FROM (
              SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
            GROUP BY id),
    tri AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b2, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    pertri AS MATERIALIZED (SELECT id, count(*) AS t FROM (
                 SELECT a AS id FROM tri
                 UNION ALL SELECT b2 FROM tri
                 UNION ALL SELECT c FROM tri)
               GROUP BY id)
    SELECT d.id, d.degree,
           CASE WHEN d.degree < 2 THEN 0.0
                ELSE round(2.0 * coalesce(p.t, 0)
                           / (d.degree * (d.degree - 1.0)), 6)
           END AS lcc
    FROM deg d LEFT JOIN pertri p ON p.id = d.id
    """,
)
def g24_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient on the 10-minute
    co-activity graph (g11's substrate): lcc = 2·tri(v)/(deg(v)·(deg−1)).
    Triangles via the degree-ordered orientation (every wedge out of an
    O(√m) oriented neighborhood, closed by one (b,c) equi-join — the g03
    skew bound), keeping all three corners so each triangle credits each
    endpoint; the oracle re-counts canonically (u<v three-way join).
    Rounded to 6 decimals on both sides."""
    from ..graph.algorithms import local_clustering
    from ..graph.model import interaction_graph
    g = interaction_graph(spark, sf_dir, "10 minutes")
    return local_clustering(g)


@query(
    "g25_ktruss",
    oracle="""
    WITH ev AS MATERIALIZED (SELECT * FROM events WHERE event_id % 7 = 0),
    seq AS MATERIALIZED (
      SELECT user_id,
             lead(user_id) OVER (PARTITION BY event_type
                                 ORDER BY event_id) AS nxt
      FROM ev),
    e0 AS MATERIALIZED (SELECT DISTINCT least(user_id, nxt) AS u,
                           greatest(user_id, nxt) AS v
           FROM seq WHERE nxt IS NOT NULL AND nxt <> user_id),
    tri0 AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e0 e1
             JOIN e0 e2 ON e2.u = e1.v
             JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v),
    sup0 AS MATERIALIZED (SELECT u, v, count(*) AS c FROM (
               SELECT a AS u, b AS v FROM tri0
               UNION ALL SELECT b, c FROM tri0
               UNION ALL SELECT a, c FROM tri0) GROUP BY u, v),
    e1_ AS MATERIALIZED (SELECT e.u, e.v FROM e0 e JOIN sup0 s USING (u, v)
            WHERE s.c >= 2),
    tri1 AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e1_ e1
             JOIN e1_ e2 ON e2.u = e1.v
             JOIN e1_ e3 ON e3.u = e1.u AND e3.v = e2.v),
    sup1 AS MATERIALIZED (SELECT u, v, count(*) AS c FROM (
               SELECT a AS u, b AS v FROM tri1
               UNION ALL SELECT b, c FROM tri1
               UNION ALL SELECT a, c FROM tri1) GROUP BY u, v),
    e2_ AS MATERIALIZED (SELECT e.u, e.v FROM e1_ e JOIN sup1 s USING (u, v)
            WHERE s.c >= 2),
    tri2 AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e2_ e1
             JOIN e2_ e2 ON e2.u = e1.v
             JOIN e2_ e3 ON e3.u = e1.u AND e3.v = e2.v),
    sup2 AS MATERIALIZED (SELECT u, v, count(*) AS c FROM (
               SELECT a AS u, b AS v FROM tri2
               UNION ALL SELECT b, c FROM tri2
               UNION ALL SELECT a, c FROM tri2) GROUP BY u, v),
    e3_ AS MATERIALIZED (SELECT e.u, e.v FROM e2_ e JOIN sup2 s USING (u, v)
            WHERE s.c >= 2),
    tri3 AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e3_ e1
             JOIN e3_ e2 ON e2.u = e1.v
             JOIN e3_ e3 ON e3.u = e1.u AND e3.v = e2.v),
    sup3 AS MATERIALIZED (SELECT u, v, count(*) AS c FROM (
               SELECT a AS u, b AS v FROM tri3
               UNION ALL SELECT b, c FROM tri3
               UNION ALL SELECT a, c FROM tri3) GROUP BY u, v)
    SELECT e.u AS src, e.v AS dst, coalesce(s.c, 0) AS support
    FROM e3_ e LEFT JOIN sup3 s USING (u, v)
    """,
)
def g25_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the user referral graph (every-7th event, consecutive
    actors per event_type, undirected): three bounded peeling rounds of
    "drop edges in < 2 triangles", then the surviving edges with their
    final support — the cohesion upgrade over k-core (g15) that demands
    shared triangles, not just shared neighbors.  Fixed iteration count
    = SQL-oracle-able by unrolling (three peels fully written out, the
    g06 discipline); at sf0.01 the peels genuinely bite (1324 → 856 →
    697 → 614 edges)."""
    from pyspark.sql.window import Window
    from ..graph.algorithms import k_truss
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 7 == 0)
    w = Window.partitionBy("event_type").orderBy("event_id")
    seq = ev.select("user_id", F.lead("user_id").over(w).alias("nxt"))
    e = (seq.filter(F.col("nxt").isNotNull()
                    & (F.col("nxt") != F.col("user_id")))
         .select(F.col("user_id").alias("src"), F.col("nxt").alias("dst")))
    return k_truss(e, k=4, iters=3)


@query(
    "g26_assortativity",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_partkey + {_P} AS u, l_suppkey + {_S} AS v
      FROM lineitem),
    dx AS MATERIALIZED (SELECT u, count(*) AS dx FROM e GROUP BY u),
    dy AS MATERIALIZED (SELECT v, count(*) AS dy FROM e GROUP BY v),
    m AS MATERIALIZED (
      SELECT count(*) AS n_edges,
             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(dx * dy) AS BIGINT) AS sxy,
             CAST(sum(dx * dx) AS BIGINT) AS sx2,
             CAST(sum(dy * dy) AS BIGINT) AS sy2
      FROM e JOIN dx USING (u) JOIN dy USING (v))
    SELECT n_edges, sx, sy, sxy, sx2, sy2,
           round((n_edges::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / sqrt((n_edges::DOUBLE * sx2::DOUBLE
                         - sx::DOUBLE * sx::DOUBLE)
                        * (n_edges::DOUBLE * sy2::DOUBLE
                           - sy::DOUBLE * sy::DOUBLE)), 6)
             AS assortativity
    FROM m
    """,
)
def g26_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplied_by bipartite edge set
    (part↔supplier via distinct lineitem pairs): Pearson correlation of
    endpoint degrees over edges (Newman 2002) — the one-number summary
    of whether hubs attach to hubs, i.e. whether this graph is the
    hub-fanout shape g17's salted join exists for.  All moments are
    exact BIGINT sums; the final correlation is one identically-
    parenthesized double expression on both engines, rounded to 6
    (graph.algorithms.degree_assortativity)."""
    from ..graph.algorithms import degree_assortativity
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select((F.col("l_partkey") + _P).alias("src"),
                  (F.col("l_suppkey") + _S).alias("dst"))
    return degree_assortativity(e)


def _diameter_oracle(hops: int = 8) -> str:
    """Unrolled double-sweep BFS: two chained level-by-level expansions
    over the undirected star edge set (frontier = neighbors minus
    visited, per level), each sweep's farthest vertex by (distance
    desc, id asc).  8 levels covers the star schema's fixed depth
    (measured eccentricity 6 / diameter 7 at every SF — schema-bound,
    not size-bound); if a fixture ever exceeded it the frontier would
    not drain and the hash check would mismatch loudly.  MATERIALIZED
    throughout (the g25 lesson)."""
    parts = [f"""verts AS MATERIALIZED (
      SELECT c_custkey + {_C} AS id FROM customer
      UNION ALL SELECT n_nationkey + {_N} FROM nation
      UNION ALL SELECT r_regionkey + {_R} FROM region
      UNION ALL SELECT o_orderkey + {_O} FROM orders
      UNION ALL SELECT p_partkey + {_P} FROM part
      UNION ALL SELECT s_suppkey + {_S} FROM supplier)""",
             _STAR_EDGES_SQL,
             """ue AS MATERIALIZED (
      SELECT src, dst FROM edges
      UNION ALL SELECT dst, src FROM edges)"""]

    def sweep(p: str, seed_sql: str) -> None:
        parts.append(f"""{p}v0 AS MATERIALIZED (
      SELECT ({seed_sql}) AS id, 0 AS d)""")
        parts.append(f"""{p}f0 AS MATERIALIZED (SELECT id FROM {p}v0)""")
        for t in range(1, hops + 1):
            parts.append(f"""{p}f{t} AS MATERIALIZED (
      SELECT DISTINCT e.dst AS id
      FROM ue e JOIN {p}f{t - 1} f ON e.src = f.id
      WHERE e.dst NOT IN (SELECT id FROM {p}v{t - 1}))""")
            parts.append(f"""{p}v{t} AS MATERIALIZED (
      SELECT id, d FROM {p}v{t - 1}
      UNION ALL SELECT id, {t} FROM {p}f{t})""")
        parts.append(f"""{p}far AS MATERIALIZED (
      SELECT id, d FROM {p}v{hops} ORDER BY d DESC, id LIMIT 1)""")

    sweep("a", "SELECT min(id) FROM verts")
    sweep("b", "SELECT id FROM afar")
    return ("WITH " + ",\n".join(parts) + f"""
    SELECT (SELECT min(id) FROM verts) AS source_id,
           a.id AS sweep1_far, CAST(a.d AS INTEGER) AS sweep1_ecc,
           b.id AS sweep2_far, CAST(b.d AS INTEGER) AS diameter_estimate
    FROM afar a, bfar b""")


@query("g27_diameter", oracle=_diameter_oracle(hops=8))
def g27_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound of the undirected star-schema
    graph (Magnien-Latapy-Habib): BFS from the min vertex id, re-BFS
    from the farthest vertex found, report its eccentricity — exact on
    trees, tight on the layered fixture.  Frontier-join BFS twice +
    three single-row collects (graph.algorithms.diameter_estimate);
    raises loudly if a sweep is still expanding at the hop bound."""
    from ..graph.algorithms import diameter_estimate
    g = star_schema_graph(spark, sf_dir)
    return diameter_estimate(g, max_hops=12)


def _mis_oracle(rounds: int = 10) -> str:
    """Unrolled deterministic Luby MIS over the referral graph: per
    round, an active vertex with no active neighbor of smaller
    (md5-priority, id) is chosen; chosen vertices and their neighbors
    deactivate.  Rounds past convergence are empty on both engines.
    MATERIALIZED throughout (the g25 lesson)."""
    parts = ["""ev AS MATERIALIZED (SELECT * FROM events WHERE event_id % 7 = 0)""",
             """seq AS MATERIALIZED (
      SELECT user_id,
             lead(user_id) OVER (PARTITION BY event_type
                                 ORDER BY event_id) AS nxt
      FROM ev)""",
             """ed AS MATERIALIZED (
      SELECT DISTINCT user_id AS u, nxt AS v FROM seq
      WHERE nxt IS NOT NULL AND nxt <> user_id)""",
             """ue AS MATERIALIZED (
      SELECT DISTINCT u, v FROM (
        SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed))""",
             """a0 AS MATERIALIZED (
      SELECT DISTINCT u AS id,
             ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15))::BIGINT AS p
      FROM ue)"""]
    for t in range(1, rounds + 1):
        parts.append(f"""c{t} AS MATERIALIZED (
      SELECT a.id, a.p FROM a{t - 1} a
      WHERE NOT EXISTS (
        SELECT 1 FROM ue e JOIN a{t - 1} n ON n.id = e.v
        WHERE e.u = a.id
          AND (n.p < a.p OR (n.p = a.p AND n.id < a.id))))""")
        parts.append(f"""a{t} AS MATERIALIZED (
      SELECT a.id, a.p FROM a{t - 1} a
      WHERE a.id NOT IN (SELECT id FROM c{t})
        AND NOT EXISTS (
          SELECT 1 FROM ue e JOIN c{t} c ON c.id = e.u
          WHERE e.v = a.id))""")
    union = "\n      UNION ALL ".join(
        f"SELECT id, p AS priority, {t} AS round_selected FROM c{t}"
        for t in range(1, rounds + 1))
    return "WITH " + ",\n".join(parts) + f"\n    {union}"


@query("g28_mis", oracle=_mis_oracle(rounds=10))
def g28_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal independent set of the user referral graph — Luby's
    symmetry-breaking primitive, derandomized with md5(id) priorities
    so the result is the lexicographically-first MIS under the
    (priority, id) order and thus SQL-oracle-able (10 unrolled rounds;
    the fixture converges in 5).  Independence and maximality are
    pytest-pinned; the Spark loop raises loudly if still active at the
    bound (graph.algorithms.maximal_independent_set)."""
    from pyspark.sql.window import Window
    from ..graph.algorithms import maximal_independent_set
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 7 == 0)
    w = Window.partitionBy("event_type").orderBy("event_id")
    seq = ev.select("user_id", F.lead("user_id").over(w).alias("nxt"))
    e = (seq.filter(F.col("nxt").isNotNull()
                    & (F.col("nxt") != F.col("user_id")))
         .select(F.col("user_id").alias("src"), F.col("nxt").alias("dst")))
    return maximal_independent_set(e, max_rounds=10)


@query(
    "g29_copurchase_lift",
    oracle="""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    n AS MATERIALIZED (SELECT count(DISTINCT o) AS n_orders FROM op),
    deg AS MATERIALIZED (SELECT p, count(*) AS s FROM op GROUP BY p),
    pr AS MATERIALIZED (
      SELECT a.p AS part_a, b.p AS part_b, count(*) AS pair_orders
      FROM op a JOIN op b ON b.o = a.o AND b.p > a.p
      GROUP BY 1, 2)
    SELECT part_a, part_b, pa.p_name AS name_a, pb.p_name AS name_b,
           pair_orders,
           round(CAST(pair_orders AS DOUBLE) * n.n_orders
                 / (da.s * db.s), 6) AS lift
    FROM pr
    CROSS JOIN n
    JOIN deg da ON da.p = pr.part_a
    JOIN deg db ON db.p = pr.part_b
    JOIN part pa ON pa.p_partkey = pr.part_a
    JOIN part pb ON pb.p_partkey = pr.part_b
    ORDER BY pair_orders DESC, part_a, part_b LIMIT 50
    """,
)
def g29_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket one-mode projection of the order–part bipartite
    graph (graph.algorithms.bipartite_project): top-50 co-purchased
    part pairs by shared-order count, with association lift
    (support_pair · N / (support_a · support_b)) beside the raw count.

    Scale story: the pair fan-out is bounded by BASKET size (≤ ~13
    parts per order in any TPC-H-shaped corpus), not by part
    popularity — projecting onto parts keyed by order is the linear
    direction of this bipartite graph, the opposite projection
    (customers sharing a part) would be quadratic in part popularity
    and would need the operator's max_right_degree cap.  Degree and
    name joins are broadcast (part is a fixed dim); the final top-50
    is TakeOrderedAndProject with the (count desc, part_a, part_b)
    unique tiebreak."""
    from ..graph.algorithms import bipartite_project
    from ..llm.dedup import _materialize
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # materialize-once (r15): the distinct (order, part) frame fed the
    # projection's self-join (2×), the degree table and the order
    # count, so the lineitem scan + distinct ran up to 5× (the
    # registered g29 plan read 9 Exchange / 7 scans).  The frame is
    # |E|-scaled and checkpoint-fed downstream, so the projection
    # self-join carries an explicit shuffle_hash hint (narrow
    # two-long legs; never broadcast an |E|-scaled side on
    # fixed-small stats).
    op = _materialize(li.select(F.col("l_orderkey").alias("o"),
                                F.col("l_partkey").alias("p")).distinct())
    proj = (bipartite_project(op, left="p", right="o",
                              hint_join="shuffle_hash")
            .withColumnRenamed("p_a", "part_a")
            .withColumnRenamed("p_b", "part_b"))
    deg = op.groupBy("p").agg(F.count(F.lit(1)).alias("s"))
    n = op.agg(F.countDistinct("o").alias("n_orders"))
    return (proj
            .join(F.broadcast(deg.select(F.col("p").alias("part_a"),
                                         F.col("s").alias("sa"))), "part_a")
            .join(F.broadcast(deg.select(F.col("p").alias("part_b"),
                                         F.col("s").alias("sb"))), "part_b")
            .crossJoin(F.broadcast(n))
            .join(F.broadcast(part.select(
                F.col("p_partkey").alias("part_a"),
                F.col("p_name").alias("name_a"))), "part_a")
            .join(F.broadcast(part.select(
                F.col("p_partkey").alias("part_b"),
                F.col("p_name").alias("name_b"))), "part_b")
            .select("part_a", "part_b", "name_a", "name_b",
                    F.col("weight").alias("pair_orders"),
                    F.round(F.col("weight").cast("double")
                            * F.col("n_orders")
                            / (F.col("sa") * F.col("sb")), 6)
                    .alias("lift"))
            .orderBy(F.col("pair_orders").desc(), "part_a", "part_b")
            .limit(50))


def _g30_oracle(iters: int = 4) -> str:
    """Directed modularity of the g16 LPA partition: nest the full LPA
    oracle as a CTE (DuckDB allows WITH inside a CTE body; the inner
    edge CTEs shadow the outer re-derivation), then the Leicht-Newman
    sum with per-community terms quantized to exact nano-units before
    summing — the repo's no-float-summation-order discipline."""
    return f"""
    WITH lab AS MATERIALIZED ({_lpa_oracle(iters)}),
    {_INTERACTION_EDGES_SQL.strip()},
    e2 AS MATERIALIZED (
      SELECT ls.community AS cs, ld.community AS cd
      FROM e JOIN lab ls ON ls.id = e.src
             JOIN lab ld ON ld.id = e.dst),
    mm AS MATERIALIZED (SELECT count(*) AS m FROM e2),
    w AS MATERIALIZED (
      SELECT cs AS c, count(*) AS ec FROM e2 WHERE cs = cd GROUP BY cs),
    od AS MATERIALIZED (SELECT cs AS c, count(*) AS dout FROM e2 GROUP BY cs),
    idg AS MATERIALIZED (SELECT cd AS c, count(*) AS din FROM e2 GROUP BY cd),
    per AS MATERIALIZED (
      SELECT coalesce(od.c, idg.c) AS c,
             coalesce(w.ec, 0) AS ec,
             coalesce(od.dout, 0) AS dout,
             coalesce(idg.din, 0) AS din
      FROM od FULL JOIN idg ON idg.c = od.c
      LEFT JOIN w ON w.c = coalesce(od.c, idg.c)),
    t AS MATERIALIZED (
      SELECT CAST(floor((ec / mm.m - (din / mm.m) * (dout / mm.m)) * 1e9
                        + 0.5) AS BIGINT) AS t
      FROM per, mm)
    SELECT (SELECT count(*) FROM t) AS n_communities,
           (SELECT m FROM mm) AS n_edges,
           round((SELECT CAST(sum(t) AS BIGINT) FROM t) / 1e9, 6)
             AS modularity
    """


@query("g30_modularity", oracle=_g30_oracle())
def g30_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition quality of the g16 LPA communities: directed
    modularity (Leicht & Newman 2008) over the symmetric interaction
    graph (graph.algorithms.directed_modularity).  Per-community terms
    are quantized to exact nano-units BEFORE the final sum — no float
    summation order — so the score hash-matches the oracle's nested
    full-LPA rederivation.  Two label lookups on the edge list +
    bounded per-community aggregates."""
    from ..graph.algorithms import directed_modularity, label_propagation
    from ..graph.model import interaction_graph
    g = interaction_graph(spark, sf_dir, "10 minutes")
    labels = label_propagation(g, max_iter=4)
    # the persisted edge list stores each undirected edge once
    # (src < dst); modularity needs the symmetric form the oracle uses
    e = g.edges.select("src", "dst")
    sym = e.union(e.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst")))
    return directed_modularity(sym, labels)


# One shared BFS depth bound for BOTH sides of g31: the Spark operator
# raises loudly past it, but the unrolled oracle would silently truncate
# at its own bound — a mismatch (Spark 8 / oracle 6) turns a deep pivot
# into a quiet parity divergence instead of the documented ValueError.
_G31_MAX_LEVELS = 8


def _g31_oracle(n_sources: int = 4,
                max_levels: int = _G31_MAX_LEVELS) -> str:
    """Unrolled source-sampled Brandes: forward BFS levels with exact
    σ path counts, then per-level dependency accumulation in integer
    micro-units — floor(σ_p·(1e6+δ_c)/σ_c) per child edge, summed
    exactly (the quantization IS the operator's semantics, so the two
    engines agree bit-for-bit at every level)."""
    H = "('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT"
    parts = [_INTERACTION_EDGES_SQL,
             "v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e)",
             f"""piv AS MATERIALIZED (
      SELECT id AS s FROM (SELECT id, {H} AS h FROM v
                           ORDER BY h, id LIMIT {n_sources}))""",
             "f0 AS MATERIALIZED (SELECT s, s AS v, CAST(1 AS BIGINT)"
             " AS sigma FROM piv)",
             "vis0 AS MATERIALIZED (SELECT s, v FROM f0)"]
    for l in range(1, max_levels + 1):
        parts.append(f"""f{l} AS MATERIALIZED (
      SELECT f.s, e.dst AS v, CAST(sum(f.sigma) AS BIGINT) AS sigma
      FROM f{l - 1} f JOIN e ON e.src = f.v
      LEFT JOIN vis{l - 1} x ON x.s = f.s AND x.v = e.dst
      WHERE x.v IS NULL
      GROUP BY f.s, e.dst)""")
        parts.append(f"""vis{l} AS MATERIALIZED (
      SELECT s, v FROM vis{l - 1} UNION ALL SELECT s, v FROM f{l})""")
    parts.append(f"""d{max_levels} AS MATERIALIZED (
      SELECT s, v, CAST(0 AS BIGINT) AS d FROM f{max_levels})""")
    for l in range(max_levels - 1, -1, -1):
        parts.append(f"""d{l} AS MATERIALIZED (
      SELECT p.s, p.v,
             CAST(coalesce(sum(CAST(floor(p.sigma * (1000000 + c.d)
                                          / c.sigma) AS BIGINT)), 0)
                  AS BIGINT) AS d
      FROM f{l} p
      LEFT JOIN e ON e.src = p.v
      LEFT JOIN (SELECT ch.s, ch.v, ch.sigma, dd.d
                 FROM f{l + 1} ch
                 JOIN d{l + 1} dd ON dd.s = ch.s AND dd.v = ch.v) c
        ON c.s = p.s AND c.v = e.dst
      GROUP BY p.s, p.v)""")
    uni = " UNION ALL ".join(
        f"SELECT s, v, d FROM d{l}" for l in range(max_levels + 1))
    return ("WITH " + ",\n".join(parts) + f""",
    alld AS MATERIALIZED ({uni})
    SELECT v AS id, {n_sources} AS n_sources,
           CAST(sum(d) AS BIGINT) AS bc_micro,
           round(CAST(sum(d) AS BIGINT) / 1e6, 6) AS bc
    FROM alld WHERE d > 0 AND v <> s
    GROUP BY v""")


@query("g31_betweenness", oracle=_g31_oracle())
def g31_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-sampled Brandes betweenness centrality on the symmetric
    interaction graph (graph.algorithms.betweenness_approx): 4
    deterministic md5-order pivots, one multi-source labeled frontier
    forward (σ path counts as exact BIGINTs), per-level backward
    dependency accumulation in integer micro-units — no float appears
    before the final display division, so the sampled BC hash-matches
    the oracle's full unrolled rederivation.  Pivot count is the
    standard accuracy/cost dial at scale (Brandes-Pich 2007)."""
    from ..graph.algorithms import betweenness_approx
    from ..graph.model import interaction_graph
    g = interaction_graph(spark, sf_dir, "10 minutes")
    e = g.edges.select("src", "dst")
    sym = e.union(e.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst")))
    return betweenness_approx(sym, n_sources=4,
                              max_levels=_G31_MAX_LEVELS)


@query(
    "g32_weighted_sssp",
    oracle=f"""
    WITH co AS MATERIALIZED (
      SELECT o_orderkey + {_O} AS id,
             (42 + {_C} + o_orderkey + {_O}) % 7 + 1 AS d
      FROM orders WHERE o_custkey = 42),
    cn AS MATERIALIZED (
      SELECT c_nationkey + {_N} AS id,
             (42 + {_C} + c_nationkey + {_N}) % 7 + 1 AS d
      FROM customer WHERE c_custkey = 42),
    pp AS MATERIALIZED (
      SELECT l_partkey + {_P} AS id,
             min(co.d + (l_orderkey + {_O} + l_partkey + {_P}) % 7 + 1) AS d
      FROM lineitem JOIN co ON co.id = l_orderkey + {_O}
      GROUP BY l_partkey),
    ss AS MATERIALIZED (
      SELECT ps.sid AS id, min(pp.d + (ps.pid + ps.sid) % 7 + 1) AS d
      FROM (SELECT DISTINCT l_partkey + {_P} AS pid,
                   l_suppkey + {_S} AS sid FROM lineitem) ps
      JOIN pp ON pp.id = ps.pid
      GROUP BY ps.sid),
    nn AS MATERIALIZED (
      SELECT id, min(d) AS d FROM (
        SELECT id, d FROM cn
        UNION ALL
        SELECT s_nationkey + {_N} AS id,
               ss.d + (ss.id + s_nationkey + {_N}) % 7 + 1 AS d
        FROM supplier JOIN ss ON ss.id = s_suppkey + {_S}
      ) GROUP BY id),
    rr AS MATERIALIZED (
      SELECT n_regionkey + {_R} AS id,
             min(nn.d + (n_nationkey + {_N} + n_regionkey + {_R}) % 7 + 1)
               AS d
      FROM nation JOIN nn ON nn.id = n_nationkey + {_N}
      GROUP BY n_regionkey)
    SELECT CAST(42 + {_C} AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
    UNION ALL SELECT id, CAST(d AS BIGINT) FROM co
    UNION ALL SELECT id, CAST(d AS BIGINT) FROM pp
    UNION ALL SELECT id, CAST(d AS BIGINT) FROM ss
    UNION ALL SELECT id, CAST(d AS BIGINT) FROM nn
    UNION ALL SELECT id, CAST(d AS BIGINT) FROM rr
    """,
)
def g32_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths from customer 42 over the
    FULL directed star graph with deterministic integer edge weights
    w(u,v) = (u+v) mod 7 + 1 — the true-min semantics BFS (g05) can't
    express: a nation can be cheaper via the 4-hop
    order→part→supplier→nation path than via its direct edge, and the
    algorithm must find that.  Runs the general frontier Bellman-Ford
    (graph.algorithms.sssp_weighted — only improved vertices relax
    their out-edges each round); the star DAG settles in ≤5 rounds.
    The oracle exploits the DAG's topological order: one chained
    min-aggregation per layer, nations min-merged across the direct
    and via-supplier paths."""
    from ..graph.algorithms import sssp_weighted
    from ..graph.model import PropertyGraph
    g = star_schema_graph(spark, sf_dir)
    weighted = PropertyGraph(g.vertices, g.edges.withColumn(
        "mw", ((F.col("src") + F.col("dst")) % 7 + 1).cast("long")))
    return sssp_weighted(weighted, [42 + _C], weight_col="mw",
                         max_iter=10)


# ONE constant for Spark max_iter AND oracle unroll depth (the g31
# lesson: a mismatch turns deep graphs into silent divergence instead
# of the operator's loud ValueError).
_G33_LEVELS = 8


def _g33_oracle(levels: int = _G33_LEVELS) -> str:
    """Unrolled earliest-arrival min-merge: level l's state references
    level l-1 twice (carry + relax), so every level is MATERIALIZED
    (the g25 DuckDB CTE-inlining lesson)."""
    parts = [
        """b AS MATERIALIZED (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(time_bucket(INTERVAL '10 minutes', ts)))
                  AS BIGINT) AS w
      FROM events)""",
        """e AS MATERIALIZED (
      SELECT a.user_id AS src, c.user_id AS dst, a.w AS t
      FROM b a JOIN b c ON a.w = c.w AND a.user_id <> c.user_id)""",
        """a0 AS MATERIALIZED (
      SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS arr)""",
    ]
    for l in range(1, levels + 1):
        parts.append(f"""a{l} AS MATERIALIZED (
      SELECT id, min(arr) AS arr FROM (
        SELECT id, arr FROM a{l - 1}
        UNION ALL
        SELECT e.dst AS id, e.t AS arr
        FROM e JOIN a{l - 1} p ON e.src = p.id AND e.t >= p.arr
      ) GROUP BY id)""")
    return ("WITH " + ",\n    ".join(parts)
            + f"\n    SELECT id, arr AS arrival FROM a{levels}")


@query("g33_temporal_reachability", oracle=_g33_oracle())
def g33_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival TIME-RESPECTING reachability from user 0 over
    the temporal co-occurrence edge list (users sharing a 10-minute
    activity window, edge timestamped with the window start): the
    information-flow question static reachability answers WRONG
    whenever an edge fired before its source was itself reached.
    Runs the shared sparse frontier fixpoint with the e.ts >= arr(u)
    relax condition (graph.algorithms.temporal_reachability); the
    oracle unrolls the identical min-merge recurrence to the SAME
    level bound the operator runs (one shared constant — Spark raises
    loudly past it, the oracle never silently truncates below it)."""
    from ..graph.algorithms import temporal_reachability
    ev = load_table(spark, sf_dir, "events")
    b = (ev.select("user_id", F.window("ts", "10 minutes").alias("w"))
         .select("user_id", F.unix_timestamp(F.col("w.start")).alias("w"))
         .distinct())
    c = b.select(F.col("user_id").alias("u2"), "w")
    e = (b.join(c, "w")
         .filter(F.col("user_id") != F.col("u2"))
         .select(F.col("user_id").alias("src"),
                 F.col("u2").alias("dst"), F.col("w").alias("ts")))
    return temporal_reachability(e, [0], start_ts=0,
                                 max_iter=_G33_LEVELS)
