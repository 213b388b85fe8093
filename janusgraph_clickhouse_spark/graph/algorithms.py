"""GraphX-style analytics on the DataFrame property graph (SURVEY §2.3).

The reference system computes these by exporting the edgestore to an
external graph computer (JanusGraph's SparkGraphComputer path); here they
are native DataFrame iteration.  Fixpoints that check convergence run on
the pregel kernel (`pregel.py`: the caller writes `step(state)` and marks
changed rows; the kernel observes their count on its checkpoint job):

- pagerank / personalized_pagerank — score-push iteration, damping 0.85
- connected_components — `_edge_components`: min-id label propagation
                     with pointer jumping, the one components loop
                     (also behind `_component_split`,
                     llm.dedup.pairs_to_clusters and
                     `_bipartite_components`, which runs it over
                     per-group star edges)
- shortest_paths / longest_path_levels — min / max edge relaxation
- strongly_connected_components — forward coloring + backward reach,
                     both lazily batched on the kernel

Loops with one materializing action per round, or a fixed round count
chained lazily (bfs_distances, k_core, hits, label_propagation,
harmonic_centrality, betweenness_approx, _frontier_min_fixpoint), keep
their own drivers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .model import PropertyGraph
from .pregel import pregel


def pagerank(graph: PropertyGraph, max_iter: int = 10,
             damping: float = 0.85, tol: float | None = None) -> DataFrame:
    """PageRank over the directed edges; returns (id, rank).

    Dangling mass is redistributed uniformly each superstep so
    sum(rank) == |V| holds (the invariant the tests check).

    tol: early-exit convergence threshold — stop when no vertex's rank
    moved by more than tol in a superstep.  None (default) runs exactly
    max_iter supersteps: a FIXED superstep count is what makes the
    result reproducible against a bounded-iteration oracle; pass tol
    when iterating to a fixpoint matters more than a deterministic step
    count.
    """
    v = graph.vertices.select("id")
    n_total = v.count()  # scalar; one tiny job, reused every superstep
    deg = graph.degrees("out").withColumnRenamed("degree", "out_deg")
    # state: id, rank, out_deg (out_deg=0 → dangling)
    state = (v.join(deg, "id", "left")
              .fillna(0, subset=["out_deg"])
              .withColumn("rank", F.lit(1.0))
              .localCheckpoint(eager=True))
    # cache the edge set partitioned on the message-join key: every
    # superstep joins contribs on src, so hash-partitioning edges once
    # lets each round reuse the layout (measured 22s → 15.5s at sf0.1)
    width = graph.edges.sparkSession.sparkContext.defaultParallelism
    edges = graph.edges.select("src", "dst").repartition(width, "src").cache()

    def step(st: DataFrame) -> DataFrame:
        contrib = (st.filter(F.col("out_deg") > 0)
                     .select(F.col("id").alias("src"),
                             (F.col("rank") / F.col("out_deg")).alias("msg")))
        agg = (edges.join(contrib, "src")
               .groupBy(F.col("dst").alias("id"))
               .agg(F.sum("msg").alias("msg_sum")))
        # dangling mass (rank at out_deg=0 vertices) folds in as a 1-row
        # broadcast cross join — keeping it inside the plan instead of a
        # per-superstep driver collect saves one Spark job per iteration
        dang = (st.filter(F.col("out_deg") == 0)
                  .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang")))
        new = (st.select("id", "out_deg", F.col("rank").alias("_old"))
               .join(agg, "id", "left")
               .fillna(0.0, subset=["msg_sum"])
               .crossJoin(F.broadcast(dang))
               .withColumn("rank",
                           F.lit(1.0 - damping)
                           + F.lit(damping) * F.col("_dang") / F.lit(n_total)
                           + F.lit(damping) * F.col("msg_sum")))
        cols = ["id", "rank", "out_deg"]
        if tol is not None:
            cols.append((F.abs(F.col("rank") - F.col("_old")) > tol)
                        .cast("int").alias("changed"))
        return new.select(*cols)

    # eager checkpoints every other superstep: each update references the
    # previous state twice (messages + dangling agg), so unbounded lineage
    # would re-execute the whole chain; every-2 keeps recompute bounded
    # while halving checkpoint jobs.  With tol, every round is checkpointed
    # so each one's moved-vertex count is observed.
    out, _ = pregel(state, step, max_iter,
                    checkpoint_interval=2 if tol is None else 1)
    edges.unpersist()
    return out.select("id", "rank")


def connected_components(graph: PropertyGraph, max_iter: int = 20) -> DataFrame:
    """Undirected connected components; returns (id, component) where
    component == min vertex id in the component.

    `_edge_components` (min-label propagation + pointer jumping, O(log
    diameter) supersteps) over the canonical undirected edge set; a
    vertex with no edge is its own component.  Raises when the labels
    do not converge within max_iter supersteps — unconverged labels can
    split a true component.
    """
    width = graph.edges.sparkSession.sparkContext.defaultParallelism
    sym = graph.undirected_edges().repartition(width, "src").cache()
    labels = _edge_components(sym, max_iter)
    sym.unpersist()
    if labels is None:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"max_iter={max_iter} supersteps; raise max_iter")
    return (graph.vertices.select("id")
            .join(labels.withColumnRenamed("n", "id"), "id", "left")
            .select("id", F.coalesce(F.col("c"), F.col("id"))
                    .alias("component")))


# Frontier rows above which BFS stops broadcasting and shuffle-joins
# instead: a broadcast frontier is one driver copy + one per executor —
# a hub's hop-2 frontier can be tens of millions of ids, which OOMs the
# driver.  1M ids ≈ 8 MB serialized: comfortably broadcastable; beyond
# that the shuffle join is the safe (and perfectly scalable) path.
BFS_BROADCAST_MAX = 1_000_000


def _next_frontier(edges: DataFrame, frontier: DataFrame, visited: DataFrame,
                   hop: int, use_broadcast: bool) -> DataFrame:
    """One BFS expansion: frontier⋈edges → new ids not yet visited."""
    probe = frontier.select(F.col("id").alias("src"))
    if use_broadcast:
        probe = F.broadcast(probe)
    return (edges.join(probe, "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("distance", F.lit(hop)))


def bfs_distances(graph: PropertyGraph, source_ids: list[int],
                  max_hops: int, directed: bool = True,
                  broadcast_threshold: int = BFS_BROADCAST_MAX) -> DataFrame:
    """Unweighted shortest-path hop counts from the source set; returns
    (id, distance) for vertices reached within max_hops.

    Frontier-join iteration: only the most-recently-discovered frontier is
    joined against edges each round (not the whole visited set).  The
    frontier is broadcast ONLY while its known row count is under
    `broadcast_threshold` (the count falls out of the per-hop exit check
    on checkpointed data — no extra job); large frontiers shuffle-join,
    so a hub fan-out can't OOM the driver.

    ONE materializing action per hop: the frontier is a LAZY
    localCheckpoint whose materializing action is the exit-probe count
    itself; the visited union is lazy too, materialized inside the
    NEXT hop's probe (its double consumption — anti-join + union —
    re-reads the checkpoint, never recomputes).  Local-mode NEUTRAL
    (g27 A/B best-of-3: 8.2 s eager vs 8.8 s lazy — noise; the two
    removed jobs per hop were trivial count/checkpoint jobs), kept for
    cluster barrier economy: two fewer driver round-trips per hop at
    zero behavior change.  The per-hop barrier itself is intrinsic to
    BSP BFS; lazily batching K hops per job (the SCC r9 recipe) was
    REJECTED here because it forces the dense all-reached join form —
    per-round work Σ|reached| instead of Σ|frontier|, a 100 TB scale
    regression (PERF.md round 9)."""
    edges = graph.edges.select("src", "dst")
    if not directed:
        edges = edges.unionAll(edges.select(F.col("dst").alias("src"),
                                            F.col("src").alias("dst")))
    edges = edges.cache()  # re-joined every hop; avoid re-scanning sources
    spark = graph.vertices.sparkSession
    visited = spark.createDataFrame(
        [(int(s), 0) for s in source_ids], "id long, distance int")
    frontier = visited
    frontier_n = len(source_ids)
    for hop in range(1, max_hops + 1):
        nxt = _next_frontier(edges, frontier, visited, hop,
                             use_broadcast=frontier_n <= broadcast_threshold)
        nxt = nxt.localCheckpoint(eager=False)
        frontier_n = nxt.count()  # materializes nxt AND probes the exit
        if frontier_n == 0:
            break
        visited = visited.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt
    # visited's lineage reaches only checkpointed frontiers (each nxt
    # was materialized by its own probe count), never the edge scan, so
    # the cached edge set can release NOW instead of leaking one copy
    # per call (diameter_estimate alone runs two BFS sweeps per
    # invocation); the final lazy union materializes from checkpoint
    # blocks whenever the caller executes
    edges.unpersist()
    return visited


def shortest_paths(graph: PropertyGraph, source_ids: list[int],
                   weight_col: str | None = None, max_iter: int = 20,
                   directed: bool = True) -> DataFrame:
    """Single-source (or multi-source) WEIGHTED shortest paths; returns
    (id, distance DOUBLE) for reachable vertices.

    Bellman-Ford-on-Pregel: each superstep relaxes every edge once
    (message = dist[src] + w), min-aggregates at dst, and keeps the
    smaller of old/new distance.  Stops after the first superstep that
    lowers no distance (≤ |longest shortest path| + 1), or after
    max_iter supersteps with the bounded result; unweighted BFS is the w=1
    special case (bfs_distances is the cheaper frontier form for that).
    """
    e = graph.edges
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    edges = e.select("src", "dst", w.alias("w"))
    if not directed:
        edges = edges.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                     w.alias("w")))
    width = graph.edges.sparkSession.sparkContext.defaultParallelism
    edges = edges.repartition(width, "src").cache()
    inf = float("inf")
    state = graph.vertices.select(
        "id",
        F.when(F.col("id").isin([int(s) for s in source_ids]), F.lit(0.0))
         .otherwise(F.lit(inf)).alias("dist")).localCheckpoint(eager=True)

    def step(st: DataFrame) -> DataFrame:
        reach = st.filter(F.col("dist") != inf)
        agg = (edges.join(reach.select(F.col("id").alias("src"), "dist"),
                          "src")
               .groupBy(F.col("dst").alias("id"))
               .agg(F.min(F.col("dist") + F.col("w")).alias("new_dist")))
        return st.join(agg, "id", "left").select(
            "id",
            F.least("dist", F.coalesce("new_dist", "dist")).alias("dist"),
            (F.col("new_dist") < F.col("dist")).cast("int").alias("changed"))

    out, _ = pregel(state, step, max_iter)
    edges.unpersist()
    return out.filter(F.col("dist") != inf)


def longest_path_levels(graph: PropertyGraph, max_iter: int = 20) -> DataFrame:
    """Topological levels of a DAG: level(v) = length of the LONGEST path
    from any source to v (critical-path layering; scheduling / lineage
    depth).  Returns (id, level INT).

    Max-propagation on the Pregel kernel: every superstep relaxes each
    edge with level[src]+1 and max-aggregates at dst; stops after the
    first superstep that raises no level (≤ depth(DAG) + 1).  On a cyclic
    graph levels on cycles would grow forever — max_iter bounds it; pass
    a DAG.
    """
    edges = graph.edges.select("src", "dst").cache()
    state = (graph.vertices.select("id", F.lit(0).alias("level"))
             .localCheckpoint(eager=True))

    def step(st: DataFrame) -> DataFrame:
        agg = (edges.join(st.select(F.col("id").alias("src"), "level"), "src")
               .groupBy(F.col("dst").alias("id"))
               .agg(F.max(F.col("level") + 1).alias("cand")))
        return st.join(agg, "id", "left").select(
            "id",
            F.greatest("level", F.coalesce("cand", "level")).alias("level"),
            (F.col("cand") > F.col("level")).cast("int").alias("changed"))

    out, _ = pregel(state, step, max_iter)
    edges.unpersist()
    return out.select("id", F.col("level").cast("int").alias("level"))


def k_core(graph: PropertyGraph, k: int, max_iter: int = 30) -> DataFrame:
    """k-core of the undirected graph: the maximal induced subgraph in
    which every vertex has degree ≥ k.  Returns (id, core_degree) — the
    surviving vertices with their degree INSIDE the core.

    Iterative peeling: each round drops every vertex whose degree within
    the current survivor set is < k, until no vertex is dropped.  Rounds
    needed = peel depth (typically ≪ |V|); each round is one semi-join to
    induce the subgraph plus one hash aggregate for degrees — the same
    two-shuffle shape at any scale, and the survivor set only shrinks, so
    per-round cost is monotonically non-increasing.  The survivor set is
    a LAZY localCheckpoint materialized by the exit-probe count — one
    materializing action per round; its double consumption next round
    (both semi-join sides) re-reads the checkpoint.  That same double
    consumption is why rounds can NOT be lazily batched here (the SCC
    K-rounds-per-checkpoint recipe needs single-consumption state; a
    decrement-propagation rewrite would share the subplan twice per
    level too) — the per-round barrier stays, intrinsic to peeling."""
    sym = graph.undirected_edges()
    edges = (sym.unionAll(sym.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
             .cache())
    # isolated vertices have degree 0 < k (k ≥ 1): start from edge
    # endpoints only, sparing the full vertex table a pass
    alive = edges.select(F.col("src").alias("id")).distinct()
    alive = alive.localCheckpoint(eager=True)
    n_alive = alive.count()
    deg = None
    for _ in range(max_iter):
        induced = (edges.join(alive.select(F.col("id").alias("src")),
                              "src", "left_semi")
                   .join(alive.select(F.col("id").alias("dst")),
                         "dst", "left_semi"))
        deg = induced.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("core_degree"))
        nxt = deg.filter(F.col("core_degree") >= k).select("id")
        nxt = nxt.localCheckpoint(eager=False)
        n_next = nxt.count()  # materializes nxt AND probes the exit
        alive = nxt
        if n_next == n_alive:
            break
        n_alive = n_next
    else:
        # loud-failure discipline (the SCC/MIS/diameter pattern): a
        # deep peel (e.g. a long path sheds only its endpoints per
        # round) that exhausts max_iter would otherwise return a
        # NON-k-core with overstated core_degree, silently
        edges.unpersist()
        raise ValueError(
            f"k_core: peeling did not reach a fixpoint within "
            f"max_iter={max_iter} rounds ({n_alive} vertices still "
            f"shedding); raise max_iter")
    # converged: every survivor's degree over the survivor set is ≥ k,
    # so re-filtering deg gives (id, degree-inside-core) consistently.
    # Materialize BEFORE unpersist — the caller executes the returned
    # plan later, and deg's lineage reads the cached edges; unpersisting
    # first would re-derive the whole upstream graph at that point
    out = deg.filter(F.col("core_degree") >= k).localCheckpoint(eager=True)
    edges.unpersist()
    return out


def label_propagation(graph: PropertyGraph, max_iter: int = 4) -> DataFrame:
    """Community detection by synchronous label propagation; returns
    (id, community).

    Every vertex starts labeled with its own id; each superstep it adopts
    the most frequent label among its neighbors (ties → smallest label;
    no neighbors → keep).  All updates in a superstep read the PREVIOUS
    superstep's labels (synchronous), which makes a FIXED iteration count
    fully deterministic — the property that lets a bounded-unroll SQL
    oracle re-derive it exactly (the g06 pattern).  LPA famously
    oscillates on bipartite-ish structure rather than converging, so the
    bounded count is the algorithm's own standard form (GraphX LPA ships
    the same contract).

    Per superstep: one message join on src + one (dst, label) count + one
    per-dst argmax — two shuffles, both keyed on vertex id, at any scale.

    Single-consumption form (the r9 SCC/HITS recipe): the edge set is
    AUGMENTED with a weight-0 self-loop per vertex, which makes the
    keep-own-label fallback part of the SAME vote aggregate — a label
    with 0 votes (own, absent from the neighborhood) loses to any real
    neighbor vote (≥1) and wins exactly when there are none, and a +0
    contribution to a label that IS present changes no count, so the
    argmax under (votes DESC, label ASC) is UNCHANGED from the
    join-back form.  With the state consumed once per superstep and a
    FIXED iteration count, all supersteps chain lazily into ONE Spark
    job (g16 A/B best-of-3 at sf0.1: 3.60 → 2.49 s warm); a
    lineage-truncation checkpoint every 10 supersteps bounds plan
    growth for large caller-supplied max_iter (the HITS discipline).
    The returned state is a lazy localCheckpoint: callers that consume
    it twice (g30 joins community onto both edge endpoints) re-read
    the materialized blocks instead of re-running the chain.

    Requires the PropertyGraph endpoint contract (every edge endpoint
    present in graph.vertices — see the class docstring): the output
    rows come from the vote aggregate's dst side (edge endpoints ∪
    vertex self-loops), so a ghost endpoint would vote and appear in
    the result where the pre-r9 join-back form restricted output to
    the vertex set."""
    width = graph.edges.sparkSession.sparkContext.defaultParallelism
    sym = graph.undirected_edges()
    both = sym.unionAll(sym.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    aug = (both.select("src", "dst", F.lit(1).alias("w"))
           .unionAll(graph.vertices.select(F.col("id").alias("src"),
                                           F.col("id").alias("dst"),
                                           F.lit(0).alias("w")))
           .repartition(width, "src")
           .localCheckpoint(eager=False))
    state = graph.vertices.select("id", F.col("id").alias("community"))
    w = Window.partitionBy("id").orderBy(F.desc("votes"), F.asc("community"))
    for t in range(max_iter):
        # shuffle_hash BUILT ON THE STATE side: state is |V|-bounded
        # (per-partition build = |V|/width rows) and aug's
        # repartition(width, src) is reused as the join distribution,
        # so only state shuffles per superstep.  Without the hint,
        # Catalyst sizes the un-materialized |E|-scaled aug from the
        # compressed scan and plans a broadcast BUILD OF AUG — the
        # r13 x30 study watched that build exhaust the 8g driver
        # ("Not enough memory to build and broadcast", g16 at 43M
        # oriented edges).
        votes = (aug.join(state.select(F.col("id").alias("src"),
                                       "community")
                          .hint("shuffle_hash"), "src")
                 .groupBy(F.col("dst").alias("id"), "community")
                 .agg(F.sum("w").alias("votes")))
        state = (votes.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1)
                 .select("id", "community"))
        if (t + 1) % 10 == 0 and t != max_iter - 1:
            state = state.localCheckpoint(eager=True)
    return state.localCheckpoint(eager=False)


def _dense_id_index(df: DataFrame, cols: list[str], cap: int):
    """Sorted dense index over the distinct values of `cols` (unioned),
    when at most `cap` of them exist: returns (map_df(orig, idx), ids)
    with idx assigned in ASCENDING orig order, else None.

    Monotonicity is the load-bearing property: ids[i] < ids[j] ⟺ i < j,
    so every least/greatest canonicalization, u < v pair dedup, and
    (score, u, v) tiebreak computed on indices is IDENTICAL to the same
    computation on original ids — a dense specialization can run on the
    remapped graph and map back with no re-sorting.

    This exists because the dense bit-matrix paths (triangles / LCC /
    Adamic-Adar) previously gated on id VALUES (`max(id) < cap`), which
    is only incidentally true of the synthetic fixtures: any production
    id space (hashed/sharded/offset 64-bit keys) silently fell through
    to the join path even when the DIMENSION is tiny — measured in the
    r11 weak-scaling study, where +1e7 key offsets pushed g03 from the
    2 s bit-matrix to a 46 s pair-enumeration at 3× data and g17 past a
    300 s budget (PERF.md "r11 scale study").

    The collect is cardinality-bounded BY CONSTRUCTION: limit(cap+1)
    bounds the fetched rows no matter how large the input (the
    codebook/Bloom-words bounded-collect discipline).

    A NULL id anywhere declines the remap (returns None) so the caller
    keeps the degraded-but-working join path — the pre-remap min/max
    gates silently ignored NULLs and fell through, and int(None) here
    would turn that into a hard TypeError (r11 ADVICE).  The check is
    sound under the limit: whenever distinct cardinality ≤ cap+1 the
    limit returns ALL distinct values, NULL included; beyond that we
    return None anyway."""
    ids_df = df.select(F.col(cols[0]).cast("long").alias("orig"))
    for c in cols[1:]:
        ids_df = ids_df.unionAll(df.select(F.col(c).cast("long")
                                           .alias("orig")))
    rows = ids_df.distinct().limit(cap + 1).collect()
    if len(rows) > cap or any(r[0] is None for r in rows):
        return None
    ids = sorted(int(r[0]) for r in rows)
    map_df = df.sparkSession.createDataFrame(
        [(x, i) for i, x in enumerate(ids)], "orig long, idx long")
    return map_df, ids


def _remap_edges(sym: DataFrame, map_df: DataFrame) -> DataFrame:
    """(src, dst) → dense indices via two broadcast joins of the
    (bounded) id map.  Monotone remap: canonical src < dst stays
    canonical."""
    ms = F.broadcast(map_df.select(F.col("orig").alias("src"),
                                   F.col("idx").alias("_si")))
    md = F.broadcast(map_df.select(F.col("orig").alias("dst"),
                                   F.col("idx").alias("_di")))
    return (sym.join(ms, "src").join(md, "dst")
            .select(F.col("_si").alias("src"), F.col("_di").alias("dst")))


def _sum_deg_sq(sym: DataFrame) -> int:
    """Σ deg(w)² over the canonical undirected edge set — the wedge-row
    count of the two-hop self-join, i.e. the JOIN path's work estimate.
    One degree aggregate; run only when deciding a dist-tier entry."""
    both = sym.unionAll(sym.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    v = (both.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
         .agg(F.sum(F.col("d") * F.col("d"))).first()[0])
    return int(v or 0)


def _prefer_dense_tiles(sum_d2: int, n_nodes: int) -> bool:
    """Cost gate between the distributed bit-matrix tiles and the
    distributed join for mid-size dimensions.  Tile work is ~4n³ FLOPs
    regardless of sparsity; join work is ~Σ deg² wedge rows.  Measured
    r11 (PERF.md scale study): joins stream ~4.7e7 wedge-rows/s and
    tiles ~2.7e11 FLOP/s on this box, crossing at Σd² ≈ n³/1436 — the
    gate uses n³/1000 and both measured regimes sit 3 orders of
    magnitude clear of it (sparse 15k-vertex: Σd²=1.9e6 vs 3.4e9 →
    join, 5.3 s vs 64.5 s; near-complete block-diagonal 15k: Σd²=3.4e10
    → tiles, 50 s vs a >300 s/8.3 GiB-broadcast join death)."""
    return sum_d2 * 1000 > n_nodes ** 3


# attempt component labeling only when the join alternative is already
# expensive (Σd² wedge rows above this ≈ 20+ s at the measured 4.7e7
# rows/s): a cheap join never pays the O(log diameter) labeling rounds,
# so fixture-scale and genuinely-sparse plans are byte-identical
EDGE_COMP_ATTEMPT_MIN_WEDGES = 1_000_000_000
# per-component dense caps: one applyInPandas task holds the
# component's n_c² float matrices — AA peaks at ~4 n_c² floats
# (A/W/S/C ≈ 380 MB at 4096), the per-vertex triangle kernel at ~2
# (A/T ≈ 130 MB) — bounded per TASK, so a 4-core/8 GB executor runs
# 4 concurrent dense components comfortably
AA_COMP_CAP = 4096
TRI_COMP_CAP = 4096


def _edge_components(sym: DataFrame, max_iter: int = 15):
    """Connected-component labels of an undirected edge set (either
    orientation per edge): (n, c) with c = min vertex id in n's
    component, or None when the propagation cannot PROVE convergence
    within ``max_iter`` progress rounds (callers must then refuse or
    keep their fully-distributed path — an unconverged labeling can
    split a true component and silently corrupt anything computed per
    label).  The one min-label components loop: `connected_components`,
    `_component_split`, `_bipartite_components` and `pairs_to_clusters`
    all run it.

    Min-label propagation + path-halving pointer jumps (labels are
    vertex ids, so label-of-label is one self-join) — O(log diameter)
    rounds on the pregel kernel.  A zero-change fixpoint round proves
    per-component label uniformity: adjacent vertices still differing
    would both be pulling the smaller label.

    Messages flow both ways along each edge through two joins of `sym`
    itself (src → dst and dst → src), never a symmetrized union: a
    src-partitioned input keeps its layout for the first join, and a
    join hint on `sym` reaches both joins — `_component_split` and
    `_bipartite_components` hint merge, since their checkpoint-child
    edge sets carry a tiny size estimate (the mis-broadcast class).
    Nothing |E|-sized is materialized here on top of the caller's copy
    (a 2·|E| copy is what OOM'd the first x30 g24 attempt on the 8g
    heap)."""
    e = sym.select("src", "dst")
    cs = (e.select(F.col("src").alias("n"))
          .unionAll(e.select(F.col("dst").alias("n"))).distinct()
          .select("n", F.col("n").alias("c"))
          .localCheckpoint(eager=True))

    def step(cs: DataFrame) -> DataFrame:
        c = cs.select(F.col("n").alias("_u"), "c")
        msgs = (e.join(c, e["src"] == c["_u"])
                .select(F.col("dst").alias("n"), "c")
                .unionAll(e.join(c, e["dst"] == c["_u"])
                          .select(F.col("src").alias("n"), "c"))
                .groupBy("n").agg(F.min("c").alias("c2")))
        new = (cs.join(msgs, "n", "left")
               .select("n", F.col("c").alias("_old"),
                       F.least("c", F.coalesce("c2", "c")).alias("c")))
        hop = new.select(F.col("n").alias("_k"), F.col("c").alias("_cc"))
        jumped = F.least("c", F.coalesce("_cc", "c"))
        return (new.join(hop, new["c"] == hop["_k"], "left")
                .select("n", jumped.alias("c"),
                        (jumped != F.col("_old")).cast("int")
                        .alias("changed")))

    cs, converged = pregel(cs, step, max_iter)
    return cs if converged else None


def _component_split(sym: DataFrame, comp_cap: int):
    """Split a canonical edge set by per-component dense eligibility:
    returns (dense_edges, join_edges, has_dense, has_join) where
    dense_edges = (c, src, dst) of components that pass BOTH the size
    cap and the r11-measured density gate (component Σd²·1000 > n_c³ —
    the same crossover `_prefer_dense_tiles` uses, per component
    instead of globally), join_edges = the rest, or None when the
    component labeling did not converge.  Edges never span components,
    so labeling the src endpoint labels the edge."""
    labels = _edge_components(sym.hint("merge"))
    if labels is None:
        return None
    both = sym.unionAll(sym.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    deg = both.groupBy(F.col("src").alias("n")).agg(
        F.count(F.lit(1)).alias("d"))
    stats = (labels.join(deg, "n", "left")
             .groupBy("c")
             .agg(F.count(F.lit(1)).alias("n_c"),
                  F.sum(F.col("d") * F.col("d")).alias("d2")))
    routed = stats.withColumn(
        "dense", (F.col("n_c") <= comp_cap)
        & (F.col("d2") * 1000 > F.col("n_c") ** 3))
    lbl = (labels.join(routed.select("c", "dense"), "c")
           .select(F.col("n").alias("src"), "c", "dense")
           .localCheckpoint(eager=True))
    dense_edges = (sym.hint("merge")
                   .join(lbl.filter(F.col("dense")).drop("dense"),
                         "src")
                   .select("c", "src", "dst"))
    join_edges = (sym.hint("merge")
                  .join(lbl.filter(~F.col("dense")).select("src"),
                        "src", "left_semi"))
    routes = {r.dense for r in lbl.select("dense").distinct().collect()}
    return dense_edges, join_edges, True in routes, False in routes


def _adamic_adar_comp_dense(dense_edges: DataFrame, top: int) -> DataFrame:
    """Per-component dense Adamic-Adar: ONE applyInPandas task per
    component builds its n_c×n_c adjacency (local indices via
    np.unique — SORTED original ids, so the (score, u, v) order on
    indices equals the order on ids, the `_dense_id_index` monotonicity
    argument), scores S = (A·diag(1/ln deg))·Aᵀ and common-neighbor
    counts C = A·Aᵀ with BLAS, masks adjacent pairs and the diagonal,
    and emits its own top-`top` under the FINAL (rounded score desc,
    u, v) order.  Degrees computed inside the component ARE true
    degrees — neighborhoods never cross components."""
    import numpy as np
    import pandas as pd

    def aa(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"u": pd.array([], dtype="int64"),
                              "v": pd.array([], dtype="int64"),
                              "common_neighbors": pd.array(
                                  [], dtype="int64"),
                              "adamic_adar": pd.array(
                                  [], dtype="float64")})
        if len(pdf) == 0:
            return empty
        s = pdf["src"].to_numpy(dtype=np.int64)
        d = pdf["dst"].to_numpy(dtype=np.int64)
        ids = np.unique(np.concatenate([s, d]))
        n = len(ids)
        si = np.searchsorted(ids, s)
        di = np.searchsorted(ids, d)
        A = np.zeros((n, n), dtype=np.float32)
        A[si, di] = 1.0
        A[di, si] = 1.0
        np.fill_diagonal(A, 0.0)
        deg = A.sum(axis=1, dtype=np.int64).astype(np.float64)
        with np.errstate(divide="ignore"):
            wgt = np.where(deg >= 2,
                           1.0 / np.log(np.maximum(deg, 2)), 0.0)
        S = (A * wgt) @ A.T          # float64: A*wgt upcasts
        C = (A @ A.T).astype(np.int64)  # counts ≤ n < 2^24: f32 exact
        uu, vv = np.nonzero(np.triu((A == 0) & (C > 0), 1))
        if len(uu) == 0:
            return empty
        score = np.round(S[uu, vv], 6)
        order = np.lexsort((vv, uu, -score))[:top]
        return pd.DataFrame({"u": ids[uu[order]], "v": ids[vv[order]],
                             "common_neighbors": C[uu, vv][order],
                             "adamic_adar": score[order]})

    return dense_edges.groupBy("c").applyInPandas(
        aa, schema="u long, v long, common_neighbors long, "
                   "adamic_adar double")


def _lcc_join_triangles(sym: DataFrame) -> DataFrame:
    """Per-vertex triangle counts via the degree-ordered wedge join
    over a canonical edge set — split out of `local_clustering` (r14)
    so the per-component tier can run it on a RESTRICTED edge set.
    shuffle_hash on the |E|-scaled closer, same rationale as
    triangle_count: no broadcast build off a pre-materialization size
    estimate (the r13 x30 g24 failure)."""
    oriented = _degree_oriented_edges_sym(
        sym.select("src", "dst")).cache()
    wedges = _oriented_wedges(oriented)
    closer = oriented.select(F.col("a").alias("b"),
                             F.col("b").alias("c"))
    tri = (wedges.join(closer.hint("shuffle_hash"), ["b", "c"])
           .select("a", "b", "c"))
    per = (tri.select(F.col("a").alias("id"))
           .unionAll(tri.select(F.col("b").alias("id")))
           .unionAll(tri.select(F.col("c").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
           .localCheckpoint(eager=True))
    oriented.unpersist()
    return per


def _tri_per_vertex_comp_dense(dense_edges: DataFrame) -> DataFrame:
    """Per-component dense per-vertex triangle counts: one
    applyInPandas task per component, tri(v) = ½ Σ_u (A ∘ A²)[v, u] —
    emits (id, triangles) in original ids (components partition the
    vertex set, so the union across components needs no re-agg)."""
    import numpy as np
    import pandas as pd

    def tri(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) == 0:
            return pd.DataFrame({"id": pd.array([], dtype="int64"),
                                 "triangles": pd.array([],
                                                       dtype="int64")})
        s = pdf["src"].to_numpy(dtype=np.int64)
        d = pdf["dst"].to_numpy(dtype=np.int64)
        ids = np.unique(np.concatenate([s, d]))
        n = len(ids)
        si = np.searchsorted(ids, s)
        di = np.searchsorted(ids, d)
        A = np.zeros((n, n), dtype=np.float32)
        A[si, di] = 1.0
        A[di, si] = 1.0
        np.fill_diagonal(A, 0.0)
        T = A @ A.T
        # per-row float64 accumulation: entries are exact (< 2^24) but
        # a row SUM at n=4096 can pass float32's integer range
        t = ((A * T).sum(axis=1, dtype=np.float64) / 2.0).astype(
            np.int64)
        return pd.DataFrame({"id": ids, "triangles": t})

    return dense_edges.groupBy("c").applyInPandas(
        tri, schema="id long, triangles long")


def adamic_adar(graph: PropertyGraph, top: int = 100,
                dense_max_nodes: int = 8192,
                dist_max_nodes: int = 32768,
                hub_degree_threshold: int = 5000,
                hub_salt: int = 32) -> DataFrame:
    """Link prediction over the undirected graph: for every NON-adjacent
    vertex pair (u, v) with ≥1 common neighbor, the common-neighbor count
    and the Adamic-Adar score Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)); top-`top`
    pairs by (rounded score desc, u, v).

    One self-join on the middle vertex (the two-hop expansion), one
    degree join, one hash aggregate, one anti-join against existing
    edges, TakeOrderedAndProject for the cut.  The two-hop fanout is
    Σ_w deg(w)² — hub-dominated; on power-law graphs the handful of hub
    keys serialize the wedge shuffle, so wedge centers with
    deg(w) ≥ `hub_degree_threshold` are SALTED `hub_salt` ways: the
    (u,w) leg gets salt = hash(u) mod s, the (w,v) leg is replicated
    across all s salts, and the join key becomes (w, salt).  Row output
    is identical (every (u,w,v) wedge still meets exactly once — u's
    salt picks one of v's s replicas); the Σ deg(w_hub)² rows just land
    in s× more tasks instead of one straggler.  Extra cost is the
    replication, Σ_hub deg(w)·s rows — linear, not quadratic.
    (deg(w) ≥ 2 always holds for a common neighbor, so the 1/ln(deg)
    term is finite by construction.)

    Score ordering uses the ROUNDED score with the (u, v) tiebreaker so
    cross-engine float-sum noise can't reorder the cut (the l05/l06
    discipline).

    DENSE specializations (the g03 bit-matrix pattern), three tiers by
    DIMENSION CARDINALITY (sparse/offset id spaces are first remapped
    through the monotone `_dense_id_index`, so only the number of
    distinct vertices matters — not their values; NEGATIVE or huge ids
    no longer force the join path):

    - n ≤ dense_max_nodes: driver-local block-tiled BLAS triple-product
      S = (A·diag(1/ln deg))·Aᵀ over the OR-reduced bit-matrix — on a
      near-complete 1500-vertex graph the join path materializes
      Σ deg² ≈ 3.4e9 wedge rows (measured 72 s at sf0.1) vs ~2 s here;
    - n ≤ dist_max_nodes: the SAME tile matmuls fanned out as Spark
      tasks over the broadcast packed matrix (≤128 MB at 32768) —
      driver holds one packed matrix, FLOPs scale out with executors
      (`_adamic_adar_dense_dist`; the r11 scale study's g17@x10 blew a
      300 s budget on the join path at 15k near-complete vertices);
    - beyond: the salted wedge join below, the fully-distributed form
      for unbounded dimensions (Θ(Σ deg²) rows — intrinsic to exact
      all-pairs AA).

    Scores are identical across all paths under the 6dp rounding
    (float64 everywhere; path-equivalence pytest-pinned)."""
    # undirected_edges ends in a dropDuplicates shuffle and is consumed
    # by the bounds probe plus (on the join path) deg/left/right/
    # existing — materialize once instead of re-running the dedup per
    # consumer (the pagerank/triangle_count cache discipline)
    sym = graph.undirected_edges().localCheckpoint(eager=True)
    bounds = sym.agg(F.least(F.min("src"), F.min("dst")).alias("lo"),
                     F.greatest(F.max("src"), F.max("dst")).alias("hi")
                     ).first()
    n_nodes = int(bounds["hi"] if bounds["hi"] is not None else 0) + 1
    min_id = int(bounds["lo"] if bounds["lo"] is not None else 0)
    sum_d2 = None

    def _try_components():
        """Per-component dispatch (r14): dense kernels for components
        that fit, the restricted join for the rest; None when labeling
        failed or nothing routes dense.  Works on ORIGINAL ids — the
        kernels index locally via np.unique, no remap pass."""
        split = _component_split(sym, AA_COMP_CAP)
        if split is None or not split[2]:
            return None
        dense_edges, join_edges, _, has_join = split
        parts = [_adamic_adar_comp_dense(dense_edges, top)]
        if has_join:
            parts.append(_adamic_adar_join_scores(
                join_edges.localCheckpoint(eager=True),
                hub_degree_threshold, hub_salt))
        import functools as _ft
        allp = _ft.reduce(DataFrame.unionByName, parts)
        # pairs never span components, and each component emitted its
        # own top-`top` under the FINAL order — the global cut over
        # the union is exact
        return (allp.orderBy(F.col("adamic_adar").desc(), "u", "v")
                .limit(top))

    if 0 <= min_id and n_nodes <= dense_max_nodes:
        # already-dense id space: identity mapping, no remap pass
        return _adamic_adar_dense(sym, n_nodes, top)
    if bounds["hi"] is not None:
        # BOUNDED-dimension probe FIRST, identity ranges included:
        # CARDINALITY picks the tier, never the id range (r12, from the
        # r11 ADVICE — the old flow probed identity mid-size ranges only
        # on cost-gate REJECTION, so a sparsely populated [0, n) range
        # that the gate accepted paid tile FLOPs at n = max_id+1 even
        # when its cardinality fit the driver-dense tier, up to
        # (n/cardinality)³ extra work).  The probe is one bounded
        # distinct-collect — noise next to either dense tier.
        dense = _dense_id_index(sym, ["src", "dst"], dist_max_nodes)
        if dense is not None:
            map_df, ids = dense
            n = len(ids)
            # fully-populated identity range: remap is the identity —
            # skip the two map joins (keeps the returned plan identical
            # to the pre-probe flow on dense-id inputs)
            identity = ids[0] == 0 and ids[-1] == n - 1
            if n <= dense_max_nodes:
                if identity:
                    return _adamic_adar_dense(sym, n, top)
                return _adamic_adar_dense(_remap_edges(sym, map_df),
                                          n, top, id_map=ids)
            sum_d2 = _sum_deg_sq(sym)
            # component attempt BEFORE the global tiles (r14): a
            # block-diagonal mid-size graph (10 near-complete 1.5k
            # tenants at x10) passes the global tile gate and pays
            # global-n³ FLOPs when per-component kernels do ~100×
            # less; a single-component graph yields no dense comps
            # and falls through to tiles unchanged
            if sum_d2 > EDGE_COMP_ATTEMPT_MIN_WEDGES:
                comp = _try_components()
                if comp is not None:
                    return comp
            if _prefer_dense_tiles(sum_d2, n):
                if identity:
                    return _adamic_adar_dense_dist(sym, n, top)
                return _adamic_adar_dense_dist(_remap_edges(sym, map_df),
                                               n, top, id_map=ids)
    # component attempt before the wedge join (r14): when the join's
    # wedge-row bill is already expensive, the graph may be
    # block-diagonal (multi-tenant/multi-shard corpora — the x30
    # weak-scaling shape, where 30 near-complete 1.5k-vertex tenants
    # made the global join's Σd² = 4.1e10 rows "intrinsic" while each
    # BLOCK fits a dense kernel).  Labeling costs O(log diameter)
    # |E|-shuffle rounds — noise next to the Σd² it competes with, and
    # skipped entirely when the join is cheap.
    if sum_d2 is None:
        sum_d2 = _sum_deg_sq(sym)
        if sum_d2 > EDGE_COMP_ATTEMPT_MIN_WEDGES:
            comp = _try_components()
            if comp is not None:
                return comp
    return (_adamic_adar_join_scores(sym, hub_degree_threshold,
                                     hub_salt)
            .orderBy(F.col("adamic_adar").desc(), "u", "v")
            .limit(top))


def _adamic_adar_join_scores(sym: DataFrame, hub_degree_threshold: int,
                             hub_salt: int) -> DataFrame:
    """The fully-distributed salted wedge-join AA scorer over a
    canonical edge set (pre-limit: every non-adjacent pair with ≥1
    common neighbor) — split out of `adamic_adar` (r14) so the
    per-component tier can run it on a RESTRICTED edge set."""
    edges = sym.unionAll(sym.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst")))
    deg = edges.groupBy(F.col("src").alias("w")).agg(
        F.count(F.lit(1)).alias("d"))
    # hub salting: the hub set is tiny by definition (deg ≥ threshold ⇒
    # ≤ 2m/threshold hubs) — broadcast it to tag both legs scan-side
    hubs = F.broadcast(deg.filter(F.col("d") >= hub_degree_threshold)
                       .select("w", F.lit(True).alias("_hub")))
    left = (edges.select(F.col("src").alias("u"), F.col("dst").alias("w"))
            .join(hubs, "w", "left")
            .withColumn("_salt", F.when(
                F.col("_hub"),
                F.pmod(F.xxhash64("u"), F.lit(hub_salt)).cast("int"))
                .otherwise(F.lit(0)))
            .drop("_hub"))
    right = (edges.select(F.col("src").alias("w"), F.col("dst").alias("v"))
             .join(hubs, "w", "left")
             .withColumn("_salt", F.explode(F.when(
                 F.col("_hub"),
                 F.sequence(F.lit(0), F.lit(hub_salt - 1)))
                 .otherwise(F.array(F.lit(0)))))
             .drop("_hub"))
    # The wedge legs and the existing-edge side are |E|-scaled — NEVER
    # broadcastable on this path (it only runs above the dense-tier
    # caps, i.e. on big graphs by construction).  Catalyst's size
    # estimate for them comes from the compressed two-long edge scan
    # (or the checkpointed derivation) and lands UNDER the 64 MB
    # auto-broadcast threshold while the in-memory hash table is GBs:
    # the r13 x30 study watched the wedge join get planned as a
    # BroadcastHashJoin over a 43M-row build side and kill the 8g
    # driver ("Not enough memory to build and broadcast").  Explicit
    # strategy hints, not threshold tweaks: merge for the wedge legs
    # (sort spills; the join output streams into the partial agg) and
    # a per-partition shuffle_hash build for the anti-join.
    hop = (left.join(right.hint("merge"), ["w", "_salt"])
           .filter(F.col("u") < F.col("v")))
    # deg is |V|-sized — NOT explicitly broadcast (AQE may still choose
    # to, which is right while |V| fits); the wedge join above already
    # hashed on (w, salt), so this re-shuffles only the surviving
    # u<v half
    scores = (hop.join(deg, "w")
              .groupBy("u", "v")
              .agg(F.count(F.lit(1)).alias("common_neighbors"),
                   F.round(F.sum(F.lit(1.0) / F.log("d")), 6)
                   .alias("adamic_adar")))
    existing = sym.select(F.least("src", "dst").alias("u"),
                          F.greatest("src", "dst").alias("v")).distinct()
    return scores.join(existing.hint("shuffle_hash"), ["u", "v"],
                       "left_anti")


def _packed_adjacency(sym: DataFrame, n_nodes: int):
    """OR-reduced packed symmetric adjacency of a canonical edge set:
    one (n_nodes × ⌈n/8⌉)-byte uint8 matrix on the driver.

    Per-partition packed partials → in-Spark OR-reduce to ONE blob (the
    co_occurrence_triangles discipline) — the driver receives exactly
    one n²/8-byte matrix regardless of partition count (8 MB at n=8192,
    128 MB at the distributed-tile cap 32768)."""
    import numpy as np
    import pandas as pd

    n_bytes = (n_nodes + 7) // 8
    e = (sym.select("src", "dst").distinct()
         .select(F.least("src", "dst").alias("a"),
                 F.greatest("src", "dst").alias("b")).distinct())

    def partial_adj(batches):
        A = np.zeros((n_nodes, n_bytes), dtype=np.uint8)
        touched = False
        for pdf in batches:
            a = pdf["a"].to_numpy(dtype=np.int64)
            b = pdf["b"].to_numpy(dtype=np.int64)
            if len(a):
                # symmetric set-bit: A[a,b] and A[b,a]
                np.bitwise_or.at(A, (a, b // 8),
                                 (1 << (b % 8)).astype(np.uint8))
                np.bitwise_or.at(A, (b, a // 8),
                                 (1 << (a % 8)).astype(np.uint8))
                touched = True
        if touched:
            yield pd.DataFrame({"adj": [A.tobytes()]})
        else:
            yield pd.DataFrame({"adj": pd.array([], dtype=object)})

    def or_reduce(batches):
        acc = np.zeros(n_nodes * n_bytes, dtype=np.uint8)
        touched = False
        for pdf in batches:
            for blob in pdf["adj"]:
                acc |= np.frombuffer(blob, dtype=np.uint8)
                touched = True
        if touched:
            yield pd.DataFrame({"adj": [acc.tobytes()]})
        else:
            yield pd.DataFrame({"adj": pd.array([], dtype=object)})

    matrix_bytes = n_nodes * n_bytes
    k = max(1, min(32, (1 << 30) // max(1, matrix_bytes)))
    reduced = (e.coalesce(k).mapInPandas(partial_adj, schema="adj binary")
               .repartition(1)
               .mapInPandas(or_reduce, schema="adj binary").collect())
    A = np.zeros((n_nodes, n_bytes), dtype=np.uint8)
    for row in reduced:
        A |= np.frombuffer(row.adj, dtype=np.uint8).reshape(n_nodes, n_bytes)
    return A


def _adamic_adar_dense_dist(sym: DataFrame, n_nodes: int, top: int,
                            id_map: list[int] | None = None) -> DataFrame:
    """Adamic-Adar for MID-SIZE bounded dimensions (driver-dense cap <
    n ≤ 32768): the packed n²-bit adjacency is broadcast (≤128 MB) and
    the block-tiled matmuls FAN OUT AS SPARK TASKS — one task per
    upper-triangle tile pair, each doing the identical float64
    S = (Bu·diag(wgt))·Bvᵀ / C = Bu·Bvᵀ math as the driver-dense path
    and pruning to its own top-`top` under the final (rounded score
    desc, u, v) order (a tile's global winners are inside its local
    top).  The global cut is a Spark TakeOrderedAndProject over ≤
    top·(n/block)²/2 candidate rows.

    Why this exists: the driver-dense path does all (n/block)²/2 tile
    matmuls serially on the driver — ~13.6 TFLOP at n=15000, minutes of
    single-node BLAS and O(n²) driver RAM; the salted wedge join is
    Θ(Σ deg²) rows (intractable on near-complete graphs — the r11
    scale study's g17@x10 blew a 300 s budget).  Distributing the tiles
    keeps driver memory at ONE packed matrix, bounds each task at
    ~3·block·n·8 bytes of unpacked tile (block auto-sized to ≤256 MB),
    and scales the FLOPs out with executors.  Results are identical to
    both other paths: same float64 sums, same 6dp rounding, same
    tiebreaks (covered by the path-equivalence pytest)."""
    import numpy as np

    spark = sym.sparkSession
    A = _packed_adjacency(sym, n_nodes)
    # clear the diagonal in packed form (self-loops must not count as
    # common neighbors; the driver-dense path clears it after unpack)
    ii = np.arange(n_nodes, dtype=np.int64)
    A[ii, ii // 8] &= ~(1 << (ii % 8)).astype(np.uint8)
    lut = np.unpackbits(
        np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1).astype(np.uint8)  # uint8 LUT: an int64 LUT made lut[bytes] 8x the byte matrix (measured 214 us/pair -> see r11 PERF note)
    deg = lut[A].sum(axis=1).astype(np.float64)
    with np.errstate(divide="ignore"):
        wgt = np.where(deg >= 2, 1.0 / np.log(np.maximum(deg, 2)), 0.0)
    block = int(max(256, min(2048, (256 << 20) // max(1, 24 * n_nodes))))
    bc = spark.sparkContext.broadcast(
        (A.tobytes(), int(n_nodes), wgt.tobytes()))
    del A
    tiles = [(u0, v0) for u0 in range(0, n_nodes, block)
             for v0 in range(u0, n_nodes, block)]
    tiles_df = spark.createDataFrame(tiles, "u0 int, v0 int").repartition(
        max(len(tiles) // 2, spark.sparkContext.defaultParallelism))

    def tile_scores(batches):
        import pandas as pd
        blob, n, wbytes = bc.value
        nb = (n + 7) // 8
        Ap = np.frombuffer(blob, dtype=np.uint8).reshape(n, nb)
        w = np.frombuffer(wbytes, dtype=np.float64)
        for pdf in batches:
            for u0, v0 in zip(pdf["u0"], pdf["v0"]):
                u0, v0 = int(u0), int(v0)
                u1 = min(u0 + block, n)
                v1 = min(v0 + block, n)
                bits_u = np.unpackbits(Ap[u0:u1], axis=1,
                                       bitorder="little")[:, :n]
                bits_v = np.unpackbits(Ap[v0:v1], axis=1,
                                       bitorder="little")[:, :n]
                Bu = bits_u.astype(np.float64)
                Bv = bits_v.astype(np.float64)
                S = (Bu * w) @ Bv.T
                C = Bu @ Bv.T
                uu, vv = np.nonzero((bits_u[:, v0:v1] == 0) & (C > 0.5))
                gu, gv = uu + u0, vv + v0
                keep = gu < gv
                if not keep.any():
                    continue
                gu, gv = gu[keep], gv[keep]
                score = np.round(S[uu, vv][keep], 6)
                cnt = C[uu, vv][keep].astype(np.int64)
                order = np.lexsort((gv, gu, -score))[:top]
                yield pd.DataFrame({"u": gu[order], "v": gv[order],
                                    "common_neighbors": cnt[order],
                                    "adamic_adar": score[order]})

    cand = tiles_df.mapInPandas(
        tile_scores,
        schema="u long, v long, common_neighbors long, adamic_adar double")
    out = (cand.orderBy(F.col("adamic_adar").desc(), "u", "v").limit(top)
           .collect())  # ≤ top rows by construction
    if id_map is not None:
        out = [(int(id_map[r.u]), int(id_map[r.v]),
                r.common_neighbors, r.adamic_adar) for r in out]
    else:
        out = [(r.u, r.v, r.common_neighbors, r.adamic_adar) for r in out]
    return spark.createDataFrame(
        out, "u long, v long, common_neighbors long, adamic_adar double")


def _adamic_adar_dense(sym: DataFrame, n_nodes: int, top: int,
                       block: int = 1024,
                       id_map: list[int] | None = None) -> DataFrame:
    """Bounded-id-space Adamic-Adar: distinct edges → per-partition packed
    adjacency bitmatrix → in-Spark OR-reduce to ONE n²-bit matrix (the
    co_occurrence_triangles discipline — the driver receives exactly one
    n²/8-byte blob, ≈ 8 MB at the 8192-node cap) → BLOCK-TILED float64
    matmuls for common-neighbor counts and Σ 1/ln(deg) weights →
    top-`top` by (rounded score desc, u, v).  Exact same semantics and
    rounding as the join path.

    Driver memory, honestly: the unpacked 0/1 matrix is n² uint8 bytes
    (67 MB at n=8192) and each matmul tile is block×n float64 — three
    tiles live (Bu, Bu·w, Bv) plus two block² products, ≈ 220 MB peak at
    the cap with block=1024.  The tiling exists because the untiled form
    (S, C, Af each full n² float64) peaked at ~1.6 GB at n=8192 — 200×
    the old docstring's claim; candidates are pruned to `top` per tile
    pair under the final (rounded score desc, u, v) order, so the merge
    holds ≤ top·(n/block)²/2 rows."""
    import numpy as np

    spark = sym.sparkSession
    A = _packed_adjacency(sym, n_nodes)
    bits = np.unpackbits(A, axis=1, bitorder="little")[:, :n_nodes]
    del A
    np.fill_diagonal(bits, 0)
    deg = bits.sum(axis=1, dtype=np.int64).astype(np.float64)
    # a common neighbor has deg ≥ 2 by construction, so masking deg < 2
    # to weight 0 changes nothing (and avoids 1/ln(1))
    with np.errstate(divide="ignore"):
        wgt = np.where(deg >= 2, 1.0 / np.log(np.maximum(deg, 2)), 0.0)
    cand_u, cand_v, cand_c, cand_s = [], [], [], []
    for u0 in range(0, n_nodes, block):
        u1 = min(u0 + block, n_nodes)
        Bu = bits[u0:u1].astype(np.float64)
        BuW = Bu * wgt
        for v0 in range(u0, n_nodes, block):
            v1 = min(v0 + block, n_nodes)
            Bv = bits[v0:v1].astype(np.float64)
            # full inner product over all n middle vertices — identical
            # math to the untiled matmul, tiled only over output rows
            S = BuW @ Bv.T     # S[u,v] = Σ_{w∈N(u)∩N(v)} 1/ln deg(w)
            C = Bu @ Bv.T      # exact common-neighbor counts (< 2^53)
            uu, vv = np.nonzero((bits[u0:u1, v0:v1] == 0) & (C > 0.5))
            gu, gv = uu + u0, vv + v0
            keep = gu < gv
            if not keep.any():
                continue
            gu, gv = gu[keep], gv[keep]
            score = np.round(S[uu, vv][keep], 6)
            cnt = C[uu, vv][keep].astype(np.int64)
            # per-tile prune under the FINAL order — the global top can't
            # contain a row outside its own tile's top
            order = np.lexsort((gv, gu, -score))[:top]
            cand_u.append(gu[order])
            cand_v.append(gv[order])
            cand_c.append(cnt[order])
            cand_s.append(score[order])
    if not cand_u:
        return spark.createDataFrame(
            [], "u long, v long, common_neighbors long, adamic_adar double")
    u = np.concatenate(cand_u)
    v = np.concatenate(cand_v)
    cnt = np.concatenate(cand_c)
    score = np.concatenate(cand_s)
    order = np.lexsort((v, u, -score))[:top]
    # id_map: inverse of the monotone dense remap — the (score, u, v)
    # order computed on indices equals the order on original ids, so
    # mapping AFTER the cut is exact
    emit = (lambda x: int(id_map[x])) if id_map is not None else int
    rows = [(emit(u[i]), emit(v[i]), int(cnt[i]), float(score[i]))
            for i in order]
    return spark.createDataFrame(
        rows, "u long, v long, common_neighbors long, adamic_adar double")


def triangle_count(graph: PropertyGraph) -> int:
    """Global triangle count via DEGREE-ORDERED orientation.

    Each undirected edge is oriented from its lower-(degree, id) endpoint
    to the higher one; wedges are enumerated only from each vertex's
    out-neighborhood and closed by the oriented (b, c) edge.  Every
    triangle {x,y,z} with rank(x)<rank(y)<rank(z) is counted exactly once
    as the wedge x→y, x→z closed by y→z — no /3 correction.

    Why this orientation: wedge rows = Σ_a outdeg(a)·(outdeg(a)-1)/2 and
    the oriented out-degree is O(√m) for EVERY vertex (a vertex can only
    point at neighbors of ≥ its own degree), so total wedge rows are
    O(m^1.5) regardless of skew — on a star graph the naive enumeration
    materializes Θ(n²) wedges through the hub while this form emits zero
    (every leaf has out-degree 1).  This is the standard power-law
    defense; AQE skew-join splitting remains a second line, not the
    plan."""
    oriented = _degree_oriented_edges(graph).cache()
    wedges = _oriented_wedges(oriented)
    # the closing edge b—c has rank(b) < rank(c), so it is stored
    # oriented exactly as (b, c): a plain equi-join, no OR-of-directions.
    # shuffle_hash, not auto-broadcast: closer is |E|-scaled and the
    # un-materialized cache reports the child plan's (compressed-scan)
    # size estimate, so Catalyst will happily plan a GB-scale broadcast
    # build off a 40 MB estimate (the r13 x30 g24 death, same class as
    # the AA wedge join above); the per-partition hash build is bounded
    # by |E|/partitions and the huge wedge side streams un-sorted
    closer = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    n = wedges.join(closer.hint("shuffle_hash"), ["b", "c"]).count()
    oriented.unpersist()
    return n


def _degree_oriented_edges(graph: PropertyGraph) -> DataFrame:
    """Each canonical undirected edge oriented low→high by (degree, id)
    rank: (a, b, db) with rank(a) < rank(b), db = deg(b).  The oriented
    out-degree is O(√m) for every vertex — the skew bound triangle
    counting builds on."""
    return _degree_oriented_edges_sym(
        graph.undirected_edges().select("src", "dst"))


def _degree_oriented_edges_sym(e: DataFrame) -> DataFrame:
    """`_degree_oriented_edges` over an already-canonical (src, dst)
    edge DataFrame — the per-component tiers (r14) orient RESTRICTED
    edge sets, so the orientation can't insist on a PropertyGraph."""
    both = e.unionAll(e.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
    deg = both.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d"))
    ed = (e.join(deg.select(F.col("id").alias("src"),
                            F.col("d").alias("ds")), "src")
          .join(deg.select(F.col("id").alias("dst"),
                           F.col("d").alias("dd")), "dst"))
    fwd = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
    return ed.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("b"),
        F.when(fwd, F.col("dd")).otherwise(F.col("ds")).alias("db"),
    )


def _oriented_wedges(oriented: DataFrame) -> DataFrame:
    """Wedges (a; b, c) with rank(b) < rank(c) from the oriented edge
    set — Σ_a C(outdeg(a), 2) rows total, O(m^1.5) regardless of hub
    skew (vs Σ_w C(deg(w), 2) for the naive center-join)."""
    o1 = oriented.select("a", "b", "db")
    o2 = oriented.select(F.col("a").alias("a"), F.col("b").alias("c"),
                         F.col("db").alias("dc"))
    rank_lt = (F.col("db") < F.col("dc")) | (
        (F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    # both sides are |E|-scaled — never a broadcast build (the r13
    # x30 lesson: the pre-materialization cache estimate undersizes
    # the edge relation); per-partition hash build stays |E|/partitions
    return o1.join(o2.hint("shuffle_hash"), "a").filter(rank_lt)


# driver-side dense triangle count unpacks ~8·n² bytes (two float32
# matrices) — 2 GB at this cap; beyond it use the edge self-join
DENSE_TRI_MAX_NODES = 16384


def co_occurrence_triangles(incidence: DataFrame, group_col: str,
                            node_col: str, n_nodes: int) -> DataFrame:
    """Triangles of the co-occurrence projection of a bipartite incidence
    (nodes linked iff they share a group) — 1-row DF (triangles BIGINT).

    Enumerating projection edges via a per-group self-join is Θ(Σ_g
    |g|²) rows (67M at sf0.1 for supplier co-supply) before the distinct
    collapses them.  When the projected dimension is bounded (n_nodes ≤
    ~64k — dimension tables), the entire adjacency is an n²-BIT matrix
    (125KB for 1000 nodes), so instead:

      distinct(group, node) → groupBy group: node-set bitmask (numpy)
      → ≤ 4 partial adjacency matrices (coalesced partial stage)
      → one in-Spark OR-reduce task folds them into ONE matrix
      → the driver collects exactly one n²-bit matrix and counts
        triangles as sum((B@B)*B) on the upper triangle via BLAS.

    Distributed work is one shuffle of the distinct incidence.  Memory
    honestly: the PACKED matrix is n²/8 bytes, but the driver-side
    triangle count unpacks to two float32 matrices (~8·n² bytes peak —
    2 GB at n=16384), so the hard cap is n ≤ DENSE_TRI_MAX_NODES =
    16384 and the function REFUSES loudly beyond it (use the
    triangle_count edge self-join instead — loud beats a silent
    driver OOM; the old docstring's "0.5 GB at n≈64k" counted only the
    packed form).  The bounded partial/OR-reduce staging keeps every
    executor and the driver at ≤1 packed matrix regardless.
    """
    import numpy as np
    import pandas as pd

    if not 0 < n_nodes <= DENSE_TRI_MAX_NODES:
        raise ValueError(
            f"n_nodes={n_nodes} outside (0, {DENSE_TRI_MAX_NODES}]: the "
            f"dense bit-matrix triangle count unpacks ~8*n^2 bytes on "
            f"the driver; project the incidence and use triangle_count "
            f"(edge self-join) for larger dimensions")
    n_bytes = (n_nodes + 7) // 8
    spark = incidence.sparkSession

    # collect_set dedupes inside the aggregate → ONE shuffle instead of
    # distinct + groupBy (two); np.unique below tolerates any residue
    groups = (incidence
              .select(F.col(group_col).alias("g"), F.col(node_col).alias("n"))
              .groupBy("g").agg(F.collect_set("n").alias("members")))

    def partial_adj(batches):
        A = np.zeros((n_nodes, n_bytes), dtype=np.uint8)
        touched = False
        for pdf in batches:
            for members in pdf["members"]:
                idx = np.unique(np.asarray(members, dtype=np.int64))
                if len(idx) < 2:
                    continue
                mask = np.zeros(n_bytes, dtype=np.uint8)
                np.bitwise_or.at(mask, idx // 8,
                                 (1 << (idx % 8)).astype(np.uint8))
                A[idx] |= mask
                touched = True
        if touched:
            yield pd.DataFrame({"adj": [A.tobytes()]})
        else:
            yield pd.DataFrame({"adj": pd.array([], dtype=object)})

    def or_reduce(batches):
        acc = np.zeros(n_nodes * n_bytes, dtype=np.uint8)
        touched = False
        for pdf in batches:
            for blob in pdf["adj"]:
                acc |= np.frombuffer(blob, dtype=np.uint8)
                touched = True
        if touched:
            yield pd.DataFrame({"adj": [acc.tobytes()]})
        else:
            yield pd.DataFrame({"adj": pd.array([], dtype=object)})

    # partial count adapts to matrix size: parallelism when matrices are
    # small (n≈1000 → 125 KB, keep 32-way packing), bounded residency when
    # they're big (n≈64k → 0.5 GB, ≤2 partials so the reduce task and the
    # driver stay ~1 GB)
    matrix_bytes = n_nodes * n_bytes
    k = max(1, min(32, (1 << 30) // max(1, matrix_bytes)))
    partials = (groups.coalesce(k)
                .mapInPandas(partial_adj, schema="adj binary"))
    # repartition (shuffle), NOT coalesce: coalesce(1) is a narrow dep that
    # would merge all k partial_adj builds into the single reduce task,
    # serializing the partial stage.  Only ≤k adjacency blobs cross the
    # shuffle, so the exchange is cheap.
    reduced = (partials.repartition(1)
               .mapInPandas(or_reduce, schema="adj binary").collect())
    assert len(reduced) <= 1, "OR-reduce must yield exactly one matrix"

    A = np.zeros((n_nodes, n_bytes), dtype=np.uint8)
    for row in reduced:
        A |= np.frombuffer(row.adj, dtype=np.uint8).reshape(n_nodes, n_bytes)
    # bitorder must match the LSB-first packing above
    bits = np.unpackbits(A, axis=1, bitorder="little")[:, :n_nodes]
    np.fill_diagonal(bits, 0)
    B = np.triu(bits, 1).astype(np.float32)
    del bits
    # matmul ENTRIES are exact in float32 (common-neighbor counts ≤ n ≤
    # 2^24), but the SUM is not — a dense projection can hold >2^24
    # triangles, where float32 accumulation silently loses integers.
    # Accumulate in float64 (exact < 2^53); C computed then reused
    # in-place to keep the peak at ~2 float32 matrices.
    C = B @ B
    C *= B
    tri = int(C.sum(dtype=np.float64))
    return spark.createDataFrame([(tri,)], "triangles long")


def _bipartite_components(inc: DataFrame, max_iter: int = 15):
    """Node-side connected-component labels of a bipartite incidence
    (``g``, ``n`` columns): returns (n, c) with c = min node id in the
    node's component of the CO-OCCURRENCE projection, or None if the
    propagation did not PROVABLY converge in ``max_iter`` rounds (the
    caller must then keep its fully-distributed path — an unconverged
    labeling can SPLIT a true component and silently undercount
    whatever is computed per label).

    Reduced to `_edge_components` over star edges (min member of g, n),
    one per incidence row: each star spans its group, so two nodes
    connect exactly when a chain of groups links them.  The stars are
    checkpointed because every superstep joins them twice, and hinted
    merge as in `_component_split`: a checkpoint child's size estimate
    reads tiny, and the un-hinted first cut of the group loop was
    broadcast-BUILT at x30."""
    star = (inc.select(F.min("n").over(Window.partitionBy("g")).alias("src"),
                       F.col("n").alias("dst"))
            .localCheckpoint(eager=True))
    return _edge_components(star.hint("merge"), max_iter)


# per-COMPONENT dense cap for the grouped bit-matrix triangle count:
# one applyInPandas group peaks at ~9·n_c² bytes (unpacked uint8 bits +
# two float32 matrices) = 600 MB at 8192 — bounded per TASK, so a
# 4-core/8 GB executor holds ≤4 concurrent dense components (~2.4 GB)
# and the driver holds none at all (the counts reduce executor-side).
DENSE_TRI_COMP_CAP = 8192


def co_occurrence_triangles_by_component(
        incidence: DataFrame, group_col: str, node_col: str,
        comp_cap: int = DENSE_TRI_COMP_CAP,
        cc_max_iter: int = 15) -> DataFrame:
    """Co-occurrence triangle count for dimensions PAST the global
    dense cap: label connected components (triangles and co-occurrence
    pairs never span components — every group's members share one
    component by definition), then count each component with the
    machinery its own size/density deserves:

    - n_c ≤ ``comp_cap`` AND the r11-measured density gate prefers
      dense (`_prefer_dense_tiles` fed the component's Σ|g|²
      pair-enumeration row count): ONE applyInPandas task builds the
      component's n_c-bit adjacency from its per-group member lists and
      counts sum((B@B)∘B) upper-triangle — executor-side, never the
      driver, components in parallel;
    - everything else (oversize or sparse-enough-to-join components):
      ONE pair-enumeration + canonical triple join over the incidence
      restricted (semi-join) to those components — the same
      fully-distributed fallback the caller would have used globally.

    Why this exists (r13 x30, VERDICT task): a block-diagonal corpus —
    30 replicated sf0.1 tenants, 30k suppliers total, every BLOCK tiny
    — fails the global 16384 cap and fell to the 3e10-wedge-row join;
    per-component dispatch runs 30 independent 1000-node bit matrices
    instead.  That block-diagonal shape is what multi-tenant /
    multi-shard production data actually looks like at 100 TB.

    If the component labeling cannot prove convergence
    (`_bipartite_components` → None, pathological diameter), the whole
    input takes the join path — correct over fast.  NULL group/node
    ids never co-occur with anything (SQL join semantics) and are
    dropped with a loud one-time filter here, matching the oracle's
    equi-join behavior."""
    import numpy as np
    import pandas as pd

    spark = incidence.sparkSession

    inc = (incidence
           .select(F.col(group_col).alias("g"), F.col(node_col).alias("n"))
           .filter(F.col("g").isNotNull() & F.col("n").isNotNull())
           .distinct()
           .localCheckpoint(eager=True))  # consumed by CC + both tiers

    labels = _bipartite_components(inc, max_iter=cc_max_iter)
    if labels is None:
        dense_members = None
        join_inc = inc
    else:
        sizes = labels.groupBy("c").agg(F.count(F.lit(1)).alias("n_c"))
        # density gate per component: Σ|g∩comp|² is the component's
        # pair-enumeration row count (the join path's work floor)
        gsz = (inc.hint("merge").join(labels, "n").groupBy("c", "g")
               .agg(F.count(F.lit(1)).alias("k")))
        d2 = gsz.groupBy("c").agg(
            F.sum(F.col("k") * F.col("k")).alias("d2"))
        routed = (sizes.join(d2, "c")
                  .withColumn("dense",
                              (F.col("n_c") <= comp_cap)
                              & (F.col("d2") * 1000
                                 > F.col("n_c") ** 3)))
        lbl = labels.join(routed.select("c", "n_c", "dense"), "c")
        dense_lbl = lbl.filter(F.col("dense"))
        join_lbl = lbl.filter(~F.col("dense"))
        # per-component dense index: relabel-invariant count, so any
        # bijection works; row_number keeps it deterministic
        widx = Window.partitionBy("c").orderBy("n")
        dense_idx = dense_lbl.withColumn(
            "idx", F.row_number().over(widx) - 1)
        dense_members = (inc.hint("merge").join(dense_idx, "n")
                         .groupBy("c", "g")
                         .agg(F.collect_set("idx").alias("members"),
                              F.max("n_c").alias("n_c")))
        join_inc = (inc.hint("merge")
                    .join(join_lbl.select("n"), "n", "left_semi"))

    parts = []
    if dense_members is not None:
        def comp_tri(pdf: "pd.DataFrame") -> "pd.DataFrame":
            if len(pdf) == 0:
                return pd.DataFrame({"t": pd.array([], dtype="int64")})
            n_c = int(pdf["n_c"].iloc[0])
            n_bytes = (n_c + 7) // 8
            A = np.zeros((n_c, n_bytes), dtype=np.uint8)
            for members in pdf["members"]:
                idx = np.unique(np.asarray(members, dtype=np.int64))
                if len(idx) < 2:
                    continue
                mask = np.zeros(n_bytes, dtype=np.uint8)
                np.bitwise_or.at(mask, idx // 8,
                                 (1 << (idx % 8)).astype(np.uint8))
                A[idx] |= mask
            bits = np.unpackbits(A, axis=1, bitorder="little")[:, :n_c]
            np.fill_diagonal(bits, 0)
            B = np.triu(bits, 1).astype(np.float32)
            del bits
            C = B @ B
            C *= B
            # n_c ≤ 8192 ⇒ count ≤ n³/6 < 2^53: float64 sum is exact
            return pd.DataFrame({"t": [int(C.sum(dtype=np.float64))]})

        parts.append(dense_members.groupBy("c")
                     .applyInPandas(comp_tri, schema="t long"))
    # the join tier (unconverged, oversize, or sparse components):
    # identical shape to the global fallback, restricted incidence
    sp = join_inc.select("g", "n")
    pairs = (sp.alias("a").join(sp.alias("b").hint("merge"), "g")
             .filter(F.col("a.n") < F.col("b.n"))
             .select(F.col("a.n").alias("src"),
                     F.col("b.n").alias("dst")).distinct()
             .localCheckpoint(eager=True))
    tri_join = (pairs.alias("e1")
                .join(pairs.alias("e2").hint("shuffle_hash"),
                      F.col("e1.dst") == F.col("e2.src"))
                .join(pairs.alias("e3").hint("shuffle_hash"),
                      (F.col("e3.src") == F.col("e1.src"))
                      & (F.col("e3.dst") == F.col("e2.dst")))
                .agg(F.count(F.lit(1)).alias("t")))
    parts.append(tri_join)
    import functools as _ft
    allp = _ft.reduce(DataFrame.unionByName, parts)
    return allp.agg(F.coalesce(F.sum("t"), F.lit(0))
                    .cast("long").alias("triangles"))


# |V| at or below which hits runs its broadcast-state half-steps (see
# the hits docstring for the measured crossover)
HITS_BCAST_V = 1_000_000


def hits(graph: PropertyGraph, max_iter: int = 8) -> DataFrame:
    """HITS hubs/authorities over the directed edges; returns
    (id, hub, authority) after `max_iter` synchronous UNNORMALIZED
    updates and one final L1 normalization:

        a_{t+1}(v) = Σ_{u→v} h_t(u)
        h_{t+1}(v) = Σ_{v→u} a_{t+1}(u)
        finally  a ← a / Σ a,  h ← h / Σ h

    Same substrate discipline as pagerank: edges cached pre-partitioned
    on the join key.
    Unlike pagerank there is NO per-iteration checkpoint: the loop is a
    single linear chain (each intermediate consumed exactly once), so
    only the final ``a`` (consumed twice) is checkpointed — plus a
    lineage-truncation checkpoint every 10 iterations so a large
    caller-supplied ``max_iter`` can't grow the Catalyst plan without
    bound.  A FIXED iteration count makes the recurrence bounded —
    SQL-oracle-able by unrolling (the g06 pattern).

    Normalization is applied ONCE at the end, not per half-step: the
    HITS recurrence is LINEAR, so each per-step L1 normalization is a
    pure scalar rescale that cancels in the final normalized vectors —
    deferring it removes 2·max_iter normalizer aggregate jobs and
    2·max_iter broadcast cross joins from the loop (measured: the old
    per-half-step form was the slowest query in the registry at 13.9 s
    cold / sf0.1).  Conditioning: unnormalized values grow by at most a
    (sum-of-degrees)-ish factor per half-step — ≤ ~1e6^16 ≈ 1e96 on any
    plausible fixture, far inside double range, and relative float
    error is unaffected by the deferred scalar divides.

    BROADCAST-STATE mode (r15, guide §2.4 "remove shuffles outright"):
    when |V| is small enough to broadcast (gate below), each half-step
    joins the |V|-row state INTO the orientation that is ALREADY
    partitioned by the half-step's GROUP key — authorities from the
    dst-partitioned orientation, hubs from the src-partitioned one —
    so the broadcast join preserves the edge partitioning and the
    group-by reuses it: ZERO |E|-scaled exchanges per iteration (the
    shuffle form moves the joined message stream twice per iteration,
    2·max_iter |E|-shuffles total).  Each half-step's |V|-row
    aggregate is eagerly checkpointed so at most two broadcast
    relations are live at once (driver/executor memory stays bounded
    for any max_iter).  The gate is |V| ≤ HITS_BCAST_V
    (1M rows ≈ ~32 MB built relation): per-iteration broadcast
    traffic is |V|·n_executors bytes vs the shuffle form's |E| bytes,
    so broadcast wins only while the relation is decisively cheap —
    x30-MEASURED at |V|=5.58M the broadcast form read 97.7 s vs the
    shuffle form's 85.6 s and OOM-killed an 8 GiB heap on a rerun
    (16 multi-hundred-MB broadcast builds + checkpoint accumulation),
    so the default sits an order of magnitude below that death line; a
    data-shape trade gated on cardinality (never on id values — the
    r11 lesson), NOT a local[32] constant.  Both modes compute
    identical sums up to FP summation order (verified row-identical
    after the registered round(5) at sf0.001/0.01/0.1)."""
    width = graph.edges.sparkSession.sparkContext.defaultParallelism
    edges = graph.edges.select("src", "dst").repartition(width, "src").cache()
    # second cached orientation, partitioned on dst: the hub half-step
    # joins on dst, and without this the whole edge set re-shuffles
    # EVERY iteration (8× at the default) — the classic CSR/CSC dual
    # adjacency, paid once instead of per-iteration network
    edges_dst = edges.repartition(width, "dst").cache()
    # The loop carries only the MESSAGE AGGREGATES, never the joined-in
    # full vertex state: a vertex absent from `h` has hub 0 and
    # contributes nothing through the inner message join, so joining
    # zeros back into a |V|-row state every half-step (the old form)
    # bought nothing and cost 2·max_iter join-backs + 2·max_iter eager
    # checkpoint barriers.  In THIS form each intermediate is consumed
    # exactly once (a_t feeds only h_t, h_t feeds only a_{t+1}) — a
    # single linear chain Spark executes as ONE job of 2·max_iter
    # pipelined shuffle stages, so no recompute cascade exists and no
    # per-step materialization is needed (the old per-half-step
    # checkpoint was guarding the state's double consumption, which
    # this shape eliminates; measured 16.5 s → ~7 s warm at sf0.1).
    # Only the LAST a is consumed twice (inside h_T's lineage and by
    # the final join-back), so exactly that one is checkpointed.
    v = graph.vertices.select("id")
    use_bcast = v.count() <= HITS_BCAST_V
    h = v.select("id", F.lit(1.0).alias("hub"))
    a = v.select("id", F.lit(1.0).alias("authority"))
    for t in range(max_iter):
        if use_bcast:
            # broadcast-state half-steps (docstring): the state joins
            # into the orientation already partitioned by the GROUP
            # key, so neither the join nor the aggregate exchanges the
            # |E|-scaled message stream.  Eager checkpoints bound live
            # broadcast relations to two.
            a = (edges_dst
                 .join(F.broadcast(h.select(F.col("id").alias("src"),
                                            "hub")), "src")
                 .groupBy(F.col("dst").alias("id"))
                 .agg(F.sum("hub").alias("authority")))
            a = a.localCheckpoint(eager=True)
            h = (edges
                 .join(F.broadcast(a.select(F.col("id").alias("dst"),
                                            "authority")), "dst")
                 .groupBy(F.col("src").alias("id"))
                 .agg(F.sum("authority").alias("hub")))
            if t != max_iter - 1:
                h = h.localCheckpoint(eager=True)
            continue
        # authority from hubs: messages flow src→dst, keyed on src
        a = (edges.join(h.select(F.col("id").alias("src"), "hub"), "src")
             .groupBy(F.col("dst").alias("id"))
             .agg(F.sum("hub").alias("authority")))
        if t == max_iter - 1:
            a = a.localCheckpoint(eager=True)
        # hubs from authorities: messages flow dst→src, keyed on dst
        h = (edges_dst
             .join(a.select(F.col("id").alias("dst"), "authority"), "dst")
             .groupBy(F.col("src").alias("id"))
             .agg(F.sum("authority").alias("hub")))
        # plan-size bound for large caller-supplied max_iter: the
        # linear chain needs no correctness checkpoint, but Catalyst
        # plan/lineage depth grows with every iteration — truncate
        # every 10 so max_iter=100 stays analyzable (no-op at the
        # default 8; the barrier cost only triggers when depth would)
        if (t + 1) % 10 == 0 and t != max_iter - 1:
            h = h.localCheckpoint(eager=True)
    state = (v.join(a, "id", "left").join(h, "id", "left")
             .select("id",
                     F.coalesce("hub", F.lit(0.0)).alias("hub"),
                     F.coalesce("authority", F.lit(0.0))
                     .alias("authority"))
             .localCheckpoint(eager=True))
    totals = state.agg(F.sum("hub").alias("ht"),
                       F.sum("authority").alias("at"))
    # zero-total guard: an edgeless graph zeroes every score after one
    # iteration; dividing would emit all-NULL (or raise under ANSI) —
    # define the result as all-zero scores instead
    norm_h = F.when(F.col("ht") > 0,
                    F.col("hub") / F.col("ht")).otherwise(F.lit(0.0))
    norm_a = F.when(F.col("at") > 0,
                    F.col("authority") / F.col("at")).otherwise(F.lit(0.0))
    state = (state.crossJoin(F.broadcast(totals))
             .select("id", norm_h.alias("hub"),
                     norm_a.alias("authority"))
             .localCheckpoint(eager=True))
    edges.unpersist()
    edges_dst.unpersist()
    return state.select("id", "hub", "authority")


def personalized_pagerank(graph: PropertyGraph, source_ids: list[int],
                          max_iter: int = 6,
                          damping: float = 0.85) -> DataFrame:
    """Personalized PageRank: teleport restricted to `source_ids`;
    returns (id, rank) with sum(rank) == 1.

        r_{t+1}(v) = (1-d)·p(v) + d·D_t·p(v) + d·Σ_{u→v} r_t(u)/outdeg(u)
        p(v) = 1/|S| for v ∈ S else 0;  D_t = Σ_{outdeg(u)=0} r_t(u)

    Dangling mass teleports back to the sources (not uniformly), which is
    what keeps the total mass 1 and the scores interpretable as visit
    probabilities of an α-restarting random surfer — the standard
    "related entities" primitive.  Same substrate discipline as
    `pagerank`; a FIXED superstep count keeps the recurrence
    SQL-oracle-able by unrolling (the g06 pattern)."""
    # dedupe BEFORE computing p0: isin() dedupes implicitly, so a
    # duplicated source id would silently scale total teleport mass to
    # distinct/len and break the documented sum(rank) == 1 invariant.
    # (A source id absent from graph.vertices still breaks it — that
    # membership check costs a vertex-table pass, so it stays the
    # caller's contract, stated here loudly.)
    source_ids = sorted(set(source_ids))
    p0 = 1.0 / len(source_ids)
    v = graph.vertices.select("id")
    deg = graph.degrees("out").withColumnRenamed("degree", "out_deg")
    src_set = F.col("id").isin(source_ids)
    state = (v.join(deg, "id", "left")
              .fillna(0, subset=["out_deg"])
              .withColumn("p", F.when(src_set, F.lit(p0)).otherwise(F.lit(0.0)))
              .withColumn("rank", F.col("p"))
              .localCheckpoint(eager=True))
    width = graph.edges.sparkSession.sparkContext.defaultParallelism
    edges = graph.edges.select("src", "dst").repartition(width, "src").cache()

    def step(st: DataFrame) -> DataFrame:
        contrib = (st.filter((F.col("out_deg") > 0) & (F.col("rank") != 0.0))
                     .select(F.col("id").alias("src"),
                             (F.col("rank") / F.col("out_deg")).alias("msg")))
        agg = (edges.join(contrib, "src")
               .groupBy(F.col("dst").alias("id"))
               .agg(F.sum("msg").alias("msg_sum")))
        dang = (st.filter(F.col("out_deg") == 0)
                  .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang")))
        return (st.select("id", "out_deg", "p")
                  .join(agg, "id", "left")
                  .fillna(0.0, subset=["msg_sum"])
                  .crossJoin(F.broadcast(dang))
                  .withColumn("rank",
                              (F.lit(1.0 - damping)
                               + F.lit(damping) * F.col("_dang")) * F.col("p")
                              + F.lit(damping) * F.col("msg_sum"))
                  .select("id", "rank", "out_deg", "p"))

    out, _ = pregel(state, step, max_iter, checkpoint_interval=2)
    edges.unpersist()
    return out.select("id", "rank")


def seeded_random_walks(graph: PropertyGraph,
                        source_ids: "list[int] | DataFrame",
                        steps: int, seed: str = "w") -> DataFrame:
    """Deterministic seeded random walks (the node2vec/DeepWalk sampling
    primitive): one walker per source; at step t the walker at u moves to

        argmin_{v ∈ N_out(u)} md5(seed:walk_id:t:v)

    i.e. the next hop is a pure hash function of (walk, step, candidate)
    — re-runs, re-shards and both engines pick the identical neighbor,
    so the walk is exactly reproducible (and SQL-oracle-able by
    unrolling one argmin-join per step).  Walkers at sinks terminate.
    Returns the full trace (walk_id, step, vertex), step 0 = source.

    Scale shape: each step is one equi-join frontier × edges on src plus
    a per-walk top-1 window — frontier rows = #walks, never the edge
    set; localCheckpoint per step keeps lineage flat.

    `source_ids` may be a single-column DataFrame of vertex ids — the
    walk sources then stay IN-PLAN (a semi-join against the vertex set;
    no `.collect()` on the driver), which is the form any corpus-scale
    caller must use: a literal id list grows with the corpus and turns
    the driver into the bottleneck."""
    spark = graph.edges.sparkSession
    edges = (graph.edges.select("src", "dst")
             .repartition(spark.sparkContext.defaultParallelism, "src")
             .cache())
    if isinstance(source_ids, DataFrame):
        srcs = source_ids.select(
            F.col(source_ids.columns[0]).alias("id"))
        sources = graph.vertices.join(srcs, "id", "semi")
    else:
        sources = graph.vertices.filter(F.col("id").isin(source_ids))
    cur = sources.select(F.col("id").alias("walk_id"),
                         F.col("id").alias("cur"))
    trace = cur.select("walk_id", F.lit(0).alias("step"),
                       F.col("cur").alias("vertex"))
    for t in range(1, steps + 1):
        cand = (cur.join(edges, cur.cur == edges.src)
                .select("walk_id", "dst",
                        F.md5(F.concat_ws(
                            ":", F.lit(seed),
                            F.col("walk_id").cast("string"),
                            F.lit(str(t)),
                            F.col("dst").cast("string"))).alias("score")))
        w = Window.partitionBy("walk_id").orderBy("score", "dst")
        cur = (cand.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1)
               .select("walk_id", F.col("dst").alias("cur"))
               .localCheckpoint(eager=True))
        trace = trace.unionAll(cur.select(
            "walk_id", F.lit(t).alias("step"),
            F.col("cur").alias("vertex")))
    edges.unpersist()
    return trace


def harmonic_centrality(graph: PropertyGraph,
                        sources: "list[int] | DataFrame",
                        max_hops: int = 3,
                        directed: bool = True) -> DataFrame:
    """Bounded-horizon harmonic centrality per seed vertex:

        C_H(s) = Σ_{v ≠ s, d(s,v) ≤ max_hops} 1 / d(s,v)

    via SOURCE-LABELED multi-source BFS — the frontier carries
    (source, vertex) pairs, so ONE iteration per hop serves every seed
    simultaneously (k seeds never means k BFS runs).  The bounded
    horizon is the standard scale trade for centrality on large graphs:
    exact all-pairs distances are Θ(n·m), a fixed horizon keeps each
    hop one equi-join whose row count is Σ_s |ball(s, h)|.

    `sources` may be a single-column DataFrame (in-plan, no driver
    collect — the g20 discipline).  Returns (id, harmonic) with the
    score rounded to 6dp (sum order is engine-dependent; the rounding
    grid absorbs ulp noise, the l05/l06 discipline)."""
    spark = graph.edges.sparkSession
    edges = graph.edges.select("src", "dst")
    if not directed:
        edges = edges.unionAll(edges.select(F.col("dst").alias("src"),
                                            F.col("src").alias("dst")))
    edges = edges.cache()
    if isinstance(sources, DataFrame):
        srcs = sources.select(F.col(sources.columns[0]).alias("id"))
        seed = graph.vertices.join(srcs, "id", "semi")
    else:
        seed = graph.vertices.filter(F.col("id").isin(list(sources)))
    visited = seed.select(F.col("id").alias("source"),
                          F.col("id").alias("vid"),
                          F.lit(0).alias("distance"))
    frontier = visited
    for hop in range(1, max_hops + 1):
        # lazy checkpoint + count probe = ONE job per hop (the
        # bfs_distances/SCC r9 discipline; count also fully
        # materializes the checkpoint, which isEmpty's limit(1) would
        # not — partially-checkpointed frontiers recompute later)
        nxt = (frontier.join(edges, frontier.vid == edges.src)
               .select("source", F.col("dst").alias("vid"))
               .distinct()
               .join(visited, ["source", "vid"], "left_anti")
               .withColumn("distance", F.lit(hop))
               .localCheckpoint(eager=False))
        if nxt.count() == 0:
            break
        # only the FRONTIER is materialized per hop; `visited` stays a
        # lazy union of already-checkpointed frontiers (depth ≤ max_hops)
        # — re-materializing the whole visited set every hop writes
        # Σ_h |ball(s, h)| rows again per hop for no lineage benefit
        # (r5 profiling: the variants differ <0.3 s at sf0.1; this one
        # is strictly less work and less memory churn)
        visited = visited.unionAll(nxt)
        frontier = nxt
    edges.unpersist()
    # try_divide, not /: when every seed's ball is empty, `visited` is
    # just the seed frame whose distance is the LITERAL 0, and ANSI
    # constant folding evaluates 1.0/0 at PLAN time — before the
    # distance > 0 filter can prune the rows (found by the randomized
    # property test on a self-loop-only graph).  For the surviving
    # rows (distance ≥ 1) the two forms are identical.
    return (visited.filter(F.col("distance") > 0)
            .groupBy(F.col("source").alias("id"))
            .agg(F.round(F.sum(F.try_divide(F.lit(1.0),
                                            F.col("distance"))), 6)
                 .alias("harmonic")))


def biased_random_walks(graph: PropertyGraph,
                        sources: "list[int] | DataFrame",
                        steps: int, p: float = 1.0, q: float = 1.0,
                        seed: str = "n2v") -> DataFrame:
    """node2vec SECOND-ORDER biased walks, deterministic analog of the
    (p, q) sampler: at step t a walker with previous vertex `prev`
    sitting at `cur` weights each candidate v ∈ N_out(cur)

        w(v) = 1/p  if v = prev            (return)
               1    if edge prev→v exists  (triangle / BFS-ish move)
               1/q  otherwise              (outward / DFS-ish move)

    and picks by the Efraimidis–Spirakis exponential race: the winner is
    argmin_v  -ln(u_v) / w(v)  with u_v = md5(seed:walk:t:v) mapped to
    (0, 1] — a weighted random choice that is a PURE HASH FUNCTION of
    (walk, step, candidate), so re-runs and engines agree exactly (the
    seeded_random_walks discipline; p=q=1 degenerates to a uniform pick,
    though via the race rather than the raw-md5 argmin).

    Scale shape: per step, one frontier × edges equi-join for
    candidates, one LEFT join against edges on (prev, v) to classify
    the triangle case, one per-walk top-1 window — frontier rows =
    #walks.  Returns (walk_id, step, vertex); step 0 = source."""
    spark = graph.edges.sparkSession
    edges = (graph.edges.select("src", "dst")
             .repartition(spark.sparkContext.defaultParallelism, "src")
             .cache())
    if isinstance(sources, DataFrame):
        srcs = sources.select(F.col(sources.columns[0]).alias("id"))
        seed_df = graph.vertices.join(srcs, "id", "semi")
    else:
        seed_df = graph.vertices.filter(F.col("id").isin(list(sources)))
    cur = seed_df.select(F.col("id").alias("walk_id"),
                         F.lit(None).cast("long").alias("prev"),
                         F.col("id").alias("cur"))
    trace = cur.select("walk_id", F.lit(0).alias("step"),
                       F.col("cur").alias("vertex"))
    nbr = edges.select(F.col("src").alias("prev"),
                       F.col("dst").alias("cand"),
                       F.lit(True).alias("_tri"))
    for t in range(1, steps + 1):
        cand = (cur.join(edges, cur.cur == edges.src)
                .select("walk_id", "prev", "cur",
                        F.col("dst").alias("cand")))
        cand = cand.join(nbr, ["prev", "cand"], "left")
        w = (F.when(F.col("cand") == F.col("prev"), F.lit(1.0 / p))
             .when(F.col("_tri"), F.lit(1.0))
             .otherwise(F.lit(1.0 / q)))
        # u ∈ (0, 1]: 32 md5 hex chars → take 8 → uniform 32-bit, +1
        # over 2^32 keeps ln finite; identical arithmetic in SQL:
        # (conv(hex,16,10)+1)/2^32
        u = ((F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.lit(seed), F.col("walk_id").cast("string"),
                F.lit(str(t)), F.col("cand").cast("string"))), 1, 8),
                16, 10).cast("double") + 1.0) / F.lit(4294967296.0))
        key = -F.log(u) / w
        win = Window.partitionBy("walk_id").orderBy(
            F.col("race_key"), "cand")
        cur = (cand.withColumn("race_key", F.round(key, 12))
               .withColumn("rn", F.row_number().over(win))
               .filter(F.col("rn") == 1)
               .select("walk_id", F.col("cur").alias("prev"),
                       F.col("cand").alias("cur"))
               .localCheckpoint(eager=True))
        trace = trace.unionAll(cur.select(
            "walk_id", F.lit(t).alias("step"),
            F.col("cur").alias("vertex")))
    edges.unpersist()
    return trace


# rounds the SCC loops chain lazily between kernel checkpoints: one
# Spark job per batch instead of one per round (PERF.md round 9)
SCC_ROUNDS_PER_CHECKPOINT = 4


def strongly_connected_components(edges: DataFrame, max_phases: int = 25,
                                  max_iter: int = 50) -> DataFrame:
    """Strongly connected components of a directed edge set; returns
    (id, component) where component == the MAX vertex id in the SCC.

    Orzan-style coloring (FW-BW), the standard vertex-centric SCC for
    bulk-synchronous engines — Tarjan's DFS stack is inherently
    sequential and cannot be expressed as keyed shuffles.  Each phase
    over the remaining subgraph:

      1. color fixpoint: color(v) = max id that REACHES v (max-id
         propagation along the edges, O(diameter) rounds).  EVERY color
         class is processed in the same phase — root r (color(r) == r)
         is reached by nothing higher, and all SCC members share r's
         color;
      2. SCC(r) = {v : color(v) = r and v reaches r}: a backward
         reachability fixpoint from all roots at once over the
         SAME-COLOR edge subgraph (any intermediate w on a v→r path
         with color(v)=r is reached by r and reaches r, hence itself
         colored r — membership propagation never needs to leave the
         color class).  When extracted, r is both reached by and
         reaches every member, so component id = r = the max member
         id — the intrinsic value the oracle recomputes;
      3. emit (id, component=r), peel the members, repeat on the
         leftovers (colored-but-not-mutual vertices).

    The forward direction matters: vertices whose every ancestor has a
    smaller id are their own roots, so increasing DAG chains (the
    cross-band referral edges of the query surface) extract in ONE
    phase instead of one phase per chain link.

    Job economy (the r9 restructure — adjudicated 13.85 → 10.14 s
    warm best-of-3 at sf0.1 in PERF.md, where the per-step cost is
    pure job-scheduling overhead on a broadcast-sized graph): both
    inner loops run on the pregel kernel with
    `SCC_ROUNDS_PER_CHECKPOINT` rounds chained LAZILY between eager
    checkpoints — one Spark job per batch of rounds instead of one per
    round.  That needs single-consumption steps:

    - SELF-LOOP AUGMENTATION: appending (v, v) for every remaining
      vertex turns "keep my value ∪ take neighbor messages" into ONE
      join + groupBy-max over the augmented edges — the state is
      consumed exactly once per round, so lazily-chained rounds stay a
      linear plan (a state consumed twice per round would double the
      subplan per level: 2^K duplicated work);
    - CONVERGENCE FROM THE SAME AGGREGATE: the self-loop message
      carries each vertex's previous color (previous membership, in
      the backward loop), so the step's own groupBy yields the
      `changed` flag the kernel sums on its checkpoint job — no probe
      job, no old-vs-new join.  Pointer jumping (color ←
      color(color(v)), sound because color(v) reaches v) is applied on
      the first round of each batch, whose input is the kernel's
      checkpoint — a double consumption of a CHECKPOINTED frame costs
      one cheap re-read, not a recompute.  `changed` compares against
      the color the step was GIVEN, so a jump is progress like any
      other change and a fixpoint is never declared over un-jumped
      colors.

    The backward loop joins the REACHED SET (not a frontier) against
    the same-color edge subgraph built ONCE per phase (two equi-joins
    against the final colors) and REPARTITIONED ON dst: the per-hop
    join keys on dst, so the edge side stays in place and only the
    reached side shuffles.  DENSE-FORM TRADE-OFF: the self-loop
    augmentation that buys single-consumption lazy batching re-joins
    the FULL reached set every round, so a long-cycle SCC pays
    O(hops × |E_same|) total backward work where a
    frontier-minus-visited form pays Σ|frontier|.  The dense form is
    kept anyway: E_same is the SINGLE COLOR CLASS being extracted, and
    both forms scan it once per hop (the dominant, identical term).
    MEASURED (PERF.md "g23 backward-mode crossover A/B"): dense beat a
    frontier BFS (per-hop anti-join against the visited set, ~3 driver
    barriers per hop) at every scale measured — 1.6× at a
    205k-edge/32-hop thick ring, 1.8× at 12M edges/48 hops — so the
    dense form is the only one.

    All state is (id, color) pairs or bare ids; every join is an
    equi-join keyed on vertex id.  At 100 TB each lazy round is still
    one keyed shuffle of ≤16-byte rows; batching trades ≤K-1 rounds of
    no-op overshoot work after the fixpoint against K× fewer driver
    barriers.  `max_iter` bounds PROGRESS rounds in each loop: a
    fixpoint reached by round max_iter is confirmed by one extra round
    (the kernel's rule) before the loud non-convergence path fires.
    """
    spark = edges.sparkSession
    width = spark.sparkContext.defaultParallelism
    # the vertex UNIVERSE comes from the raw edge endpoints (self-loops
    # included) — a vertex whose only edge is (v, v) is a legitimate
    # singleton SCC and must appear in the output; only the TRAVERSAL
    # edge set drops self-loops (they never change reachability, and
    # the augmentation below re-adds exactly one per vertex anyway)
    raw = edges.select("src", "dst")
    e_cur = (raw.filter(F.col("src") != F.col("dst")).distinct()
             .localCheckpoint(eager=False))
    remaining = (raw.select(F.col("src").alias("id"))
                 .unionAll(raw.select(F.col("dst").alias("id")))
                 .distinct().localCheckpoint(eager=True))
    done: list[DataFrame] = []
    for _phase in range(max_phases):
        self_loops = remaining.select(F.col("id").alias("src"),
                                      F.col("id").alias("dst"))
        # src-oriented augmented edges for the forward color loop (the
        # per-round join keys on src); lazy — the first checkpoint job
        # materializes it, and every later round re-reads it in place
        e_aug = (e_cur.unionAll(self_loops)
                 .repartition(width, "src")
                 .localCheckpoint(eager=False))
        # (1) color(v) = max id reaching v, incl. itself (self-loop):
        # messages flow src→dst — one join keyed on src, one
        # groupBy-max on dst per round.  The self-loop message carries
        # v's INPUT color, so "changed" (new color vs the color this
        # step was given, jump included) falls out of the same aggregate
        rounds = 0

        def color_step(colors: DataFrame) -> DataFrame:
            nonlocal rounds
            prev = F.col("color").alias("prev")
            if rounds and rounds % SCC_ROUNDS_PER_CHECKPOINT == 0:
                # pointer jumping on a round whose input is a kernel
                # checkpoint — the double consumption (data + lookup
                # side) re-reads it instead of recomputing.  The jump
                # is sound on any round; the schedule only picks cheap
                # ones, since `changed` is counted against `prev`
                look = colors.select(F.col("id").alias("color"),
                                     F.col("color").alias("c_jump"))
                colors = (colors.join(look, "color", "left")
                          .select("id", F.greatest(
                              "color", F.coalesce("c_jump", "color"))
                              .alias("color"), prev))
            else:
                colors = colors.select("id", "color", prev)
            rounds += 1
            return (e_aug.join(colors.withColumnRenamed("id", "src"),
                               "src")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.max("color").alias("color"),
                         F.max(F.when(F.col("src") == F.col("dst"),
                                      F.col("prev"))).alias("_own"))
                    .select("id", "color",
                            (F.col("color") != F.col("_own")).cast("int")
                            .alias("changed")))

        colors, converged = pregel(
            remaining.select("id", F.col("id").alias("color")), color_step,
            max_iter, checkpoint_interval=SCC_ROUNDS_PER_CHECKPOINT)
        if not converged:
            # extraction from a non-fixpoint coloring returns WRONG
            # components, not merely fewer — refuse loudly
            raise RuntimeError(
                f"SCC color propagation did not converge within "
                f"max_iter={max_iter} rounds; raise max_iter (pointer "
                f"jumping makes convergence O(log diameter))")
        # (2) backward reachability from all roots at once over the
        # same-color subgraph.  At least one root always exists (the
        # max remaining id is reached by nothing higher), so every
        # phase makes progress.  The same-color restriction is applied
        # ONCE to the edges (two joins per phase) instead of once per
        # hop; self-loops keep current members in the reached set, so
        # the state is a bare id column consumed once per round —
        # lazily batchable exactly like the color loop, and a vertex
        # without its self-loop message is newly reached.
        # dst-oriented: the per-hop join keys on dst, edges stay put.
        c_src = colors.select(F.col("id").alias("src"),
                              F.col("color").alias("c_s"))
        c_dst = colors.select(F.col("id").alias("dst"),
                              F.col("color").alias("c_d"))
        e_same = (e_cur.join(c_src, "src").join(c_dst, "dst")
                  .filter(F.col("c_s") == F.col("c_d"))
                  .select("src", "dst")
                  .unionAll(self_loops)
                  .repartition(width, "dst")
                  .localCheckpoint(eager=False))

        def reach_step(reached: DataFrame) -> DataFrame:
            return (e_same.join(reached.select(F.col("id").alias("dst")),
                                "dst")
                    .groupBy(F.col("src").alias("id"))
                    .agg((1 - F.max((F.col("src") == F.col("dst"))
                                    .cast("int"))).alias("changed")))

        reached, converged = pregel(
            colors.filter(F.col("id") == F.col("color")).select("id"),
            reach_step, max_iter,
            checkpoint_interval=SCC_ROUNDS_PER_CHECKPOINT)
        if not converged:
            raise RuntimeError(
                f"SCC containment propagation still expanding after "
                f"{max_iter} hops run (bound max_iter={max_iter} plus one "
                f"confirmation-only hop; an SCC cycle longer than "
                f"max_iter); raise max_iter")
        # membership: v reaches its root within the class ⇔ v ∈ SCC;
        # component = the class color = the max member id
        member = (reached.join(colors, "id")
                  .withColumnRenamed("color", "component")
                  .localCheckpoint(eager=False))
        done.append(member)
        # (3) peel: drop members from the vertex set and both edge
        # sides.  The FULL count (not limit(1) — a partial probe only
        # partially materializes the lazy checkpoints of `remaining`
        # and `member` beneath it, and the next phase's three
        # consumptions would recompute the anti-join instead of
        # re-reading blocks; r9 ADVICE) materializes both; e_cur and
        # the next phase then re-read them in place.
        remaining = (remaining.join(member.select("id"), "id", "left_anti")
                     .localCheckpoint(eager=False))
        if remaining.count() == 0:
            break
        e_cur = (e_cur.join(member.select(F.col("id").alias("src")),
                            "src", "left_anti")
                 .join(member.select(F.col("id").alias("dst")),
                       "dst", "left_anti")
                 .localCheckpoint(eager=False))
    else:
        # the for-else fires only when max_phases peels did NOT empty
        # the graph: returning the partial result would silently DROP
        # every unextracted vertex — refuse loudly instead (a
        # decreasing-id singleton chain needs one phase per link; raise
        # max_phases for such shapes)
        raise RuntimeError(
            f"SCC peeling left vertices unextracted after "
            f"max_phases={max_phases} phases; raise max_phases")
    out = done[0]
    for d in done[1:]:
        out = out.unionAll(d)
    return out.select("id", "component")


# |V|²-bit adjacency budget: 0.5 GB of masks at 64k nodes; beyond
# that the oriented-wedge join path wins.
DENSE_LCC_MAX_NODES = 65536


def _vertex_triangles_dense(sym: DataFrame, n_nodes: int) -> DataFrame:
    """Per-vertex triangle counts for a dense small-id-space graph:
    (id, triangles).  `sym` must be canonical (src < dst, distinct).

    Full-neighborhood n_nodes-bit masks per vertex (NOT out-oriented
    masks — per-vertex credit needs the count on EVERY incident edge,
    and with full masks |N(u) ∩ N(v)| on edge (u,v)
    counts each triangle through that edge exactly once, so summing over
    a vertex's incident edges counts its triangles twice).  One
    mapInPandas over the broadcast-joined edge list; numpy byte-AND +
    popcount LUT per Arrow batch."""
    import numpy as np
    import pandas as pd

    n_bytes = (n_nodes + 7) // 8
    both = sym.unionAll(sym.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    adj = both.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))

    def pack(batches):
        for pdf in batches:
            out = []
            for nbrs in pdf["nbrs"]:
                mask = np.zeros(n_bytes, dtype=np.uint8)
                idx = np.asarray(nbrs, dtype=np.int64)
                np.bitwise_or.at(mask, idx // 8,
                                 (1 << (idx % 8)).astype(np.uint8))
                out.append(mask.tobytes())
            yield pd.DataFrame({"id": pdf["src"], "mask": out})

    # materialize once: both broadcast sides below would otherwise
    # re-run the pack pass
    masks = (adj.mapInPandas(pack, schema="id long, mask binary")
             .localCheckpoint(eager=True))
    mu = masks.select(F.col("id").alias("src"), F.col("mask").alias("mask_u"))
    mv = masks.select(F.col("id").alias("dst"), F.col("mask").alias("mask_v"))
    paired = (sym.join(F.broadcast(mu), "src")
              .join(F.broadcast(mv), "dst"))

    lut = np.unpackbits(
        np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1).astype(np.uint8)  # uint8 LUT: an int64 LUT made lut[bytes] 8x the byte matrix (measured 214 us/pair -> see r11 PERF note)

    def per_edge(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack([np.frombuffer(m, dtype=np.uint8)
                          for m in pdf["mask_u"]])
            b = np.stack([np.frombuffer(m, dtype=np.uint8)
                          for m in pdf["mask_v"]])
            c = lut[a & b].sum(axis=1).astype(np.int64)
            yield pd.DataFrame({"src": pdf["src"], "dst": pdf["dst"],
                                "c": c})

    cnt = paired.select("src", "dst", "mask_u", "mask_v").mapInPandas(
        per_edge, schema="src long, dst long, c long")
    return (cnt.select(F.col("src").alias("id"), "c")
            .unionAll(cnt.select(F.col("dst").alias("id"), "c"))
            .groupBy("id")
            .agg((F.sum("c") / 2).cast("long").alias("triangles"))
            .localCheckpoint(eager=True))


def _vertex_triangles_dense_dist(sym: DataFrame,
                                     n_nodes: int) -> DataFrame:
    """Per-vertex triangle counts via DISTRIBUTED bit-matrix tiles —
    the mid-size companion to _vertex_triangles_dense (the
    _adamic_adar_dense_dist broadcast/tile pattern): broadcast the
    packed n²-bit adjacency (≤128 MB at 32768), fan upper-triangle
    tile pairs out as Spark tasks, and per tile enumerate its ADJACENT
    pairs locally and popcount exactly those mask ANDs — only adjacent
    pairs earn credit (unlike AA, where non-adjacent pairs are the
    output), so no C = Bu·Bvᵀ matmul is ever needed: total work is
    |E| pair rows of ⌈n/8⌉ bytes (np.bitwise_count when numpy ≥ 2, a
    byte LUT otherwise), chunked by row-width so each in-flight array
    stays ≤ ~128 MB at every n.  tri(v) = ½ Σ credits.
    Identical math to the per-edge-mask form, which ships |E|·n/8
    bytes of masks through Arrow (≈20 GB at 15k vertices / 11M edges —
    blew the r11 scale-study budget, and an intermediate matmul form
    of this function measured 128 s there); here the bytes never leave
    the broadcast and Arrow carries only per-vertex credit rows."""
    import numpy as np

    spark = sym.sparkSession
    A = _packed_adjacency(sym, n_nodes)
    ii = np.arange(n_nodes, dtype=np.int64)
    A[ii, ii // 8] &= ~(1 << (ii % 8)).astype(np.uint8)
    block = int(max(256, min(2048, (256 << 20) // max(1, 24 * n_nodes))))
    bc = spark.sparkContext.broadcast((A.tobytes(), int(n_nodes)))
    del A
    tiles = [(u0, v0) for u0 in range(0, n_nodes, block)
             for v0 in range(u0, n_nodes, block)]
    tiles_df = spark.createDataFrame(tiles, "u0 int, v0 int").repartition(
        max(len(tiles) // 2, spark.sparkContext.defaultParallelism))

    lut = np.unpackbits(
        np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1).astype(np.uint8)  # uint8 LUT: an int64 LUT made lut[bytes] 8x the byte matrix (measured 214 us/pair -> see r11 PERF note)
    # popcount(row) via np.bitwise_count when available (numpy ≥ 2.0),
    # else the byte LUT — same result, the LUT is ~2-3× slower
    pop = getattr(np, "bitwise_count", None)

    def tile_credits(batches):
        import pandas as pd
        blob, n = bc.value
        nb = (n + 7) // 8
        Ap = np.frombuffer(blob, dtype=np.uint8).reshape(n, nb)
        for pdf in batches:
            for u0, v0 in zip(pdf["u0"], pdf["v0"]):
                u0, v0 = int(u0), int(v0)
                u1 = min(u0 + block, n)
                # only ADJACENT pairs earn credit, so the tile never
                # needs the full C matmul (that is the AA case, where
                # NON-adjacent pairs are the output): enumerate the
                # tile's adjacent pairs from the packed matrix and
                # popcount exactly those mask ANDs — Σ over tiles is
                # |E| pair rows of ⌈n/8⌉ bytes, with NO per-edge mask
                # columns ever shipped (the measured 128 s x10 matmul
                # form drops to the pure byte cost)
                v1 = min(v0 + block, n)
                adj = np.unpackbits(
                    Ap[u0:u1], axis=1,
                    bitorder="little")[:, v0:v1]
                if u0 == v0:
                    # within-tile pairs: upper triangle only, so each
                    # unordered adjacent pair is credited exactly once
                    adj = np.triu(adj, k=1)
                uu, vv = np.nonzero(adj)
                if len(uu) == 0:
                    continue
                gu = (uu + u0).astype(np.int64)
                gv = (vv + v0).astype(np.int64)
                credit = np.zeros(n, dtype=np.int64)
                # chunk rows scale INVERSELY with the packed row width
                # so peak chunk memory stays ~flat (~3×128 MB for the
                # Ap[cu]/Ap[cv]/both triple) at every n — a fixed 65536
                # rows is ~768 MB of in-flight arrays at the n=32768
                # cap, an OOM risk across 32 concurrent tasks
                # (r11 ADVICE)
                step = max(4096, (128 << 20) // nb)
                for c0 in range(0, len(gu), step):
                    cu = gu[c0:c0 + step]
                    cv = gv[c0:c0 + step]
                    both = Ap[cu] & Ap[cv]
                    c = (pop(both).sum(axis=1, dtype=np.int64) if pop
                         else lut[both].sum(axis=1).astype(np.int64))
                    np.add.at(credit, cu, c)
                    np.add.at(credit, cv, c)
                keep = np.nonzero(credit)[0]
                if len(keep) == 0:
                    continue
                yield pd.DataFrame({"id": keep, "c": credit[keep]})

    return (tiles_df.mapInPandas(tile_credits, schema="id long, c long")
            .groupBy("id")
            .agg((F.sum("c") / 2).cast("long").alias("triangles"))
            .localCheckpoint(eager=True))


def local_clustering(graph: PropertyGraph) -> DataFrame:
    """Per-vertex local clustering coefficient; returns
    (id, degree, lcc) with lcc = 2·tri(v) / (deg(v)·(deg(v)−1)),
    0.0 for degree < 2, rounded to 6 decimals (oracle discipline).

    Three-tier routing, the g17/g03 discipline (sparse/offset id
    spaces first pass through the monotone `_dense_id_index` remap, so
    CARDINALITY routes, not id values):

    - bounded dimension AND |E|·⌈n/8⌉ ≤ 2 GB: per-edge
      FULL-neighborhood bitsets.  Per canonical edge (u,v),
      |N(u) ∩ N(v)| counts every triangle through that edge, so
      tri(v) = ½ Σ_{(u,v)∋v} popcount — vectorized numpy byte-ANDs in
      one Arrow-batched mapInPandas over the edge list, NO wedge
      materialization.  A near-complete co-activity graph has Θ(n³)
      wedges (72 s measured at sf0.1) but only n²/8 bytes of adjacency
      (280 KB at n=1500, broadcast) — the economics of a bit-matrix
      triangle count, kept per-edge instead of summed.
    - bounded dimension (n ≤ 32768) but per-edge masks too big (the
      mask path ships |E|·⌈n/8⌉ bytes through Arrow — 20 GB at 15k
      vertices / 11M edges, the r11 scale-study g24 timeout):
      DISTRIBUTED bit-matrix tiles (`_vertex_triangles_dense_dist`,
      the _adamic_adar_dense_dist pattern) — broadcast packed matrix,
      tile matmuls as Spark tasks, per-vertex credit rows out.
    - larger id spaces: degree-ordered orientation — wedges only out of
      each vertex's O(√m) oriented neighborhood, closed by a (b, c)
      equi-join, keeping all three corners so each triangle credits
      each endpoint.  Nothing is quadratic in any vertex's raw degree,
      so hubs cost O(m^1.5) total like everyone else."""
    sym = graph.undirected_edges().localCheckpoint(eager=True)
    b = sym.agg(F.min(F.least("src", "dst")).alias("mn"),
                F.max(F.greatest("src", "dst")).alias("mx")).first()
    n_nodes = int(b.mx) + 1 if b.mx is not None else 0
    # the dense path requires the FULL id range [0, n): a negative id
    # would wrap numpy fancy indexing into phantom adjacency bits (the
    # adamic_adar guard, applied here too — previously only max was
    # checked)
    def _try_components(s: DataFrame):
        """Per-component triangle dispatch (r14, the adamic_adar twin):
        dense kernels for components that fit, the restricted wedge
        join for the rest; None when labeling failed or nothing routes
        dense.  Per-vertex rows union WITHOUT re-agg — components
        partition the vertex set."""
        split = _component_split(s, TRI_COMP_CAP)
        if split is None or not split[2]:
            return None
        dense_edges, join_edges, _, has_join = split
        parts = [_tri_per_vertex_comp_dense(dense_edges)]
        if has_join:
            parts.append(_lcc_join_triangles(
                join_edges.localCheckpoint(eager=True)))
        import functools as _ft
        return _ft.reduce(DataFrame.unionByName, parts)

    per = None
    dense_remap = None
    if b.mn is not None:
        # CARDINALITY probe FIRST, identity ranges included (r12: the
        # adamic_adar probe-order fix applied symmetrically — a
        # sparsely populated [0, n) range used to pay mask/tile costs
        # at n = max_id+1 even when its distinct count was tiny; id
        # values are arbitrary in production, cardinality is what the
        # bit-matrix needs).  One bounded distinct-collect; a NULL id
        # declines the remap and falls to the join path.
        dense_remap = _dense_id_index(sym, ["src", "dst"],
                                      DENSE_LCC_MAX_NODES)

    def _tier(kernel):
        """Run a [0, n)-id dense kernel on the (possibly remapped)
        edges and return per-vertex triangles in ORIGINAL ids."""
        map_df, ids = dense_remap
        n = len(ids)
        if b.mn >= 0 and ids[0] == 0 and ids[-1] == n - 1:
            # fully-populated identity range: no remap joins — the
            # returned plan matches the pre-probe flow
            return kernel(sym, n)
        per_idx = kernel(_remap_edges(sym, map_df), n)
        # inverse map back to original ids (bounded broadcast)
        return (per_idx.join(F.broadcast(map_df.select(
                    F.col("idx").alias("id"), F.col("orig"))), "id")
                .select(F.col("orig").alias("id"), "triangles"))

    # tier order (r14): mask → per-component → tiles → join.  The mask
    # path ships |E|·⌈n/8⌉ bytes of per-edge masks through Arrow (fine
    # at small n·E, 20 GB at 15k vertices / 11M edges — the r11
    # scale-study g24 timeout); the component attempt runs between the
    # mask and tile tiers because a block-diagonal mid-size graph pays
    # global-n³ tile FLOPs when per-component kernels do orders of
    # magnitude less (a single-component graph yields no dense comps
    # and falls through to tiles unchanged); |E| is remap-invariant,
    # so the mask bound counts `sym` directly.
    if dense_remap is not None and len(dense_remap[1]) > 0:
        if sym.count() * ((len(dense_remap[1]) + 7) // 8) <= (2 << 30):
            per = _tier(_vertex_triangles_dense)
    sum_d2 = None
    if per is None:
        sum_d2 = _sum_deg_sq(sym)
        if sum_d2 > EDGE_COMP_ATTEMPT_MIN_WEDGES:
            # original ids — the component kernels index locally, so
            # the remap (and its per-iteration join re-execution) is
            # never paid here
            per = _try_components(sym)
    if per is None and dense_remap is not None:
        n = len(dense_remap[1])
        # tile tier: packed broadcast ≤ 128 MB (the AA-dist cap), and
        # only when tile FLOPs beat the join path's wedge rows (Σd²/2
        # UPPER-bounds the degree-ORIENTED wedge count, so this gate
        # biases toward tiles — the mistake it can make is bounded by
        # the n ≤ 32768 cap, while a wedge explosion is not)
        if 0 < n <= 32768 and _prefer_dense_tiles(sum_d2, n):
            per = _tier(_vertex_triangles_dense_dist)
    if per is None:
        per = _lcc_join_triangles(sym)
    # degree from the SAME canonical edge set the triangles were counted
    # on (distinct-neighbor degree, robust to non-canonical inputs)
    deg = (sym.select(F.col("src").alias("id"))
           .unionAll(sym.select(F.col("dst").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("degree")))
    d = F.col("degree").cast("double")
    return (deg.join(per, "id", "left")
            .fillna(0, subset=["triangles"])
            .select("id", "degree",
                    F.when(F.col("degree") < 2, F.lit(0.0))
                    .otherwise(F.round(2.0 * F.col("triangles")
                                       / (d * (d - 1.0)), 6))
                    .alias("lcc")))


def k_truss(edges: DataFrame, k: int, iters: int = 3) -> DataFrame:
    """Bounded-iteration k-truss peeling; returns (src, dst, support) —
    the canonical edges surviving `iters` rounds of "drop every edge in
    fewer than k−2 triangles", with support recomputed on the surviving
    set.  A FIXED iteration count keeps the recurrence SQL-oracle-able
    by unrolling (the g06 fixed-superstep discipline); run with `iters`
    ≥ the peel depth you need, or iterate to fixpoint externally.

    Each round is one triangle enumeration over the current edge set
    (id-ordered three-way self-join — swap in the degree orientation of
    `triangle_count` for skewed graphs), one per-edge credit aggregate
    (each triangle credits its three edges), one semi-join filter —
    all keyed shuffles, checkpointed per round so lineage stays flat.
    Truss is the standard cohesion upgrade over k-core: it requires
    ties to share triangles, not merely neighbors."""
    e = (edges.select(F.least("src", "dst").alias("u"),
                      F.greatest("src", "dst").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct().localCheckpoint(eager=True))

    def support(cur: DataFrame) -> DataFrame:
        e1 = cur.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = cur.select(F.col("u").alias("b"), F.col("v").alias("c"))
        e3 = cur.select(F.col("u").alias("a"), F.col("v").alias("c"))
        # every side is |E|-scaled: per-partition shuffle_hash builds,
        # never a broadcast off the checkpointed relation's estimate
        # (the r13 x30 broadcast-death class)
        tri = (e1.join(e2.hint("shuffle_hash"), "b")
               .join(e3.hint("shuffle_hash"), ["a", "c"]))
        credit = (tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
                  .unionAll(tri.select(F.col("b").alias("u"),
                                       F.col("c").alias("v")))
                  .unionAll(tri.select(F.col("a").alias("u"),
                                       F.col("c").alias("v"))))
        return credit.groupBy("u", "v").agg(
            F.count(F.lit(1)).alias("support"))

    for _ in range(iters):
        sup = support(e)
        # LEFT join + coalesce(0): triangle-free edges have no support
        # row but still satisfy the threshold when k <= 2 — an inner
        # join would silently drop them before the filter could keep
        # them.  sup is edge-cardinality → shuffle_hash, not a
        # broadcast build off its (aggregate-shrunk) estimate
        e = (e.join(sup.hint("shuffle_hash"), ["u", "v"], "left")
             .filter(F.coalesce("support", F.lit(0)) >= k - 2)
             .select("u", "v")
             .localCheckpoint(eager=True))
    final = (e.join(support(e).hint("shuffle_hash"), ["u", "v"], "left")
             .select(F.col("u").alias("src"), F.col("v").alias("dst"),
                     F.coalesce("support", F.lit(0)).alias("support")))
    return final


def degree_assortativity(edges: DataFrame, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """Degree assortativity of a (bipartite or directed) edge set: the
    Pearson correlation, over EDGES, between the out-degree of the
    source endpoint and the in-degree of the destination endpoint
    (Newman 2002, "Assortative mixing in networks") — positive when
    high-degree vertices attach to high-degree vertices.  The one-number
    structural summary used to pick between hub-salting and plain
    hash-join strategies elsewhere in this engine (a strongly
    disassortative graph is exactly the hub-fanout shape g17's salted
    path exists for).

    Cross-engine float discipline, made structural: degrees and all five
    moment sums are EXACT integers (BIGINT aggregates of BIGINT
    products); the correlation is one double expression over those
    integers, written with identical parenthesization in the SQL oracle,
    rounded to 6.  Every int→double conversion is exact below 2^53, and
    every float op is IEEE correctly-rounded on identical inputs —
    bit-identical everywhere.

    Scale shape: two hash aggregates for the degree maps, two equi-joins
    back to the edge list (both degree sides are vertex-cardinality —
    broadcastable long before the edge list is), one global aggregate.
    No self-joins, nothing quadratic."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    dx = e.groupBy("u").agg(F.count(F.lit(1)).alias("dx"))
    dy = e.groupBy("v").agg(F.count(F.lit(1)).alias("dy"))
    j = e.join(dx, "u").join(dy, "v")
    agg = j.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("dx").alias("sx"), F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sx2"),
        F.sum(F.col("dy") * F.col("dy")).alias("sy2"))
    # the correlation expression runs in DOUBLE on both engines (the
    # variance PRODUCT under the sqrt overflows int64 — ~1e24 on the
    # sf0.01 fixture); each moment is < 2^53 so the double conversions
    # are exact, and identical correctly-rounded float ops on identical
    # inputs give the identical result everywhere
    n = F.col("n_edges").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2, sy2 = F.col("sx2").cast("double"), F.col("sy2").cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
    # try_divide: a zero-variance (regular) edge set has no defined
    # correlation — NULL on both engines (DuckDB's double /0 is NULL;
    # ANSI Spark would throw)
    return agg.select(
        "n_edges", "sx", "sy", "sxy", "sx2", "sy2",
        F.round(F.try_divide(num, den), 6).alias("assortativity"))


def diameter_estimate(graph: PropertyGraph, max_hops: int = 12) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien, Latapy & Habib 2009 —
    the standard cheap diameter estimator, exact on trees and typically
    tight on real graphs): undirected BFS from a deterministic seed (the
    minimum vertex id), hop to the farthest vertex found (max distance,
    then min id — the repo's tie discipline), BFS again from there; the
    second eccentricity is the estimate.  Returns one row
    (source_id, sweep1_far, sweep1_ecc, sweep2_far, diameter_estimate).

    Loud-failure discipline (the SCC lesson): if either sweep is still
    discovering vertices at `max_hops` the eccentricity claim would be
    silently wrong — raise instead.  Distances cover the seed's
    connected component only (documented; the star-schema fixture is
    one component).

    Scale shape: two frontier-join BFS runs (bfs_distances — frontier
    rows only, broadcast while small) + three single-row driver
    collects.  Nothing quadratic; cost = 2·Σ frontier sizes."""
    source = graph.vertices.agg(F.min("id")).collect()[0][0]
    if source is None:
        raise ValueError("empty vertex set")

    def _sweep(src: int) -> tuple[int, int]:
        # probe one hop PAST the bound: a farthest distance of exactly
        # max_hops is a converged answer (the frontier drained there),
        # not a truncation — only a vertex BEYOND max_hops proves the
        # sweep was cut short
        d = bfs_distances(graph, [int(src)], max_hops=max_hops + 1,
                          directed=False)
        far = (d.orderBy(F.col("distance").desc(), "id").first())
        if far.distance > max_hops:
            raise ValueError(
                f"BFS from {src} still expanding past max_hops="
                f"{max_hops}; raise max_hops to make the eccentricity "
                f"claim sound")
        return int(far.id), int(far.distance)

    u, ecc1 = _sweep(source)
    far2, ecc2 = _sweep(u)
    spark = graph.vertices.sparkSession
    return spark.createDataFrame(
        [(int(source), u, ecc1, far2, ecc2)],
        "source_id long, sweep1_far long, sweep1_ecc int, "
        "sweep2_far long, diameter_estimate int")


def maximal_independent_set(edges: DataFrame, src: str = "src",
                            dst: str = "dst",
                            max_rounds: int = 12) -> DataFrame:
    """Luby-style maximal independent set (Luby 1986), derandomized the
    repo's way: vertex priorities are md5(id) instead of per-round coin
    flips, so every round — and therefore the final MIS — is a pure
    function of the graph (the lexicographically-first MIS under the
    (md5, id) total order).  Per round, every ACTIVE vertex with no
    active neighbor of smaller (priority, id) enters the set; it and
    its neighbors deactivate.  Returns (id, priority, round_selected).

    Classic distributed-graph primitive (scheduling, symmetry
    breaking); with uniform priorities the expected round count is
    O(log n).  Loud-failure discipline: raises if vertices remain
    active after `max_rounds` — a silently partial MIS would violate
    maximality.

    Scale shape: per round one join of the shrinking active edge set
    with the per-vertex min-neighbor aggregate, everything
    localCheckpointed; work is Σ active-edge sizes, which falls
    geometrically in expectation."""
    und = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .filter(F.col("u") != F.col("v")))
    und = (und.unionAll(und.select(F.col("v").alias("u"),
                                   F.col("u").alias("v"))).distinct()
           .localCheckpoint())
    prio = F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15),
                  16, 10).cast("long")
    active = (und.select(F.col("u").alias("id")).distinct()
              .select("id", prio.alias("p")).localCheckpoint())
    chosen_parts = []
    for r in range(1, max_rounds + 1):
        if active.isEmpty():
            break
        e = (und.join(active.select(F.col("id").alias("u"),
                                    F.col("p").alias("pu")), "u")
             .join(active.select(F.col("id").alias("v"),
                                 F.col("p").alias("pv")), "v"))
        # min active-neighbor (p, id) per vertex; vertices with no
        # active neighbor at all are trivially chosen
        nbr_min = (e.groupBy("u")
                   .agg(F.min(F.struct(F.col("pv"), F.col("v")))
                        .alias("m")))
        cand = (active.join(nbr_min,
                            active.id == nbr_min.u, "left")
                .filter(F.col("m").isNull()
                        | (F.struct(F.col("p"), F.col("id"))
                           < F.col("m")))
                .select("id", "p").localCheckpoint())
        chosen_parts.append(cand.select(
            "id", F.col("p").alias("priority"),
            F.lit(r).alias("round_selected")))
        kill = (cand.select("id")
                .unionAll(und.join(cand.select(F.col("id").alias("u")),
                                   "u").select(F.col("v").alias("id")))
                .distinct())
        active = (active.join(kill, "id", "left_anti")
                  .localCheckpoint())
    if not active.isEmpty():
        raise ValueError(
            f"MIS not converged after {max_rounds} rounds; raise "
            f"max_rounds (a partial result would not be maximal)")
    if not chosen_parts:
        # no edges (or only self-loops): the MIS of an empty graph is
        # empty — return the empty result with the declared schema
        return edges.sparkSession.createDataFrame(
            [], "id long, priority long, round_selected int")
    out = chosen_parts[0]
    for part in chosen_parts[1:]:
        out = out.unionAll(part)
    return out


def bipartite_project(edges: DataFrame, left: str, right: str,
                      max_right_degree: int | None = None,
                      hint_join: str | None = None) -> DataFrame:
    """Weighted one-mode projection of a bipartite edge list onto the
    `left` partition: rows (left_a, left_b, weight) where weight = the
    number of shared `right` neighbors (a < b once each).

    Scale shape: the pair enumeration is a self-join on `right`, so
    fan-out per right vertex is C(deg, 2) — bounded when the right
    partition has naturally capped degree (orders hold ≤ a basket's
    worth of parts), quadratic when it doesn't.  For hub-prone right
    partitions pass `max_right_degree`: rights above the cap are
    dropped BEFORE the join via a degree semi-join (the l32
    max_shingle_df discipline — hubs contribute pairs to everything
    and discriminate nothing, so capping costs little signal).  One
    shuffle on `right` for the join, one on the pair key for the
    aggregate.

    `hint_join`: explicit strategy for the pair self-join.  Pass
    "shuffle_hash"/"merge" when `edges` is checkpoint/pandas-UDF-fed
    (estimator-blind fixed-small stats) — both self-join sides are
    |E|-scaled by construction and an unhinted plan may re-plan one as
    a broadcast build on a warm re-run (the l04 x100 class);
    scan-derived inputs may stay unhinted (estimates grow with the
    data)."""
    e = edges.select(left, right).distinct()
    if max_right_degree is not None:
        keep = (e.groupBy(right).agg(F.count(F.lit(1)).alias("__d"))
                .filter(F.col("__d") <= max_right_degree)
                .select(right))
        e = e.join(keep, right, "left_semi")
    a = e.select(F.col(right).alias("__r"), F.col(left).alias("__a"))
    b = e.select(F.col(right).alias("__r"), F.col(left).alias("__b"))
    if hint_join:
        a = a.hint(hint_join)
    return (a.join(b, "__r")
            .filter(F.col("__a") < F.col("__b"))
            .groupBy(F.col("__a").alias(f"{left}_a"),
                     F.col("__b").alias(f"{left}_b"))
            .agg(F.count(F.lit(1)).alias("weight")))


def directed_modularity(edges: DataFrame, labels: DataFrame,
                        src: str = "src", dst: str = "dst",
                        id_col: str = "id",
                        label_col: str = "community") -> DataFrame:
    """Directed modularity (Leicht & Newman 2008) of a vertex
    partition: Q = Σ_c [ e_c/m − (din_c/m)·(dout_c/m) ] where e_c =
    edges with both endpoints in community c, din/dout_c = community
    in/out degree sums, m = total edges.

    Cross-engine float discipline: each community's term is one
    deterministic expression of exact integers, quantized to nano
    units (floor(·1e9 + 0.5)) BEFORE the final sum — no float
    summation order.  Returns one row (n_communities, n_edges,
    modularity).

    Scale shape: two broadcast-joinable label lookups on the edge
    list (labels is |V|-sized; at true scale a shuffle join on the
    endpoint — still one pass), then bounded per-community
    aggregates."""
    lab = labels.select(F.col(id_col).alias("__v"),
                        F.col(label_col).alias("__c"))
    # shuffle_hash BUILT ON THE LABEL side (|V|-bounded per-partition
    # builds), exactly the "at true scale a shuffle join" the contract
    # above promises: without the hint Catalyst sizes the
    # un-materialized |E|-scaled edge relation from its compressed
    # scan and plans the broadcast BUILD ON EDGES — the r13 x30 study
    # watched that kill g30 on the 8g driver (the AA/LPA class)
    e2 = (edges.select(src, dst)
          .join(lab.withColumnRenamed("__v", src)
                   .withColumnRenamed("__c", "__cs")
                   .hint("shuffle_hash"), src)
          .join(lab.withColumnRenamed("__v", dst)
                   .withColumnRenamed("__c", "__cd")
                   .hint("shuffle_hash"), dst))
    # ONE pass over the labeled edge list (r14 optimization round): m,
    # within, dout and din were four independent aggregates of e2, and
    # Catalyst re-ran the two label joins per consumer.  All four are
    # exact-integer derivable from the community-pair contingency
    # table (groupBy (cs, cd) count — ≤ min(|E|, |C|²) rows), which is
    # aggregated once and checkpointed; every derivation below is a
    # tiny-table rollup of it.  Values identical: the same counts,
    # grouped once instead of four times.
    ctab = (e2.groupBy("__cs", "__cd")
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True))
    m = ctab.agg(F.sum("n").alias("m"))
    within = (ctab.filter(F.col("__cs") == F.col("__cd"))
              .groupBy(F.col("__cs").alias("c"))
              .agg(F.sum("n").alias("ec")))
    dout = ctab.groupBy(F.col("__cs").alias("c")).agg(
        F.sum("n").alias("dout"))
    din = ctab.groupBy(F.col("__cd").alias("c")).agg(
        F.sum("n").alias("din"))
    per = (dout.join(din, "c", "full")
           .join(within, "c", "left")
           .select("c",
                   F.coalesce("ec", F.lit(0)).alias("ec"),
                   F.coalesce("dout", F.lit(0)).alias("dout"),
                   F.coalesce("din", F.lit(0)).alias("din")))
    term = (F.col("ec") / F.col("m")
            - (F.col("din") / F.col("m")) * (F.col("dout") / F.col("m")))
    micro = F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("long")
    return (per.crossJoin(F.broadcast(m))
            .select(micro.alias("t"), "m")
            .groupBy("m")
            .agg(F.count(F.lit(1)).alias("n_communities"),
                 F.sum("t").alias("s"))
            .select(F.col("n_communities"),
                    F.col("m").alias("n_edges"),
                    F.round(F.col("s") / F.lit(1e9), 6)
                    .alias("modularity")))


def betweenness_approx(edges: DataFrame, n_sources: int = 4,
                       max_levels: int = 8) -> DataFrame:
    """Source-sampled betweenness centrality (Brandes 2001 dependency
    accumulation from k pivots — the standard approximation at scale;
    exact when every vertex is a pivot).  Pivots are the `n_sources`
    vertices with smallest (md5_long60(id), id) — deterministic, not a
    RNG, so the pivot set is a pure function of the graph (the g28/l42
    discipline).

    Exact integer semantics, cross-engine by construction: forward BFS
    path counts σ are exact BIGINTs; the backward pass accumulates
    δ in MICRO-units — each child term floor(σ_p·(1e6 + δ_c)/σ_c) is
    an exact int64, so no float summation order exists at any level
    (the quantization IS the operator's definition, applied identically
    in the SQL oracle).  Raises loudly if a frontier is still expanding
    at `max_levels` — a silently truncated BFS would understate σ.

    Scale shape: all pivots run in ONE multi-source frontier (source-
    labeled rows, the g21 harmonic pattern): per level one join on the
    edge list + one anti-join against the visited set + one aggregate;
    backward, one level-to-level join per depth.  Frontier rows =
    Σ_s |ball(s, h)| — linear in reached vertices per pivot.

    `edges` must be the SYMMETRIC directed form (both directions
    present) for undirected semantics.  Output: (id, n_sources,
    bc_micro, bc) for every vertex with nonzero dependency."""
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    # every frontier×edges join below hints shuffle_hash ON THE EDGE
    # side: e is |E|-scaled and its pre-materialization size estimate
    # otherwise lets Catalyst broadcast-BUILD it against the larger-
    # looking multi-source frontier (the r13 x30 g31 death, the AA/LPA
    # class); the per-partition build is |E|/partitions and the edge
    # shuffle is written once and reused across levels
    e_h = e.hint("shuffle_hash")
    verts = (e.select(F.col("u").alias("id")).distinct())
    from ..functions.hashing import md5_long60
    pivots = (verts.select("id",
                           md5_long60(F.col("id").cast("string")).alias("h"))
              .orderBy("h", "id").limit(n_sources)
              .select(F.col("id").alias("s")))
    # forward: levels[l] = (s, v, sigma)
    cur = pivots.select("s", F.col("s").alias("v"),
                        F.lit(1).cast("long").alias("sigma"),
                        F.lit(0).alias("level")).localCheckpoint()
    levels = [cur]
    visited = cur.select("s", "v")
    for lvl in range(1, max_levels + 1):
        nxt = (cur.join(e_h, cur.v == e_h.u)
               .join(visited.withColumnRenamed("v", "w"), ["s", "w"],
                     "left_anti")
               .groupBy("s", F.col("w").alias("v"))
               .agg(F.sum("sigma").alias("sigma"))
               .withColumn("level", F.lit(lvl))
               .localCheckpoint())
        if nxt.isEmpty():
            break
        # loud overflow discipline: the docstring promises EXACT BIGINT
        # path counts, and the backward phase multiplies sigma by
        # (1e6 + delta) — refuse while the numbers are still honest
        # instead of wrapping silently on high-multiplicity graphs.
        # (cheap: nxt is already materialized by the checkpoint)
        ms = nxt.agg(F.max("sigma")).first()[0] or 0
        if ms > (1 << 55):
            raise ValueError(
                f"betweenness_approx: path multiplicity sigma={ms} at "
                f"level {lvl} exceeds the exact-int64 budget "
                f"(sigma*(1e6+delta) must stay under 2^63); use fewer/"
                f"different pivots or a sparser graph")
        levels.append(nxt)
        visited = visited.union(nxt.select("s", "v")).localCheckpoint()
        cur = nxt
    else:
        probe = (cur.join(e_h, cur.v == e_h.u)
                 .join(visited.withColumnRenamed("v", "w"), ["s", "w"],
                       "left_anti"))
        if not probe.isEmpty():
            raise ValueError(
                f"betweenness_approx: frontier still expanding at "
                f"max_levels={max_levels}; raise the bound")
    if len(levels) == 1:        # no pivot reached anyone: empty result
        return (pivots.select(F.col("s").alias("id"),
                              F.lit(n_sources).alias("n_sources"),
                              F.lit(0).cast("long").alias("bc_micro"),
                              F.lit(0.0).alias("bc")).limit(0))
    # backward: delta in micro-units per (s, v), deepest level first
    MICRO = F.lit(1_000_000).cast("long")
    delta = levels[-1].select(
        "s", "v", F.lit(0).cast("long").alias("d"))
    acc = []
    md = 0  # max |delta| of the level below (all zeros at the deepest)
    for lvl in range(len(levels) - 2, -1, -1):
        parents = levels[lvl]
        # backward overflow tripwire, paired with the forward guard:
        # the worst term is max(sigma)*(1e6 + max|d|); both operands
        # come from ALREADY-materialized checkpoints, so the probe is
        # one tiny aggregate per level.  (A wrapped SUM inside a
        # delta would surface here as an absurd |d| on the next pass.)
        ms = parents.agg(F.max("sigma")).first()[0] or 0
        if ms * (1_000_000 + md) > (1 << 62):
            raise ValueError(
                f"betweenness_approx: dependency term sigma*(1e6+d) "
                f"would exceed int64 at level {lvl} "
                f"(sigma={ms}, max|d|={md}); the micro-unit exactness "
                f"contract cannot hold — reduce pivots or depth")
        children = levels[lvl + 1].join(delta, ["s", "v"]) \
            .select("s", F.col("v").alias("w"),
                    F.col("sigma").alias("csigma"), "d")
        term = F.floor(F.col("sigma") * (MICRO + F.col("d"))
                       / F.col("csigma")).cast("long")
        contrib = (parents.join(e_h, parents.v == e_h.u)
                   .join(children, ["s", "w"])
                   .groupBy("s", "v", "sigma")
                   .agg(F.sum(term).alias("d"))
                   .select("s", "v", "d"))
        delta = (parents.select("s", "v")
                 .join(contrib, ["s", "v"], "left")
                 .select("s", "v",
                         F.coalesce("d", F.lit(0).cast("long")).alias("d"))
                 .localCheckpoint())
        md = delta.agg(F.max(F.abs(F.col("d")))).first()[0] or 0
        acc.append(delta.join(pivots.withColumnRenamed("s", "__s"),
                              (F.col("s") == F.col("__s"))
                              & (F.col("v") == F.col("__s")), "left_anti")
                   .select("v", "d"))
    out = acc[0]
    for a in acc[1:]:
        out = out.union(a)
    return (out.filter(F.col("d") > 0)
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum("d").alias("bc_micro"))
            .select("id", F.lit(n_sources).alias("n_sources"),
                    "bc_micro",
                    F.round(F.col("bc_micro") / F.lit(1e6), 6).alias("bc")))


def _frontier_min_fixpoint(state, make_candidates,
                           max_iter: int, broadcast_threshold: int,
                           op_name: str):
    """Shared monotone-minimum frontier fixpoint (the sparse "SPFA"
    skeleton of sssp_weighted and temporal_reachability): each round,
    only vertices whose value IMPROVED last round generate candidates
    via `make_candidates(frontier) -> DF(id, cand)`; candidates merge
    into the reached-state by least(); terminates when nothing
    improves, raises loudly on max_iter exhaustion.  The frontier is
    broadcast while its known row count (free from the exit probe) is
    under the threshold; localCheckpoint per round keeps lineage
    flat."""
    state = state.localCheckpoint(eager=True)
    frontier = state
    frontier_n = state.count()
    for _ in range(max_iter):
        f = (F.broadcast(frontier) if frontier_n <= broadcast_threshold
             else frontier)
        cand = make_candidates(f)
        merged = (state.join(cand, "id", "full_outer")
                  .select("id", F.col("val").alias("old_val"),
                          # least() skips NULLs: new vertices take cand,
                          # unimproved vertices keep their value
                          F.least("val", "cand").alias("val")))
        merged = merged.localCheckpoint(eager=True)
        frontier = (merged
                    .filter(F.col("old_val").isNull()
                            | (F.col("val") < F.col("old_val")))
                    .select("id", "val"))
        frontier_n = frontier.count()  # exit probe doubles as size probe
        state = merged.select("id", "val")
        if frontier_n == 0:
            break
    else:
        raise ValueError(
            f"{op_name} did not converge within max_iter={max_iter} "
            f"rounds ({frontier_n} vertices still improving); raise "
            f"max_iter")
    return state


def sssp_weighted(graph: PropertyGraph, source_ids: list[int],
                  weight_col: str = "weight", max_iter: int = 20,
                  directed: bool = True,
                  broadcast_threshold: int = BFS_BROADCAST_MAX) -> DataFrame:
    """Weighted single-source shortest paths — Bellman-Ford in the
    sparse frontier ("SPFA") form: each round relaxes only the edges
    out of vertices whose tentative distance IMPROVED last round, not
    the whole vertex set, so settled regions of the graph cost nothing
    after they settle.  Returns (id, dist) for every reached vertex
    (dist is an exact integer — weights are cast to long; fractional
    weights should be pre-quantized by the caller, the cents
    discipline).

    Each round is one frontier-edges join (broadcast while the
    frontier is small), one min-aggregate keyed on dst, and one
    full-outer merge into the reached-state (_frontier_min_fixpoint).
    Loudly raises on max_iter exhaustion (the k_core precedent — a
    truncated result would silently overstate distances; negative-
    weight cycles can never converge and surface the same way).

    NULL weights make dist + w NULL and min() skips NULLs — a
    NULL-weight edge therefore never relaxes anything (it is
    effectively absent); coalesce or filter upstream if edges with
    unknown weight should mean something else."""
    edges = graph.edges.select(
        "src", "dst", F.col(weight_col).cast("long").alias("w"))
    if not directed:
        edges = edges.unionAll(edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    # pre-partition on the join key (the pagerank/hits discipline):
    # while the frontier is small it broadcasts and the cache is
    # scanned in place, but once a frontier crosses the broadcast
    # threshold the join shuffles — and an unaligned edge cache would
    # re-shuffle the WHOLE edge set every such round
    width = graph.vertices.sparkSession.sparkContext.defaultParallelism
    edges = edges.repartition(width, "src").cache()
    spark = graph.vertices.sparkSession
    state = spark.createDataFrame(
        [(int(s), 0) for s in source_ids], "id long, val long")

    def make_candidates(f):
        return (edges.join(f.select(F.col("id").alias("src"), "val"),
                           "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min(F.col("val") + F.col("w")).alias("cand")))

    try:
        out = _frontier_min_fixpoint(state, make_candidates,
                                     max_iter, broadcast_threshold,
                                     "sssp_weighted")
    finally:
        edges.unpersist()
    return out.select("id", F.col("val").alias("dist"))


def temporal_reachability(edges: DataFrame, source_ids: list[int],
                          start_ts: int = 0, max_iter: int = 20,
                          broadcast_threshold: int = BFS_BROADCAST_MAX
                          ) -> DataFrame:
    """Earliest-arrival TIME-RESPECTING reachability over a temporal
    edge list (src, dst, ts): a vertex v is reached at time t iff some
    edge (u, v, t) has t >= the time u was reached — information flow,
    contagion and provenance queries that static reachability (BFS)
    answers WRONG whenever an edge into v fired before v's source was
    itself reached.  Returns (id, arrival) with arrival = the earliest
    epoch at which each reached vertex can know; the source set starts
    at `start_ts`.

    Earliest-arrival is a monotone minimum, so the same sparse
    frontier fixpoint as sssp_weighted applies
    (_frontier_min_fixpoint) with the relax condition e.ts >= arr(u)
    inside the frontier join; same loud max_iter contract."""
    e = edges.select("src", "dst", F.col("ts").cast("long").alias("t"))
    # aligned cache for the same reason as sssp_weighted: shuffle-join
    # rounds (large frontiers) must not re-shuffle the edge set
    width = edges.sparkSession.sparkContext.defaultParallelism
    e = e.repartition(width, "src").cache()
    spark = edges.sparkSession
    state = spark.createDataFrame(
        [(int(s), int(start_ts)) for s in source_ids], "id long, val long")

    def make_candidates(f):
        return (e.join(f.select(F.col("id").alias("src"), "val"), "src")
                .filter(F.col("t") >= F.col("val"))
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("t").alias("cand")))

    try:
        out = _frontier_min_fixpoint(state, make_candidates,
                                     max_iter, broadcast_threshold,
                                     "temporal_reachability")
    finally:
        e.unpersist()
    return out.select("id", F.col("val").alias("arrival"))
