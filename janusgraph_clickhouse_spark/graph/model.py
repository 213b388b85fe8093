"""Property-graph model: vertices/edges DataFrames (SURVEY §1.3).

The reference persists the graph as JanusGraph's `edgestore` wide rows —
row key = vertex id, columns = sorted adjacency list of opaque bytes
(ClickhouseKeyColumnValueStore.java + table list QueryHelper.java:99-111).
Idiomatic Spark replaces that with the GraphX/GraphFrames convention: two
typed DataFrames,

    vertices(id LONG, label STRING, ...typed props)
    edges(src LONG, dst LONG, label STRING, ...typed props)

An adjacency slice (the reference's getSlice on edgestore) is then
`edges.filter(src == id)` with the filter pushed into the parquet scan; a
label-restricted slice (column-prefix range in the reference) is a plain
label equality filter.  The persisted edges (graph/persistence.py) are
partitioned by edge set and sorted by (src, dst) — the Spark analog of
the MergeTree `ORDER BY (k,c)` clustering, QueryHelper.java:57.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table

# Label → id offset: JanusGraph allocates ids from partitioned id blocks
# (janusgraph_ids store, QueryHelper.java:110); we derive stable ids by
# offsetting each label's natural key into a disjoint range.
ID_OFFSETS = {
    "customer": 1_000_000_000,
    "order": 2_000_000_000,
    "part": 3_000_000_000,
    "supplier": 4_000_000_000,
    "nation": 5_000_000_000,
    "region": 6_000_000_000,
}


class PropertyGraph:
    """vertices(id, label, props...) + edges(src, dst, label, props...).

    CONTRACT: every edge endpoint (src and dst) must appear in
    `vertices.id`.  The graph builders in this module construct edges
    from foreign keys of the same tables that produce the vertices, so
    the invariant holds by construction; algorithms rely on it — e.g.
    label_propagation's single-consumption vote aggregate derives its
    output rows from edge endpoints ∪ vertex self-loops, so a ghost
    endpoint (edge id absent from vertices) would both vote and appear
    in the output where the old join-back form silently dropped it.

    The two frames carry no partitioning promise: graphs served from the
    persisted layout are plain parquet scans, and iterative algorithms
    repartition the edges on their message-join key themselves."""

    def __init__(self, vertices: DataFrame, edges: DataFrame):
        self.vertices = vertices
        self.edges = edges

    def degrees(self, direction: str = "out") -> DataFrame:
        """Per-vertex degree (Gremlin out()/in()/both().count())."""
        if direction == "out":
            return self.edges.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("degree"))
        if direction == "in":
            return self.edges.groupBy(F.col("dst").alias("id")).agg(
                F.count(F.lit(1)).alias("degree"))
        both = (self.edges.select(F.col("src").alias("id"))
                .unionAll(self.edges.select(F.col("dst").alias("id"))))
        return both.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))

    def undirected_edges(self) -> DataFrame:
        """Canonical undirected edge set (src < dst, deduped) — the input
        shape for triangle counting and connected components."""
        e = self.edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        ).filter(F.col("src") != F.col("dst"))
        return e.dropDuplicates(["src", "dst"])


_KNOWN_EDGE_SETS = {"placed", "contains", "supplied_by", "in_nation",
                    "in_region", "supplier_in_nation"}
# building any of these requires the fact-side tables (and adds their
# vertex sets)
_FACT_EDGE_SETS = {"placed", "contains", "supplied_by", "supplier_in_nation"}


def star_schema_graph(spark: SparkSession, sf_dir: str,
                      edge_labels: set[str] | None = None) -> PropertyGraph:
    """Property graph over the star schema (FIXTURES.md):

    vertices: customer/order/part/supplier/nation/region (offset ids)
    edges: placed (customer→order), contains (order→part, qty/price props),
           supplied_by (part→supplier), in_nation (customer→nation,
           supplier→nation), in_region (nation→region).

    `edge_labels` restricts which edge sets are read (partition pruning
    on the edge set; the vertex universe follows derive_star_graph's
    table-skipping rule).

    Served from the one persisted layout
    (persistence.ensure_clustered_graph — built once per sf_dir; edges
    partitioned by edge set and sorted by (src, dst), vertices
    partitioned by label), the Spark analog of the reference's
    MergeTree ``ORDER BY (k,c)`` edgestore (QueryHelper.java:57).  Every
    graph query starts from that narrow pre-derived table with partition
    pruning on the edge set and row-group pruning on src, instead of
    re-deriving vertices/edges from the star schema; derive_star_graph
    is the in-plan derivation the cache is built from."""
    if edge_labels is not None and not (edge_labels & _KNOWN_EDGE_SETS):
        raise ValueError(
            f"edge_labels {sorted(edge_labels)} match no known edge set "
            f"{sorted(_KNOWN_EDGE_SETS)}")
    from .persistence import clustered_star_graph
    return clustered_star_graph(spark, sf_dir, edge_labels)


def derive_star_graph(spark: SparkSession, sf_dir: str,
                      edge_labels: set[str] | None = None,
                      with_etype: bool = False) -> PropertyGraph:
    """In-plan derivation of the star-schema graph (no persisted layout).

    `with_etype` adds the build-key column (`etype`) to edges — it
    differs from `label` only for supplier→nation edges (etype
    `supplier_in_nation`, label `in_nation`), and is what the clustered
    layout partitions by so label restriction stays faithful."""
    want = edge_labels  # None → all

    def _w(label: str) -> bool:
        return want is None or label in want

    def _tag(df: DataFrame, etype: str) -> DataFrame:
        return df.withColumn("etype", F.lit(etype)) if with_etype else df

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")

    verts = [
        c.select((F.col("c_custkey") + ID_OFFSETS["customer"]).alias("id"),
                 F.lit("customer").alias("label"),
                 F.col("c_name").alias("name")),
        n.select((F.col("n_nationkey") + ID_OFFSETS["nation"]).alias("id"),
                 F.lit("nation").alias("label"),
                 F.col("n_name").alias("name")),
        r.select((F.col("r_regionkey") + ID_OFFSETS["region"]).alias("id"),
                 F.lit("region").alias("label"),
                 F.col("r_name").alias("name")),
    ]
    edges = []

    if _w("in_nation"):
        edges.append(_tag(c.select(
            (F.col("c_custkey") + ID_OFFSETS["customer"]).alias("src"),
            (F.col("c_nationkey").cast("long") + ID_OFFSETS["nation"]).alias("dst"),
            F.lit("in_nation").alias("label"),
            F.lit(1.0).alias("weight")), "in_nation"))
    if _w("in_region"):
        edges.append(_tag(n.select(
            (F.col("n_nationkey") + ID_OFFSETS["nation"]).alias("src"),
            (F.col("n_regionkey").cast("long") + ID_OFFSETS["region"]).alias("dst"),
            F.lit("in_region").alias("label"),
            F.lit(1.0).alias("weight")), "in_region"))

    if want is None or {"placed", "contains", "supplied_by",
                        "supplier_in_nation"} & want:
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        s = load_table(spark, sf_dir, "supplier")
        p = load_table(spark, sf_dir, "part")
        verts += [
            o.select((F.col("o_orderkey") + ID_OFFSETS["order"]).alias("id"),
                     F.lit("order").alias("label"),
                     F.col("o_orderstatus").alias("name")),
            p.select((F.col("p_partkey") + ID_OFFSETS["part"]).alias("id"),
                     F.lit("part").alias("label"),
                     F.col("p_name").alias("name")),
            s.select((F.col("s_suppkey") + ID_OFFSETS["supplier"]).alias("id"),
                     F.lit("supplier").alias("label"),
                     F.col("s_name").alias("name")),
        ]
        if _w("placed"):
            edges.append(_tag(o.select(
                (F.col("o_custkey") + ID_OFFSETS["customer"]).alias("src"),
                (F.col("o_orderkey") + ID_OFFSETS["order"]).alias("dst"),
                F.lit("placed").alias("label"),
                F.lit(1.0).alias("weight")), "placed"))
        if _w("contains"):
            edges.append(_tag(li.select(
                (F.col("l_orderkey") + ID_OFFSETS["order"]).alias("src"),
                (F.col("l_partkey") + ID_OFFSETS["part"]).alias("dst"),
                F.lit("contains").alias("label"),
                F.col("l_quantity").alias("weight")), "contains"))  # edge prop
        if _w("supplied_by"):
            edges.append(_tag(li.select(
                (F.col("l_partkey") + ID_OFFSETS["part"]).alias("src"),
                (F.col("l_suppkey") + ID_OFFSETS["supplier"]).alias("dst"),
                F.lit("supplied_by").alias("label"),
                F.lit(1.0).alias("weight")).dropDuplicates(["src", "dst"]),
                "supplied_by"))
        if _w("supplier_in_nation"):
            edges.append(_tag(s.select(
                (F.col("s_suppkey") + ID_OFFSETS["supplier"]).alias("src"),
                (F.col("s_nationkey").cast("long") + ID_OFFSETS["nation"]).alias("dst"),
                F.lit("in_nation").alias("label"),
                F.lit(1.0).alias("weight")), "supplier_in_nation"))

    vertices = verts[0]
    for v in verts[1:]:
        vertices = vertices.unionByName(v)
    edf = edges[0]
    for e in edges[1:]:
        edf = edf.unionByName(e)
    return PropertyGraph(vertices, edf)


def interaction_graph(spark: SparkSession, sf_dir: str,
                      window: str = "10 minutes") -> PropertyGraph:
    """Temporal interaction graph sessionized from the events stream
    (FIXTURES.md: `interacted` user→user edges): users co-occurring in
    the same tumbling activity window are linked.

    Served from the persisted derived graph
    (persistence.ensure_interaction_graph — the events distinct + window
    self-join runs ONCE per (sf_dir, window), then every consumer —
    k-core, LPA, link prediction, degree — starts from the narrow
    clustered edge list instead of re-deriving from the event log per
    query; at 100 TB the derivation is a full fact-table pass, the
    clustered read is not)."""
    from .persistence import clustered_interaction_graph
    return clustered_interaction_graph(spark, sf_dir, window)


def derive_interaction_graph(spark: SparkSession, sf_dir: str,
                             window: str = "10 minutes") -> PropertyGraph:
    """The in-plan derivation: one distinct + one self-join on the window
    key — the join fans out only within a window, so skew is bounded by
    per-window activity, not corpus size."""
    ev = load_table(spark, sf_dir, "events")
    b = (ev.select("user_id", F.window("ts", window).alias("w"))
         .select("user_id", F.col("w.start").alias("w"))
         .distinct())
    b2 = b.select(F.col("user_id").alias("user2"), "w")
    edges = (b.join(b2, "w")
             .filter(F.col("user_id") < F.col("user2"))
             .select(F.col("user_id").alias("src"),
                     F.col("user2").alias("dst"))
             .distinct()
             .withColumn("label", F.lit("interacted"))
             .withColumn("weight", F.lit(1.0)))
    vertices = (ev.select(F.col("user_id").alias("id")).distinct()
                .withColumn("label", F.lit("user"))
                .withColumn("name", F.col("id").cast("string")))
    return PropertyGraph(vertices, edges)


def graph_from_edge_list(spark: SparkSession,
                         edges: list[tuple[int, int]]) -> PropertyGraph:
    """Micro-graph builder for closed-form algorithm tests."""
    e = spark.createDataFrame(
        [(int(s), int(d), "e", 1.0) for s, d in edges],
        "src long, dst long, label string, weight double")
    v = (e.select(F.col("src").alias("id"))
          .unionAll(e.select(F.col("dst").alias("id")))
          .distinct()
          .withColumn("label", F.lit("v"))
          .withColumn("name", F.col("id").cast("string")))
    return PropertyGraph(v, e)
