"""Motif finding: GraphFrames-style structural pattern matching compiled
to joins (the declarative face of multi-hop traversal, SURVEY §2.3).

A pattern is a sequence of directed edge triples
``(src_var, edge_label_or_None, dst_var)``; the result is one row per
binding of the variables, columns named by the variables.  Example:

    find(g, [("a", "placed", "b"), ("b", "contains", "c")])
      → DataFrame(a, b, c)   # customer, order, part ids

    find(g, [("x", None, "y"), ("y", None, "z"), ("z", None, "x")])
      → directed 3-cycles

Compilation: one equi-join per triple against the (label-filtered) edge
relation, re-using already-bound variables as join keys — so Catalyst
sees a single join tree it can reorder, broadcast, and push filters
into.  Repeated variables express cycles; `distinct_vertices` adds
pairwise != filters (isomorphic matching).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .model import PropertyGraph


def find(graph: PropertyGraph, pattern: list[tuple[str, str | None, str]],
         distinct_vertices: bool = False) -> DataFrame:
    """Match the motif; returns one column per variable (vertex id).

    Triples are compiled in CONNECTED order (r13): a conjunctive
    pattern's result is order-independent, so each step greedily picks
    the first not-yet-compiled triple sharing a bound variable.  This
    guarantees every step of a connected pattern is an equi-join —
    the written order used to hit the crossJoin arm whenever a triple
    didn't touch the running binding set (g12's c2-placed-o2 step),
    and the plan then leaned on Catalyst reordering to recover, which
    the join-strategy hints below suppress (measured r13: the hinted
    written-order tree materialized the cross product and OOM'd at
    x30).  Cross products remain only for genuinely disconnected
    patterns."""
    if not pattern:
        raise ValueError("empty pattern")
    remaining = list(pattern)
    result: DataFrame | None = None
    bound: set[str] = set()

    def rel(sv, label, dv):
        e = graph.edges
        if label is not None:
            e = e.filter(F.col("label") == label)
        return e.select(F.col("src").alias(sv), F.col("dst").alias(dv))

    while remaining:
        pick = next((t for t in remaining if bound & {t[0], t[2]}),
                    remaining[0])
        remaining.remove(pick)
        sv, label, dv = pick
        e = rel(sv, label, dv)
        if result is None:
            result = e
        else:
            keys = [v for v in (sv, dv) if v in bound]
            if keys:
                # shuffle_hash ON THE EDGE side: each triple's relation
                # is |E|-scaled (modulo label selectivity) and its
                # compressed-scan estimate otherwise lets Catalyst plan
                # a GB-scale broadcast BUILD of it against the growing
                # binding set — the r13 x30 g12 death, the AA/LPA
                # class.  Per-partition builds stay |E|/partitions.
                result = result.join(e.hint("shuffle_hash"), keys)
            else:  # disconnected pattern component → real cross product
                result = result.crossJoin(e)
        bound.update((sv, dv))
    if distinct_vertices:
        for a, b in combinations(sorted(bound), 2):
            result = result.filter(F.col(a) != F.col(b))
    return result.select(*sorted(bound))

