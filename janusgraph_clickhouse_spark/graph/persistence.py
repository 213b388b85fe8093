"""Graph persistence: the one warehouse layout for vertices/edges.

The reference's edgestore is one MergeTree table clustered ORDER BY
(k,c) (QueryHelper.java:57) — rows for one vertex are physically
adjacent, so adjacency slices are index scans.  The Spark-native
equivalent layers the same two ideas on plain parquet:

- **partition pruning** — edges partitioned by edge set (`etype`),
  vertices by `label`: a label-restricted traversal reads only its
  partitions' files, the analog of the reference's per-store tables /
  column-prefix ranges;
- **clustering** — within each partition, files are repartitioned by
  `src` and sorted (src, dst), so parquet row-group min/max stats act
  like the MergeTree primary index: a seeded expansion (frontier join on
  src) prunes row groups before decoding anything.

`ensure_clustered_graph` builds this layout ONCE per sf_dir (cached
under a content-keyed directory holding only `edges/`, `vertices/` and
the `_BUILT` marker) and every `star_schema_graph` call reads it — graph
queries start from one narrow pre-derived table instead of re-deriving
vertices/edges from the star schema per query.  It is the only
persisted copy of the edges: iterative algorithms repartition the edge
set they read at the session's width once per call (the pregel
supersteps are plain joins and group-bys over it), and nothing is
registered in the session catalog.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.layout import write_sorted_parquet
from .model import (PropertyGraph, _FACT_EDGE_SETS, _KNOWN_EDGE_SETS,
                    derive_star_graph)


def save_graph(graph: PropertyGraph, path: str,
               num_files: int | None = None) -> None:
    """Persist vertices/edges as clustered parquet under `path`."""
    write_sorted_parquet(graph.vertices, os.path.join(path, "vertices"),
                         sort_cols=["id"], repartition_col="id",
                         num_files=num_files)
    write_sorted_parquet(graph.edges, os.path.join(path, "edges"),
                         sort_cols=["src", "label", "dst"],
                         repartition_col="src", num_files=num_files)


def load_graph(spark: SparkSession, path: str) -> PropertyGraph:
    return PropertyGraph(
        spark.read.parquet(os.path.join(path, "vertices")),
        spark.read.parquet(os.path.join(path, "edges")))


# -- clustered star-schema adjacency (build once per sf_dir) ----------------

# bump when the persisted layout/schema changes so stale caches rebuild
LAYOUT_VERSION = 5  # v5: edges/ + vertices/ only — the src- and
# dst-bucketed edge copies of v4 are gone, so v4 caches (which carry
# them) are orphaned rather than served.
# (v3: unit-adaptive events.ts read — caches built by the hard-coded ns
# loader against the µs fixture derived a 1000×-compressed timeline; the
# source fingerprint alone can't see a LOADER bug, so the version bump
# orphans them.)

# tables the star-schema graph derives from — their on-disk identity is
# part of the cache key
_SOURCE_TABLES = ("customer", "nation", "region", "orders", "lineitem",
                  "supplier", "part")


def _stat_fingerprint(roots: list[str]) -> str:
    """THE stat-based content identity (shared by the star-schema and
    interaction caches so their staleness behavior cannot drift):
    (path, size, ns-mtime) of every LEAF file, walked recursively — a
    one-level listing would fingerprint nested/partitioned layouts by
    directory stat, which an in-place leaf rewrite can leave unchanged
    (the silent-stale failure this fingerprint exists to prevent)."""
    parts = []
    for root in roots:
        files = [root]
        if os.path.isdir(root):
            files = []
            for d, dirs, names in os.walk(root):
                dirs[:] = sorted(x for x in dirs
                                 if not x.startswith(("_", ".")))
                files.extend(os.path.join(d, n) for n in sorted(names)
                             if not n.startswith(("_", ".")))
        for f in files:
            try:
                st = os.stat(f)
                # ns mtime: a fixture regenerated in-place within the same
                # second at identical size must still change the key
                parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
            except OSError:
                parts.append(f"{f}:absent")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def _source_fingerprint(sf_dir: str) -> str:
    return _stat_fingerprint(
        [os.path.join(sf_dir, f"{t}.parquet") for t in _SOURCE_TABLES])


def _build_token() -> str:
    """Uniqueness token for build temp dirs: pid alone is NOT unique
    inside one driver — two threads building concurrently would share a
    temp dir and corrupt each other."""
    import uuid
    return f"{os.getpid()}_{uuid.uuid4().hex[:8]}"


def _sweep_stale_tmp(path: str) -> None:
    """Best-effort reclaim of crash-leftover build temp dirs for this
    cache key (age-gated so a LIVE concurrent builder's tmp survives)."""
    import glob
    import time
    for d in glob.glob(f"{path}.tmp*"):
        try:
            if time.time() - os.path.getmtime(d) > 3600:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass


def _publish(tmp: str, path: str) -> None:
    """Atomic publish: rename tmp into place.  On failure, discard tmp
    ONLY if a finished winner exists at the destination — any other
    rename error (permissions, missing parent) re-raises instead of
    deleting the only good copy and returning a path that doesn't
    exist."""
    try:
        os.rename(tmp, path)
    except OSError:
        if os.path.exists(os.path.join(path, "_BUILT")):
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
        else:
            # non-race failure (permissions, missing parent): leave tmp
            # on disk — it is the only good copy and _sweep_stale_tmp
            # age-gates its reclaim — and propagate the error
            raise


def _cache_path(key: str, base_dir: str | None) -> str:
    """The cache directory for a key string: its md5 prefix under
    `base_dir` (default: the temp dir's `jcs_graph_cache`)."""
    root = base_dir or os.path.join(tempfile.gettempdir(), "jcs_graph_cache")
    return os.path.join(root, hashlib.md5(key.encode()).hexdigest()[:12])


def _build_once(path: str, write: Callable[[str], None]) -> str:
    """Return `path` if its `_BUILT` marker exists; else run
    `write(tmp)` into a (pid, uuid)-suffixed temp dir, mark it built and
    publish it atomically.  Concurrent builders (threads OR processes)
    race safely: the loser of the rename discards its copy."""
    if os.path.exists(os.path.join(path, "_BUILT")):
        return path
    _sweep_stale_tmp(path)
    tmp = f"{path}.tmp{_build_token()}"
    write(tmp)
    open(os.path.join(tmp, "_BUILT"), "w").close()
    _publish(tmp, path)
    return path


def clustered_graph_path(sf_dir: str, base_dir: str | None = None) -> str:
    return _cache_path(f"{os.path.abspath(sf_dir)}:v{LAYOUT_VERSION}"
                       f":{_source_fingerprint(sf_dir)}", base_dir)


def ensure_clustered_graph(spark: SparkSession, sf_dir: str,
                           base_dir: str | None = None,
                           num_files: int = 8) -> str:
    """Build the clustered adjacency for `sf_dir` if absent; return path.

    `num_files` applies at BUILD time only — a warm cache serves
    whatever granularity its builder chose (it is deliberately not part
    of the cache key: content is identical either way)."""
    def write(tmp: str) -> None:
        g = derive_star_graph(spark, sf_dir, None, with_etype=True)
        (g.edges.repartition(num_files, "src")
         .sortWithinPartitions("etype", "src", "dst")
         .write.mode("overwrite").partitionBy("etype")
         .parquet(os.path.join(tmp, "edges")))
        (g.vertices.repartition(num_files, "id")
         .sortWithinPartitions("label", "id")
         .write.mode("overwrite").partitionBy("label")
         .parquet(os.path.join(tmp, "vertices")))

    return _build_once(clustered_graph_path(sf_dir, base_dir), write)


def clustered_star_graph(spark: SparkSession, sf_dir: str,
                         edge_labels: set[str] | None = None,
                         base_dir: str | None = None) -> PropertyGraph:
    """star_schema_graph served from the persisted clustered layout,
    restricted to `edge_labels` with the SAME semantics as the in-plan
    derivation (etype — not label — is the restriction key, so
    supplier→nation edges don't leak into `in_nation` selections; the
    vertex universe matches the derivation's table-skipping rule)."""
    path = ensure_clustered_graph(spark, sf_dir, base_dir)
    verts = spark.read.parquet(os.path.join(path, "vertices"))
    edges = spark.read.parquet(os.path.join(path, "edges"))
    if edge_labels is not None:
        want = edge_labels & _KNOWN_EDGE_SETS
        edges = edges.filter(F.col("etype").isin(sorted(want)))
        vlabels = {"customer", "nation", "region"}
        if want & _FACT_EDGE_SETS:
            vlabels |= {"order", "part", "supplier"}
        verts = verts.filter(F.col("label").isin(sorted(vlabels)))
    return PropertyGraph(verts.select("id", "label", "name"),
                         edges.select("src", "dst", "label", "weight"))


# -- clustered interaction graph (events-derived; build once per window) ----

def _events_fingerprint(sf_dir: str) -> str:
    return _stat_fingerprint([os.path.join(sf_dir, "events.parquet")])


def interaction_graph_path(sf_dir: str, window: str,
                           base_dir: str | None = None) -> str:
    return _cache_path(f"ig:{os.path.abspath(sf_dir)}:w{window}"
                       f":v{LAYOUT_VERSION}:{_events_fingerprint(sf_dir)}",
                       base_dir)


def ensure_interaction_graph(spark: SparkSession, sf_dir: str,
                             window: str = "10 minutes",
                             base_dir: str | None = None,
                             num_files: int = 8) -> str:
    """Materialize the events-derived interaction graph ONCE per
    (sf_dir, window): the distinct + window self-join is a full pass over
    the event log, which k-core / LPA / link-prediction / degree queries
    would otherwise each repeat.  Persisted as (src, dst)-sorted clustered
    parquet (row-group pruning on src) through the star-schema cache's
    build-once path."""
    from .model import derive_interaction_graph

    def write(tmp: str) -> None:
        save_graph(derive_interaction_graph(spark, sf_dir, window), tmp,
                   num_files=num_files)

    return _build_once(interaction_graph_path(sf_dir, window, base_dir),
                       write)


def clustered_interaction_graph(spark: SparkSession, sf_dir: str,
                                window: str = "10 minutes",
                                base_dir: str | None = None) -> PropertyGraph:
    path = ensure_interaction_graph(spark, sf_dir, window, base_dir)
    return load_graph(spark, path)
