"""The benchmark's workloads.

Each workload is one closed-loop client.  ``setup`` runs once after the
session exists (table loads and first scans, the cold clustered-adjacency
build where the workload reads it, warm-up); ``round`` runs one fixed round
of operations and records each; ``verify`` checks every recorded output
against an independent computation (``checks``), after the timed phase.

Operations call only the package's public functions.  The program sees the
generated inputs and nothing else.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

import checks
import datagen


@dataclass
class Op:
    kind: str
    write: bool
    latency: float
    ok: bool


class Ctx:
    """What a workload needs from the run: the session, the package's
    modules, the tracer, the input directory and the seed."""

    def __init__(self, spark, pkg, tracer, data_dir: str, work_dir: str,
                 seed: int, cpu):
        self.spark = spark
        self.pkg = pkg
        self.tracer = tracer
        self.data = data_dir
        self.work = work_dir
        self.seed = seed
        self.ops: list[Op] = []
        self.cpu = cpu         # () -> CPU seconds used so far by the run
        self.paused = 0.0      # untimed seconds spent inside rounds
        self.paused_cpu = 0.0  # and the CPU seconds spent in them
        self.problems: list[str] = []

    def op(self, layer: str, kind: str, fn, write: bool = False):
        """Time one operation; a raised exception counts it as failed."""
        tr = self.tracer
        op = tr.next_op()
        t = time.perf_counter()
        try:
            with tr.job_group(op, layer, kind) as counts:
                with tr.span(f"{layer}.{kind}", op):
                    res = fn(counts)
            ok = True
        except Exception:  # an operation failure is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            res, ok = None, False
        self.ops.append(Op(kind, write, time.perf_counter() - t, ok))
        return res

    def collect(self, df, counts) -> list:
        """Execute a DataFrame.  Traced runs force the physical plan first
        so planning and execution show as separate spans."""
        if self.tracer.enabled:
            with self.tracer.span("operators.plan"):
                df._jdf.queryExecution().executedPlan()
            with self.tracer.span("operators.execute"):
                rows = df.collect()
        else:
            rows = df.collect()
        if counts is not None:
            counts.rows += len(rows)
        return rows

    @contextlib.contextmanager
    def untimed(self):
        """Benchmark-side work inside a round that the timed phase excludes,
        from its wall time and from its CPU time."""
        t, c = time.perf_counter(), self.cpu()
        try:
            yield
        finally:
            self.paused += time.perf_counter() - t
            self.paused_cpu += self.cpu() - c

    def check(self, ok: bool, what: str) -> None:
        if not ok and len(self.problems) < 50:
            self.problems.append(what)


def _tuples(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


# the lineitem columns slices return (the fixture schema, all columns)
LI_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
           "l_quantity", "l_extendedprice", "l_discount", "l_tax",
           "l_returnflag", "l_linestatus", "l_shipdate"]


# ---------------------------------------------------------------------------

class SliceLookups:
    """Small reads: KCVS slices and key-range scans, and document-stat,
    SimHash and k-NN reads of the llm layer on ``functions.P.within``
    subsets.  Keys, documents and query vectors never repeat."""

    name = "slice_lookups"
    LLM_READS = ["text_stats", "gopher_rules", "simhash_pairs",
                 "brute_force_topk_join"]
    ROUND = ["slice"] * 12 + ["multi"] * 3 + ["range"] * 3 + LLM_READS
    MULTI_KEYS = 8
    RANGE_WIDTH = 5
    SLICE_COLS = (2, 6, 3)     # col_start, col_end, limit
    DOCS_PER_READ = 8
    QUERIES_PER_READ = 2
    K = 10

    def generate(self, seed: int, data: str) -> None:
        datagen.star_schema(seed, data)
        datagen.write_documents(seed, data)
        datagen.write_vectors(seed, data)

    def setup(self, ctx: Ctx) -> None:
        p = ctx.pkg
        rng = np.random.default_rng([ctx.seed, 11])
        # every key used once: permutations of the whole key spaces
        self.order_keys = rng.permutation(datagen.N_ORDER).tolist()
        self.ranges = (rng.permutation(datagen.N_CUSTOMER // self.RANGE_WIDTH)
                       * self.RANGE_WIDTH).tolist()
        self.doc_ids = rng.permutation(datagen.N_DOCS).tolist()
        self.query_ids = rng.permutation(datagen.N_QUERY_VECS).tolist()
        self.log: list[tuple] = []
        with ctx.tracer.span("sources.load_tables"):
            self.li = p.sources.load_table(ctx.spark, ctx.data, "lineitem")
            self.orders = p.sources.load_table(ctx.spark, ctx.data, "orders")
            self.li.count()
            self.orders.count()
            self.corpus = load_corpus(ctx)
        with ctx.tracer.span("bench.warmup"):
            # a whole round: the first reads of a cold JVM cost about
            # twice the CPU of later ones
            for kind in self.ROUND:
                self._run(ctx, kind, record=False)

    def _key(self) -> int:
        return self.order_keys.pop()

    def _run(self, ctx: Ctx, kind: str, record: bool = True) -> None:
        ops = ctx.pkg.operators
        li, orders = self.li, self.orders
        if kind == "slice":
            k = self._key()
            lo, hi, lim = self.SLICE_COLS
            res = ctx.op("operators", "slice_query", lambda c: ctx.collect(
                ops.slice_query(li, "l_orderkey", "l_linenumber", k, lo, hi,
                                lim, projection=LI_COLS), c))
            args = (k,)
        elif kind == "multi":
            ks = [self._key() for _ in range(self.MULTI_KEYS)]
            res = ctx.op("operators", "multi_key_slice", lambda c: ctx.collect(
                ops.multi_key_slice(li, "l_orderkey", "l_linenumber", ks,
                                    limit_per_key=3, projection=LI_COLS), c))
            args = tuple(ks)
        elif kind in self.LLM_READS:
            pool, n = ((self.query_ids, self.QUERIES_PER_READ)
                       if kind == "brute_force_topk_join"
                       else (self.doc_ids, self.DOCS_PER_READ))
            args = tuple(sorted(pool.pop() for _ in range(n)))
            res = ctx.op("llm", kind, lambda c: llm_call(
                ctx, self.corpus, kind, args, self.K).collect())
        else:
            lo = self.ranges.pop()
            res = ctx.op("operators", "key_range_scan", lambda c: ctx.collect(
                ops.key_range_scan(orders, "o_custkey", lo,
                                   lo + self.RANGE_WIDTH), c))
            args = (lo,)
        if record and res is not None:
            self.log.append((kind, args, _tuples(res)))

    def round(self, ctx: Ctx) -> None:
        for kind in self.ROUND:
            self._run(ctx, kind)

    def verify(self, ctx: Ctx) -> None:
        import duckdb
        con = duckdb.connect()
        li = os.path.join(ctx.data, "lineitem.parquet")
        orders = os.path.join(ctx.data, "orders.parquet")
        cols = ", ".join(LI_COLS)
        lo, hi, lim = self.SLICE_COLS
        verify_llm(ctx, [e for e in self.log if e[0] in self.LLM_READS], self.K)
        for kind, args, got in self.log:
            if kind in self.LLM_READS:
                continue
            if kind == "slice":
                want = con.execute(
                    f"SELECT {cols} FROM '{li}' WHERE l_orderkey = ? AND "
                    f"l_linenumber >= {lo} AND l_linenumber < {hi} "
                    f"ORDER BY l_linenumber LIMIT {lim}", [args[0]]).fetchall()
                ctx.check(got == want, f"slice_query {args}")
            elif kind == "multi":
                keys = ", ".join(str(k) for k in args)
                want = con.execute(
                    f"SELECT {cols} FROM (SELECT *, row_number() OVER "
                    f"(PARTITION BY l_orderkey ORDER BY l_linenumber) rn "
                    f"FROM '{li}' WHERE l_orderkey IN ({keys})) WHERE rn <= 3"
                ).fetchall()
                ctx.check(sorted(got) == sorted(want), f"multi_key_slice {args}")
            else:
                want = con.execute(
                    f"SELECT DISTINCT o_custkey FROM '{orders}' WHERE o_custkey "
                    f">= ? AND o_custkey < ? ORDER BY 1",
                    [args[0], args[0] + self.RANGE_WIDTH]).fetchall()
                ctx.check(got == want, f"key_range_scan {args}")
        con.close()


# ---------------------------------------------------------------------------

class GraphAnalytics:
    """A fixed list of whole-graph jobs and two-hop traversals on the
    clustered star-schema graph."""

    name = "graph_analytics"
    PR_ITERS = 3
    PPR_ITERS = 2
    BFS_HOPS = 3
    K = 3
    ROUND = ["pagerank", "connected_components", "k_core",
             "strongly_connected_components", "bfs_distances",
             "personalized_pagerank", "traversal", "traversal"]

    def generate(self, seed: int, data: str) -> None:
        datagen.star_schema(seed, data)

    def setup(self, ctx: Ctx) -> None:
        p = ctx.pkg
        rng = np.random.default_rng([ctx.seed, 12])
        # sources and traversal starts: customers, none used twice
        self.sources = (rng.permutation(datagen.N_CUSTOMER)
                        + checks.OFFSETS["customer"]).tolist()
        self.log: list[tuple] = []
        with ctx.tracer.span("sources.load_tables"):
            for name in ("customer", "orders", "lineitem"):
                p.sources.load_table(ctx.spark, ctx.data, name).count()
        with ctx.tracer.span("graph.ensure_clustered_graph"):
            p.persistence.ensure_clustered_graph(ctx.spark, ctx.data)
            self.g = p.persistence.clustered_star_graph(ctx.spark, ctx.data)
        # no warm-up: every run times the same single round, and each call
        # of it runs dozens of jobs, so the cold start of the first is a
        # small and constant share

    def _job(self, ctx: Ctx, kind: str):
        a, g = ctx.pkg.algorithms, self.g
        if kind == "pagerank":
            return (), lambda: a.pagerank(g, max_iter=self.PR_ITERS)
        if kind == "connected_components":
            return (), lambda: a.connected_components(g)
        if kind == "k_core":
            return (), lambda: a.k_core(g, self.K)
        if kind == "strongly_connected_components":
            return (), lambda: a.strongly_connected_components(
                g.edges.select("src", "dst"))
        src = self.sources.pop()
        if kind == "bfs_distances":
            return (src,), lambda: a.bfs_distances(g, [src], self.BFS_HOPS)
        if kind == "traversal":
            trav = ctx.pkg.graph.Traversal
            return (src,), lambda: (trav.V(g, src).out("placed")
                                    .out("contains").dedup().frontier
                                    .select("id"))
        return (src,), lambda: a.personalized_pagerank(g, [src],
                                                       max_iter=self.PPR_ITERS)

    def round(self, ctx: Ctx) -> None:
        for kind in self.ROUND:
            args, build = self._job(ctx, kind)
            if kind == "traversal":
                res = ctx.op("graph", kind,
                             lambda c: ctx.collect(build(), c))
                if res is not None:
                    self.log.append((kind, args, sorted(r[0] for r in res)))
                continue
            res = ctx.op("graph", kind, lambda c: build().collect())
            if res is not None:
                self.log.append((kind, args, {r[0]: r[1] for r in res}))

    def verify(self, ctx: Ctx) -> None:
        import duckdb
        con = duckdb.connect()
        li = os.path.join(ctx.data, "lineitem.parquet")
        orders = os.path.join(ctx.data, "orders.parquet")
        sg = checks.StarGraph(ctx.data)
        cache: dict = {}

        def ref(kind, args):
            key = (kind, args)
            if key not in cache:
                cache[key] = {
                    "pagerank": lambda: sg.pagerank(self.PR_ITERS),
                    "connected_components": sg.components,
                    "k_core": lambda: sg.k_core(self.K),
                    "strongly_connected_components": sg.scc,
                    "bfs_distances": lambda: sg.bfs(list(args), self.BFS_HOPS),
                    "personalized_pagerank": lambda: sg.personalized_pagerank(
                        list(args), self.PPR_ITERS),
                }[kind]()
            return cache[key]

        for kind, args, got in self.log:
            if kind == "traversal":
                want = con.execute(
                    f"SELECT DISTINCT l.l_partkey + {checks.OFFSETS['part']} "
                    f"FROM '{orders}' o JOIN '{li}' l ON l.l_orderkey = "
                    f"o.o_orderkey WHERE o.o_custkey = ? ORDER BY 1",
                    [args[0] - checks.OFFSETS["customer"]]).fetchall()
                ctx.check(got == [r[0] for r in want], f"traversal {args}")
                continue
            want = ref(kind, args)
            if kind in ("pagerank", "personalized_pagerank"):
                tol = checks.PR_TOL if kind == "pagerank" else checks.PPR_TOL
                ok = (got.keys() == want.keys() and
                      max(abs(got[v] - want[v]) for v in want) <= tol)
            else:
                ok = got == want
            ctx.check(ok, f"{kind} {args}")
        con.close()


# ---------------------------------------------------------------------------

def load_corpus(ctx: Ctx) -> tuple:
    """The documents, corpus vectors and query vectors, each scanned once."""
    p = ctx.pkg
    docs = p.sources.load_table(ctx.spark, ctx.data, "documents")
    emb = p.sources.load_table(ctx.spark, ctx.data, "embeddings")
    queries = p.sources.load_table(
        ctx.spark, os.path.join(ctx.data, "queries"), "embeddings")
    for df in (docs, emb, queries):
        df.count()
    return docs, emb, queries


def llm_call(ctx: Ctx, corpus: tuple, kind: str, ids: tuple, k: int):
    """The llm-layer call ``kind`` on the documents (or, for the k-NN
    join, the query vectors) whose ids are ``ids``, picked with
    ``functions.P.within``."""
    p, (docs, emb, queries) = ctx.pkg, corpus
    if kind == "brute_force_topk_join":
        return p.similarity.brute_force_topk_join(
            queries.filter(p.P.within("vec_id", list(ids))), emb,
            "vec_id", "embedding", "vec_id", "embedding", k=k)
    fn = {"minhash_dedup_pairs": p.dedup.minhash_dedup_pairs,
          "dedup_clusters": p.dedup.dedup_clusters,
          "simhash_pairs": p.dedup.simhash_pairs,
          "text_stats": p.text.text_stats,
          "gopher_rules": p.text.gopher_rules}[kind]
    return fn(docs.filter(p.P.within("doc_id", list(ids))), "doc_id", "text")


def verify_llm(ctx: Ctx, log: list[tuple], k: int) -> None:
    """Check llm-layer results, logged as (kind, sorted ids, rows), against
    the raw text and vectors regenerated from the seed."""
    ids, texts = datagen.documents(ctx.seed)
    text = dict(zip(ids, texts))
    corpus, queries = datagen.vectors(ctx.seed)
    sims: dict[int, int] = {}

    def sim(d):
        if d not in sims:
            sims[d] = checks.simhash64(text[d])
        return sims[d]

    minhash_by_subset: dict[tuple, list] = {}
    for kind, args, got in log:
        if kind == "minhash_dedup_pairs":
            minhash_by_subset[args] = got
            for a, b, j in got:
                ref = checks.jaccard(text[a], text[b])
                ctx.check(a < b and a in args and b in args
                          and ref >= 0.4 and abs(ref - j) <= 1e-6,
                          f"minhash pair {a},{b} {j} vs {ref}")
        elif kind == "simhash_pairs":
            want = {(a, b) for i, a in enumerate(args) for b in args[i + 1:]
                    if checks.hamming(sim(a), sim(b)) <= 8}
            ctx.check({(a, b) for a, b, _ in got} == want,
                      f"simhash pair set ({len(got)} vs {len(want)})")
            for a, b, h in got:
                ctx.check(h == checks.hamming(sim(a), sim(b)),
                          f"simhash hamming {a},{b}")
        elif kind == "dedup_clusters":
            _verify_clusters(ctx, got, minhash_by_subset.get(args))
        elif kind == "text_stats":
            ctx.check(sorted(r[0] for r in got) == list(args), "text_stats ids")
            for r in got:
                ref = checks.text_stats(text[r[0]])
                ctx.check(r[1] == ref[0] and all(
                    abs(x - y) <= 1e-6 for x, y in zip(r[2:], ref[1:])),
                    f"text_stats {r[0]}")
        elif kind == "gopher_rules":
            ctx.check(sorted(r[0] for r in got) == list(args), "gopher ids")
            for r in got:
                n, mean_len, alpha, hits, passes = checks.gopher(text[r[0]])
                ctx.check(r[1] == n and abs(r[2] - mean_len) <= 1e-6
                          and abs(r[6] - alpha) <= 1e-6 and r[7] == hits
                          and r[8] == passes, f"gopher {r[0]}")
        else:
            _verify_knn(ctx, args, got, corpus, queries, k)


def _verify_clusters(ctx: Ctx, got, pairs) -> None:
    """Clusters must be the connected components of the near-dup pair
    graph (union-find over the MinHash pairs of the same subset)."""
    if pairs is None:
        ctx.check(False, "dedup_clusters without its MinHash round")
        return
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want: dict[int, list[int]] = {}
    for x in parent:
        want.setdefault(find(x), []).append(x)
    want_rows = sorted((c, len(m), ",".join(map(str, sorted(m))))
                       for c, m in want.items())
    ctx.check(sorted(got) == want_rows, "dedup_clusters")


def _verify_knn(ctx: Ctx, qids, got, corpus, queries, k: int) -> None:
    cos = checks.cosine_matrix(queries[list(qids)], corpus)
    by_q: dict[int, list] = {}
    for q, c, s in got:
        by_q.setdefault(q, []).append((c, s))
    ctx.check(sorted(by_q) == list(qids), "knn query set")
    for row, q in enumerate(qids):
        best = np.sort(cos[row])[::-1][:k]
        res = by_q.get(q, [])
        ctx.check(len(res) == k and all(
            abs(cos[row, c] - s) <= 2e-6 for c, s in res) and np.allclose(
            sorted((s for _, s in res), reverse=True), best, atol=2e-6),
            f"knn query {q}")


class LlmCuration:
    """Seeded document subsets and query vectors through the llm layer."""

    name = "llm_curation"
    SUBSET = 200
    QUERIES = 20
    K = 10
    ROUND = ["minhash_dedup_pairs", "dedup_clusters", "simhash_pairs",
             "text_stats", "gopher_rules", "brute_force_topk_join"]

    def generate(self, seed: int, data: str) -> None:
        datagen.write_documents(seed, data)
        datagen.write_vectors(seed, data)

    def setup(self, ctx: Ctx) -> None:
        self.rng = np.random.default_rng([ctx.seed, 13])
        self.log: list[tuple] = []
        with ctx.tracer.span("sources.load_tables"):
            self.corpus = load_corpus(ctx)
        with ctx.tracer.span("bench.warmup"):
            # the Python workers, the Arrow path and the shingle and vector
            # plans once, on small inputs: without it the round's first
            # calls run up to three times slower
            for kind, ids in (("text_stats", range(40)),
                              ("simhash_pairs", range(40)),
                              ("brute_force_topk_join", range(3))):
                llm_call(ctx, self.corpus, kind, tuple(ids), self.K).collect()

    def round(self, ctx: Ctx) -> None:
        ids = tuple(sorted(self.rng.choice(datagen.N_DOCS, self.SUBSET,
                                           replace=False).tolist()))
        qids = tuple(sorted(self.rng.choice(datagen.N_QUERY_VECS, self.QUERIES,
                                            replace=False).tolist()))
        for kind in self.ROUND:
            args = qids if kind == "brute_force_topk_join" else ids
            res = ctx.op("llm", kind, lambda c: llm_call(
                ctx, self.corpus, kind, args, self.K).collect())
            if res is not None:
                self.log.append((kind, args, _tuples(res)))

    def verify(self, ctx: Ctx) -> None:
        verify_llm(ctx, self.log, self.K)


# ---------------------------------------------------------------------------

class UpsertStream:
    """Micro-batch upserts through ``streaming.ops.foreach_batch_upsert``
    beside slice reads on the same table."""

    name = "upsert_stream"
    KEYS = ["l_orderkey", "l_linenumber"]
    READS_BETWEEN = 4
    READ_KEYS = 8
    RW_KEYS = 16
    RECENT_SHARE = 0.7
    COMMITS_PER_ROUND = 2

    def generate(self, seed: int, data: str) -> None:
        import pyarrow.parquet as pq
        self.feed = datagen.UpsertFeed(seed)
        init = self.feed.initial()
        self.table_dir = os.path.join(data, "upsert", "lineitem.parquet")
        os.makedirs(self.table_dir)
        pq.write_table(init, os.path.join(self.table_dir, "part-0.parquet"))
        self.model: dict[int, dict[int, tuple]] = {}
        self._apply(init)
        self.inbox = os.path.join(data, "inbox")
        self.staging = os.path.join(data, "staging")
        os.makedirs(self.inbox)
        os.makedirs(self.staging)

    def _apply(self, table) -> None:
        for row in zip(*(table.column(c).to_pylist() for c in LI_COLS)):
            self.model.setdefault(row[0], {})[row[3]] = row

    def _expected(self, keys) -> list[tuple]:
        return sorted(r for k in keys for r in self.model.get(k, {}).values())

    def setup(self, ctx: Ctx) -> None:
        p = ctx.pkg
        self.rng = np.random.default_rng([ctx.seed, 14])
        self.recent: list[int] = []
        self.log: list[tuple] = []
        self.batch_no = 0
        self.write_lat: list[float] = []
        self.commit_bytes: list[tuple] = []
        self.table_bytes: list[int] = []
        with ctx.tracer.span("sources.load_tables"):
            self._table(ctx).count()
        stream = (ctx.spark.readStream.schema(p.sources.TABLES["lineitem"])
                  .option("maxFilesPerTrigger", 1).parquet(self.inbox))
        with ctx.tracer.span("streaming.foreach_batch_upsert"):
            self.query = p.streaming.foreach_batch_upsert(
                stream, self.table_dir, self.KEYS,
                checkpoint_dir=os.path.join(ctx.work, "upsert_ckpt")).start()
        with ctx.tracer.span("bench.warmup"):
            # an untimed round: the first commits and reads of a query pay
            # one-off planning and codegen
            self.round(ctx)
        for done in (self.write_lat, self.commit_bytes, self.table_bytes):
            done.clear()

    def _table(self, ctx: Ctx):
        return ctx.pkg.sources.load_table(
            ctx.spark, os.path.dirname(self.table_dir), "lineitem")

    def _read(self, ctx: Ctx, keys: list[int], kind: str) -> float:
        """One multi-key slice; returns the time it returned."""
        ops = ctx.pkg.operators
        res = ctx.op("operators", kind, lambda c: ctx.collect(
            ops.multi_key_slice(self._table(ctx), "l_orderkey", "l_linenumber",
                                keys, projection=LI_COLS), c))
        end = time.perf_counter()
        with ctx.untimed():
            if res is not None:
                self.log.append((kind, tuple(keys), sorted(_tuples(res)),
                                 self._expected(keys)))
        return end

    def _land(self) -> tuple[list[int], int]:
        """Generate the next micro-batch, apply it to the model and move it
        into the stream's input directory in one rename.  Returns the
        batch's order keys and its size in bytes."""
        import pyarrow.parquet as pq
        keys = np.array([(k, c) for k, lines in self.model.items()
                         for c in lines], dtype=np.int64)
        batch = self.feed.batch(keys)
        self.batch_no += 1
        name = f"batch-{self.batch_no:05d}.parquet"
        staged = os.path.join(self.staging, name)
        pq.write_table(batch, staged)
        size = os.path.getsize(staged)
        self._apply(batch)
        self.batch_orders = sorted(set(batch.column("l_orderkey").to_pylist()))
        os.rename(staged, os.path.join(self.inbox, name))
        return self.batch_orders, size

    def _after_commit(self, ctx: Ctx) -> None:
        self.table_bytes.append(sum(
            os.path.getsize(os.path.join(self.table_dir, f))
            for f in os.listdir(self.table_dir)))
        self._check_table(ctx)
        # distinct keys, newest first: a read never names a key twice
        self.recent = list(dict.fromkeys(self.batch_orders + self.recent))[:3000]

    def round(self, ctx: Ctx) -> None:
        for _ in range(self.COMMITS_PER_ROUND):
            self._commit_and_read(ctx)

    def _commit_and_read(self, ctx: Ctx) -> None:
        """Land one micro-batch, commit it, read it back, then read keys
        biased toward recent writes."""
        with ctx.untimed():
            group = str(self.query.runId)
            before = (ctx.tracer.group_counts(group)
                      if ctx.tracer.enabled else None)
            orders, user_bytes = self._land()
            rw_keys = self.rng.choice(orders, self.RW_KEYS,
                                      replace=False).tolist()
        landed = time.perf_counter()
        ctx.op("streaming", "commit",
               lambda c: self.query.processAllAvailable(), write=True)
        visible = self._read(ctx, rw_keys, "read_after_write")
        self.write_lat.append(visible - landed)
        with ctx.untimed():
            if ctx.tracer.enabled:
                after = ctx.tracer.group_counts(group)
                self.commit_bytes.append((after.jobs - before.jobs,
                                          after.output_bytes - before.output_bytes,
                                          user_bytes))
            self._after_commit(ctx)
            all_orders = list(self.model)
        for _ in range(self.READS_BETWEEN):
            with ctx.untimed():
                n_recent = int(self.READ_KEYS * self.RECENT_SHARE)
                keys = self.rng.choice(self.recent, n_recent,
                                       replace=False).tolist()
                # READ_KEYS candidates hold at least READ_KEYS - n_recent
                # keys the recent draw did not take
                others = self.rng.choice(all_orders, self.READ_KEYS,
                                         replace=False).tolist()
                keys += [k for k in others if k not in keys][
                    :self.READ_KEYS - n_recent]
            self._read(ctx, keys, "multi_key_slice")

    def _check_table(self, ctx: Ctx) -> None:
        """The whole table after a commit equals the dict model: one row
        per key, the last write wins.  Read with DuckDB, not Spark."""
        import duckdb
        cols = ", ".join(LI_COLS)
        got = duckdb.sql(
            f"SELECT {cols} FROM read_parquet('{self.table_dir}/*.parquet')"
        ).fetchall()
        want = [r for lines in self.model.values() for r in lines.values()]
        ctx.check(sorted(got) == sorted(want),
                  f"table after batch {self.batch_no}: {len(got)} rows "
                  f"vs {len(want)} in the model")

    def verify(self, ctx: Ctx) -> None:
        for kind, keys, got, want in self.log:
            ctx.check(got == want, f"{kind} {keys[:4]}...")

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None:
            q.stop()


WORKLOADS = {w.name: w for w in (SliceLookups, GraphAnalytics, LlmCuration,
                                 UpsertStream)}
