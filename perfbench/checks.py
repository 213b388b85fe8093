"""Independent reference computations for the correctness checks.

Nothing here imports the program under test: graph results are checked
against plain-Python union-find, BFS, peeling and Tarjan over an edge
list derived here from the generated tables, ranks against a numpy power
iteration, dedup pairs against Jaccard / SimHash distances recomputed from
the raw text, k-NN against numpy brute force, and slices against DuckDB SQL
over the same parquet files.
"""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict, deque

import numpy as np
import pyarrow.parquet as pq

# the engine's documented vertex-id layout (FIXTURES.md, graph/model.py):
# each label's natural key offset into a disjoint range
OFFSETS = {"customer": 1_000_000_000, "order": 2_000_000_000,
           "part": 3_000_000_000, "supplier": 4_000_000_000,
           "nation": 5_000_000_000, "region": 6_000_000_000}

PR_TOL = 1e-9      # absolute, on ranks of order 1 (pagerank sums to |V|)
PPR_TOL = 1e-12    # absolute, on ranks summing to 1


def _col(data_dir: str, table: str, *cols: str) -> list[np.ndarray]:
    t = pq.read_table(os.path.join(data_dir, f"{table}.parquet"),
                      columns=list(cols))
    return [t.column(c).to_numpy() for c in cols]


class StarGraph:
    """The star-schema property graph, derived from the parquet tables by
    the rules FIXTURES.md documents: placed (customer->order), contains
    (order->part, one edge per line item), supplied_by (part->supplier,
    distinct pairs), in_nation (customer->nation, supplier->nation),
    in_region (nation->region)."""

    def __init__(self, data_dir: str):
        o = OFFSETS
        (ck, cn) = _col(data_dir, "customer", "c_custkey", "c_nationkey")
        (ok, oc) = _col(data_dir, "orders", "o_orderkey", "o_custkey")
        (lo, lp, ls) = _col(data_dir, "lineitem", "l_orderkey", "l_partkey",
                            "l_suppkey")
        (pk,) = _col(data_dir, "part", "p_partkey")
        (sk, sn) = _col(data_dir, "supplier", "s_suppkey", "s_nationkey")
        (nk, nr) = _col(data_dir, "nation", "n_nationkey", "n_regionkey")
        (rk,) = _col(data_dir, "region", "r_regionkey")
        self.vertices = sorted(
            [int(x) + o["customer"] for x in ck] + [int(x) + o["order"] for x in ok]
            + [int(x) + o["part"] for x in pk] + [int(x) + o["supplier"] for x in sk]
            + [int(x) + o["nation"] for x in nk] + [int(x) + o["region"] for x in rk])
        e: list[tuple[int, int]] = []
        e += [(int(c) + o["customer"], int(n) + o["nation"]) for c, n in zip(ck, cn)]
        e += [(int(n) + o["nation"], int(r) + o["region"]) for n, r in zip(nk, nr)]
        e += [(int(c) + o["customer"], int(k) + o["order"]) for k, c in zip(ok, oc)]
        e += [(int(a) + o["order"], int(p) + o["part"]) for a, p in zip(lo, lp)]
        e += sorted({(int(p) + o["part"], int(s) + o["supplier"])
                     for p, s in zip(lp, ls)})
        e += [(int(s) + o["supplier"], int(n) + o["nation"]) for s, n in zip(sk, sn)]
        self.edges = e
        self.out: dict[int, list[int]] = defaultdict(list)
        for s, d in e:
            self.out[s].append(d)

    # -- ranks ---------------------------------------------------------------

    def _power(self, iters: int, damping: float, p: np.ndarray | None):
        idx = {v: i for i, v in enumerate(self.vertices)}
        n = len(self.vertices)
        src = np.array([idx[s] for s, _ in self.edges])
        dst = np.array([idx[d] for _, d in self.edges])
        deg = np.bincount(src, minlength=n).astype(np.float64)
        dangling = deg == 0
        r = np.ones(n) if p is None else p.copy()
        for _ in range(iters):
            msg = np.zeros(n)
            np.add.at(msg, dst, r[src] / deg[src])
            dang = r[dangling].sum()
            if p is None:
                r = (1 - damping) + damping * dang / n + damping * msg
            else:
                r = ((1 - damping) + damping * dang) * p + damping * msg
        return dict(zip(self.vertices, r.tolist()))

    def pagerank(self, iters: int, damping: float = 0.85) -> dict[int, float]:
        """Uniform dangling-mass redistribution; sum(rank) == |V|."""
        return self._power(iters, damping, None)

    def personalized_pagerank(self, sources: list[int], iters: int,
                              damping: float = 0.85) -> dict[int, float]:
        """Teleport and dangling mass return to the sources; sum == 1."""
        p = np.zeros(len(self.vertices))
        idx = {v: i for i, v in enumerate(self.vertices)}
        for s in set(sources):
            p[idx[s]] = 1.0 / len(set(sources))
        return self._power(iters, damping, p)

    # -- traversals ----------------------------------------------------------

    def bfs(self, sources: list[int], max_hops: int) -> dict[int, int]:
        dist = {s: 0 for s in sources}
        q = deque(sources)
        while q:
            u = q.popleft()
            if dist[u] == max_hops:
                continue
            for v in self.out.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    def components(self) -> dict[int, int]:
        """Union-find over the undirected edges; label = min member id."""
        parent = {v: v for v in self.vertices}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for s, d in self.edges:
            a, b = find(s), find(d)
            if a != b:
                parent[max(a, b)] = min(a, b)
        return {v: find(v) for v in self.vertices}

    def k_core(self, k: int) -> dict[int, int]:
        """Peeling over the simple undirected graph; returns the surviving
        vertices with their degree inside the core."""
        adj: dict[int, set[int]] = defaultdict(set)
        for s, d in self.edges:
            if s != d:
                adj[s].add(d)
                adj[d].add(s)
        deg = {v: len(n) for v, n in adj.items()}
        alive = set(adj)
        q = deque(v for v in alive if deg[v] < k)
        while q:
            v = q.popleft()
            if v not in alive:
                continue
            alive.discard(v)
            for u in adj[v]:
                if u in alive:
                    deg[u] -= 1
                    if deg[u] < k:
                        q.append(u)
        return {v: sum(1 for u in adj[v] if u in alive) for v in alive}

    def scc(self) -> dict[int, int]:
        """Iterative Tarjan over the directed edges' endpoints; component
        label = max member id."""
        nodes = sorted({x for e in self.edges for x in e})
        index: dict[int, int] = {}
        low: dict[int, int] = {}
        on_stack: set[int] = set()
        stack: list[int] = []
        comp: dict[int, int] = {}
        counter = 0
        for root in nodes:
            if root in index:
                continue
            work = [(root, iter(self.out.get(root, ())))]
            index[root] = low[root] = counter
            counter += 1
            stack.append(root)
            on_stack.add(root)
            while work:
                v, it = work[-1]
                pushed = False
                for w in it:
                    if w not in index:
                        index[w] = low[w] = counter
                        counter += 1
                        stack.append(w)
                        on_stack.add(w)
                        work.append((w, iter(self.out.get(w, ()))))
                        pushed = True
                        break
                    if w in on_stack:
                        low[v] = min(low[v], index[w])
                if pushed:
                    continue
                work.pop()
                if work:
                    u = work[-1][0]
                    low[u] = min(low[u], low[v])
                if low[v] == index[v]:
                    members = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        members.append(w)
                        if w == v:
                            break
                    top = max(members)
                    for w in members:
                        comp[w] = top
        return comp


# -- text --------------------------------------------------------------------

def shingles(text: str, n: int = 3) -> set[str]:
    t = text.split(" ")
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def simhash64(text: str) -> int:
    """Charikar SimHash: per-word 64-bit hash = first 8 bytes of md5, big
    endian; bit b is set when more words have it set than clear."""
    words = text.split(" ")
    votes = [0] * 64
    for w in words:
        h = int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(64) if votes[b] > 0)


def hamming(a: int, b: int) -> int:
    return bin((a ^ b) & (2**64 - 1)).count("1")


STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]


def text_stats(text: str) -> tuple:
    """(n_tokens, distinct_ratio, stopword_ratio, avg_token_len, quality)
    with the documented definitions: single-space tokens, ratios over the
    token count, quality = 0.4*min(n/100,1) + 0.4*distinct +
    0.2*(1 - |stop - 0.15|/0.85)."""
    t = text.split(" ")
    n = len(t)
    distinct = len(set(t)) / n
    stop = sum(1 for w in t if w in STOPWORDS_EN) / n
    avg = sum(len(w) for w in t) / n
    q = 0.4 * min(n / 100.0, 1.0) + 0.4 * distinct + 0.2 * (1 - abs(stop - 0.15) / 0.85)
    return n, distinct, stop, avg, q


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher(text: str) -> tuple:
    """(n_words, mean_word_len, alpha_ratio, stop_hits, passes) under the
    Gopher rules (Rae et al. 2021, Table A1) with their default limits."""
    t = text.split(" ")
    n = len(t)
    lines = text.split("\n")
    mean_len = sum(len(w) for w in t) / n
    symbol = (text.count("#") + text.count("...")) / n
    bullet = sum(1 for ln in lines if ln.lstrip(" \t")[:1] in ("-", "*")) / len(lines)
    ellipsis = sum(1 for ln in lines if ln.endswith("...")) / len(lines)
    alpha = sum(1 for w in t if any(c.isascii() and c.isalpha() for c in w)) / n
    hits = sum(1 for s in GOPHER_STOPWORDS if s in t)
    passes = (50 <= n <= 100_000 and 3.0 <= mean_len <= 10.0 and symbol <= 0.1
              and bullet <= 0.9 and ellipsis <= 0.3 and alpha >= 0.8 and hits >= 2)
    return n, mean_len, alpha, hits, passes


def cosine_matrix(queries: np.ndarray, corpus: np.ndarray) -> np.ndarray:
    """(|Q|, |C|) cosine similarities in float64."""
    q = queries.astype(np.float64)
    c = corpus.astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return q @ c.T
