"""Seeded benchmark inputs.

Every table is generated from the run's ``--seed`` and written as parquet
with the engine's own column names and types (the ``sources.catalog``
schemas), so the program under test reads exactly what it reads in
production: star-schema tables for the KCVS and graph workloads, a
document corpus with planted near-duplicates and embedding vectors for
the LLM workload, and a lineitem-shaped keyed table plus micro-batches for
the upsert workload.  The same seed always gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# star-schema sizes (fixed; only the values depend on the seed)
N_REGION = 5
N_NATION = 25
N_SUPPLIER = 50
N_PART = 800
N_CUSTOMER = 800
N_ORDER = 8000
MAX_LINES = 7          # lines per order are uniform in [1, MAX_LINES]

# LLM corpus sizes
N_DOCS = 320
DUP_SHARE = 0.3        # share of documents that are edited copies of another
VOCAB = 400
DOC_WORDS = (60, 120)
N_VECS = 2000
N_QUERY_VECS = 40
DIM = 32

# upsert table and micro-batches
UPSERT_ORDERS = 8000   # initial table: lineitem-shaped, ~32k rows
BATCH_ROWS = 2000
BATCH_OVERWRITE_SHARE = 0.5

_EPOCH = dt.datetime(1992, 1, 1)
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a",
              "in", "is", "it", "for", "on"]

_US = pa.timestamp("us")


def _ts(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, 2500, n)
    return pa.array([_EPOCH + dt.timedelta(days=int(d)) for d in days], _US)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def lineitem_rows(rng: np.random.Generator, order_keys: np.ndarray,
                  n_part: int = N_PART, n_supp: int = N_SUPPLIER) -> pa.Table:
    """Lineitem-shaped rows: 1..MAX_LINES lines per order key."""
    lines = rng.integers(1, MAX_LINES + 1, len(order_keys))
    ok = np.repeat(order_keys, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(ok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, n), 2)
    return pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(rng, n),
    })


def star_schema(seed: int, out_dir: str) -> None:
    """region, nation, supplier, part, customer, orders, lineitem."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(N_REGION), pa.int32()),
        "r_name": [f"REGION_{i}" for i in range(N_REGION)],
    }), os.path.join(out_dir, "region.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(N_NATION), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATION)],
        "n_regionkey": pa.array(rng.integers(0, N_REGION, N_NATION), pa.int32()),
    }), os.path.join(out_dir, "nation.parquet"))
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, N_NATION, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2),
    }), os.path.join(out_dir, "supplier.parquet"))
    _write(pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [f"part {i}" for i in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": list(rng.choice(["ECONOMY", "STANDARD", "PROMO"], N_PART)),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, N_PART), 2),
    }), os.path.join(out_dir, "part.parquet"))
    _write(pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, N_NATION, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": list(rng.choice(_SEGMENTS, N_CUSTOMER)),
    }), os.path.join(out_dir, "customer.parquet"))
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDER), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDER), pa.int64()),
        "o_orderstatus": list(rng.choice(_STATUS, N_ORDER)),
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDER), 2),
        "o_orderdate": _ts(rng, N_ORDER),
        "o_orderpriority": list(rng.choice(_PRIORITY, N_ORDER)),
    }), os.path.join(out_dir, "orders.parquet"))
    # shuffled so no file order matches the key order (as in the fixtures)
    li = lineitem_rows(rng, np.arange(N_ORDER, dtype=np.int64))
    li = li.take(rng.permutation(li.num_rows))
    _write(li, os.path.join(out_dir, "lineitem.parquet"))


def documents(seed: int) -> tuple[list[int], list[str]]:
    """A corpus with planted near-duplicates: DUP_SHARE of the documents
    are copies of an earlier document with a few words replaced."""
    rng = np.random.default_rng([seed, 2])
    words = _STOPWORDS + [f"w{i}" for i in range(VOCAB - len(_STOPWORDS))]
    # Zipf-like word frequencies, stopwords first
    p = 1.0 / np.arange(1, VOCAB + 1) ** 0.8
    p /= p.sum()
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < DUP_SHARE:
            base = texts[int(rng.integers(0, i))].split(" ")
            n_edit = int(rng.integers(1, max(2, len(base) // 12)))
            for j in rng.choice(len(base), n_edit, replace=False):
                base[j] = words[int(rng.choice(VOCAB, p=p))]
            texts.append(" ".join(base))
        else:
            n = int(rng.integers(*DOC_WORDS))
            texts.append(" ".join(words[k] for k in rng.choice(VOCAB, n, p=p)))
    return list(range(N_DOCS)), texts


def write_documents(seed: int, out_dir: str) -> None:
    ids, texts = documents(seed)
    _write(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": ["en"] * len(ids),
        "source": [f"src{i % 4}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))


def vectors(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(corpus, queries) float32 embeddings, clustered around 8 centres."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(size=(8, DIM))
    corpus = centres[rng.integers(0, 8, N_VECS)] + 0.6 * rng.normal(size=(N_VECS, DIM))
    queries = centres[rng.integers(0, 8, N_QUERY_VECS)] + 0.6 * rng.normal(
        size=(N_QUERY_VECS, DIM))
    return corpus.astype(np.float32), queries.astype(np.float32)


def write_vectors(seed: int, out_dir: str) -> None:
    """Corpus vectors as <out_dir>/embeddings.parquet, query vectors as
    <out_dir>/queries/embeddings.parquet (both the embeddings schema)."""
    corpus, queries = vectors(seed)
    os.makedirs(os.path.join(out_dir, "queries"), exist_ok=True)
    for sub, m in (("", corpus), ("queries", queries)):
        _write(pa.table({
            "vec_id": pa.array(np.arange(len(m)), pa.int64()),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(np.zeros(len(m)), pa.int32()),
        }), os.path.join(out_dir, sub, "embeddings.parquet"))


class UpsertFeed:
    """The upsert workload's seeded table and micro-batch stream.

    Batch i overwrites BATCH_OVERWRITE_SHARE of its rows on keys that
    already exist and adds the rest as new keys (new order keys past the
    current maximum).  Keys are (l_orderkey, l_linenumber)."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 4])
        self.next_order = UPSERT_ORDERS

    def initial(self) -> pa.Table:
        return lineitem_rows(self.rng, np.arange(UPSERT_ORDERS, dtype=np.int64))

    def batch(self, existing_keys: np.ndarray) -> pa.Table:
        """`existing_keys`: (n, 2) int64 array of the table's keys."""
        n_over = int(BATCH_ROWS * BATCH_OVERWRITE_SHARE)
        pick = existing_keys[self.rng.choice(len(existing_keys), n_over,
                                             replace=False)]
        over = lineitem_rows(self.rng, np.zeros(n_over, np.int64)).slice(0, n_over)
        over = over.set_column(0, "l_orderkey", pa.array(pick[:, 0], pa.int64()))
        over = over.set_column(3, "l_linenumber", pa.array(pick[:, 1].astype(np.int32)))
        new_rows = []
        n_new = 0
        while n_new < BATCH_ROWS - n_over:
            t = lineitem_rows(self.rng, np.array([self.next_order], np.int64))
            self.next_order += 1
            t = t.slice(0, min(t.num_rows, BATCH_ROWS - n_over - n_new))
            new_rows.append(t)
            n_new += t.num_rows
        return pa.concat_tables([over] + new_rows)
