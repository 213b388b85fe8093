"""LLM-data-pipeline queries (dedup / similarity / text / multimodal).

Oracle notes:
- Jaccard thresholds compare exact integer ratios (bit-identical across
  engines); cosine thresholds and orderings use the ROUNDED score with id
  tiebreakers so float ulp noise can't flip membership or order.
- Every hash/LSH query is oracled by re-deriving the SAME deterministic
  computation in SQL: MinHash-LSH reranks to exact Jaccard (l03), SimHash
  re-votes md5 bits (l04), hyperplane LSH emits its seeded planes as SQL
  array literals and recomputes the sign-bit buckets (l11, l17), and IVF
  unrolls its two seeded Lloyd iterations as chained CTEs (l12) — the
  g06-pagerank emit-the-iteration pattern.  pytest additionally pins
  recall vs exact baselines (tests/test_llm_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import dedup as D
from ..llm import multimodal as M
from ..llm import similarity as S
from ..llm import text as X
from ..sources import load_table
from .registry import query


@query(
    "l01_exact_dedup",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           count(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def l01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: one hash aggregate keyed on md5(text) (16-byte
    shuffle key instead of the document body)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup_groups(docs, "doc_id", "text")


# Exact word-3-gram Jaccard pairs at threshold 0.4 — the oracle for BOTH
# the exact baseline (l02) and the LSH path (l03): LSH changes how
# candidates are found, not what the output is.
_JACCARD_ORACLE = """
    WITH toks AS MATERIALIZED (SELECT doc_id, string_split(text,' ') AS w FROM documents),
    words AS MATERIALIZED (SELECT doc_id, generate_subscripts(w,1) AS i, unnest(w) AS word
              FROM toks),
    sh AS MATERIALIZED (SELECT DISTINCT a.doc_id,
                  a.word || ' ' || b.word || ' ' || c.word AS s
           FROM words a
           JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
           JOIN words c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
    sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS MATERIALIZED (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS m
              FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(m::DOUBLE / (sa.n + sb.n - m), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE m::DOUBLE / (sa.n + sb.n - m) >= 0.4
    """


@query("l02_jaccard_pairs", oracle=_JACCARD_ORACLE)
def l02_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.4) via the
    CANDIDATES-FIRST rerank path: LSH banding proposes pairs, then
    `jaccard_pairs(candidates=...)` computes exact Jaccard for those
    pairs only (the shingle self-join is semi-joined down to candidate
    docs BEFORE it runs).  The full-corpus quadratic form survives only
    as an `allow_quadratic=True` pytest baseline — as of round 5 no
    registered query's plan is quadratic in corpus size.

    The exact-Jaccard oracle still holds: at the fixture's planted
    similarities (j ≳ 0.7) the 16×3 band S-curve passes every
    thresholded pair (P(miss) < 1e-8), and LSH == exact is
    independently pytest-pinned (test_llm_ops).

    ONE materialized shingle pass feeds both the signature aggregate
    and the exact rerank (r14 optimization round — previously each
    derived scan+explode+distinct independently); the banding
    self-join is merge-hinted because its signature side is now
    agg-over-checkpoint, estimator-blind at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D._materialize(D.shingle_sets(docs, "doc_id", "text", n=3))
    sig = D.signatures_from_shingles(sh)
    cand = D.lsh_candidates(sig, hint_join="merge")
    return D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4,
                           candidates=cand, shingles=sh)


@query("l03_minhash_lsh_pairs", oracle=_JACCARD_ORACLE)
def l03_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(48) → 16×3 LSH bands → exact-Jaccard rerank of candidates.

    The OUTPUT is exact Jaccard pairs (hashes only gate candidate
    generation), so the exact-baseline SQL is a true oracle: at the
    fixture's near-dup similarities (j ≳ 0.7) the 16×3 S-curve passes
    every thresholded pair through banding with P(miss) < 1e-8 — and
    pytest pins LSH == exact on the fixture independently."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(docs, "doc_id", "text", n=3, threshold=0.4)


@query(
    "l04_simhash_pairs",
    oracle="""
    WITH toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents),
    words AS MATERIALIZED (SELECT doc_id, unnest(w) AS word FROM toks),
    hashes AS MATERIALIZED (SELECT doc_id,
                      ('0x' || substr(md5(word), 1, 16))::UBIGINT AS h
               FROM words),
    bits AS MATERIALIZED (SELECT unnest(range(64)) AS b),
    votes AS MATERIALIZED (SELECT doc_id, b,
                     sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM hashes, bits GROUP BY doc_id, b),
    sig AS MATERIALIZED (SELECT doc_id,
                   sum(CASE WHEN v > 0 THEN (1::UBIGINT << b)
                            ELSE 0::UBIGINT END)::UBIGINT AS s
            FROM votes GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.s, b.s))::INT AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 8
    """,
)
def l04_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (Hamming ≤ 8); the only pandas-UDF stage
    in the dedup family.  Blocking is the `auto` default — the corpus
    exceeds the 256-row pigeonhole key-space at every SF, so this runs
    Manku combination blocking (C(10,2)=45 ~12.8-bit keys), the form
    that survives corpus scale.

    Hash-checked: the signature is md5-derived (not engine-specific), so
    DuckDB re-derives the identical per-word big-endian-uint64 bit votes
    relationally and compares all pairs exactly — valid because BOTH
    blockings are complete for Hamming ≤ max_hamming, so NO thresholded
    pair is missed (a probabilistic blocking could not be oracled this
    way); the pair-set equality of the two blockings is pytest-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, "doc_id", "text", max_hamming=8)


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int) -> list[float]:
    emb = load_table(spark, sf_dir, "embeddings")
    return list(emb.filter(F.col("vec_id") == vec_id)
                .select("embedding").first()[0])


@query(
    "l05_cosine_topk",
    oracle="""
    WITH q AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id AS id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv),
                 6) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, id
    LIMIT 10
    """,
)
def l05_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for one query vector: JVM-side
    zip_with/aggregate dot product, TakeOrderedAndProject top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    return S.brute_force_topk(emb, "vec_id", "embedding", qv, k=10,
                              exclude_id=0)


@query(
    "l06_cosine_near_dup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6)
             AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6)
          >= 0.35
    """,
)
def l06_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.35) BLOCKED by label — the
    scale shape: a hash join on the block key, never a CartesianProduct.
    The block key here is the label column (deterministic → the oracle
    expresses the identical blocked semantics); in production the block
    is an LSH bucket or IVF cell (l11/l12 — approximate, so pytest-pinned
    rather than SQL-oracled).  The unblocked all-pairs crossJoin stays a
    pytest-only exact baseline (tests/test_llm_ops.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dup_pairs(emb, "vec_id", "embedding",
                                      threshold=0.35, block_col="label")


@query(
    "l07_text_stats",
    oracle="""
    WITH toks AS MATERIALIZED (SELECT doc_id, text, string_split(text, ' ') AS w
                  FROM documents)
    SELECT doc_id,
           len(w) AS n_tokens,
           round(len(list_distinct(w))::DOUBLE / len(w), 6) AS distinct_ratio,
           round(len(list_filter(w, x -> list_contains(
                 ['the','a','of','and','to','in','is','it','for','on'], x)
               ))::DOUBLE / len(w), 6) AS stopword_ratio,
           round(length(replace(text, ' ', ''))::DOUBLE / len(w), 6)
             AS avg_token_len
    FROM toks
    """,
)
def l07_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality stats — all codegen'd column expressions
    (llm.text.text_stats; the composite `quality` column is dropped
    here because its weighting is illustrative, not oracle-contracted)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.text_stats(docs, "doc_id", "text").drop("quality")


def _langid_oracle() -> str:
    parts = []
    for lang, words in sorted(X.LANG_LEXICONS.items()):
        lst = ", ".join(f"'{w}'" for w in words)
        parts.append(
            f"SELECT doc_id, '{lang}' AS lang, "
            f"len(list_filter(w, x -> list_contains([{lst}], x))) AS score "
            f"FROM toks")
    union = " UNION ALL ".join(parts)
    return f"""
    WITH toks AS MATERIALIZED (SELECT doc_id, string_split(text,' ') AS w FROM documents),
    scores AS MATERIALIZED ({union}),
    best AS MATERIALIZED (SELECT doc_id, max(score) AS ms FROM scores GROUP BY doc_id)
    SELECT s.doc_id, min(s.lang) AS pred_lang
    FROM scores s JOIN best b ON b.doc_id = s.doc_id AND s.score = b.ms
    GROUP BY s.doc_id
    """


@query("l08_language_id", oracle=_langid_oracle())
def l08_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: lexicon-overlap argmax (alphabetical
    tiebreak), pure array expressions — the oracle recomputes the same
    argmax relationally from the identical lexicons."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       X.language_id("text").alias("pred_lang"))


@query(
    "l09_fingerprint",
    oracle="""
    SELECT doc_id, md5(trim(lower(text))) AS fingerprint FROM documents
    """,
)
def l09_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of normalized text); the winnowing
    fingerprints are l62's."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       X.content_fingerprint("text").alias("fingerprint"))


@query(
    "l10_multimodal_meta",
    oracle="""
    SELECT doc_id AS media_id,
           strlen(text) AS n_bytes,
           ascii(text) AS first_byte
    FROM documents
    """,
)
def l10_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: build binary blobs + metadata, run
    the Arrow-batched mapInPandas feature extractor, project the metadata
    the oracle can recompute (byte length, first byte).  Image decode
    is stubbed — the batch shape is what's under test."""
    docs = load_table(spark, sf_dir, "documents")
    media = M.attach_binary(docs, "doc_id", "text", mime="text/plain")
    feats = M.extract_features(media)
    return feats.select("media_id", "n_bytes",
                        F.col("first_byte").cast("int").alias("first_byte"))


# Embedding fixture dimensionality (TESTDATA.md: 64 at every sf — the
# oracle embeds the hyperplanes as literals, so it needs dim statically;
# tests/test_oracle_parity.py exercises the same oracle at sf0.001/0.01).
_EMB_DIM = 64


def _bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB sign-bit bucket of `vec_expr` against literal hyperplanes —
    the SQL twin of similarity.lsh_bucket_expr.  Float literals use
    Python repr so both engines parse the identical double."""
    terms = []
    for i, p in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(f"(CASE WHEN list_inner_product({vec_expr}, {arr}) >= 0"
                     f" THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _l11_oracle(k: int = 10, n_planes: int = 4, n_tables: int = 8,
                seed: int = 42) -> str:
    """Emit lsh_ann_topk's seeded hyperplanes as SQL literals, recompute
    the per-table sign-bit buckets for both corpus and query vector, keep
    rows matching the query's bucket in ANY table, exact-rerank — the
    g06 emit-the-iteration pattern applied to ANN."""
    sel = []
    for t in range(n_tables):
        planes = S.hyperplanes(_EMB_DIM, n_planes, seed + 1000 * t)
        sel.append(f"{_bucket_sql('e.v', planes)} AS b{t}")
        sel.append(f"{_bucket_sql('q.qv', planes)} AS qb{t}")
    cond = " OR ".join(f"b{t} = qb{t}" for t in range(n_tables))
    return f"""
    WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS MATERIALIZED (SELECT v AS qv FROM e WHERE vec_id = 0),
    b AS MATERIALIZED (SELECT e.vec_id, e.v, {", ".join(sel)} FROM e, q)
    SELECT vec_id AS id,
           round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS cosine
    FROM b
    WHERE vec_id <> 0 AND ({cond})
    ORDER BY cosine DESC, id
    LIMIT {k}
    """


@query("l11_ann_lsh_topk", oracle=_l11_oracle())
def l11_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors: 8 hyperplane tables × 4 bits,
    bucket-filtered candidates, exact rerank.  Hash-checked: the seeded
    hyperplanes are deterministic literals, so the oracle re-derives the
    identical bucket membership + rerank in SQL (_l11_oracle); pytest
    separately checks recall vs the brute-force l05 answer."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    return S.lsh_ann_topk(emb, "vec_id", "embedding", qv, k=10,
                          exclude_id=0)


def _l12_oracle(n_cells: int = 16, n_probe: int = 4, n_iters: int = 2,
                k: int = 10) -> str:
    """Unroll ivf_topk's bounded Lloyd training as chained CTEs (every
    DECISION mirrored with the Spark side's _pq_r6 quantization:
    centroid averages floor(x*1e6+0.5)/1e6, argmin/probe orderings on
    floor(d*1e6+0.5) BIGINTs — r7 retrofit of the l40 discipline so an
    ulp of summation noise cannot flip a near-tie assignment): seeds =
    vectors of the n_cells smallest ids; per iteration assign = argmin
    over the previous centroids (row_number tie-broken by cell, matching
    _nearest_cell_expr's (d, i) struct-min), update = per-(cell, pos)
    avg with empty cells keeping their previous centroid (coalesce —
    ivf_centroids' new.get(i, cents[i])).  Then probe the n_probe cells
    nearest the query and exact-rerank inside them."""
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        "ex AS MATERIALIZED (SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos,"
        " unnest(v) AS x FROM e)",
        f"""seeds AS MATERIALIZED (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1
          AS cell FROM (SELECT vec_id FROM e ORDER BY vec_id
                        LIMIT {n_cells}))""",
        "c0 AS MATERIALIZED (SELECT s.cell, ex.pos, ex.x AS m FROM seeds s"
        " JOIN ex ON ex.vec_id = s.vec_id)",
    ]
    for it in range(n_iters):
        parts.append(f"""d{it + 1} AS MATERIALIZED (
      SELECT ex.vec_id, c.cell, sum((ex.x - c.m) * (ex.x - c.m)) AS d
      FROM ex JOIN c{it} c ON c.pos = ex.pos
      GROUP BY ex.vec_id, c.cell)""")
        parts.append(f"""a{it + 1} AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY CAST(floor(d * 1000000 + 0.5) AS BIGINT), cell) AS rn
        FROM d{it + 1}) WHERE rn = 1)""")
        parts.append(f"""u{it + 1} AS MATERIALIZED (
      SELECT a.cell, ex.pos,
             floor(avg(ex.x) * 1000000 + 0.5) / 1000000 AS m
      FROM a{it + 1} a JOIN ex ON ex.vec_id = a.vec_id
      GROUP BY a.cell, ex.pos)""")
        parts.append(f"""c{it + 1} AS MATERIALIZED (
      SELECT c.cell, c.pos, coalesce(u.m, c.m) AS m
      FROM c{it} c LEFT JOIN u{it + 1} u
        ON u.cell = c.cell AND u.pos = c.pos)""")
    cf = f"c{n_iters}"
    parts += [
        f"""qd AS MATERIALIZED (SELECT c.cell, sum((qx.x - c.m) * (qx.x - c.m)) AS d
      FROM (SELECT pos, x FROM ex WHERE vec_id = 0) qx
      JOIN {cf} c ON c.pos = qx.pos GROUP BY c.cell)""",
        f"probe AS MATERIALIZED (SELECT cell FROM qd ORDER BY CAST(floor(d * 1000000 + 0.5) AS BIGINT), cell LIMIT {n_probe})",
        f"""df AS MATERIALIZED (SELECT ex.vec_id, c.cell,
             sum((ex.x - c.m) * (ex.x - c.m)) AS d
      FROM ex JOIN {cf} c ON c.pos = ex.pos GROUP BY ex.vec_id, c.cell)""",
        """af AS MATERIALIZED (SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY CAST(floor(d * 1000000 + 0.5) AS BIGINT),
                          cell) AS rn
        FROM df) WHERE rn = 1)""",
        """cands AS MATERIALIZED (SELECT vec_id FROM af
      WHERE cell IN (SELECT cell FROM probe))""",
    ]
    return ("WITH " + ",\n".join(parts) + f"""
    SELECT e.vec_id AS id,
           round(list_cosine_similarity(
               e.v, (SELECT v FROM e WHERE vec_id = 0)), 6) AS cosine
    FROM e JOIN cands USING (vec_id)
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, id
    LIMIT {k}""")


@query("l12_ivf_ann_topk", oracle=_l12_oracle())
def l12_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: deterministic-seed k-means cells, probe the
    4 nearest of 16, exact rerank inside (the partition-pruning ANN shape
    for corpora too large to scan per query).  Hash-checked: the
    2-iteration Lloyd training is a bounded recurrence, unrolled as
    chained CTEs in the oracle (_l12_oracle); pytest separately checks
    recall and score-exactness vs brute force."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    return S.ivf_topk(emb, "vec_id", "embedding", qv, k=10,
                      n_cells=16, n_probe=4, exclude_id=0)


def _l17_oracle(threshold: float = 0.35, n_planes: int = 8,
                n_tables: int = 4, seed: int = 42) -> str:
    """l17's blocked semantics in SQL: pairs sharing a sign-bit bucket in
    ANY of the seeded hyperplane tables, exact cosine ≥ threshold."""
    bcols = []
    for t in range(n_tables):
        planes = S.hyperplanes(_EMB_DIM, n_planes, seed + 1000 * t)
        bcols.append(f"{_bucket_sql('v', planes)} AS b{t}")
    cond = " OR ".join(f"a.b{t} = c.b{t}" for t in range(n_tables))
    return f"""
    WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    b AS MATERIALIZED (SELECT vec_id, v, {", ".join(bcols)} FROM e)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_cosine_similarity(a.v, c.v), 6) AS cosine
    FROM b a JOIN b c ON a.vec_id < c.vec_id AND ({cond})
    WHERE round(list_cosine_similarity(a.v, c.v), 6) >= {threshold}
    """


@query("l17_lsh_blocked_near_dup", oracle=_l17_oracle())
def l17_lsh_blocked_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup (cosine ≥ 0.35) blocked on COMPUTED LSH buckets
    — the production block key, replacing l06's fixture-specific label
    block: 4 hyperplane tables × 8 bits, one hash join per table, union
    deduped on the pair key.  The oracle re-derives the identical blocked
    semantics from the same plane literals; pytest pins recall vs the
    exact all-pairs baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.lsh_blocked_near_dup_pairs(emb, "vec_id", "embedding",
                                        threshold=0.35)


@query(
    "l13_hash_split",
    oracle="""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      ::BIGINT % 100 AS INT) AS bucket
          FROM documents)
    """,
)
def l13_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: a pure function of the
    record key (md5 bucket), so re-runs and re-shards never migrate a
    document across the train/eval wall — reproduced bit-for-bit by the
    oracle's independent md5 computation."""
    from ..llm.split import train_val_test_split
    docs = load_table(spark, sf_dir, "documents")
    return train_val_test_split(docs, "doc_id").select(
        "doc_id", "bucket", "split")


@query(
    "l14_groupwise_normalize",
    oracle="""
    SELECT event_id,
           round((value - avg(value) OVER (PARTITION BY event_type))
                 / stddev_samp(value) OVER (PARTITION BY event_type), 6)
             AS z
    FROM events
    """,
)
def l14_groupwise_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map normalization via applyInPandas (per-group z-score):
    the grouped pandas API the feature-engineering stage of a training
    pipeline uses; checked against the relational window formulation."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        z = (v - v.mean()) / v.std(ddof=1)
        return pd.DataFrame({"event_id": pdf["event_id"],
                             "z": z.round(6)})

    return ev.groupBy("event_type").applyInPandas(
        normalize, schema="event_id long, z double")


@query(
    "l15_label_centroids",
    oracle="""
    SELECT label, pos_raw - 1 AS pos, round(avg(x), 6) AS m
    FROM (SELECT label,
                 generate_subscripts(CAST(embedding AS DOUBLE[]), 1)
                   AS pos_raw,
                 unnest(CAST(embedding AS DOUBLE[])) AS x
          FROM embeddings)
    GROUP BY label, pos_raw
    """,
)
def l15_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components: posexplode → per-(label, dimension)
    mean — the distributed shape of k-means' centroid update (and of
    class-prototype computation), one shuffle keyed by (label, dim).
    Output stays LONG format (label, pos, m): the re-assembled
    ARRAY<double> form (array_sort(collect_list(struct)) → transform) is
    a driver-side convenience, and ARRAY result columns crash the
    correctness harness's canonicalizer."""
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select("label", F.posexplode(
        F.col("embedding").cast("array<double>")).alias("pos", "x"))
    return (el.groupBy("label", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m")))


@query(
    "l16_pipeline_composed",
    oracle="""
    WITH deduped AS MATERIALIZED (
      SELECT * FROM documents d
      WHERE doc_id = (SELECT min(doc_id) FROM documents d2
                      WHERE d2.text = d.text)
    ),
    filtered AS MATERIALIZED (
      SELECT * FROM deduped
      WHERE len(string_split(text, ' ')) >= 40
    ),
    split AS MATERIALIZED (
      SELECT lang,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 100 AS INT) < 80 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 100 AS INT) < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM filtered
    )
    SELECT lang, split, count(*) AS n FROM split GROUP BY lang, split
    """,
)
def l16_pipeline_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline as ONE composed plan: exact
    dedup → token-count quality gate → deterministic split → per-
    (lang, split) counts.  Each stage is the library operator; Catalyst
    fuses the whole chain (single plan, no materialization between
    stages)."""
    from ..llm.dedup import exact_dedup
    from ..llm.split import train_val_test_split
    from ..llm.text import token_count
    docs = load_table(spark, sf_dir, "documents")
    deduped = exact_dedup(docs, "doc_id", "text")
    filtered = deduped.filter(token_count("text") >= 40)
    split = train_val_test_split(filtered, "doc_id")
    return (split.groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n")))


def _l18_oracle(threshold: float = 0.4, rounds: int = 12) -> str:
    """Dedup-cluster oracle: the exact word-3-gram Jaccard pairs (the
    l02/l03 oracle's derivation) followed by `rounds` unrolled steps of
    min-label propagation over the pair graph — the bounded-iteration
    connected-components recurrence (g06/g15 emit-the-iteration
    pattern).  `rounds` must exceed the dup-graph diameter (dup clusters
    in the fixture are small; 12 ≫ observed diameter at sf ≤ 0.1).  All
    CTEs MATERIALIZED: the recurrence references each step twice, and
    DuckDB's inlining would otherwise re-expand the prefix
    exponentially."""
    parts = [
        """toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents)""",
        """words AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word
      FROM toks)""",
        """sh AS MATERIALIZED (
      SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS s
      FROM words a
      JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN words c ON c.doc_id = a.doc_id AND c.i = a.i + 2)""",
        "sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh "
        "GROUP BY doc_id)",
        """inter AS MATERIALIZED (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS m
      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2)""",
        f"""pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM inter
      JOIN sz sa ON sa.doc_id = doc_a
      JOIN sz sb ON sb.doc_id = doc_b
      WHERE m::DOUBLE / (sa.n + sb.n - m) >= {threshold})""",
        """ed AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs)""",
        "lab0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS comp "
        "FROM ed)",
    ]
    for t in range(rounds):
        parts.append(f"""lab{t + 1} AS MATERIALIZED (
      SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
      FROM lab{t} l
      LEFT JOIN ed ON ed.dst = l.id
      LEFT JOIN lab{t} n ON n.id = ed.src
      GROUP BY l.id, l.comp)""")
    # convergence tripwire: Spark runs pointer-jumping CC to convergence
    # while this oracle unrolls a fixed recurrence — if the pair-graph
    # diameter ever exceeds `rounds`, ERROR loudly instead of silently
    # hash-mismatching (the l18 precedent)
    parts.append(f"""conv AS MATERIALIZED (
      SELECT count(*) AS changed FROM lab{rounds} l
      JOIN lab{rounds - 1} p ON p.id = l.id AND p.comp <> l.comp)""")
    return ("WITH " + ",\n".join(parts) + f"""
    SELECT comp AS cluster_id, count(*) AS n_members,
           string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
    FROM lab{rounds} GROUP BY comp
    HAVING (SELECT CASE WHEN changed = 0 THEN true
                        ELSE error('cluster oracle: not converged in """
            + f"""{rounds} rounds — raise rounds') END FROM conv)""")


@query("l18_dedup_clusters", oracle=_l18_oracle())
def l18_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH pairs → connected components → one
    row per cluster with the canonical survivor (min doc id) and the
    droppable member list — the dedup family's actual end product.
    Hash-checked against the unrolled min-propagation oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_clusters(docs, "doc_id", "text", n=3, threshold=0.4)


@query(
    "l19_knn_join",
    oracle="""
    WITH q AS MATERIALIZED (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 50 = 0),
    scored AS MATERIALIZED (
      SELECT q.query_id, e.vec_id AS id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          q.qv), 6) AS cosine
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id)
    SELECT query_id, id, cosine FROM (
      SELECT query_id, id, cosine, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, id) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def l19_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN JOIN (every 50th vector queries the whole corpus for
    its 5 nearest non-self neighbors): broadcast query side, ONE corpus
    scan, per-query window top-k — the shape for bulk retrieval /
    corpus-vs-corpus linking, vs l05's single-query TakeOrdered."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return S.brute_force_topk_join(qs, emb, "vec_id", "embedding",
                                   "vec_id", "embedding", k=5,
                                   exclude_self=True)


@query(
    "l20_vocab_topk",
    oracle="""
    WITH words AS MATERIALIZED (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    SELECT token, count(*) AS freq FROM words
    GROUP BY token ORDER BY freq DESC, token LIMIT 100
    """,
)
def l20_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by frequency — the first pass
    of any BPE/vocab build.  explode → partial-agg count (map-side
    combine moves (token, partial) not token instances) →
    TakeOrderedAndProject; ordering by (freq desc, token) is total."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select(F.explode(X.tokens("text")).alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.col("freq").desc(), "token").limit(100))


@query(
    "l21_decontaminate",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    words AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word
      FROM toks),
    sh AS MATERIALIZED (
      SELECT DISTINCT a.doc_id,
             a.word || ' ' || b.word || ' ' || c.word || ' ' || d.word
             || ' ' || e.word AS s
      FROM words a
      JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN words c ON c.doc_id = a.doc_id AND c.i = a.i + 2
      JOIN words d ON d.doc_id = a.doc_id AND d.i = a.i + 3
      JOIN words e ON e.doc_id = a.doc_id AND e.i = a.i + 4),
    bsh AS MATERIALIZED (SELECT * FROM sh WHERE doc_id % 7 = 0),
    tsh AS MATERIALIZED (SELECT * FROM sh WHERE doc_id % 7 <> 0),
    bsz AS MATERIALIZED (
      SELECT doc_id, count(*) AS bn FROM bsh GROUP BY doc_id),
    pairs AS MATERIALIZED (
      SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
             count(*) AS n_shared
      FROM tsh t JOIN bsh b ON t.s = b.s
      GROUP BY 1, 2)
    SELECT train_id, bench_id, n_shared,
           round(n_shared::DOUBLE / bn, 6) AS containment
    FROM pairs JOIN bsz ON bsz.doc_id = bench_id
    """,
)
def l21_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 7 == 0 play the
    held-out eval set; every (train, bench) pair sharing a word 5-gram
    is flagged with the shared count and containment fraction.  One
    hashed-shingle equi-join — the Jaccard family's scale economics,
    never all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return D.decontaminate_pairs(docs, "doc_id", "text",
                                 F.col("doc_id") % 7 == 0, n=5)


@query(
    "l22_domain_mixture",
    oracle="""
    WITH keyed AS MATERIALIZED (
      SELECT lang,
             ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT % 10000 AS bucket,
             CASE lang WHEN 'en' THEN 10000 WHEN 'zh' THEN 5000
                       WHEN 'es' THEN 2500 ELSE 1000 END AS cut
      FROM documents)
    SELECT lang, count(*) AS n_kept FROM keyed
    WHERE bucket < cut GROUP BY lang
    """,
)
def l22_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain mixing: keep all 'en', half of 'zh', a
    quarter of 'es', 10% of the rest — the reweighting pass that shapes
    a raw corpus into a target training mixture.  Membership is a pure
    md5 function of doc_id (re-runs/re-shards keep the same rows;
    raising a rate only ADDS documents), and the whole op is a
    scan-side filter: zero shuffles before the final count."""
    from ..llm.split import domain_sample
    docs = load_table(spark, sf_dir, "documents")
    kept = domain_sample(docs, "doc_id", "lang",
                         {"en": 1.0, "zh": 0.5, "es": 0.25},
                         default_rate=0.1)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


@query(
    "l23_repetition_stats",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    words AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word
      FROM toks),
    grams AS MATERIALIZED (
      SELECT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS g
      FROM words a
      JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN words c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
    agg AS MATERIALIZED (
      SELECT doc_id, count(*) AS total_ngrams,
             count(DISTINCT g) AS distinct_ngrams
      FROM grams GROUP BY doc_id)
    SELECT t.doc_id, coalesce(a.total_ngrams, 0) AS total_ngrams,
           coalesce(a.distinct_ngrams, 0) AS distinct_ngrams,
           round(CASE WHEN a.total_ngrams > 0
                 THEN 1.0 - a.distinct_ngrams::DOUBLE / a.total_ngrams
                 ELSE 0.0 END, 6) AS repetition_ratio
    FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
    """,
)
def l23_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (the Gopher-rule quality signal):
    duplicate word-3-gram fraction per doc.  Pure array expressions —
    size/array_distinct on the in-row shingle array, NO explode and NO
    shuffle: the whole computation is scan-side codegen, the shape that
    survives any corpus size untouched."""
    from ..llm.dedup import word_shingles
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles("text", 3)
    total = F.size(sh)
    distinct = F.size(F.array_distinct(sh))
    return docs.select(
        "doc_id",
        total.cast("long").alias("total_ngrams"),
        distinct.cast("long").alias("distinct_ngrams"),
        F.round(F.when(total > 0,
                       F.lit(1.0) - distinct.cast("double") / total)
                .otherwise(0.0), 6).alias("repetition_ratio"))


@query(
    "l24_sequence_packing",
    oracle="""
    WITH t AS MATERIALIZED (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS tok,
             md5('pack' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents),
    c AS MATERIALIZED (
      SELECT doc_id, tok,
             sum(tok) OVER (ORDER BY k, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - tok AS start
      FROM t)
    SELECT CAST(floor(start / 2048) AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1
    """,
)
def l24_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents → fixed 2048-token training chunks in
    a deterministic md5-shuffled order; a doc joins the chunk where its
    first token falls.  The Spark side is a DISTRIBUTED prefix sum
    (md5 4-hex-char shards cumsum locally + a broadcast 65,536-row
    offset table — ~1 MB); the oracle is the same running sum as ONE
    window — the hash-match proves the two-level decomposition exact."""
    from ..llm.split import pack_sequences
    docs = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(docs, "doc_id", "text", budget=2048)
    return (packed.groupBy("seq_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("tok").alias("total_tokens")))


@query(
    "l25_tfidf_topk",
    oracle="""
    WITH words AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    tf AS MATERIALIZED (
      SELECT doc_id, token, count(*) AS tf FROM words GROUP BY 1, 2),
    dfq AS MATERIALIZED (
      SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM documents),
    scored AS MATERIALIZED (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln((SELECT n FROM n) / dfq.df), 6) AS tfidf
      FROM tf JOIN dfq ON dfq.token = tf.token)
    SELECT doc_id, token, tfidf FROM (
      SELECT doc_id, token, tfidf, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
      FROM scored) WHERE rn <= 3
    """,
)
def l25_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·idf — the keyword /
    topic-signature pass of a corpus-analysis pipeline.  Two hash
    aggregates + a broadcast scalar N + one per-doc window over the
    ROUNDED score (token tiebreak → total order, cross-engine stable
    cut)."""
    from ..llm.text import tfidf_topk
    docs = load_table(spark, sf_dir, "documents")
    return (tfidf_topk(docs, "doc_id", "text", k=3)
            .withColumnRenamed("id", "doc_id"))


@query(
    "l26_bigram_lm_score",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    words AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word
      FROM toks),
    big AS MATERIALIZED (
      SELECT a.doc_id, a.word AS w1, b.word AS w2
      FROM words a JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
    c2 AS MATERIALIZED (
      SELECT w1, w2, count(*) AS cnt2 FROM big GROUP BY 1, 2),
    c1 AS MATERIALIZED (
      SELECT w1, CAST(sum(cnt2) AS BIGINT) AS cnt1 FROM c2 GROUP BY 1),
    sc AS MATERIALIZED (
      SELECT big.doc_id, -ln(c2.cnt2::DOUBLE / c1.cnt1) AS nll
      FROM big
      JOIN c2 ON c2.w1 = big.w1 AND c2.w2 = big.w2
      JOIN c1 ON c1.w1 = big.w1)
    SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS nll
    FROM sc GROUP BY doc_id
    """,
)
def l26_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM scoring: every document's average
    negative log probability under the corpus's own bigram MLE — the
    cheap perplexity-style quality filter (high nll = unusual word
    sequences).  Train + score in one plan: two token-keyed hash
    aggregates and two equi-joins, zero UDFs; bigram derivation is
    scan-side transform/element_at (the oracle re-derives it with a
    positional self-join)."""
    from ..llm.text import bigram_lm_score
    docs = load_table(spark, sf_dir, "documents")
    return (bigram_lm_score(docs, "doc_id", "text")
            .withColumnRenamed("id", "doc_id"))


def _l27_oracle(threshold: float = 0.35, n_planes: int = 8,
                n_tables: int = 4, seed: int = 42, rounds: int = 12) -> str:
    """l17's blocked-pair derivation (same plane literals) followed by
    `rounds` unrolled min-label-propagation steps — the l18 cluster
    oracle over embedding pairs instead of shingle pairs."""
    bcols = []
    for t in range(n_tables):
        planes = S.hyperplanes(_EMB_DIM, n_planes, seed + 1000 * t)
        bcols.append(f"{_bucket_sql('v', planes)} AS b{t}")
    cond = " OR ".join(f"a.b{t} = c.b{t}" for t in range(n_tables))
    parts = [
        """e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)""",
        f"b AS MATERIALIZED (SELECT vec_id, v, {', '.join(bcols)} FROM e)",
        f"""pairs AS MATERIALIZED (
      SELECT a.vec_id AS ia, c.vec_id AS ib
      FROM b a JOIN b c ON a.vec_id < c.vec_id AND ({cond})
      WHERE round(list_cosine_similarity(a.v, c.v), 6) >= {threshold})""",
        """ed AS MATERIALIZED (
      SELECT ia AS src, ib AS dst FROM pairs
      UNION ALL SELECT ib, ia FROM pairs)""",
        "lab0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS comp "
        "FROM ed)",
    ]
    for t in range(rounds):
        parts.append(f"""lab{t + 1} AS MATERIALIZED (
      SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
      FROM lab{t} l
      LEFT JOIN ed ON ed.dst = l.id
      LEFT JOIN lab{t} n ON n.id = ed.src
      GROUP BY l.id, l.comp)""")
    # convergence tripwire: Spark runs pointer-jumping CC to convergence
    # while this oracle unrolls a fixed recurrence — if the pair-graph
    # diameter ever exceeds `rounds`, ERROR loudly instead of silently
    # hash-mismatching (the l18 precedent)
    parts.append(f"""conv AS MATERIALIZED (
      SELECT count(*) AS changed FROM lab{rounds} l
      JOIN lab{rounds - 1} p ON p.id = l.id AND p.comp <> l.comp)""")
    return ("WITH " + ",\n".join(parts) + f"""
    SELECT comp AS cluster_id, count(*) AS n_members,
           string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
    FROM lab{rounds} GROUP BY comp
    HAVING (SELECT CASE WHEN changed = 0 THEN true
                        ELSE error('cluster oracle: not converged in """
            + f"""{rounds} rounds — raise rounds') END FROM conv)""")


@query("l27_semantic_dedup_clusters", oracle=_l27_oracle())
def l27_semantic_dedup_clusters(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: embedding near-dup pairs (l17's
    computed-LSH blocking) → connected components → one row per
    duplicate cluster with the canonical survivor (min id) and the
    droppable member list.  Same pairs→clusters machinery as l18, over
    cosine pairs instead of shingle Jaccard — the two compose because
    clustering is pair-source-agnostic (dedup.pairs_to_clusters)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = D.lsh_blocked_near_dup_pairs(emb, "vec_id", "embedding",
                                         threshold=0.35)
    return D.pairs_to_clusters(pairs, "id_a", "id_b")


@query(
    "l28_user_event_sequences",
    oracle="""
    WITH n AS MATERIALIZED (
      SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
    c AS MATERIALIZED (
      SELECT user_id, event_type, row_number() OVER (
        PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    s AS MATERIALIZED (
      SELECT user_id, string_agg(event_type, ' ' ORDER BY rn) AS seq
      FROM c WHERE rn <= 50 GROUP BY user_id)
    SELECT n.user_id, n.n_events, s.seq FROM n JOIN s ON s.user_id = n.user_id
    """,
)
def l28_user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior-sequence corpus construction: each user's event types
    concatenated in (ts, event_id) order, capped at the first 50 (the
    context-window analog) — the pass that turns an event log into
    training sequences.  One shuffle on user_id: sort_array over
    collected (ts, event_id, type) structs gives the deterministic
    order; slice() bounds row width so a power user can't skew a task.
    Timestamps are µs-aligned in the fixture so Spark-µs and DuckDB-ns
    ordering agree (verified sub_us == 0)."""
    ev = load_table(spark, sf_dir, "events")
    agg = (ev.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.slice(F.sort_array(F.collect_list(
                    F.struct("ts", "event_id", "event_type"))),
                    1, 50).alias("first50")))
    return agg.select(
        "user_id", "n_events",
        F.array_join(F.transform("first50", lambda s: s["event_type"]),
                     " ").alias("seq"))


@query(
    "l29_length_band_filter",
    oracle="""
    WITH q AS MATERIALIZED (
      SELECT quantile_cont(len(string_split(text, ' ')), 0.25) AS lo,
             quantile_cont(len(string_split(text, ' ')), 0.75) AS hi
      FROM documents)
    SELECT lang, count(*) AS n_kept,
           round(avg(len(string_split(text, ' '))), 6) AS avg_len
    FROM documents, q
    WHERE len(string_split(text, ' ')) BETWEEN q.lo AND q.hi
    GROUP BY lang
    """,
)
def l29_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-relative quality gate: keep documents inside the
    corpus's own [p25, p75] token-length band, report survivors per
    language.  The exact interpolated percentiles fold in as a
    broadcast 1-row cross join (scalar 'subquery' without leaving the
    plan); the filter itself is scan-side.  At 100 TB swap the exact
    percentile for approx_percentile(..., accuracy) — same plan shape,
    one pass instead of sort-based exact."""
    from ..llm.text import token_count
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.withColumn("tok", token_count("text"))
    q = toks.agg(
        F.expr("percentile(tok, 0.25)").alias("lo"),
        F.expr("percentile(tok, 0.75)").alias("hi"))
    return (toks.crossJoin(F.broadcast(q))
            .filter((F.col("tok") >= F.col("lo"))
                    & (F.col("tok") <= F.col("hi")))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.round(F.avg("tok"), 6).alias("avg_len")))


@query(
    "l30_incremental_dedup",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    words AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word
      FROM toks),
    sh AS MATERIALIZED (
      SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS s
      FROM words a
      JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN words c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
    sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh
                        GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT nw.doc_id AS doc_id, old.doc_id AS dup_of, count(*) AS m
      FROM sh nw JOIN sh old
        ON nw.s = old.s AND nw.doc_id % 10 = 0 AND old.doc_id % 10 <> 0
      GROUP BY 1, 2)
    SELECT i.doc_id, i.dup_of,
           round(m::DOUBLE / (sa.n + sb.n - m), 6) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.doc_id
    JOIN sz sb ON sb.doc_id = i.dup_of
    WHERE m::DOUBLE / (sa.n + sb.n - m) >= 0.4
    """,
)
def l30_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: every-10th document plays the NEW batch,
    the rest the already-indexed corpus; the batch is fingerprinted
    (MinHash bands + hashed shingles) and joined against the corpus's
    fingerprint index — per-batch work is O(batch), the corpus
    contributes only equi-join lookups, and NOTHING is compared within
    the batch or within the corpus (llm/incremental.py).

    Hash-checked: the oracle recomputes the exact cross-side 3-gram
    Jaccard — valid because the 16×3 LSH banding has recall 1 on the
    fixture's planted dups (the l03 discipline)."""
    from ..llm import incremental as I
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    old = docs.filter(F.col("doc_id") % 10 != 0)
    # fingerprint_tables materializes its shingle pass (r15
    # materialize-once sweep): lazily, the three derived index tables
    # each re-ran the old-corpus shingle pass (scan + explode + hash +
    # distinct over 90% of the corpus, 3× — the plan read 8 scans / 40
    # Exchange / 543 lines).
    idx = I.fingerprint_tables(old, "doc_id", "text")
    return I.incremental_dedup_pairs(new, "doc_id", "text", idx,
                                     threshold=0.4)


@query(
    "l31_boilerplate_score",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    words AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word
      FROM toks),
    sh AS MATERIALIZED (
      SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS s
      FROM words a
      JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN words c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
    dfreq AS MATERIALIZED (
      SELECT s, count(*) AS df FROM sh GROUP BY s)
    SELECT sh.doc_id, count(*) AS n_shingles,
           round(sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS common_frac
    FROM sh JOIN dfreq ON dfreq.s = sh.s
    GROUP BY sh.doc_id
    """,
)
def l31_boilerplate_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection WITHOUT pair enumeration: the
    fraction of each document's word-3-gram shingles whose corpus
    document frequency is ≥ 5 (navigation chrome, license blocks and
    mirrored templates score high).  One shingle pass + one df
    aggregate + one join back — linear in corpus tokens, zero UDFs.
    The Spark side shuffles 8-byte hashed shingles; the oracle
    re-derives the identical counts from the raw strings (counts are
    hash-invariant, the l02/l03 discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    out = X.boilerplate_score(docs, "doc_id", "text")
    return out.withColumnRenamed("id", "doc_id")


@query(
    "l32_containment_pairs",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    words AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word
      FROM toks),
    sh AS MATERIALIZED (
      SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS s
      FROM words a
      JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN words c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
    sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh
                        GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS m
      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(m::DOUBLE / least(sa.n, sb.n), 6) AS containment
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE m::DOUBLE / least(sa.n, sb.n) >= 0.8
    """,
)
def l32_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup pairs: containment = |∩| / min(|A|, |B|) ≥
    0.8 — the quote/subset detector Jaccard-tuned banding misses (a
    short doc fully quoted in a long one has tiny Jaccard but
    containment ≈ 1).  Blocker: each doc's bottom-8 shingle hashes
    probe the corpus shingle inverted index, df-capped at 100 so no
    stop-shingle can fan the probe join out past the cap; exact
    containment is reranked over ALL shingles for candidates only.

    Hash-checked against the exact all-pairs containment SQL — valid
    because a truly/near-contained pair shares the probing doc's
    bottom-k shingles with P ≥ 1-(1-0.8)^8 ≈ 1-2.6e-6 (recall exactly 1
    for full containment), so on the fixture the blocked output equals
    the exact answer; blocked == exact is also pytest-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(docs, "doc_id", "text", n=3,
                               threshold=0.8, bottom_k=8,
                               max_shingle_df=100)


# In-plan PII augmentation for l33: the documents fixture is synthetic
# word salad with ZERO real PII, so the registered scrub would be a
# no-op.  Both engines append the same deterministic contact strings
# (pure functions of doc_id) so redaction + audit counts actually
# exercise — the multimodal-fixture discipline, but SQL-derivable.
_PII_AUG_SQL = """
    SELECT doc_id, text
      || CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com'
              ELSE '' END
      || CASE WHEN doc_id % 4 = 0
              THEN ' see https://example.org/d/' || CAST(doc_id AS VARCHAR)
                   || '?ref=mail'
              ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN ' call +1 (415) 555-'
                   || lpad(CAST(doc_id AS VARCHAR), 4, '0')
              ELSE '' END AS text
    FROM documents
"""

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_URL = r"https?://[^\s]+"
_PII_PHONE = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"


@query(
    "l33_pii_scrub",
    oracle=f"""
    WITH aug AS MATERIALIZED ({_PII_AUG_SQL})
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
               text, '{_PII_EMAIL}', '[REDACTED]', 'g'),
               '{_PII_URL}', '[REDACTED]', 'g'),
               '{_PII_PHONE}', '[REDACTED]', 'g') AS text,
           len(regexp_extract_all(text, '{_PII_EMAIL}')) AS pii_email,
           len(regexp_extract_all(text, '{_PII_URL}')) AS pii_url,
           len(regexp_extract_all(text, '{_PII_PHONE}')) AS pii_phone
    FROM aug
    """,
)
def l33_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data PII redaction + audit: every email/url/phone match
    replaced with [REDACTED]; per-kind counts audit the ORIGINAL text
    (order-independent — an email inside a URL counts as both).  Pure
    regexp_replace/regexp_count codegen, zero UDFs, scan-side at 100 TB.

    Hash-checked against DuckDB's RE2 engine — valid because the
    patterns are dialect-conservative (no lookaround, no \\b, no
    backreferences: the subset where Java's leftmost-first greedy
    matching and RE2 agree).  The fixture carries no PII, so both sides
    append identical deterministic contact strings in-plan first."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0,
                   F.concat(F.lit(" contact user"), did.cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(did % 4 == 0,
                   F.concat(F.lit(" see https://example.org/d/"),
                            did.cast("string"),
                            F.lit("?ref=mail"))).otherwise(F.lit("")),
            F.when(did % 5 == 0,
                   F.concat(F.lit(" call +1 (415) 555-"),
                            F.lpad(did.cast("string"), 4, "0"))
                   ).otherwise(F.lit("")),
        ).alias("text"))
    return X.scrub_pii(aug, "text")


@query(
    "l34_bloom_decontaminate",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    words AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word
      FROM toks),
    sh AS MATERIALIZED (
      SELECT DISTINCT a.doc_id,
             a.word || ' ' || b.word || ' ' || c.word || ' ' || d.word
             || ' ' || e.word AS s
      FROM words a
      JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN words c ON c.doc_id = a.doc_id AND c.i = a.i + 2
      JOIN words d ON d.doc_id = a.doc_id AND d.i = a.i + 3
      JOIN words e ON e.doc_id = a.doc_id AND e.i = a.i + 4),
    bsh AS MATERIALIZED (SELECT * FROM sh WHERE doc_id % 7 = 0),
    tsh AS MATERIALIZED (SELECT * FROM sh WHERE doc_id % 7 <> 0),
    bsz AS MATERIALIZED (
      SELECT doc_id, count(*) AS bn FROM bsh GROUP BY doc_id),
    pairs AS MATERIALIZED (
      SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
             count(*) AS n_shared
      FROM tsh t JOIN bsh b ON t.s = b.s
      GROUP BY 1, 2)
    SELECT train_id, bench_id, n_shared,
           round(n_shared::DOUBLE / bn, 6) AS containment
    FROM pairs JOIN bsz ON bsz.doc_id = bench_id
    """,
)
def l34_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l21's decontamination answer through the Bloom-prefilter path:
    the benchmark shingle set becomes a broadcast m-bit Bloom bitset
    (built JVM-side with a bit_or aggregate), the corpus side is tested
    SCAN-SIDE by an Arrow-batched numpy probe before any exchange, and
    only survivors (ε ≈ 0.5% at the defaults) enter the exact-confirm
    equi-join — so the corpus-sized shuffle shrinks ~200×.  The oracle
    is l21's exact SQL unchanged: Bloom admits only false positives and
    the confirm join removes them, so the output is provably identical."""
    docs = load_table(spark, sf_dir, "documents")
    return D.bloom_decontaminate_pairs(docs, "doc_id", "text",
                                       F.col("doc_id") % 7 == 0, n=5)


@query(
    "l35_sq8_topk",
    oracle="""
    WITH vecs AS MATERIALIZED (
      SELECT vec_id,
             generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i,
             unnest(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings),
    dims AS MATERIALIZED (
      SELECT i, min(v) AS mn, max(v) AS mx FROM vecs GROUP BY i),
    p AS MATERIALIZED (
      SELECT i, mn, mx,
             CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS s
      FROM dims),
    codes AS MATERIALIZED (
      SELECT v.vec_id, v.i, p.mn, p.s,
             CASE WHEN p.mx > p.mn
                  THEN least(greatest(floor((v.v - p.mn) / p.s + 0.5),
                                      0), 255)
                  ELSE 0 END AS c
      FROM vecs v JOIN p USING (i)),
    qfull AS MATERIALIZED (SELECT i, v AS q FROM vecs WHERE vec_id = 0),
    qn AS MATERIALIZED (SELECT sqrt(sum(q * q)) AS qnorm FROM qfull),
    scored AS MATERIALIZED (
      SELECT c.vec_id AS id,
             round(sum((c.mn + c.s * c.c) * qf.q)
                   / (sqrt(sum((c.mn + c.s * c.c) * (c.mn + c.s * c.c)))
                      * min(qn.qnorm)), 6) AS qcos
      FROM codes c JOIN qfull qf USING (i), qn
      WHERE c.vec_id <> 0 GROUP BY c.vec_id),
    short AS MATERIALIZED (SELECT * FROM scored ORDER BY qcos DESC, id LIMIT 50),
    qv AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id = 0)
    SELECT s.id, s.qcos,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        qv.qv), 6) AS cosine
    FROM short s
    JOIN embeddings e ON e.vec_id = s.id, qv
    ORDER BY cosine DESC, id LIMIT 10
    """,
)
def l35_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search over an int8 scalar-quantized corpus with
    ASYMMETRIC (ADC) scoring: per-dim min/max codebook (one exact
    aggregate, 2·dim doubles), approximate cosine reconstructed from
    the int8 codes entirely in whole-stage codegen, top-shortlist by
    (rounded approx cosine, id), exact-cosine rerank for the reported
    top-k.  Codes are derived in-plan here; persisting them as a
    column (the production layout) turns the same plan into a 4×
    smaller scan — see sq8_topk's docstring.
    The oracle unrolls the identical pipeline relationally; both sides
    round the selection score to 6 decimals, which absorbs cross-engine
    summation-order noise — the repo's top-k ordering discipline."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.sq8_topk(emb, "vec_id", "embedding", query_id=0,
                      k=10, shortlist=50)


@query(
    "l36_domain_cap",
    oracle="""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('cap' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents)
    WHERE rk <= 10
    """,
)
def l36_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (≤10 per source, chosen by md5 order of
    doc_id — a seed-stable shuffle): the web-corpus curation guard
    against one domain dominating the training mixture.  The engine
    runs the skew-safe two-window form (per-(domain, salt-bucket)
    top-cap first, so no single partition ever sorts a whole mega
    domain); the oracle states the equivalent one-window definition —
    the two are provably identical, which the hash check enforces."""
    docs = load_table(spark, sf_dir, "documents")
    from ..llm.split import domain_cap
    return (domain_cap(docs, "doc_id", "source", cap=10)
            .select("doc_id", "source", "rk"))


@query(
    "l37_shared_spans",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    words AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word
      FROM toks),
    wins AS MATERIALIZED (
      SELECT doc_id, i - 1 AS pos,
             string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS s,
             count(*) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS cnt
      FROM words),
    valid AS MATERIALIZED (SELECT doc_id, pos, s FROM wins WHERE cnt = 8),
    m AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pos_a, a.pos - b.pos AS d
      FROM valid a JOIN valid b ON a.s = b.s AND a.doc_id < b.doc_id),
    grp AS MATERIALIZED (SELECT *, pos_a - row_number() OVER (
              PARTITION BY doc_a, doc_b, d ORDER BY pos_a) AS g FROM m)
    SELECT doc_a, doc_b, min(pos_a) AS start_a,
           min(pos_a) - d AS start_b,
           max(pos_a) - min(pos_a) + 8 AS n_tokens
    FROM grp GROUP BY doc_a, doc_b, d, g
    HAVING max(pos_a) - min(pos_a) + 8 >= 16
    """,
)
def l37_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring shared spans (Lee et al. 2022 dedup, arXiv:
    2107.06499) without the suffix array: positioned 8-gram window
    hashes, one equi-join, per-(pair, diagonal) islands merge — every
    maximal run of ≥16 tokens appearing verbatim in two documents, with
    both 0-based offsets.  The engine joins on xxhash64 of the window;
    the oracle joins on the window STRING itself (DuckDB lacks
    xxhash64) — identical output up to 64-bit hash collisions, the same
    trade every hashed-shingle oracle in this file makes implicitly.
    Oracle windows come from a framed string_agg, not an 8-way
    self-join, and every CTE is MATERIALIZED (the g25 lesson)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.shared_spans(docs, "doc_id", "text", k=8, min_tokens=16)


@query(
    "l38_cdc_chunk_dedup",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n
      FROM documents),
    cuts AS MATERIALIZED (
      SELECT t.doc_id, r.p AS p
      FROM toks t, LATERAL unnest(range(4, t.n)) AS r(p)
      WHERE ('0x' || substr(md5(array_to_string(w[p-3:p], ' ')), 1, 15))
              ::BIGINT % 16 = 0),
    bounds AS MATERIALIZED (
      SELECT t.doc_id, t.n, t.w,
             coalesce(list_sort(list(c.p) FILTER (c.p IS NOT NULL)), [])
               AS cs
      FROM toks t LEFT JOIN cuts c USING (doc_id)
      GROUP BY t.doc_id, t.n, t.w),
    chunks AS MATERIALIZED (
      SELECT doc_id,
             list_append(cs, n)[i.i + 1]
               - list_prepend(0, cs)[i.i + 1] AS n_tokens,
             md5(array_to_string(
               w[list_prepend(0, cs)[i.i + 1] + 1
                 : list_append(cs, n)[i.i + 1]], ' ')) AS chunk_key
      FROM bounds, LATERAL unnest(range(0, len(cs) + 1)) AS i(i))
    SELECT chunk_key, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
           min(n_tokens) AS n_tokens, min(doc_id) AS min_doc
    FROM chunks WHERE n_tokens > 0
    GROUP BY chunk_key HAVING count(DISTINCT doc_id) >= 2
    """,
)
def l38_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC-family, token-level) + chunk
    dedup: cut after any token whose trailing 4-gram's md5 hits
    0 mod 16 (expected chunk ~16 tokens), then report every chunk text
    held verbatim by >= 2 documents.  Content-defined cuts make shared
    passages chunk identically at ANY offset — the property fixed-size
    chunking lacks.  Chunking itself is pure per-row codegen (zero
    shuffles); the report shuffles 16-byte chunk keys once.  The
    boundary decision uses md5 (the engine-portable-hash-in-a-DECISION
    discipline of g20/l04), so the oracle reproduces the exact cut set;
    every per-doc CTE is MATERIALIZED (the g25 lesson)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.cdc_dedup_report(docs, "doc_id", "text", w=4, modulus=16)


@query(
    "l39_gopher_rules",
    oracle="""
    WITH t AS MATERIALIZED (
      SELECT doc_id, text, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n,
             string_split(text, chr(10)) AS ls,
             len(string_split(text, chr(10))) AS nl
      FROM documents),
    m AS MATERIALIZED (
      SELECT doc_id, n AS n_words,
        round(list_sum(list_transform(w, x -> len(x)))
              / CAST(n AS DOUBLE), 6) AS mean_word_len,
        round((len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '\\.\\.\\.')))
              / CAST(n AS DOUBLE), 6) AS symbol_ratio,
        round(len(list_filter(ls, l -> regexp_matches(l, '^[ \t]*[-*]')))
              / CAST(nl AS DOUBLE), 6) AS bullet_ratio,
        round(len(list_filter(ls, l -> regexp_matches(l, '\\.\\.\\.$')))
              / CAST(nl AS DOUBLE), 6) AS ellipsis_ratio,
        round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
              / CAST(n AS DOUBLE), 6) AS alpha_ratio,
        len(list_filter(['the','be','to','of','and','that','have','with'],
                        s -> list_contains(w, s))) AS stop_hits
      FROM t)
    SELECT *,
      (n_words >= 50 AND n_words <= 100000
       AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
       AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
       AND stop_hits >= 2) AS passes
    FROM m
    """,
)
def l39_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, arXiv:2112.11446): the
    standard pre-training document filter — word-count band, mean word
    length band, symbol/bullet/ellipsis ratios, alphabetic-word
    fraction, required stop words — as pure column expressions over the
    token and line arrays.  Ratios are rounded to 6 and `passes` is
    derived from the ROUNDED values on both engines, so the verdict
    can't flip on a ulp.  Scan-shaped at 100 TB: zero UDFs, zero
    shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return X.gopher_rules(docs, "doc_id", "text")


@query(
    "l40_pq_topk",
    oracle="""
    WITH v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    subs AS MATERIALIZED (
      SELECT vec_id, s.s AS sub, e[s.s * 16 + 1 : (s.s + 1) * 16] AS sv
      FROM v, LATERAL unnest(range(0, 4)) AS s(s)),
    c0 AS MATERIALIZED (
      SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1
               AS cell,
             list_transform(sv, x -> floor(x * 1000000 + 0.5) / 1000000)
               AS cv
      FROM subs
      WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 8)),
    a1 AS MATERIALIZED (
      SELECT vec_id, sub, sv, cell FROM (
        SELECT s.vec_id, s.sub, s.sv, c.cell,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                 ORDER BY floor(list_sum(list_transform(range(1, 17),
                   i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])))
                   * 1000000000 + 0.5) / 1000000000, c.cell) AS rn
        FROM subs s JOIN c0 c USING (sub))
      WHERE rn = 1),
    m1 AS MATERIALIZED (
      SELECT sub, cell, pos,
             floor(avg(x) * 1000000 + 0.5) / 1000000 AS mu
      FROM (SELECT sub, cell, generate_subscripts(sv, 1) AS pos,
                   unnest(sv) AS x FROM a1)
      GROUP BY sub, cell, pos),
    c1 AS MATERIALIZED (
      SELECT c0.sub, c0.cell, coalesce(u.cv2, c0.cv) AS cv
      FROM c0 LEFT JOIN (
        SELECT sub, cell, list(mu ORDER BY pos) AS cv2
        FROM m1 GROUP BY sub, cell) u USING (sub, cell)),
    a2 AS MATERIALIZED (
      SELECT vec_id, sub, sv, cell FROM (
        SELECT s.vec_id, s.sub, s.sv, c.cell,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                 ORDER BY floor(list_sum(list_transform(range(1, 17),
                   i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])))
                   * 1000000000 + 0.5) / 1000000000, c.cell) AS rn
        FROM subs s JOIN c1 c USING (sub))
      WHERE rn = 1),
    m2 AS MATERIALIZED (
      SELECT sub, cell, pos,
             floor(avg(x) * 1000000 + 0.5) / 1000000 AS mu
      FROM (SELECT sub, cell, generate_subscripts(sv, 1) AS pos,
                   unnest(sv) AS x FROM a2)
      GROUP BY sub, cell, pos),
    c2 AS MATERIALIZED (
      SELECT c1.sub, c1.cell, coalesce(u.cv2, c1.cv) AS cv
      FROM c1 LEFT JOIN (
        SELECT sub, cell, list(mu ORDER BY pos) AS cv2
        FROM m2 GROUP BY sub, cell) u USING (sub, cell)),
    codes AS MATERIALIZED (
      SELECT vec_id, sub, cell FROM (
        SELECT s.vec_id, s.sub, c.cell,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                 ORDER BY floor(list_sum(list_transform(range(1, 17),
                   i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])))
                   * 1000000000 + 0.5) / 1000000000, c.cell) AS rn
        FROM subs s JOIN c2 c USING (sub))
      WHERE rn = 1),
    q AS MATERIALIZED (SELECT e FROM v WHERE vec_id = 1),
    qn AS MATERIALIZED (
      SELECT sqrt(list_sum(list_transform(e, x -> x * x))) AS qnorm
      FROM q),
    lut AS MATERIALIZED (
      SELECT c.sub, c.cell,
             list_sum(list_transform(range(1, 17),
               i -> q.e[c.sub * 16 + i] * c.cv[i])) AS dotv,
             list_sum(list_transform(c.cv, x -> x * x)) AS n2
      FROM c2 c, q),
    approx AS MATERIALIZED (
      SELECT cd.vec_id AS id,
             round(sum(l.dotv)
                   / (sqrt(sum(l.n2)) * min(qn.qnorm)), 6) AS qcos
      FROM codes cd JOIN lut l ON cd.sub = l.sub AND cd.cell = l.cell, qn
      WHERE cd.vec_id <> 1
      GROUP BY cd.vec_id),
    short AS MATERIALIZED (
      SELECT id, qcos FROM approx ORDER BY qcos DESC, id LIMIT 50)
    SELECT s.id, s.qcos,
           round(list_cosine_similarity(v.e, q.e), 6) AS cosine
    FROM short s JOIN v ON v.vec_id = s.id, q
    ORDER BY cosine DESC, id LIMIT 10
    """,
)
def l40_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) with asymmetric
    (ADC) scoring: 4 subspaces × 8 centroids × 16 dims trained by two
    Lloyd steps (all subspaces in the SAME jobs — one scan + one
    codebook-sized aggregate per step), corpus scored only through its
    4-byte codes via per-(sub, cell) dot/norm lookup tables folded into
    plan literals, shortlist by (rounded approx cosine, id), exact
    rerank for the reported top-k — the l35 surface, at m bytes/vector
    instead of dim bytes.  Every DECISION value (centroid components,
    argmin distances) is rounded via the tie-unambiguous
    floor(x·10^p + 0.5)/10^p on BOTH engines, so the oracle's unrolled
    Lloyd iterations (chained MATERIALIZED CTEs, the l12/g06 pattern)
    land on the identical codebook, codes, and shortlist."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pq_topk(emb, "vec_id", "embedding", query_id=1,
                     k=10, shortlist=50, m=4, ks=8, n_iters=2)


@query(
    "l41_dsir_weights",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
    words AS MATERIALIZED (
      SELECT doc_id, source, generate_subscripts(w, 1) AS i,
             unnest(w) AS g
      FROM toks),
    grams AS MATERIALIZED (
      SELECT doc_id, source, g FROM words
      UNION ALL
      SELECT a.doc_id, a.source, a.g || ' ' || b.g
      FROM words a JOIN words b
        ON b.doc_id = a.doc_id AND b.i = a.i + 1),
    bk AS MATERIALIZED (
      SELECT doc_id, source = 'src0' AS tgt,
             ('0x' || substr(md5(g), 1, 15))::BIGINT % 512 AS bucket
      FROM grams),
    per_doc AS MATERIALIZED (
      SELECT doc_id, tgt, bucket, count(*) AS cnt
      FROM bk GROUP BY 1, 2, 3),
    marg AS MATERIALIZED (
      SELECT bucket,
             CAST(sum(cnt) FILTER (tgt) AS BIGINT) AS ct,
             CAST(sum(cnt) FILTER (NOT tgt) AS BIGINT) AS cr
      FROM per_doc GROUP BY bucket),
    tot AS MATERIALIZED (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS tt,
                   CAST(coalesce(sum(cr), 0) AS BIGINT) AS tr FROM marg),
    ratio AS MATERIALIZED (
      SELECT bucket,
             CAST(floor(ln(((coalesce(ct, 0) + 1) / (tt + 512.0))
                           / ((coalesce(cr, 0) + 1) / (tr + 512.0)))
                        * 1e6 + 0.5) AS BIGINT) AS r_micro
      FROM marg CROSS JOIN tot)
    SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
           CAST(sum(cnt * r_micro) AS BIGINT) AS logw_micro
    FROM per_doc JOIN ratio USING (bucket)
    GROUP BY doc_id
    """,
)
def l41_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    per-doc log-likelihood ratio of its hashed unigram+bigram bag under
    the target domain (source='src0') vs the rest of the corpus — the
    standard "select raw data that looks like the target" scorer.  The
    per-bucket log-ratio is rounded ONCE to integer micro-units and
    each doc's weight is an exact BIGINT dot product (no float
    summation anywhere — llm.split.dsir_weights); one (id, bucket)
    shuffle + a broadcast 512-row ratio table."""
    from ..llm.split import dsir_weights
    docs = load_table(spark, sf_dir, "documents")
    return (dsir_weights(docs, "doc_id", "text",
                         is_target=F.col("source") == "src0",
                         n_buckets=512)
            .withColumnRenamed("id", "doc_id"))


@query(
    "l42_weighted_sample",
    oracle="""
    SELECT doc_id AS id, n_chars AS weight,
           CAST(floor(
             ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   ::BIGINT + 1) / 1152921504606846976.0)
             / n_chars * 1e9 + 0.5) AS BIGINT) AS key_nano
    FROM documents
    WHERE n_chars > 0
    ORDER BY key_nano DESC, id LIMIT 100
    """,
)
def l42_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis): keep the 100 docs with the largest md5-derived
    u^(1/n_chars) — longer docs proportionally likelier, identical
    selection on every run and engine since u comes from md5(doc_id),
    not an RNG.  Ranks quantized ln(u)/w integers with id tiebreak
    (llm.split.weighted_sample); the plan is scan-side codegen +
    TakeOrderedAndProject, never a full sort."""
    from ..llm.split import weighted_sample
    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", k=100)


def _bpe_cte_parts(n_merges: int = 4) -> list[str]:
    """Shared unrolled-BPE-training CTE chain (l43 training table, l45
    apply counts): per merge step, count adjacent symbol pairs over the
    vocab (weighted by word freq), pick (count desc, pair asc), and
    rebuild every word's symbol list.  The greedy leftmost
    non-overlapping merge is re-derived via the ISLANDS formulation: a
    matching position merges iff its offset inside its run of
    consecutive matching positions is even (equivalent to greedy by
    parity; only a=b pairs form runs longer than 1).  MATERIALIZED
    throughout (the g25 lesson).  Final vocab CTE is v{n_merges}."""
    parts = [
        """words AS MATERIALIZED (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE len(word) > 0 GROUP BY word)""",
        """v0 AS MATERIALIZED (
      SELECT word, freq,
             list_transform(range(1, len(word) + 1),
                            i -> substr(word, i, 1)) AS syms
      FROM words)""",
    ]
    for t in range(n_merges):
        parts.append(f"""p{t} AS MATERIALIZED (
      SELECT v.word, v.freq, i.i AS i,
             v.syms[i.i] AS sa, v.syms[i.i + 1] AS sb
      FROM v{t} v, LATERAL unnest(range(1, len(v.syms))) AS i(i))""")
        parts.append(f"""b{t} AS MATERIALIZED (
      SELECT CAST({t} AS INTEGER) AS step, sa AS ba, sb AS bb,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM p{t} GROUP BY sa, sb ORDER BY cnt DESC, sa, sb LIMIT 1)""")
        parts.append(f"""mk{t} AS MATERIALIZED (
      SELECT word, i FROM (
        SELECT g.word, g.i,
               (g.i - min(g.i) OVER (PARTITION BY g.word, g.grp)) % 2
                 AS off
        FROM (
          SELECT p.word, p.i,
                 p.i - row_number() OVER (PARTITION BY p.word
                                          ORDER BY p.i) AS grp
          FROM p{t} p JOIN b{t} b ON b.ba = p.sa AND b.bb = p.sb) g)
      WHERE off = 0)""")
        parts.append(f"""v{t + 1} AS MATERIALIZED (
      SELECT p.word, p.freq,
             list(CASE WHEN m1.i IS NOT NULL
                       THEN p.syms[p.j] || p.syms[p.j + 1]
                       ELSE p.syms[p.j] END ORDER BY p.j) AS syms
      FROM (SELECT v.word, v.freq, v.syms, j.j
            FROM v{t} v,
                 LATERAL unnest(range(1, len(v.syms) + 1)) AS j(j)) p
      LEFT JOIN mk{t} m1 ON m1.word = p.word AND m1.i = p.j
      LEFT JOIN mk{t} m0 ON m0.word = p.word AND m0.i = p.j - 1
      WHERE m0.i IS NULL
      GROUP BY p.word, p.freq)""")
    return parts


def _bpe_oracle(n_merges: int = 4) -> str:
    """l43: the training CTE chain + the ordered merge-table union."""
    parts = _bpe_cte_parts(n_merges)
    union = "\n      UNION ALL ".join(
        f"SELECT step, ba AS sym_a, bb AS sym_b, ba || bb AS merged, "
        f"cnt AS pair_count FROM b{t}" for t in range(n_merges))
    return "WITH " + ",\n".join(parts) + f"\n    {union}"


@query("l43_bpe_merges", oracle=_bpe_oracle(n_merges=4))
def l43_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016): the first 4 merge
    rules learned from the corpus — adjacent-pair counts over the
    word-frequency VOCAB (the only corpus-sized pass is the word-freq
    aggregate; iterations run on the vocabulary, exactly like
    production BPE trainers), greedy leftmost merge apply, exact-
    integer (count desc, pair asc) decisions.  Oracle re-derives the
    greedy merge via the islands parity formulation
    (llm.text.bpe_merges)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.bpe_merges(docs, "doc_id", "text", n_merges=4)


@query(
    "l44_curation_pipeline",
    oracle="""
    WITH t AS MATERIALIZED (
      SELECT doc_id, text, n_chars, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n,
             string_split(text, chr(10)) AS ls,
             len(string_split(text, chr(10))) AS nl
      FROM documents),
    m AS MATERIALIZED (
      SELECT doc_id, text, n_chars,
        n AS n_words,
        round(list_sum(list_transform(w, x -> len(x)))
              / CAST(n AS DOUBLE), 6) AS mean_word_len,
        round((len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '\\.\\.\\.')))
              / CAST(n AS DOUBLE), 6) AS symbol_ratio,
        round(len(list_filter(ls, l -> regexp_matches(l, '^[ \t]*[-*]')))
              / CAST(nl AS DOUBLE), 6) AS bullet_ratio,
        round(len(list_filter(ls, l -> regexp_matches(l, '\\.\\.\\.$')))
              / CAST(nl AS DOUBLE), 6) AS ellipsis_ratio,
        round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
              / CAST(n AS DOUBLE), 6) AS alpha_ratio,
        len(list_filter(['the','be','to','of','and','that','have','with'],
                        s -> list_contains(w, s))) AS stop_hits
      FROM t),
    kept AS MATERIALIZED (
      SELECT doc_id, text, n_chars FROM m
      WHERE n_words >= 20 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
        AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
        AND stop_hits >= 1),
    deduped AS MATERIALIZED (
      SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars, row_number() OVER (
          PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1)
    SELECT doc_id AS id, n_chars AS weight,
           CAST(floor(
             ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   ::BIGINT + 1) / 1152921504606846976.0)
             / n_chars * 1e9 + 0.5) AS BIGINT) AS key_nano
    FROM deduped
    WHERE n_chars > 0
    ORDER BY key_nano DESC, id LIMIT 100
    """,
)
def l44_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline composing three of this round's
    operators in the order a pre-training data build runs them:
    Gopher quality gate (fixture-calibrated thresholds: >= 20 words,
    >= 1 required stop word, the other Rae-et-al bands at defaults) →
    exact dedup (min-id survivor per md5(text)) → deterministic
    Efraimidis-Spirakis weighted sample of 100 docs by length.  Every
    stage's decisions are the individually-oracled exact-integer /
    rounded forms, so the composition stays hash-checkable; the plan
    is scan-shaped filters + one 16-byte-key dedup shuffle + a
    TakeOrderedAndProject."""
    from ..llm.split import weighted_sample
    docs = load_table(spark, sf_dir, "documents")
    g = X.gopher_rules(docs, "doc_id", "text",
                       min_words=20, min_stop_hits=1)
    kept = docs.join(g.filter("passes").select("doc_id"), "doc_id",
                     "left_semi")
    deduped = D.exact_dedup(kept, "doc_id", "text")
    return weighted_sample(deduped, "doc_id", "n_chars", k=100)


def _bpe_apply_oracle(n_merges: int = 4) -> str:
    """l45: the training CTE chain + tokenize-by-vocab-join apply —
    per doc, tokens under the trained BPE = sum of |syms| over its
    word instances (tokenization is word-local, so applying merges to
    a document is a JOIN against the final vocab, never a re-segment
    of the corpus)."""
    parts = _bpe_cte_parts(n_merges)
    parts.append(f"""dw AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents)""")
    return ("WITH " + ",\n".join(parts) + f"""
    SELECT dw.doc_id AS id, count(*) AS n_words,
           CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens,
           round(sum(len(v.syms))
                 / CAST(sum(len(v.word)) AS DOUBLE), 6) AS compression
    FROM dw JOIN v{n_merges} v ON v.word = dw.word
    WHERE len(dw.word) > 0
    GROUP BY dw.doc_id""")


@query("l45_bpe_token_counts", oracle=_bpe_apply_oracle(n_merges=4))
def l45_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: per-doc token counts and chars-per-token
    compression under the 4-merge BPE trained on the same corpus — the
    sequence-budgeting metric of a pre-training pipeline.  Tokenization
    is word-local, so the apply is one explode + a broadcast vocab join
    + one per-doc aggregate (llm.text.bpe_token_counts); the oracle
    extends the l43 training CTEs with the same join."""
    docs = load_table(spark, sf_dir, "documents")
    return X.bpe_token_counts(docs, "doc_id", "text", n_merges=4)


def _lsh_audit_oracle(num_hashes: int = 12, bands: int = 6,
                      sample: int = 200) -> str:
    """Full SQL re-derivation of the banding audit: md5-ordered sample,
    portable md5 min-hash signatures, band buckets, candidate pairs,
    exact-Jaccard true pairs, and the exact-integer metrics row."""
    rows = num_hashes // bands
    sig_aggs = ",\n             ".join(
        f"min(('0x' || substr(md5('{i}|' || shingle), 1, 15))::BIGINT)"
        f" AS h{i}" for i in range(num_hashes))
    band_selects = "\n      UNION ALL ".join(
        "SELECT id, {b} AS band, ('0x' || substr(md5('{b}' || '|' || {v}),"
        " 1, 15))::BIGINT AS bucket FROM sig".format(
            b=b, v=" || '|' || ".join(
                f"CAST(h{b * rows + r} AS VARCHAR)" for r in range(rows)))
        for b in range(bands))
    return f"""
    WITH sample AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 ::BIGINT, doc_id
      LIMIT {sample}),
    toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM sample),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id AS id, g AS shingle FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
               i -> array_to_string(w[i:i+2], ' '))) AS g
        FROM toks)),
    sig AS MATERIALIZED (
      SELECT id, {sig_aggs}
      FROM sh GROUP BY id),
    bk AS MATERIALIZED (
      {band_selects}),
    cand AS MATERIALIZED (
      SELECT DISTINCT x.id AS doc_a, y.id AS doc_b
      FROM bk x JOIN bk y
        ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
    inter AS MATERIALIZED (
      SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2),
    sizes AS MATERIALIZED (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    tp AS MATERIALIZED (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.id = doc_a JOIN sizes sb ON sb.id = doc_b
      WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.4),
    hit AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b FROM cand c
      JOIN tp t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
    m AS MATERIALIZED (SELECT (SELECT count(*) FROM tp) AS n_true,
                 (SELECT count(*) FROM cand) AS n_cand,
                 (SELECT count(*) FROM hit) AS n_hit)
    SELECT n_true, n_cand, n_hit,
           round(CASE WHEN n_cand > 0 THEN n_hit / n_cand
                      ELSE 1.0 END, 6) AS precision,
           round(CASE WHEN n_true > 0 THEN n_hit / n_true
                      ELSE 1.0 END, 6) AS recall,
           round(CASE WHEN n_cand + n_true > 0
                      THEN 2 * n_hit / (n_cand + n_true)
                      ELSE 1.0 END, 6) AS f1
    FROM m"""


@query("l46_lsh_banding_audit", oracle=_lsh_audit_oracle())
def l46_lsh_banding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality audit: precision/recall/F1 of the MinHash banding
    candidate stage vs exact Jaccard (threshold 0.4) on a 200-doc
    md5-ordered sample — the measurement every LSH dedup silently
    assumes (l03's oracle equals exact Jaccard ONLY while banding
    recall holds).  The audited signature family is the engine-portable
    md5 one, so the whole audit — sample, signatures, buckets,
    candidates, truth, metrics — is one hash-checkable computation
    (llm.dedup.lsh_banding_audit); the exact side is bounded by the
    declared sample size, never corpus-quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    return D.lsh_banding_audit(docs, "doc_id", "text")


@query(
    "l47_entropy_quality",
    oracle="""
    WITH words AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    wc AS MATERIALIZED (
      SELECT doc_id, w, count(*) AS c FROM words WHERE w <> ''
      GROUP BY 1, 2),
    wagg AS MATERIALIZED (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(floor(c * ln(c) * 1e6 + 0.5) AS BIGINT))
                  AS BIGINT) AS s
      FROM wc GROUP BY doc_id),
    chars AS MATERIALIZED (
      SELECT doc_id,
             unnest(regexp_extract_all(substr(text, 1, 256), '[^\n]')) AS ch
      FROM documents),
    cc AS MATERIALIZED (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
    cagg AS MATERIALIZED (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(floor(c * ln(c) * 1e6 + 0.5) AS BIGINT))
                  AS BIGINT) AS s
      FROM cc GROUP BY doc_id)
    SELECT coalesce(w.doc_id, c.doc_id) AS doc_id,
           CAST(coalesce(w.n, 0) AS BIGINT) AS n_words,
           round(ln(w.n) - (w.s / 1e6) / w.n, 6) AS words_entropy,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_chars,
           round(ln(c.n) - (c.s / 1e6) / c.n, 6) AS chars_entropy
    FROM wagg w FULL JOIN cagg c ON c.doc_id = w.doc_id
    """,
)
def l47_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy quality signals per document: unigram word
    entropy (full text) + character entropy (first 256 chars) — the
    compression-style repetitiveness heuristics corpus filters use
    beside Gopher rules.  Per-term c·ln(c) micro-quantization makes
    the sums integer-exact across engines (llm.text.entropy_stats,
    the l41 float discipline); the char explode is capped by the
    prefix, so cost is O(1) per document at any length."""
    docs = load_table(spark, sf_dir, "documents")
    return X.entropy_stats(docs, "doc_id", "text", prefix_chars=256)


@query(
    "l48_url_canonical_dedup",
    oracle="""
    WITH u AS MATERIALIZED (
      SELECT doc_id,
        'HTTPS://' ||
        CASE WHEN doc_id % 13 = 0 THEN 'www.' ELSE '' END ||
        CASE WHEN doc_id % 7 = 0 THEN upper(source) ELSE source END ||
        '.Example.COM' ||
        CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
        '/docs/' || CAST(doc_id % 50 AS VARCHAR) ||
        CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        CASE WHEN doc_id % 3 = 0
             THEN '?utm_source=feed&utm_campaign=x' ELSE '' END ||
        CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END AS url
      FROM documents),
    p AS MATERIALIZED (
      SELECT doc_id, url,
             regexp_replace(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
               '/+$', '') AS path
      FROM u),
    c AS MATERIALIZED (
      SELECT doc_id,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        || '://' ||
        regexp_replace(regexp_replace(
          lower(regexp_extract(url,
                '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
          '^www\\.', ''), ':(443|80)$', '')
        || CASE WHEN path = '' THEN '/' ELSE path END AS canonical_url
      FROM p)
    SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS dup_count
    FROM c GROUP BY canonical_url
    """,
)
def l48_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-style URL dedup: canonicalize (lowercase scheme +
    host, strip www./default ports/query/fragment/trailing slashes)
    then group by canonical key (llm.linkage.canonical_url +
    url_dedup_groups — pure regex codegen, one hash aggregate).  The
    fixture has no URL column, so the query SYNTHESIZES deterministic
    messy URLs from (source, doc_id) — same expression on both
    engines — and the canonicalizer collapses the synthetic mess
    (case, ports, tracking params, fragments, slashes) into shared
    keys with real dup groups."""
    from ..llm.linkage import url_dedup_groups
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://"),
        F.when(d % 13 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM"),
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"), (d % 50).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit("?utm_source=feed&utm_campaign=x"))
         .otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit("#frag")).otherwise(F.lit("")))
    return url_dedup_groups(docs.withColumn("url", url), "doc_id", "url")


@query(
    "l49_fuzzy_linkage",
    oracle="""
    WITH names AS MATERIALIZED (
      SELECT DISTINCT p_name AS name,
             regexp_extract(p_name, '([a-z]+)$', 1) AS blk
      FROM part)
    SELECT a.blk, a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS lev
    FROM names a JOIN names b ON b.blk = a.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 4
    """,
)
def l49_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage on part names: block by the noun
    (last word), exact Levenshtein ≤ 4 inside blocks
    (llm.linkage.fuzzy_match_pairs).  Names dedupe BEFORE pairing, so
    join cost is quadratic in per-block VOCABULARY (the adjective set),
    not corpus rows — the blocking-key discipline every entity-
    resolution pipeline at scale uses."""
    from ..llm.linkage import fuzzy_match_pairs
    part = load_table(spark, sf_dir, "part")
    blk = F.regexp_extract(F.col("p_name"), "([a-z]+)$", 1)
    return fuzzy_match_pairs(part, "p_name", blk, max_distance=4)


def _l50_oracle(k: int = 5, n_planes: int = 4, n_tables: int = 4,
                seed: int = 42) -> str:
    """Replay knn_classify in SQL: literal hyperplanes → per-table
    sign-bit buckets → candidate pairs sharing ANY bucket → rounded-
    cosine top-k → majority vote with (count desc, label asc) ties —
    the l11 emit-the-planes pattern extended through the vote."""
    bs = []
    for t in range(n_tables):
        planes = S.hyperplanes(_EMB_DIM, n_planes, seed + 1000 * t)
        bs.append(f"{_bucket_sql('e.v', planes)} AS b{t}")
    cond = " OR ".join(f"a.b{t} = c.b{t}" for t in range(n_tables))
    return f"""
    WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
    b AS MATERIALIZED (
      SELECT e.vec_id, e.v, e.label, {", ".join(bs)} FROM e),
    pr AS MATERIALIZED (
      SELECT a.vec_id AS i, c.vec_id AS j, a.label AS true_label,
             c.label AS lj,
             round(list_inner_product(a.v, c.v) / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(c.v, c.v))), 6) AS cos
      FROM b a JOIN b c ON a.vec_id <> c.vec_id AND ({cond})),
    top AS MATERIALIZED (
      SELECT * FROM (
        SELECT i, j, true_label, lj, cos,
               row_number() OVER (PARTITION BY i
                                  ORDER BY cos DESC, j) AS rn
        FROM pr) WHERE rn <= {k}),
    cand AS MATERIALIZED (SELECT i, count(*) AS n_candidates FROM pr GROUP BY i),
    votes AS MATERIALIZED (SELECT i, lj, min(true_label) AS true_label,
                     count(*) AS c
              FROM top GROUP BY i, lj),
    winner AS MATERIALIZED (
      SELECT i, true_label, lj, c,
             row_number() OVER (PARTITION BY i ORDER BY c DESC, lj) AS rn
      FROM votes)
    SELECT w.i AS vec_id, w.true_label, w.lj AS pred_label,
           w.c AS votes, cd.n_candidates,
           w.lj = w.true_label AS correct
    FROM winner w JOIN cand cd ON cd.i = w.i WHERE w.rn = 1
    """


@query("l50_knn_classify", oracle=_l50_oracle())
def l50_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out k-NN majority-vote classification over LSH-blocked
    candidates (llm.similarity.knn_classify) — the embedding-space
    quality eval (do labels cluster?).  Candidates come from 4
    hyperplane tables as 4 unioned EQUI-joins (never an OR-join);
    exact cosine reranks; the vote and every ordering use rounded
    cosine + id/label tiebreaks so the oracle replays bit-exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    # n_planes="auto" resolves to the oracle's 4 at every fixture scale
    # (m ≤ 2^4·candidate_budget = 4096; tripwire test pins this so a
    # fixture regen past the flip can't become a silent parity red).
    # auto costs one metadata-cheap count() job; the static dim from
    # the TESTDATA contract is what removes the row-probe job.
    return S.knn_classify(emb, "vec_id", "embedding", "label", k=5,
                          dim=_EMB_DIM)


def _l51_oracle(k: int = 3, n_planes: int = 4, n_tables: int = 4,
                seed: int = 42) -> str:
    """l50's candidate replay with the different-label filter applied
    before the per-anchor top-k."""
    bs = []
    for t in range(n_tables):
        planes = S.hyperplanes(_EMB_DIM, n_planes, seed + 1000 * t)
        bs.append(f"{_bucket_sql('e.v', planes)} AS b{t}")
    cond = " OR ".join(f"a.b{t} = c.b{t}" for t in range(n_tables))
    return f"""
    WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
    b AS MATERIALIZED (
      SELECT e.vec_id, e.v, e.label, {", ".join(bs)} FROM e),
    pr AS MATERIALIZED (
      SELECT a.vec_id AS i, c.vec_id AS j, a.label AS true_label,
             c.label AS lj,
             round(list_inner_product(a.v, c.v) / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(c.v, c.v))), 6) AS cos
      FROM b a JOIN b c ON a.vec_id <> c.vec_id AND ({cond})
      WHERE a.label <> c.label)
    SELECT i AS anchor_id, j AS neg_id, true_label AS anchor_label,
           lj AS neg_label, cos, rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY i
                                       ORDER BY cos DESC, j) AS rn
          FROM pr) WHERE rn <= {k}
    """


@query("l51_hard_negatives", oracle=_l51_oracle())
def l51_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training
    (llm.similarity.hard_negatives): per anchor, the top-3 most-similar
    LSH-blocked candidates with a DIFFERENT label — the pairs a
    bi-encoder must learn to separate.  Same unioned-equi-join
    candidate machinery as l50; rounded cosine + id tiebreaks replayed
    bit-exactly by the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.hard_negatives(emb, "vec_id", "embedding", "label", k=3,
                            dim=_EMB_DIM)


def _l52_oracle() -> str:
    """Per-source dataset card: nest l39's full Gopher oracle as a CTE
    and aggregate its per-document verdicts by source with exact
    integer counts (rates = one deterministic division at the edge)."""
    from .registry import ORACLES
    gopher = ORACLES["l39_gopher_rules"]
    return f"""
    WITH gp AS MATERIALIZED ({gopher}),
    d2 AS MATERIALIZED (
      SELECT doc_id, source, md5(text) AS h FROM documents)
    SELECT d2.source,
      count(*) AS n_docs,
      CAST(count(DISTINCT d2.h) AS BIGINT) AS uniq_texts,
      CAST(sum(g.n_words) AS BIGINT) AS total_words,
      round(CAST(sum(g.n_words) AS DOUBLE) / count(*), 2) AS avg_words,
      CAST(sum(CASE WHEN g.passes THEN 1 ELSE 0 END) AS BIGINT)
        AS n_gopher_pass,
      round(CAST(sum(CASE WHEN g.passes THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 4) AS gopher_pass_rate
    FROM d2 JOIN gp g USING (doc_id)
    GROUP BY d2.source
    """


@query("l52_source_report", oracle=_l52_oracle())
def l52_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup per source — the curation dashboard every
    corpus build publishes: document count, exact-dup collapse
    (distinct md5 texts), token volume, and Gopher pass rate, each an
    exact integer aggregate with rates derived by one deterministic
    division at the edge.  Pure composition of individually-oracled
    pieces (l01's hash key, l39's verdicts), so the report stays
    hash-checkable end to end."""
    docs = load_table(spark, sf_dir, "documents")
    g = X.gopher_rules(docs, "doc_id", "text").select(
        "doc_id", "n_words", "passes")
    d2 = docs.select("doc_id", "source", F.md5("text").alias("h"))
    return (d2.join(g, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("h").alias("uniq_texts"),
                 F.sum("n_words").alias("total_words"),
                 F.round(F.sum("n_words").cast("double")
                         / F.count(F.lit(1)), 2).alias("avg_words"),
                 F.sum(F.when(F.col("passes"), 1).otherwise(0))
                  .cast("long").alias("n_gopher_pass"),
                 F.round(F.sum(F.when(F.col("passes"), 1).otherwise(0))
                         .cast("double") / F.count(F.lit(1)), 4)
                  .alias("gopher_pass_rate")))


@query(
    "l53_paragraph_dedup",
    oracle="""
    WITH w AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    t AS MATERIALIZED (
      SELECT doc_id, r.i, ws[r.i] AS wd, (r.i - 1) // 10 AS blk
      FROM w, LATERAL unnest(range(1, len(ws) + 1)) AS r(i)),
    p AS MATERIALIZED (
      SELECT doc_id, blk AS idx,
             string_agg(wd, ' ' ORDER BY i) AS para
      FROM t GROUP BY doc_id, blk),
    m AS MATERIALIZED (
      SELECT doc_id, idx, para,
             row_number() OVER (PARTITION BY md5(para)
                                ORDER BY doc_id, idx) = 1 AS keep
      FROM p)
    SELECT doc_id, count(*) AS n_paras,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           md5(coalesce(string_agg(CASE WHEN keep THEN para END, ' '
                                   ORDER BY idx), '')) AS new_text_hash
    FROM m GROUP BY doc_id
    """,
)
def l53_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup with reassembly (llm.dedup
    .paragraph_dedup — the RefinedWeb curation step): the FIRST global
    occurrence of each distinct paragraph survives, documents rebuild
    from surviving paragraphs in order.  The fixture has no paragraph
    breaks, so the query SYNTHESIZES paragraphs as 10-word blocks —
    the same relational chunking on both engines (posexplode + DIV,
    never a regex) — then runs the real operator: one md5-keyed
    keep-first window + one per-doc reassembly aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "wd"))
    paras = (words.withColumn("idx", F.expr("pos DIV 10"))
             .groupBy("doc_id", "idx")
             .agg(F.array_join(
                 F.transform(
                     F.sort_array(F.collect_list(F.struct("pos", "wd"))),
                     lambda s: s.wd), " ").alias("para")))
    return D.paragraph_dedup(paras, "doc_id", "idx", "para")


@query(
    "l54_stratified_split",
    oracle="""
    WITH c AS MATERIALIZED (
      SELECT source, count(*) AS n FROM documents GROUP BY source),
    a AS MATERIALIZED (
      SELECT source, n, p.prio, p.pct,
             (n * p.pct) // 100 AS base, (n * p.pct) % 100 AS rem
      FROM c CROSS JOIN (VALUES (0, 80), (1, 10), (2, 10))
        AS p(prio, pct)),
    b AS MATERIALIZED (
      SELECT *, n - sum(base) OVER (PARTITION BY source) AS leftover,
             row_number() OVER (PARTITION BY source
                                ORDER BY rem DESC, prio) AS rk
      FROM a),
    s AS MATERIALIZED (
      SELECT source, prio,
             base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS seats
      FROM b),
    cm AS MATERIALIZED (
      SELECT source, prio,
             CAST(sum(seats) OVER (PARTITION BY source ORDER BY prio
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum
      FROM s),
    piv AS MATERIALIZED (
      SELECT source, max(CASE WHEN prio = 0 THEN cum END) AS c0,
             max(CASE WHEN prio = 1 THEN cum END) AS c1
      FROM cm GROUP BY source),
    r AS MATERIALIZED (
      SELECT d.doc_id, d.source,
             row_number() OVER (PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
      FROM documents d)
    SELECT r.source,
           CASE WHEN rn <= c0 THEN 'train'
                WHEN rn <= c1 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM r JOIN piv ON piv.source = r.source
    GROUP BY 1, 2
    """,
)
def l54_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT stratified train/val/test split (llm.split
    .exact_stratified_split): per source the 80/10/10 sizes are the
    largest-remainder apportionment — hash splits only hit proportions
    in expectation, which breaks small strata and fixed-size eval
    sets.  Output aggregates per (source, split) with sum of assigned
    ids, so the hash-match proves WHICH rows landed where, not just
    how many."""
    from ..llm.split import exact_stratified_split
    docs = load_table(spark, sf_dir, "documents")
    out = exact_stratified_split(docs, "doc_id", "source")
    return (out.groupBy("source", "split")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("doc_id").alias("sum_ids")))


def _l55_oracle(query_mod: int = 97, k: int = 10, n_planes: int = 4,
                n_tables: int = 4, seed: int = 42) -> str:
    """Replay ann_recall_eval: literal hyperplanes -> per-table buckets,
    exact top-k vs OR-of-buckets shortlist top-k, overlap counts."""
    bs = []
    for t in range(n_tables):
        planes = S.hyperplanes(_EMB_DIM, n_planes, seed + 1000 * t)
        bs.append(f"{_bucket_sql('e.v', planes)} AS b{t}")
    cond = " OR ".join(f"q.qb{t} = c.b{t}" for t in range(n_tables))
    qcols = ", ".join(f"b{t} AS qb{t}" for t in range(n_tables))
    cos = ("round(list_inner_product({a}, {b})"
           " / (sqrt(list_inner_product({a}, {a}))"
           " * sqrt(list_inner_product({b}, {b}))), 6)")
    return f"""
    WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    b AS MATERIALIZED (
      SELECT e.vec_id, e.v, {", ".join(bs)} FROM e),
    q AS MATERIALIZED (
      SELECT vec_id AS qid, v AS qv, {qcols} FROM b
      WHERE vec_id % {query_mod} = 0),
    ex AS MATERIALIZED (
      SELECT q.qid, c.vec_id AS id,
             {cos.format(a="q.qv", b="c.v")} AS cos
      FROM q JOIN b c ON c.vec_id <> q.qid),
    extk AS MATERIALIZED (
      SELECT qid, id FROM (
        SELECT qid, id, row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, id) AS rn FROM ex)
      WHERE rn <= {k}),
    cand AS MATERIALIZED (
      SELECT DISTINCT q.qid, c.vec_id AS id
      FROM q JOIN b c ON c.vec_id <> q.qid AND ({cond})),
    sc AS MATERIALIZED (
      SELECT cd.qid, cd.id, {cos.format(a="q.qv", b="c.v")} AS cos
      FROM cand cd JOIN b c ON c.vec_id = cd.id
      JOIN q ON q.qid = cd.qid),
    annt AS MATERIALIZED (
      SELECT qid, id FROM (
        SELECT qid, id, row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, id) AS rn FROM sc)
      WHERE rn <= {k}),
    nex AS MATERIALIZED (SELECT qid, count(*) AS n_exact FROM extk GROUP BY qid),
    nsl AS MATERIALIZED (SELECT qid, count(*) AS n_shortlist FROM cand GROUP BY qid),
    hit AS MATERIALIZED (SELECT x.qid, count(*) AS n_hit
            FROM extk x JOIN annt a ON a.qid = x.qid AND a.id = x.id
            GROUP BY x.qid)
    SELECT nex.qid AS query_id, nex.n_exact,
           CAST(coalesce(nsl.n_shortlist, 0) AS BIGINT) AS n_shortlist,
           CAST(coalesce(hit.n_hit, 0) AS BIGINT) AS n_hit,
           round(CAST(coalesce(hit.n_hit, 0) AS BIGINT)
                 / nex.n_exact, 4) AS recall
    FROM nex LEFT JOIN nsl ON nsl.qid = nex.qid
    LEFT JOIN hit ON hit.qid = nex.qid
    """


@query("l55_ann_recall_eval", oracle=_l55_oracle())
def l55_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 audit of the hyperplane-LSH ANN path vs exact brute
    force (llm.similarity.ann_recall_eval) — the deploy-gate eval for
    any ANN index, done the scale-safe way: a deterministic modular
    query sample broadcast over ONE corpus scan for the exact side,
    and the production candidate machinery (per-table bucket
    equi-joins, unioned, deduplicated) for the ANN side."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_recall_eval(emb, "vec_id", "embedding", dim=_EMB_DIM)


_L56_K = 32


def _l56_oracle(k: int = _L56_K) -> str:
    """Generate the l56 replay: k min(md5('mh<i>|' || sh)) component
    aggregates and the k-term match sum, driven by ONE constant shared
    with the Spark implementation's range(k) loop (the _l50/_l55
    emit-the-literals pattern — hand-unrolling k occurrences invites a
    silently-skewed est_jaccard when k changes)."""
    mins = ",\n             ".join(
        f"min(('0x' || substr(md5('mh{i}|' || sh), 1, 15))::BIGINT)"
        f" AS h{i}" for i in range(k))
    match = " + ".join(f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
                       for i in range(k))
    return f"""
    WITH t AS MATERIALIZED (
      SELECT source, string_split(text, ' ') AS w FROM documents),
    sh0 AS MATERIALIZED (
      SELECT source, w[r.i] || ' ' || w[r.i + 1] || ' ' || w[r.i + 2]
               AS sh
      FROM t, LATERAL unnest(range(1, len(w) - 1)) AS r(i)
      WHERE len(w) >= 3),
    sh AS MATERIALIZED (SELECT DISTINCT source AS g, sh FROM sh0),
    sig AS MATERIALIZED (
      SELECT g, count(*) AS n,
             {mins}
      FROM sh GROUP BY g),
    pairs AS MATERIALIZED (
      SELECT a.g AS source_a, b.g AS source_b,
             a.n AS n_shingles_a, b.n AS n_shingles_b,
             {match} AS m
      FROM sig a JOIN sig b ON a.g < b.g),
    inter AS MATERIALIZED (
      SELECT x.g AS source_a, y.g AS source_b, count(*) AS ni
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.g < y.g
      GROUP BY 1, 2)
    SELECT p.source_a, p.source_b, p.n_shingles_a, p.n_shingles_b,
           round(p.m / {k}.0, 6) AS est_jaccard,
           CAST(coalesce(i.ni, 0) AS BIGINT) AS n_common,
           round(CAST(coalesce(i.ni, 0) AS BIGINT)
                 / (p.n_shingles_a + p.n_shingles_b
                    - coalesce(i.ni, 0)), 6) AS exact_jaccard
    FROM pairs p LEFT JOIN inter i
      ON i.source_a = p.source_a AND i.source_b = p.source_b
    """


@query("l56_source_overlap_matrix", oracle=_l56_oracle())
def l56_source_overlap_matrix(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Cross-source shingle-overlap matrix (llm.dedup
    .source_overlap_matrix): MinHash-ESTIMATED Jaccard between every
    source pair — engine-portable md5 component hashes make the
    estimate itself hash-checkable — beside the exact audit columns.
    At scale only the k-long per-source sketch survives (mergeable by
    MIN, incrementally maintainable); the pair matrix is broadcast
    algebra over sources, never corpus rows."""
    docs = load_table(spark, sf_dir, "documents")
    return D.source_overlap_matrix(docs, "source", "text", k=_L56_K)


@query(
    "l57_audio_rms",
    oracle="""
    WITH n AS MATERIALIZED (
      SELECT doc_id, 64 + doc_id % 32 AS ns FROM documents),
    s AS MATERIALIZED (
      SELECT doc_id, ns,
             ((doc_id * 31 + r.j * 17) % 4096) - 2048 AS v
      FROM n, LATERAL unnest(range(0, ns)) AS r(j)),
    a AS MATERIALIZED (
      SELECT doc_id, ns, CAST(sum(v * v) AS BIGINT) AS ssq,
             count(*) AS cnt
      FROM s GROUP BY 1, 2)
    SELECT doc_id AS media_id, TRUE AS ok,
           CAST(ns AS BIGINT) AS n_samples,
           CAST(1 AS INT) AS channels,
           CAST(8000 AS INT) AS sample_rate,
           round(sqrt(ssq / cnt), 6) AS rms
    FROM a
    """,
)
def l57_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline END-TO-END with real codec work on both legs:
    deterministic synthetic clips are encoded to REAL RIFF/WAVE PCM-16
    bytes (multimodal.encode_wav_pcm16, Arrow-batched mapInPandas),
    then decoded back through the production decoder
    (multimodal.decode_audio_stats) for per-clip sample count,
    channels, rate and RMS.  The sample formula is relational, so the
    oracle recomputes every decoded statistic WITHOUT parsing binary —
    a hash-match proves the encode→decode round trip bit-exact.  RMS
    stays cross-engine-safe because the squared sums are exact int64
    (samples bounded by ±2048, ≤96 per clip) with one double
    sqrt/divide at the edge."""
    docs = load_table(spark, sf_dir, "documents")
    media = M.synth_wav_corpus(docs, "doc_id")
    return M.decode_audio_stats(media)


@query(
    "l58_snapshot_diff",
    oracle="""
    WITH oldt AS MATERIALIZED (
      SELECT doc_id, text FROM documents),
    newt AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
               AS text
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 100000, 'new doc ' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 11 = 0),
    j AS MATERIALIZED (
      -- presence via join-side MARKERS and IS DISTINCT FROM, mirroring
      -- snapshot_diff's r7 hardening: md5(NULL text) is NULL, so hash
      -- nullity would misclassify present-but-null-text documents
      SELECT coalesce(o.doc_id, n.doc_id) AS id,
             md5(o.text) AS ho, md5(n.text) AS hn,
             o.doc_id IS NOT NULL AS in_old,
             n.doc_id IS NOT NULL AS in_new
      FROM oldt o FULL OUTER JOIN newt n ON n.doc_id = o.doc_id)
    SELECT CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                WHEN ho IS DISTINCT FROM hn THEN 'changed'
                ELSE 'unchanged' END AS status,
           count(*) AS n_docs, CAST(sum(id) AS BIGINT) AS sum_ids
    FROM j GROUP BY 1
    """,
)
def l58_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset snapshot diff (llm.incremental.snapshot_diff): the
    added/removed/changed/unchanged audit between two corpus versions
    via one full outer join on document id with scan-side md5
    fingerprints.  Snapshot B is SYNTHESIZED deterministically from
    the fixture (drop id%7, edit id%5, add id%11 under new ids) — the
    same derivation on both engines, the l48 precedent.  Output
    aggregates per status with sum of ids, proving WHICH documents
    landed in each class."""
    from ..llm.incremental import snapshot_diff
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    new = (docs.filter(d % 7 != 0)
           .select("doc_id",
                   F.when(d % 5 == 0, F.concat(F.col("text"),
                                               F.lit(" v2")))
                   .otherwise(F.col("text")).alias("text"))
           .union(docs.filter(d % 11 == 0)
                  .select((d + 100000).alias("doc_id"),
                          F.concat(F.lit("new doc "),
                                   d.cast("string")).alias("text"))))
    diff = snapshot_diff(docs, new, "doc_id", "text")
    return (diff.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("id").alias("sum_ids")))


@query(
    "l59_vocab_js_drift",
    oracle="""
    WITH wx AS MATERIALIZED (
      SELECT source AS src, unnest(string_split(text, ' ')) AS w
      FROM documents),
    c AS MATERIALIZED (
      SELECT src, w, count(*) AS c FROM wx WHERE w <> '' GROUP BY 1, 2),
    t AS MATERIALIZED (
      SELECT src, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY src),
    sh AS MATERIALIZED (
      SELECT a.src AS source_a, b.src AS source_b,
             count(*) AS shared_vocab,
             CAST(sum(CAST(floor(
               ((a.c / ta.n) * ln((a.c / ta.n)
                  / (((a.c / ta.n) + (b.c / tb.n)) / 2))
                + (b.c / tb.n) * ln((b.c / tb.n)
                  / (((a.c / ta.n) + (b.c / tb.n)) / 2))) * 1e9 + 0.5)
               AS BIGINT)) AS BIGINT) AS s_micro,
             CAST(sum(a.c) AS BIGINT) AS sh_a,
             CAST(sum(b.c) AS BIGINT) AS sh_b
      FROM c a JOIN c b ON a.w = b.w AND a.src < b.src
      JOIN t ta ON ta.src = a.src
      JOIN t tb ON tb.src = b.src
      GROUP BY 1, 2)
    SELECT ta.src AS source_a, tb.src AS source_b,
           CAST(coalesce(sh.shared_vocab, 0) AS BIGINT) AS shared_vocab,
           round(0.5 * (coalesce(sh.s_micro, 0) / 1e9
                 + ln(2.0) * (2.0 - coalesce(sh.sh_a, 0) / ta.n
                              - coalesce(sh.sh_b, 0) / tb.n)),
                 6) AS js_divergence
    FROM t ta JOIN t tb ON ta.src < tb.src
    LEFT JOIN sh ON sh.source_a = ta.src AND sh.source_b = tb.src
    """,
)
def l59_vocab_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions — the corpus-drift diagnostic a mixture-weighted
    training pipeline runs before re-balancing sources.  Exclusive
    vocabulary mass falls out of exact shared-count integers (never a
    full-outer join); per-term contributions are micro-quantized to
    exact integers before summing (the l47 float discipline), so the
    190-pair matrix hashes identically across engines
    (llm.text.vocab_js_drift)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.vocab_js_drift(docs, "text", "source")


@query(
    "l60_priority_dedup",
    oracle="""
    WITH r AS MATERIALIZED (
      SELECT doc_id, source,
             md5(array_to_string(list_slice(
               list_filter(string_split(text, ' '), x -> x <> ''),
               1, 8), ' ')) AS h,
             CASE source WHEN 'src7' THEN 0 WHEN 'src3' THEN 1
                         WHEN 'src11' THEN 2 ELSE 3 END AS prio
      FROM documents),
    g AS MATERIALIZED (
      SELECT h, count(*) AS n_copies, count(DISTINCT source) AS n_sources
      FROM r GROUP BY h),
    k AS MATERIALIZED (
      SELECT h, doc_id, source, prio,
             row_number() OVER (PARTITION BY h ORDER BY prio, doc_id) AS rn
      FROM r)
    SELECT k.doc_id, k.source, CAST(k.prio AS INT) AS src_rank,
           g.n_copies, g.n_sources
    FROM k JOIN g USING (h) WHERE rn = 1
    """,
)
def l60_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-keep cross-source dedup on the 8-word boilerplate
    prefix: documents sharing a lead-in keep the copy from the most
    trusted source (src7 ≻ src3 ≻ src11 ≻ everything else), not
    whichever id is smallest — the curated-beats-crawl rule.  One hash
    aggregate on the 16-byte md5 prefix key; the kept row rides along
    as min(struct(rank, id, source)) (llm.dedup.priority_dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.priority_dedup(docs, "doc_id", "text", "source",
                            priority=["src7", "src3", "src11"],
                            prefix_words=8)


@query(
    "l61_overlap_chunks",
    oracle="""
    WITH w AS MATERIALIZED (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents),
    n AS MATERIALIZED (
      SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
    s AS MATERIALIZED (
      SELECT doc_id, ws, n, unnest(range(0, n, 24)) AS start FROM n)
    SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_id,
           CAST(start AS BIGINT) AS start_word,
           CAST(least(32, n - start) AS BIGINT) AS chunk_len,
           array_to_string(list_slice(ws, start + 1, start + 32), ' ')
             AS chunk_text
    FROM s
    """,
)
def l61_overlap_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (32-word windows, stride
    24) — the RAG-index / fixed-context segmentation step.  Pure
    scan-side codegen: split → sequence → posexplode → slice, zero
    shuffles, zero UDFs; rows ∝ n_words/stride; the short document
    tail is emitted, never silently dropped
    (llm.text.overlap_chunks)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.overlap_chunks(docs, "doc_id", "text",
                            chunk_words=32, stride=24)


@query(
    "l62_winnow_pairs",
    oracle="""
    WITH w AS MATERIALIZED (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents),
    nn AS MATERIALIZED (
      SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) >= 8),
    g AS MATERIALIZED (
      SELECT doc_id, n, p.pos AS pos,
             md5(array_to_string(list_slice(ws, p.pos + 1, p.pos + 5),
                                 ' ')) AS h
      FROM nn, LATERAL unnest(range(0, n - 4)) AS p(pos)),
    f AS MATERIALIZED (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id, pos, n,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                 AS fp
        FROM g) WHERE pos <= n - 8),
    cnt AS MATERIALIZED (SELECT fp, count(*) AS dfc FROM f GROUP BY fp),
    kept AS MATERIALIZED (
      SELECT f.doc_id, f.fp FROM f JOIN cnt USING (fp) WHERE dfc <= 50)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def l62_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup pairs (MOSS, Schleimer et al. 2003): 5-word
    shingle hashes, window-4 local minima as fingerprints, pairs
    sharing ≥2 kept fingerprints — the local fingerprinting guarantee
    (any shared run of ≥8 words leaves a shared fingerprint) that
    global mod-p selection can't give.  One ordered window pass per
    document + one fingerprint equi-join with the hot-fingerprint cap
    (llm.dedup.winnow_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.winnow_pairs(docs, "doc_id", "text", k=5, window=4,
                          min_shared=2, max_fp_df=50)


@query(
    "l63_embedding_outliers",
    oracle="""
    WITH ex AS MATERIALIZED (
      SELECT vec_id, label,
             unnest(range(1, len(embedding) + 1)) AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
                  AS BIGINT) AS v
      FROM embeddings),
    cen AS MATERIALIZED (
      SELECT label, i,
             CAST(floor(sum(v) / count(*) + 0.5) AS BIGINT) AS c
      FROM ex GROUP BY label, i),
    d AS MATERIALIZED (
      SELECT ex.label, ex.vec_id,
             CAST(sum((ex.v - cen.c) * (ex.v - cen.c)) AS BIGINT)
               AS dist2_micro2
      FROM ex JOIN cen ON cen.label = ex.label AND cen.i = ex.i
      GROUP BY 1, 2)
    SELECT label, vec_id, dist2_micro2 FROM (
      SELECT label, vec_id, dist2_micro2,
             row_number() OVER (PARTITION BY label
                                ORDER BY dist2_micro2 DESC, vec_id)
               AS rn
      FROM d) WHERE rn <= 5
    """,
)
def l63_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label semantic outliers: top-5 vectors farthest (squared L2)
    from their label centroid — the mislabeled-example screen.  Fully
    integer: micro-quantized components, rounded integer centroid,
    int64 distance — no float anywhere in the ranking or the output
    (llm.similarity.embedding_outliers)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.embedding_outliers(emb, "vec_id", "embedding", "label",
                                top=5)


@query(
    "l64_source_keyness",
    oracle="""
    WITH wx AS MATERIALIZED (
      SELECT source AS src, unnest(string_split(text, ' ')) AS w
      FROM documents),
    cts AS MATERIALIZED (
      SELECT src, w, count(*) AS c_ts FROM wx WHERE w <> ''
      GROUP BY 1, 2),
    ct AS MATERIALIZED (
      SELECT w, CAST(sum(c_ts) AS BIGINT) AS c_t FROM cts GROUP BY w),
    ns AS MATERIALIZED (
      SELECT src, CAST(sum(c_ts) AS BIGINT) AS n_s FROM cts GROUP BY src),
    n AS MATERIALIZED (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM ns),
    s AS MATERIALIZED (
      SELECT cts.src, cts.w, cts.c_ts,
             round(ln((cts.c_ts / ns.n_s) / (ct.c_t / n.n)), 6) AS pmi
      FROM cts JOIN ct USING (w) JOIN ns USING (src), n
      WHERE cts.c_ts >= 5)
    SELECT src AS source, w AS term, c_ts, pmi FROM (
      SELECT src, w, c_ts, pmi,
             row_number() OVER (PARTITION BY src
                                ORDER BY pmi DESC, w) AS rn
      FROM s) WHERE rn <= 5
    """,
)
def l64_source_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary by PMI — the keyness analysis
    that explains what l59's JS-drift pairs actually differ on.  One
    (source, word) hash aggregate feeds everything; pmi is one
    deterministic expression of four exact integers, rounded at the
    edge; top-5 per source with the term tiebreak
    (llm.text.source_keyness)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.source_keyness(docs, "text", "source",
                            min_count=5, top=5)


def _l65_oracle() -> str:
    """Confusion cells of the l08 language-id heuristic vs the labeled
    lang column — the oracle re-derives the identical lexicon argmax
    (shared lexicons, alphabetical tiebreak) and joins the labels."""
    parts = []
    for lang, words in sorted(X.LANG_LEXICONS.items()):
        lst = ", ".join(f"'{w}'" for w in words)
        parts.append(
            f"SELECT doc_id, '{lang}' AS lang, "
            f"len(list_filter(w, x -> list_contains([{lst}], x))) AS score "
            f"FROM toks")
    union = " UNION ALL ".join(parts)
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    scores AS MATERIALIZED ({union}),
    best AS MATERIALIZED (
      SELECT doc_id, max(score) AS ms FROM scores GROUP BY doc_id),
    pred AS MATERIALIZED (
      SELECT s.doc_id, min(s.lang) AS pred_lang
      FROM scores s JOIN best b ON b.doc_id = s.doc_id AND s.score = b.ms
      GROUP BY s.doc_id)
    SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n
    FROM documents d JOIN pred p ON p.doc_id = d.doc_id
    GROUP BY 1, 2
    """


@query("l65_langid_confusion", oracle=_l65_oracle())
def l65_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation surface (the l55 discipline applied to
    language-ID): confusion matrix of the l08 lexicon-argmax heuristic
    against the fixture's labeled lang column — per-(true, predicted)
    cell counts, from which accuracy/precision/recall all derive.  One
    extra broadcast-scale join over l08's plan; the oracle re-derives
    the identical argmax from the shared lexicons."""
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select("doc_id", F.col("lang").alias("true_lang"),
                       X.language_id("text").alias("pred_lang"))
    return (pred.groupBy("true_lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n")))


@query(
    "l66_length_ks_drift",
    oracle="""
    WITH base AS MATERIALIZED (
      SELECT source AS src,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS l
      FROM documents),
    c AS MATERIALIZED (
      SELECT src, l, count(*) AS c FROM base GROUP BY 1, 2),
    t AS MATERIALIZED (
      SELECT src, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY src),
    lens AS MATERIALIZED (SELECT DISTINCT l FROM c),
    axis AS MATERIALIZED (
      SELECT ta.src AS source_a, tb.src AS source_b,
             ta.n AS n_a, tb.n AS n_b, lens.l AS l
      FROM t ta JOIN t tb ON ta.src < tb.src, lens),
    g AS MATERIALIZED (
      SELECT a.source_a, a.source_b, a.n_a, a.n_b, a.l,
             coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
      FROM axis a
      LEFT JOIN c ca ON ca.src = a.source_a AND ca.l = a.l
      LEFT JOIN c cb ON cb.src = a.source_b AND cb.l = a.l),
    cum AS MATERIALIZED (
      SELECT source_a, source_b, n_a, n_b,
             CAST(abs(sum(ca) OVER w * n_b - sum(cb) OVER w * n_a)
                  AS BIGINT) AS d
      FROM g
      WINDOW w AS (PARTITION BY source_a, source_b ORDER BY l
                   ROWS UNBOUNDED PRECEDING))
    SELECT source_a, source_b, n_a, n_b,
           CAST(max(d) AS BIGINT) AS d_max,
           round(CAST(max(d) AS BIGINT)
                 / (CAST(n_a AS DOUBLE) * n_b), 6) AS ks
    FROM cum GROUP BY 1, 2, 3, 4
    """,
)
def l66_length_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise two-sample KS statistic between per-source document-
    length distributions — the distribution-shift monitor beside l59's
    vocabulary drift.  The max runs over exact integers (cumulative
    count cross-multiplication), with one rounded division at the edge
    (llm.text.length_ks_drift)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.length_ks_drift(docs, "text", "source")


@query(
    "l67_leakage_free_split",
    oracle="""
    WITH b AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5('lfs' || CAST(doc_id AS VARCHAR)),
                        1, 8))::BIGINT % 100 < 85
                  THEN 'train' ELSE 'test' END AS split0
      FROM documents),
    toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    words AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word
      FROM toks),
    sh AS MATERIALIZED (
      SELECT DISTINCT a.doc_id,
             a.word || ' ' || b.word || ' ' || c.word || ' ' || d.word
             || ' ' || e.word AS s
      FROM words a
      JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN words c ON c.doc_id = a.doc_id AND c.i = a.i + 2
      JOIN words d ON d.doc_id = a.doc_id AND d.i = a.i + 3
      JOIN words e ON e.doc_id = a.doc_id AND e.i = a.i + 4),
    tset AS MATERIALIZED (
      SELECT DISTINCT s FROM sh JOIN b USING (doc_id)
      WHERE b.split0 = 'test'),
    leaked AS MATERIALIZED (
      SELECT DISTINCT sh.doc_id FROM sh
      JOIN b ON b.doc_id = sh.doc_id AND b.split0 = 'train'
      WHERE sh.s IN (SELECT s FROM tset))
    SELECT b.doc_id,
           CASE WHEN b.split0 = 'test' THEN 'test'
                WHEN l.doc_id IS NOT NULL THEN 'quarantined'
                ELSE 'train' END AS split
    FROM b LEFT JOIN leaked l ON l.doc_id = b.doc_id
    """,
)
def l67_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free split: 85/15 hash-bucket membership, then every
    train doc sharing a word 5-gram with any test doc is quarantined —
    the split + decontamination composition a pretraining pipeline
    runs as ONE operator so the two stages can't drift
    (llm.split.leakage_free_split; the test side is untouched, only
    train shrinks)."""
    from ..llm.split import leakage_free_split
    docs = load_table(spark, sf_dir, "documents")
    return leakage_free_split(docs, "doc_id", "text",
                              train_pct=85, n=5)
