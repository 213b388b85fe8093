"""Similarity search over embedding columns (ARRAY<FLOAT>).

Baseline: brute-force cosine top-k — JVM-side `zip_with`/`aggregate`
expressions (no Python crossing, stays in codegen).  Scale path:
random-hyperplane LSH bucketing — candidates from matching buckets only,
exact rerank on candidates; bucket count grows with corpus size so the
per-bucket join stays bounded.
"""

from __future__ import annotations

import functools
import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_expr(a: str | Column, b: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(F.zip_with(ca, cb, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm_expr(a: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(F.transform(ca, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_expr(a: str | Column, b: str | Column) -> Column:
    """try_divide, not /: a zero-norm vector (failed encoder, padding
    row — one is enough at corpus scale) makes the denominator 0 and a
    plain division kills the whole job under ANSI.  NULL cosine means
    "similarity undefined": descending top-k orders NULLs last and
    every threshold filter rejects NULL, so zero-norm rows are never
    neighbors and never pairs — in every consumer."""
    return F.try_divide(dot_expr(a, b),
                        norm_expr(a) * norm_expr(b))


# NOTE: a `unit_expr` (pre-normalized vector) helper was tried for the
# pair scorers and REJECTED: the norm expression lands inside the
# transform lambda and higher-order functions are interpreted, so it
# re-evaluates per ELEMENT (dim+1 norms per row).  The once-per-row
# form is a top-level scalar norm column projected below the join with
# try_divide(dot, na*nb) per pair — see dedup.embedding_near_dup_pairs.


def brute_force_topk(df: DataFrame, id_col: str, vec_col: str,
                     query_vec: list[float], k: int = 10,
                     exclude_id=None) -> DataFrame:
    """Top-k by cosine against one literal query vector.  One scan + one
    TakeOrderedAndProject; ordering uses the ROUNDED score with the id as
    tiebreaker so results are reproducible across engines."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    out = df.select(F.col(id_col).alias("id"),
                    F.round(cosine_expr(
                        F.col(vec_col).cast("array<double>"), q), 6)
                    .alias("cosine"))
    if exclude_id is not None:
        out = out.filter(F.col("id") != exclude_id)
    return out.orderBy(F.col("cosine").desc(), F.col("id")).limit(k)


def brute_force_topk_join(queries: DataFrame, corpus: DataFrame,
                          q_id: str, q_vec: str, c_id: str, c_vec: str,
                          k: int = 10, exclude_self: bool = False,
                          vectorized: bool = True,
                          max_queries: int = 262144) -> DataFrame:
    """Per-query EXACT top-k over a broadcastable query set.

    The work is intrinsically |Q|·|C| dot products (that is what exact
    batch kNN MEANS — the sub-quadratic paths are the LSH/IVF/PQ
    variants below); what this function controls is the CONSTANT and
    the shuffle.  Two implementations, result-identical (zero-norm
    rows on either side are never neighbors, per cosine_expr):

    - ``vectorized=True`` (default): the query matrix ships as
      broadcast numpy float64 blocks of ≤ ``max_queries`` rows each
      (larger query sides auto-chunk and union, r13 — same boundedness
      contract as the JVM broadcast, one resident block per chunk);
      one Arrow pass over the corpus scores each batch as a b×|Q|
      BLAS matmul of unit vectors and emits a per-batch top-k
      SUPERSET per query (everything beating or tying the k-th
      HALF_UP-at-6dp score — one whole-matrix np.partition, no
      per-query loop, r14; wholesale tie bands on dup-heavy corpora
      are trimmed back to exact top-k), so the window shuffle sees ≤
      2·partitions·|Q|·k rows instead of |C|·|Q|.  Measured r12 (x10
      weak-scaling fixture, l19: 400 queries × 20k corpus × dim 64):
      18.9 s JVM-expression form → 0.85 s BLAS form, see PERF.md.
      Degenerate inputs behave exactly as the JVM form across the
      property-pinned classes (r13/r14): NULL / ragged / NULL-element
      vectors and NULL ids on either side are dropped, grouped or kept
      per the expression semantics — see ``_topk_chunk_candidates`` —
      and non-finite vector ELEMENTS (NaN/±inf) are never neighbors on
      either path (r14, ADVICE: the JVM form filters NaN cosines, the
      vectorized form drops non-finite norms; both property-pinned
      with NaN/inf generators).
    - ``vectorized=False``: the original all-JVM form (crossJoin +
      zip_with cosine + full window) — kept as the semantics
      reference; the property suite pins both paths equal, zero-norm
      rows included.

    ``exclude_self`` drops the id == query_id row (a corpus point
    querying the corpus it lives in always ranks itself first).
    The vectorized path requires numeric ids on both sides (true of
    every in-repo consumer); anything else falls back to the JVM form.
    """
    from pyspark.sql import Window
    qq = queries.select(F.col(q_id).alias("query_id"),
                        F.col(q_vec).cast("array<double>").alias("qv"))
    cc = corpus.select(F.col(c_id).alias("id"),
                       F.col(c_vec).cast("array<double>").alias("cv"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("id"))
    numeric = {"bigint", "int", "smallint", "tinyint"}
    if not (vectorized
            and qq.schema["query_id"].dataType.simpleString() in numeric
            and cc.schema["id"].dataType.simpleString() in numeric):
        scored = (cc.crossJoin(F.broadcast(qq))
                  .withColumn("cosine",
                              F.round(cosine_expr("cv", "qv"), 6))
                  .drop("cv", "qv"))
        if exclude_self:
            scored = scored.filter(F.col("id") != F.col("query_id"))
        # NaN cosine (non-finite vector elements) is garbage, not a
        # best neighbor — drop it here like the vectorized path drops
        # non-finite norms, instead of letting desc-order rank NaN
        # first (r14, ADVICE)
        return (scored.filter(F.col("cosine").isNotNull()
                              & ~F.isnan("cosine"))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= k).drop("rn"))

    spark = corpus.sparkSession
    out_schema = "query_id long, id long, cosine double"
    # BOUNDED collect + CHUNK-AND-UNION above the bound (r13; was a
    # loud raise): max_queries=262144 bounds each collected/broadcast
    # query block at ~128 MB for dim 64 — the same order as the JVM
    # path's broadcast limit.  A larger query side streams through
    # toLocalIterator (the driver holds one scan partition + one chunk
    # at a time; the probe collect is released first — r14, the
    # boundary no longer holds the 262k-row head alongside the
    # re-stream); each max_queries-sized chunk runs the same
    # independent scoring stage, is EAGERLY materialized
    # (localCheckpoint) and its query-block broadcast destroyed before
    # the next chunk collects (r14, ADVICE: resident broadcast memory
    # is now ONE block, not ceil(|Q|/max_queries) blocks), and ONE
    # global window over the union cuts the final top-k, so duplicate
    # query_ids split across chunks resolve exactly as the
    # single-block form.  The single-block (common) case stays fully
    # lazy — plan pins and registered-query laziness unchanged.
    qql = qq.withColumn("query_id", F.col("query_id").cast("long")) \
            .filter(F.col("qv").isNotNull())
    ccl = cc.withColumn("id", F.col("id").cast("long"))
    head = qql.limit(max_queries + 1).collect()
    if len(head) <= max_queries:
        chunks = iter([head])
        eager = False
    else:
        head = None  # free the probe block before re-streaming
        chunks = _row_chunks(qql.toLocalIterator(), max_queries)
        eager = True
    parts = [p for rows in chunks
             if (p := _topk_chunk_candidates(
                 spark, qql.schema, rows, ccl, k, exclude_self,
                 out_schema, eager=eager)) is not None]
    if not parts:
        return (spark.createDataFrame([], out_schema)
                .withColumn("cosine", F.round("cosine", 6)))
    local = functools.reduce(DataFrame.unionByName, parts)
    return (local.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).drop("rn"))


def _row_chunks(rows, size: int):
    buf = []
    for r in rows:
        buf.append(r)
        if len(buf) == size:
            yield buf
            buf = []
    if buf:
        yield buf


def _topk_chunk_candidates(spark, q_schema, qrows, cc, k: int,
                           exclude_self: bool, out_schema: str,
                           eager: bool = False):
    """One query chunk → its pre-window candidate rows (rounded cosine,
    JVM-equal filters applied); the CALLER owns the global top-k
    window.  Returns None for a chunk that can emit nothing.
    ``eager=True`` (the multi-chunk path) materializes the chunk's
    candidates with an eager localCheckpoint and destroys the chunk's
    query-block broadcast before returning, so the caller's loop keeps
    at most ONE block resident (r14, ADVICE; the trade is
    localCheckpoint's non-fault-tolerant recompute, already the
    repo-wide lineage-truncation tool).

    A clean chunk (non-NULL query ids, one uniform dim, no NULL vector
    elements) takes the Arrow/BLAS path.  A chunk with degenerate QUERY
    rows falls back — whole chunk — to the exact crossJoin expression
    form (NULL query_id keeps its own window group, ragged dims and
    NULL elements yield NULL cosine and drop, exactly as the JVM path;
    the fallback re-scans the corpus per degenerate chunk, acceptable
    because degenerate chunks are the exception).  Degenerate CORPUS
    rows are handled in-path at zero extra scans: dim-mismatch and
    NULL-element vectors drop scan-side (JVM-equal — their cosine is
    NULL), NULL corpus ids drop under exclude_self (NULL != query_id
    is never true) and are otherwise scored and emitted with the
    NULLS FIRST id tiebreak the global window uses.  The local 6dp
    HALF_UP cut can differ from Spark's round by ~1 ulp at an exact
    6dp boundary, so cross-path identity is property-pinned but
    probabilistic at that boundary, not proven.
    """
    if not qrows:
        return None
    qids_raw = [r["query_id"] for r in qrows]
    try:
        Q = np.array([r["qv"] for r in qrows], dtype=np.float64)
        clean = Q.ndim == 2 and all(i is not None for i in qids_raw)
    except (TypeError, ValueError):
        clean = False  # ragged dims or NULL elements in a query vector
    if not clean:
        qdf = spark.createDataFrame(qrows, q_schema)
        scored = (cc.crossJoin(F.broadcast(qdf))
                  .withColumn("cosine",
                              F.round(cosine_expr("cv", "qv"), 6))
                  .drop("cv", "qv"))
        if exclude_self:
            scored = scored.filter(F.col("id") != F.col("query_id"))
        out = scored.filter(F.col("cosine").isNotNull()
                            & ~F.isnan("cosine"))
        return out.localCheckpoint(eager=True) if eager else out

    qids = np.fromiter((int(i) for i in qids_raw), dtype=np.int64,
                       count=len(qids_raw))
    qn = np.linalg.norm(Q, axis=1)
    # zero-norm: cosine undefined (NULL on the JVM path); non-finite
    # norm (NaN/±inf elements): cosine NaN on the JVM path — both
    # never neighbors (r14, ADVICE closed the NaN divergence)
    keep = np.isfinite(qn) & (qn > 0)
    qids, Q, qn = qids[keep], Q[keep], qn[keep]
    if len(qids) == 0:
        return None
    qdim = Q.shape[1]
    bq = spark.sparkContext.broadcast((qids, Q / qn[:, None]))
    kk, excl = int(k), bool(exclude_self)

    def score(batches):
        import pandas as pd
        qids_, Qn_ = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            notna = pdf["id"].notna().to_numpy()
            if excl and not notna.all():
                # JVM drops NULL-id rows here: NULL != query_id filters
                pdf = pdf[notna]
                notna = notna[notna]
                if len(pdf) == 0:
                    continue
            ids = pdf["id"].fillna(0).to_numpy(dtype=np.int64)
            C = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf["cv"]])
            cn = np.linalg.norm(C, axis=1)
            ok = np.isfinite(cn) & (cn > 0)  # JVM: NaN cosine dropped
            ids, notna, C, cn = ids[ok], notna[ok], C[ok], cn[ok]
            if len(ids) == 0:
                continue
            S = (C / cn[:, None]) @ Qn_.T  # b × |Q|
            # local cut = SUPERSET of the per-partition top-k under the
            # FINAL order (HALF_UP-at-6dp score desc, id asc NULLS
            # FIRST): keep every candidate whose quantized score beats
            # OR TIES the k-th largest — id tiebreaks at the boundary
            # need never be resolved here because the global window
            # re-ranks exactly, and a superset can't drop a winner.
            # All whole-matrix numpy (one np.partition per batch): the
            # r13 per-query lexsort loop went allocation-bound at
            # x100 (l19 139 s → ~4 s, PERF.md r14).  Per-batch output
            # is bounded at 2·|Q|·k by the tie-band trim below.
            Sq = np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5)
            if excl:
                self_mask = ids[:, None] == qids_[None, :]
                Sq = np.where(self_mask, -np.inf, Sq)
            b = Sq.shape[0]
            if b > kk:
                kth = -np.partition(-Sq, kk - 1, axis=0)[kk - 1]
                keep_m = Sq >= kth[None, :]
            else:
                keep_m = np.ones(Sq.shape, dtype=bool)
            if excl:
                keep_m &= ~self_mask
            # dup-heavy corpora (the dedup workload) tie WHOLESALE at
            # the k-th quantized score — an unguarded >=-tie superset
            # degrades to b rows/query there (worst case the full
            # |C|·|Q| shuffle the local cut exists to avoid).  When a
            # batch's kept total blows past 2·k·|Q|, trim each
            # over-full query's tie band by the FINAL id order
            # (NULLS FIRST, then id asc — ids is fillna(0) so notna is
            # the NULL key), making the local cut EXACT top-k for
            # those queries; per-batch output is ≤ 2·k·|Q| always.
            # The trim loop touches only over-full queries, so the
            # tie-free hot path stays allocation-free (r14).
            if b > kk:
                cnts = keep_m.sum(axis=0)
                if cnts.sum() > 2 * kk * Sq.shape[1]:
                    for j in np.nonzero(cnts > kk)[0]:
                        tied = np.nonzero(keep_m[:, j]
                                          & (Sq[:, j] == kth[j]))[0]
                        need = kk - int((Sq[:, j] > kth[j]).sum())
                        order = np.lexsort((ids[tied], notna[tied]))
                        keep_m[tied[order[need:]], j] = False
            rsel, csel = np.nonzero(keep_m)
            if len(rsel) == 0:
                continue
            out_ids = ids[rsel]
            out_mask = ~notna[rsel]
            idcol = (pd.arrays.IntegerArray(out_ids, mask=out_mask)
                     if out_mask.any() else out_ids)
            yield pd.DataFrame({"query_id": qids_[csel],
                                "id": idcol,
                                "cosine": S[rsel, csel]})

    from .dedup import _spread_scan
    # JVM-equal scan-side drops: NULL vectors, dim-mismatch and
    # NULL-element vectors all have NULL cosine in the expression form.
    # The null-element probe is size(array_compact) == size — NOT
    # F.exists(isNull): higher-order functions are interpreted
    # per-element (the unit_expr lesson above) and the exists form
    # measurably dragged the x10 scan.
    base = cc.filter(F.col("cv").isNotNull()
                     & (F.size("cv") == qdim)
                     & (F.size(F.array_compact("cv")) == qdim))
    local = _spread_scan(base).mapInPandas(score, schema=out_schema)
    out = local.withColumn("cosine", F.round("cosine", 6))
    if eager:
        out = out.localCheckpoint(eager=True)
        bq.destroy()  # candidates are materialized; free the block now
    return out


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed → reproducible plans)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_bucket_expr(vec_col: str | Column,
                    planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit i = (vec · plane_i) >= 0.  Pure column
    expressions — the bucketing is computed scan-side, no UDF."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    cd = c.cast("array<double>")
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = dot_expr(cd, F.array(*[F.lit(float(x)) for x in p]))
        bit = F.when(d >= 0, F.lit(1).cast("long")) \
               .otherwise(F.lit(0).cast("long"))
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def ivf_centroids(df: DataFrame, id_col: str, vec_col: str,
                  n_cells: int = 16, n_iters: int = 2,
                  seed_ids: list[int] | None = None) -> list[list[float]]:
    """IVF coarse quantizer: k-means centroids trained with `n_iters`
    Lloyd steps.  Assignment is distributed (argmin over broadcast
    centroids, pure column expressions); the centroid update is one
    groupBy-avg — per iteration cost is a scan plus a k×dim aggregate.
    Seeding is deterministic: the first `n_cells` ids (or caller-given).

    Cross-engine determinism retrofit (the l40/_pq_r6 discipline,
    previously only on the PQ path): every Lloyd AVERAGE is rounded
    through _pq_r6 before becoming a plan literal, and every argmin
    DISTANCE decision is micro-quantized (see _nearest_cell_expr) —
    the l12 oracle mirrors both, so an ulp of cross-engine summation
    noise can no longer flip a near-tie cell assignment."""
    if seed_ids is None:
        seeds = (df.select(F.col(id_col).alias("id"))
                 .orderBy("id").limit(n_cells).collect())
        seed_ids = [r.id for r in seeds]
    cents = [list(map(float, r[0])) for r in
             df.filter(F.col(id_col).isin(seed_ids))
               .orderBy(id_col).select(vec_col).collect()]
    for _ in range(n_iters):
        assigned = df.select(
            F.col(vec_col).cast("array<double>").alias("v"),
            _nearest_cell_expr(vec_col, cents).alias("cell"))
        rows = (assigned
                .select("cell", F.posexplode("v").alias("pos", "x"))
                .groupBy("cell", "pos").agg(F.avg("x").alias("m"))
                .collect())
        dim = len(cents[0])
        new = {c: [0.0] * dim for c in {r.cell for r in rows}}
        for r in rows:
            new[r.cell][r.pos] = _pq_r6(float(r.m))
        cents = [new.get(i, cents[i]) for i in range(len(cents))]
    return cents


def _nearest_cell_expr(vec_col: str | Column,
                       centroids: list[list[float]]) -> Column:
    """argmin over centroids of squared L2 distance — an array of structs
    (dist, idx) reduced with array_min; no UDF.  The distance DECISION
    is micro-quantized (floor(d2·1e6 + 0.5) as BIGINT, the _pq_r6
    class) so the argmin is tie-unambiguous across engines."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    cd = c.cast("array<double>")
    scored = []
    for i, cent in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in cent])
        d2 = F.aggregate(
            F.zip_with(cd, lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        dq = F.floor(d2 * F.lit(1e6) + F.lit(0.5)).cast("long")
        scored.append(F.struct(dq.alias("d"), F.lit(i).alias("i")))
    return F.array_min(F.array(*scored))["i"]


def ivf_topk(df: DataFrame, id_col: str, vec_col: str,
             query_vec: list[float], k: int = 10, n_cells: int = 16,
             n_probe: int = 4, centroids: list[list[float]] | None = None,
             exclude_id=None) -> DataFrame:
    """IVF approximate top-k: assign rows to their nearest centroid cell,
    search only the `n_probe` cells nearest the query, exact rerank
    inside.  The inverted-file structure is the scale path when the
    corpus no longer fits a brute-force scan per query — cells are the
    partition-pruning layer (write the corpus partitioned by cell and
    only n_probe/n_cells of the data is read)."""
    if centroids is None:
        centroids = ivf_centroids(df, id_col, vec_col, n_cells)

    def _dq(cent: list[float]) -> int:
        # sequential left-fold + micro-quantized, matching the engine
        # folds and the oracle's ORDER BY floor(d*1e6+0.5) — np.sum's
        # pairwise summation could flip a probe-boundary near-tie
        s = 0.0
        for a, b in zip(query_vec, cent):
            s += (a - b) * (a - b)
        return math.floor(s * 1e6 + 0.5)

    order = sorted(range(len(centroids)),
                   key=lambda i: (_dq(centroids[i]), i))
    probe = order[:n_probe]
    cands = df.filter(_nearest_cell_expr(vec_col, centroids).isin(probe))
    return brute_force_topk(cands, id_col, vec_col, query_vec, k,
                            exclude_id=exclude_id)


def lsh_ann_topk(df: DataFrame, id_col: str, vec_col: str,
                 query_vec: list[float], k: int = 10, n_planes: int = 4,
                 n_tables: int = 8, seed: int = 42,
                 exclude_id=None) -> DataFrame:
    """Approximate top-k: candidates = rows sharing the query's bucket in
    ANY of `n_tables` independent hyperplane tables; exact cosine rerank
    on candidates only.

    Defaults are tuned for moderate-similarity neighbors (cosine ≈ 0.4 →
    per-bit agreement ≈ 0.65): 4 bits/table keeps per-neighbor hit
    probability ≈ 0.65⁴ ≈ 0.18, and 8 tables lift recall to ≈ 0.8.  For
    true near-dup search (cosine ≥ 0.9) raise n_planes (16+) so buckets
    shrink — recall stays high because the bits almost always agree.
    pytest checks recall ≥ 0.5 vs brute force on the fixture."""
    cand_filter = None
    for t in range(n_tables):
        planes = hyperplanes(len(query_vec), n_planes, seed + 1000 * t)
        qbucket = 0
        for i, p in enumerate(planes):
            # sequential left-fold, NOT np.dot: BLAS pairwise/FMA
            # summation could flip the sign of a near-zero dot product
            # relative to the engines' sequential folds — the bucket
            # BIT is an unroundable decision
            s = 0.0
            for a, b in zip(query_vec, p):
                s += a * b
            if s >= 0:
                qbucket |= (1 << i)
        cond = lsh_bucket_expr(vec_col, planes) == F.lit(qbucket)
        cand_filter = cond if cand_filter is None else (cand_filter | cond)
    cands = df.filter(cand_filter)
    return brute_force_topk(cands, id_col, vec_col, query_vec, k,
                            exclude_id=exclude_id)


# -- int8 scalar quantization ------------------------------------------------

def sq8_params(df: DataFrame, vec_col: str) -> tuple[list, list]:
    """Per-dimension (mn, scale) for 8-bit scalar quantization, from one
    posexplode + (dim)-group aggregate: scale_i = (mx_i − mn_i)/255, or
    1.0 for constant dimensions (which then quantize to 0).  The collect
    is 2·dim doubles — the codebook itself, never the data.  min/max are
    exact (no summation), so both engines derive bit-identical params."""
    stats = (df.select(F.posexplode(F.col(vec_col).cast("array<double>"))
                       .alias("i", "v"))
             .groupBy("i").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
             .orderBy("i").collect())
    mn = [r["mn"] for r in stats]
    s = [((r["mx"] - r["mn"]) / 255.0) if r["mx"] > r["mn"] else 1.0
         for r in stats]
    return mn, s


def sq8_quantize_expr(vec_col: str | Column, mn: list, s: list) -> Column:
    """ARRAY<BIGINT> of clamp(floor((x_i − mn_i)/s_i + 0.5), 0, 255) —
    pure zip_with/transform codegen, one scan-side pass.  floor(x+0.5)
    (not round()) so Spark, DuckDB, and driver-side Python agree on
    every tie without half-even vs half-up ambiguity."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    cd = c.cast("array<double>")
    mn_a = F.array(*[F.lit(float(x)) for x in mn])
    s_a = F.array(*[F.lit(float(x)) for x in s])
    centered = F.zip_with(cd, mn_a, lambda x, m: x - m)
    return F.zip_with(centered, s_a, lambda x, sc: F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(255).cast("long"),
                F.floor(x / sc + F.lit(0.5)))))


def sq8_topk(df: DataFrame, id_col: str, vec_col: str, query_id: int,
             k: int = 10, shortlist: int = 50) -> DataFrame:
    """Top-k by exact cosine, shortlisted by ASYMMETRIC int8 scoring
    (ADC): (id, qcos, cosine).

    The corpus is scored only THROUGH its int8 codes; the query stays
    full-precision.  Per-row approximate cosine is reconstructed FROM
    THE CODES with per-dim constants — dot̂ = A + Σ (s_i·q_i)·c_i and
    ‖x̂‖² = B + Σ (2·mn_i·s_i)·c_i + Σ s_i²·c_i² (A = Σ mn_i·q_i,
    B = Σ mn_i² folded driver-side into plan literals) — and every
    expression stays in whole-stage codegen.  Here the codes are
    derived in-plan from the vector column (correctness surface +
    CPU-side benefit); the 4×-less-I/O deployment persists
    `sq8_quantize_expr` output (+ the 2·dim codebook) as a column and
    starts this same plan from the codes, reading full vectors only
    for the `shortlist` rerank rows.  Ranking uses the
    ROUNDED approximate cosine with the id tiebreaker (the repo-wide
    top-k discipline: cross-engine summation-order noise lives below
    round-6).  Only the `shortlist` best rows are re-scored in full
    precision; recall beyond the shortlist is the declared
    approximation, exactly as IVF declares n_probe."""
    mn, s = sq8_params(df, vec_col)
    qrow = (df.filter(F.col(id_col) == query_id)
            .select(F.col(vec_col).cast("array<double>")).first())
    if qrow is None or qrow[0] is None:
        raise ValueError(f"query_id {query_id} not found (or has a "
                         f"NULL vector)")
    qv = list(qrow[0])
    qnorm = math.sqrt(sum(x * x for x in qv))
    a_const = sum(m * x for m, x in zip(mn, qv))
    b_const = sum(m * m for m in mn)
    w = [si * xi for si, xi in zip(s, qv)]
    u = [2.0 * mi * si for mi, si in zip(mn, s)]
    v2 = [si * si for si in s]
    w_a = F.array(*[F.lit(float(x)) for x in w])
    u_a = F.array(*[F.lit(float(x)) for x in u])
    v_a = F.array(*[F.lit(float(x)) for x in v2])
    # project the codes ONCE as a column, then run the three ADC folds
    # off the column: inlining the quantize expression into each fold
    # repeated it 3× per row (the l40 duplication class, r14
    # optimization round).  Identical values — same expression,
    # evaluated once.
    codes = sq8_quantize_expr(vec_col, mn, s)
    ccol = F.col("_codes")

    def _dotsum(arr, weights):
        return F.aggregate(F.zip_with(arr, weights, lambda c, wt: c * wt),
                           F.lit(0.0), lambda acc, x: acc + x)

    dot_hat = F.lit(float(a_const)) + _dotsum(ccol, w_a)
    norm2_hat = (F.lit(float(b_const)) + _dotsum(ccol, u_a)
                 + F.aggregate(F.zip_with(ccol, v_a,
                                          lambda c, vt: c * c * vt),
                               F.lit(0.0), lambda acc, x: acc + x))
    qcos = F.round(dot_hat / (F.sqrt(norm2_hat) * F.lit(float(qnorm))), 6)
    scored = (df.filter(F.col(id_col) != query_id)
              .select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("cv"),
                      codes.alias("_codes"))
              .select("id", "cv", qcos.alias("qcos")))
    short = scored.orderBy(F.col("qcos").desc(), "id").limit(shortlist)
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    return (short.select("id", "qcos",
                         F.round(cosine_expr("cv", qlit), 6)
                         .alias("cosine"))
            .orderBy(F.col("cosine").desc(), "id").limit(k))


# -- product quantization -----------------------------------------------------

def _pq_subvec(vec_col: str | Column, sub: int, d_sub: int) -> Column:
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.slice(c.cast("array<double>"), sub * d_sub + 1, d_sub)


def _pq_r6(x: float) -> float:
    """floor(x*1e6 + 0.5)/1e6 — the l35 tie-unambiguous rounding: floor
    is floor on Spark, DuckDB AND Python, unlike round()'s half-up vs
    half-even split.  Used for every DECISION value (centroids,
    argmin distances), where a tie flip would change assignments
    discretely."""
    return math.floor(x * 1e6 + 0.5) / 1e6


def _pq_nearest_expr(subvec: Column, cents: list[list[float]]) -> Column:
    """argmin cell over one subspace's centroids: squared L2 rounded via
    floor(d2*1e9 + 0.5)/1e9 with the cell index as tiebreaker (the
    repo's cross-engine argmin discipline — distances at a rounded tie
    resolve identically everywhere)."""
    scored = []
    for i, cv in enumerate(cents):
        lit = F.array(*[F.lit(float(x)) for x in cv])
        raw = F.aggregate(
            F.zip_with(subvec, lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        d2 = F.floor(raw * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)
        scored.append(F.struct(d2.alias("d"), F.lit(i).alias("i")))
    return F.array_min(F.array(*scored))["i"]


def pq_train(df: DataFrame, id_col: str, vec_col: str, m: int = 4,
             ks: int = 8, n_iters: int = 2) -> list[list[list[float]]]:
    """Product-quantization codebook (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each vector into
    `m` contiguous subspaces and k-means each subspace independently
    (`ks` cells, `n_iters` Lloyd steps).  Returns centroids[sub][cell]
    (m·ks·d_sub doubles — the codebook, never the data).

    Determinism across engines (the l12/l35 oracle discipline, made
    structural): seeds are the first `ks` ids' subvectors; every Lloyd
    average is rounded via floor(x·1e6+0.5)/1e6 before the next
    assignment; every assignment ranks by (floor(d²·1e9+0.5)/1e9,
    cell).  Ulp noise from
    distributed summation order lives strictly below both roundings,
    so a SQL re-derivation lands on the identical codebook.

    Scale shape: ALL m subspaces train in the same jobs — per Lloyd
    step one scan + one (m·ks·d_sub)-cell aggregate; the only collects
    are the codebook itself."""
    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if dim_row is None or dim_row["d"] is None:
        raise ValueError(f"pq_train: '{vec_col}' has no non-null rows")
    dim = dim_row["d"]
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    d_sub = dim // m

    seed_ids = [r[0] for r in (df.select(F.col(id_col).alias("id"))
                               .orderBy("id").limit(ks).collect())]
    seed_rows = (df.filter(F.col(id_col).isin(seed_ids))
                 .orderBy(id_col)
                 .select(F.col(vec_col).cast("array<double>"))
                 .collect())
    cents = [[[_pq_r6(float(x)) for x in r[0][s * d_sub:(s + 1) * d_sub]]
              for r in seed_rows] for s in range(m)]

    for _ in range(n_iters):
        parts = []
        for s in range(m):
            sv = _pq_subvec(vec_col, s, d_sub)
            parts.append(F.struct(
                F.lit(s).alias("sub"),
                _pq_nearest_expr(sv, cents[s]).alias("cell"),
                sv.alias("sv")))
        assigned = (df.select(F.explode(F.array(*parts)).alias("a"))
                    .select("a.sub", "a.cell",
                            F.posexplode("a.sv").alias("pos", "x")))
        rows = (assigned.groupBy("sub", "cell", "pos")
                .agg(F.avg("x").alias("mu")).collect())
        new = [[list(c) for c in cs] for cs in cents]  # empty cells keep
        got: dict[tuple[int, int], list[float]] = {}
        for r in rows:
            got.setdefault((r.sub, r.cell), [0.0] * d_sub)[r.pos] = \
                _pq_r6(float(r.mu))
        for (s, c), vecs in got.items():
            new[s][c] = vecs
        cents = new
    return cents


def pq_codes_expr(vec_col: str | Column,
                  cents: list[list[list[float]]]) -> Column:
    """ARRAY<INT> of per-subspace nearest-cell codes — pure codegen; at
    m=4, ks<=256 this is the 4-byte-per-vector representation that makes
    a 100 TB embedding corpus scannable in ~m bytes/row."""
    d_sub = len(cents[0][0])
    return F.array(*[
        _pq_nearest_expr(_pq_subvec(vec_col, s, d_sub), cents[s])
        for s in range(len(cents))])


def pq_topk(df: DataFrame, id_col: str, vec_col: str, query_id: int,
            k: int = 10, shortlist: int = 50, m: int = 4, ks: int = 8,
            n_iters: int = 2,
            cents: list[list[list[float]]] | None = None) -> DataFrame:
    """Top-k by exact cosine, shortlisted by PQ asymmetric-distance
    (ADC) scoring: the corpus is scored only through its m-byte codes —
    approximate dot = Σ_sub lut[sub][code] where lut[sub][cell] =
    <query_sub, centroid>, and the reconstructed norm comes from the
    per-cell centroid norms — then the `shortlist` best rows rerank in
    full precision.  Returns (id, qcos, cosine), the l35 surface.

    At scale the codes (+ the m·ks·d_sub-double codebook) persist as a
    column: the ANN scan reads m bytes a row instead of 4·dim, and the
    two in-plan lookups below start from that column unchanged.
    Ranking uses rounded scores with id tiebreakers throughout (the
    repo-wide top-k discipline)."""
    if cents is None:
        cents = pq_train(df, id_col, vec_col, m=m, ks=ks, n_iters=n_iters)
    d_sub = len(cents[0][0])
    qrow = (df.filter(F.col(id_col) == query_id)
            .select(F.col(vec_col).cast("array<double>")).first())
    if qrow is None:
        raise ValueError(f"query_id {query_id} not found")
    qv = [float(x) for x in qrow[0]]
    qnorm = math.sqrt(sum(x * x for x in qv))

    # per-(sub, cell) lookup tables, folded into plan literals
    lut_dot = [[sum(q * c for q, c in
                    zip(qv[s * d_sub:(s + 1) * d_sub], cents[s][cell]))
                for cell in range(len(cents[s]))] for s in range(len(cents))]
    lut_n2 = [[sum(c * c for c in cents[s][cell])
               for cell in range(len(cents[s]))] for s in range(len(cents))]

    # project the codes ONCE as a column, then index the LUTs off the
    # column: inlining `codes` into every element_at repeated the full
    # m·ks nearest-cell expression 2·m times per row (257
    # aggregate(zip_with) nodes in the l40 plan before this; 8×
    # the interpreted-HOF work, since nothing guarantees CSE across
    # the inlines).  Identical values — same expression, evaluated
    # once (r14 optimization round).
    codes = pq_codes_expr(vec_col, cents)
    ccol = F.col("_codes")
    dot_hat = sum(
        (F.element_at(F.array(*[F.lit(float(x)) for x in lut_dot[s]]),
                      F.element_at(ccol, s + 1) + 1)
         for s in range(len(cents))), F.lit(0.0))
    n2_hat = sum(
        (F.element_at(F.array(*[F.lit(float(x)) for x in lut_n2[s]]),
                      F.element_at(ccol, s + 1) + 1)
         for s in range(len(cents))), F.lit(0.0))
    qcos = F.round(dot_hat / (F.sqrt(n2_hat) * F.lit(float(qnorm))), 6)

    scored = (df.filter(F.col(id_col) != query_id)
              .select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("cv"),
                      codes.alias("_codes"))
              .select("id", "cv", qcos.alias("qcos")))
    short = scored.orderBy(F.col("qcos").desc(), "id").limit(shortlist)
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    return (short.select("id", "qcos",
                         F.round(cosine_expr("cv", qlit), 6)
                         .alias("cosine"))
            .orderBy(F.col("cosine").desc(), "id").limit(k))


def _auto_planes(df: DataFrame, n_planes: int | str,
                 candidate_budget: int) -> int:
    """Resolve ``n_planes="auto"`` from the corpus size so candidate
    volume stays bounded as the corpus grows (the l04 ``sub_bands=
    "auto"`` discipline applied to hyperplane LSH): expected candidate
    pairs per table are ~m²/2^p under uniform buckets, so p =
    ceil(log2(m / candidate_budget)) keeps expected candidates per
    point ≤ candidate_budget per table at ANY m — a fixed p=4 grows
    the pair volume ~10,000× for a 100× corpus (r6 verdict).  Floor 4
    preserves fixture-scale behavior (m ≤ 2^4·budget resolves to 4,
    so static oracles stay valid); cap 24 bounds plan-literal size.
    Cost: one metadata-cheap count() job, only in auto mode."""
    if not isinstance(n_planes, str):
        return n_planes
    if n_planes != "auto":
        raise ValueError(
            f"n_planes must be an int or the sentinel 'auto', got "
            f"{n_planes!r} (a typo'd string would silently take the "
            f"corpus-derived path)")
    m = df.count()
    return min(24, max(4, math.ceil(
        math.log2(max(1.0, m / float(candidate_budget))))))


def knn_classify(df: DataFrame, id_col: str, vec_col: str,
                 label_col: str, k: int = 5,
                 n_planes: int | str = "auto",
                 n_tables: int = 4, seed: int = 42,
                 candidate_budget: int = 256,
                 dim: int | None = None) -> DataFrame:
    """Leave-one-out k-NN majority-vote classification over LSH-blocked
    candidates — the eval-harness shape for embedding-quality checks
    (does the space cluster by label?).

    Candidates for each point are rows sharing its sign-bit bucket in
    ANY of `n_tables` hyperplane tables — built as `n_tables` separate
    EQUI-joins on the bucket column, unioned and deduplicated, never
    an OR-join (each leg hash-joins and scales out; candidate volume
    is Σ_t Σ_buckets m²/2^n_planes — the default ``n_planes="auto"``
    grows the bit count with the corpus so expected candidates per
    point stay ≤ `candidate_budget` per table).  Exact cosine reranks;
    the top-k vote goes to the most frequent neighbor label, ties to
    the smallest label; every ordering uses the rounded cosine + id
    tiebreak so the oracle can replay it bit-exactly.

    Output: one row per point that has ≥1 candidate — vec_id,
    true_label, pred_label, votes (pred-label count in top-k),
    n_candidates (pre-cut), correct."""
    from pyspark.sql import Window

    scored = _lsh_scored_pairs(df, id_col, vec_col, label_col,
                               _auto_planes(df, n_planes,
                                            candidate_budget),
                               n_tables, seed, dim)
    # n_candidates rides the SAME window partition as the top-k cut
    # (count over an unbounded i-window = the pre-cut candidate count),
    # so the scored pipeline is consumed exactly ONCE — the old
    # separate groupBy("i") aggregate re-ran the leg joins + distinct +
    # enrichment a second time, and its join-back cost another shuffle
    # (r14 optimization round; result-identical by construction)
    w = Window.partitionBy("i").orderBy(F.col("cos").desc(), "j")
    wcnt = Window.partitionBy("i")
    top = (scored.withColumn("rn", F.row_number().over(w))
           .withColumn("n_candidates", F.count(F.lit(1)).over(wcnt))
           .filter(F.col("rn") <= k))
    votes = (top.groupBy("i", "lj")
             .agg(F.min("true_label").alias("true_label"),
                  F.count(F.lit(1)).alias("c"),
                  F.min("n_candidates").alias("n_candidates")))
    ww = Window.partitionBy("i").orderBy(F.col("c").desc(), "lj")
    winner = (votes.withColumn("rn", F.row_number().over(ww))
              .filter(F.col("rn") == 1))
    return (winner
            .select(F.col("i").alias("vec_id"), "true_label",
                    F.col("lj").alias("pred_label"),
                    F.col("c").alias("votes"), "n_candidates",
                    (F.col("lj") == F.col("true_label")).alias("correct")))


def _dim_of(df: DataFrame, vec_col: str, dim: int | None = None) -> int:
    """Embedding dimensionality: the caller-declared static contract
    when given (TESTDATA.md fixes the fixture at 64 — registered
    queries pass it, costing zero jobs), else probed from one row."""
    if dim is not None:
        return dim
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError(
            f"cannot infer embedding dim: '{vec_col}' has no non-null "
            f"rows — pass dim= explicitly or fix the input")
    return int(row["d"])


def _bucket_pair_candidates(a: DataFrame, b: DataFrame, n_tables: int,
                            a_id: str, b_id: str, a_prefix: str = "b",
                            b_prefix: str = "b",
                            hint_join: str | None = None) -> DataFrame:
    """THE candidate machinery: per-table bucket EQUI-joins (never an
    OR-join), unioned, deduplicated.  One definition shared by the
    production path (_lsh_scored_pairs → knn_classify/hard_negatives)
    and the recall eval (ann_recall_eval) — if the eval used its own
    copy, a future fix here would silently leave it auditing a
    DIFFERENT candidate path than production runs."""
    legs = []
    for t in range(n_tables):
        # hint_join="merge" when the caller's frames are checkpoint-fed
        # (estimator-blind fixed-small stats at any scale — the l04
        # x100 broadcast-death class); None keeps Catalyst's choice for
        # scan/agg-derived frames whose estimates grow with input
        leg_a = a.select(F.col(a_id), F.col(f"{a_prefix}{t}").alias("bk"))
        if hint_join is not None:
            leg_a = leg_a.hint(hint_join)
        legs.append(
            leg_a
            .join(b.select(F.col(b_id),
                           F.col(f"{b_prefix}{t}").alias("bk")), "bk")
            .filter(F.col(a_id) != F.col(b_id)).select(a_id, b_id))
    out = legs[0]
    for leg in legs[1:]:
        out = out.union(leg)
    return out.distinct()


def _lsh_scored_pairs(df: DataFrame, id_col: str, vec_col: str,
                      label_col: str, n_planes: int, n_tables: int,
                      seed: int, dim: int | None = None) -> DataFrame:
    """Shared candidate machinery for knn_classify / hard_negatives:
    LSH-blocked ordered pairs (i, j, true_label, lj, cos) — one leg
    per hyperplane table as an EQUI-join on the bucket column, unioned
    and deduplicated, exact rounded cosine on the candidates only.
    Vectors are cast to double UP FRONT: float32 multiplies diverge
    from the oracle's DOUBLE[] path by ulps that cross the rounding
    boundary (l51 found this — l50 passed on luck)."""
    base = df.select(F.col(id_col).alias("id"),
                     F.col(vec_col).cast("array<double>").alias("v"),
                     F.col(label_col).alias("lbl"))
    dim = _dim_of(df, vec_col, dim)
    e = base
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed + 1000 * t)
        e = e.withColumn(f"b{t}", lsh_bucket_expr("v", planes))
    # The bucketed frame — scan plus n_tables·n_planes·dim interpreted
    # dot products, the expensive map work of this operator — is
    # materialized ONCE, projected to (id, buckets) only, and feeds
    # both sides of every per-table leg (2·n_tables references that
    # each re-ran the bucket expressions before the r14 optimization
    # round).  The leg joins carry merge hints because both sides are
    # checkpoint-fed (estimator-blind stats — the l04 x100 broadcast
    # class; the sorted sides are |corpus| narrow rows, cheap).
    # The vector ENRICHMENT joins deliberately use the scan-derived
    # `base` instead: they never needed the bucket columns, and a
    # scan-derived side keeps size estimates that GROW with input, so
    # Catalyst broadcasts it while it fits and switches to a shuffle
    # strategy beyond that — a fixed hint here was x30-measured WRONG
    # both ways (merge sorted the quadratic-bounded pair relation
    # twice and blew the 300 s budget; shuffle_hash still shuffled it
    # twice, 240 s vs the broadcast form's ~90 s).
    from .dedup import _materialize
    bcols = [F.col(f"b{t}") for t in range(n_tables)]
    eb = _materialize(e.select("id", *bcols))
    pairs = _bucket_pair_candidates(
        eb.select(F.col("id").alias("i"), *bcols),
        eb.select(F.col("id").alias("j"), *bcols),
        n_tables, "i", "j", hint_join="shuffle_hash")
    return (pairs
            .join(base.select(F.col("id").alias("i"),
                              F.col("v").alias("vi"),
                              F.col("lbl").alias("true_label")), "i")
            .join(base.select(F.col("id").alias("j"),
                              F.col("v").alias("vj"),
                              F.col("lbl").alias("lj")), "j")
            .select("i", "j", "true_label", "lj",
                    F.round(cosine_expr("vi", "vj"), 6).alias("cos")))


def hard_negatives(df: DataFrame, id_col: str, vec_col: str,
                   label_col: str, k: int = 3,
                   n_planes: int | str = "auto",
                   n_tables: int = 4, seed: int = 42,
                   candidate_budget: int = 256,
                   dim: int | None = None) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for
    each point, the top-k most-similar candidates with a DIFFERENT
    label — the pairs a bi-encoder must learn to separate.  Same
    LSH-blocked candidate machinery as knn_classify (unioned
    equi-joins, never an OR-join); the different-label filter applies
    BEFORE the per-point top-k so every emitted negative is genuinely
    hard.  Orderings use rounded cosine + id tiebreaks (oracle-
    replayable).  Output: anchor_id, neg_id, anchor_label, neg_label,
    cos, rank (1 = hardest)."""
    from pyspark.sql import Window

    scored = _lsh_scored_pairs(df, id_col, vec_col, label_col,
                               _auto_planes(df, n_planes,
                                            candidate_budget),
                               n_tables, seed, dim)
    w = Window.partitionBy("i").orderBy(F.col("cos").desc(), "j")
    return (scored.filter(F.col("lj") != F.col("true_label"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("i").alias("anchor_id"),
                    F.col("j").alias("neg_id"),
                    F.col("true_label").alias("anchor_label"),
                    F.col("lj").alias("neg_label"), "cos", "rank"))


def ann_recall_eval(df: DataFrame, id_col: str, vec_col: str,
                    query_mod: int = 97, k: int = 10, n_planes: int = 4,
                    n_tables: int = 4, seed: int = 42,
                    dim: int | None = None) -> DataFrame:
    """Recall@k audit of the hyperplane-LSH ANN path against exact
    brute force — the eval every ANN deployment needs before trusting
    the shortlist (the l46 banding-audit discipline applied to
    embeddings).  Query points are the deterministic id % query_mod
    == 0 sample; the exact side broadcasts them over ONE corpus scan
    (bounded by |queries|·m rounded-cosine rows, which is why the
    sample is modular, not the corpus); the ANN side reuses the
    production candidate machinery (per-table bucket EQUI-joins,
    unioned, deduplicated — never an OR-join).

    Output per query point: n_exact (true top-k size), n_shortlist
    (ANN candidates), n_hit (overlap of the two top-k sets), recall =
    n_hit / n_exact."""
    from pyspark.sql import Window

    base = df.select(F.col(id_col).alias("id"),
                     F.col(vec_col).cast("array<double>").alias("v"))
    d = _dim_of(df, vec_col, dim)
    e = base
    for t in range(n_tables):
        planes = hyperplanes(d, n_planes, seed + 1000 * t)
        e = e.withColumn(f"b{t}", lsh_bucket_expr("v", planes))
    # The bucketed frame — scan plus n_tables·n_planes·dim interpreted
    # bucket dot products — is materialized ONCE projected to
    # (id, buckets) and feeds the query sample plus every per-table
    # leg (each previously re-ran the bucket expressions).  Leg joins
    # carry merge hints (both sides checkpoint-fed — estimator-blind
    # stats, the l04 x100 broadcast class).  The exact side and the
    # scoring enrichment join use the scan-derived `base` instead:
    # they never needed the bucket columns, and a scan-derived side
    # keeps estimates that grow with input, so Catalyst broadcasts it
    # while it fits and switches strategy beyond that (a fixed hint
    # was x30-measured wrong on the l50 sibling machinery).
    from .dedup import _materialize
    bcols = [F.col(f"b{t}") for t in range(n_tables)]
    eb = _materialize(e.select("id", *bcols))
    q = eb.filter((F.col("id") % query_mod) == 0).select(
        F.col("id").alias("qid"),
        *[F.col(f"b{t}").alias(f"qb{t}") for t in range(n_tables)])
    qv = base.filter((F.col("id") % query_mod) == 0).select(
        F.col("id").alias("qid"), F.col("v").alias("qv"))
    # the exact top-k is ≤ |queries|·k rows but its subtree (corpus
    # scan + Arrow scoring stage) feeds THREE consumers below (n_exact,
    # the hit join, and the recall output) — materialize it once
    # instead of re-running the scoring per consumer (the pagerank/
    # triangle_count cache discipline; r12, after the vectorized join
    # made the re-execution visible in the closing battery)
    exact = brute_force_topk_join(qv,
                                  base.select("id", "v"),
                                  "qid", "qv", "id", "v", k=k,
                                  exclude_self=True).localCheckpoint(
                                      eager=True)
    extk = exact.select(F.col("query_id").alias("qid"), "id")
    # NOT materialized: the candidate set is quadratic in corpus size
    # under the audited FIXED n_planes config (the documented l55
    # semantics) — an eager checkpoint of it OOM'd the 8g heap at x100.
    # Instead n_shortlist rides the SAME window partition as the top-k
    # cut (count over an unbounded qid-window = the pre-cut candidate
    # count, and the base join is 1:1 on id so the count is preserved),
    # making the leg joins + distinct run exactly ONCE with nothing
    # quadratic ever materialized (the l50 single-consumption shape;
    # result-identical by construction).
    cands = _bucket_pair_candidates(
        q, eb, n_tables, "qid", "id", a_prefix="qb", hint_join="shuffle_hash")
    scored = (cands.join(base.select("id", "v"), "id")
              .join(F.broadcast(qv), "qid")
              .withColumn("cos", F.round(cosine_expr("v", "qv"), 6)))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "id")
    wc = Window.partitionBy("qid")
    # materialized: anntk is ≤ |queries|·k rows (bounded at any scale,
    # unlike cands) and feeds both the n_shortlist aggregate and the
    # hit join — one checkpoint makes the candidate pipeline run once
    anntk = _materialize(
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_shortlist", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") <= k)
        .select("qid", "id", "n_shortlist"))
    nex = extk.groupBy("qid").agg(F.count(F.lit(1)).alias("n_exact"))
    nsl = anntk.groupBy("qid").agg(F.min("n_shortlist")
                                   .alias("n_shortlist"))
    hit = (extk.join(anntk.select("qid", "id"), ["qid", "id"])
           .groupBy("qid").agg(F.count(F.lit(1)).alias("n_hit")))
    z = F.lit(0).cast("long")
    # merge: all three sides are checkpoint-fed per-query aggregates —
    # estimator-blind, |queries|-scaled (corpus/query_mod) at 100 TB
    return (nex.hint("merge").join(nsl, "qid", "left")
            .hint("merge").join(hit, "qid", "left")
            .select(F.col("qid").alias("query_id"), "n_exact",
                    F.coalesce("n_shortlist", z).alias("n_shortlist"),
                    F.coalesce("n_hit", z).alias("n_hit"),
                    F.round(F.coalesce("n_hit", z) / F.col("n_exact"), 4)
                    .alias("recall")))


def embedding_outliers(df: DataFrame, id_col: str, vec_col: str,
                       label_col: str, top: int = 5,
                       scale: float = 1e6) -> DataFrame:
    """Per-label semantic outliers: the `top` vectors farthest (squared
    L2) from their label's centroid — the mislabeled-example /
    off-topic-document screen a curation pipeline runs per source or
    per cluster.

    Integer-exactness discipline (the l41/l47 structure): components
    quantize to exact micro-integers floor(x·1e6 + 0.5) BEFORE any
    aggregation; the centroid is the ROUNDED integer mean per
    dimension (floor(S/n + 0.5) — one deterministic double expression
    of two exact integers); the distance is Σ(v−c)² in micro² units,
    a pure int64 that involves no float at all, so the ranking and the
    output hash bit-identically across engines.  |v−c| ≤ ~2·10⁶ per
    dimension keeps the sum far inside int64 at any corpus size.

    Scale shape: the dimension explode is rows × dim (the standard
    price of exact per-dimension aggregation); the centroid table is
    |labels|·dim rows, broadcast back; one window per label for the
    top-k.  NULL vectors contribute no rows (posexplode of NULL) and
    therefore never rank."""
    micro = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5))
        .cast("long"))
    base = df.select(F.col(id_col).alias("id"),
                     F.col(label_col).alias("label"), micro.alias("vm"))
    ex = base.select("id", "label",
                     F.posexplode("vm").alias("i", "v"))
    cen = (ex.groupBy("label", "i")
           .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
           .withColumn("c", F.floor(F.col("s") / F.col("n") + F.lit(0.5))
                       .cast("long"))
           .select("label", "i", "c"))
    d = (ex.join(F.broadcast(cen), ["label", "i"])
         .withColumn("dd", (F.col("v") - F.col("c"))
                     * (F.col("v") - F.col("c")))
         .groupBy("label", "id")
         .agg(F.sum("dd").alias("dist2_micro2")))
    from pyspark.sql import Window as W
    w = (W.partitionBy("label")
         .orderBy(F.col("dist2_micro2").desc(), F.col("id")))
    return (d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top)
            .select("label", F.col("id").alias(id_col), "dist2_micro2"))
