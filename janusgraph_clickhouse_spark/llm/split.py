"""Dataset splitting & sampling for training pipelines.

The split assignment must be a pure function of the record key — never
of partitioning, sampling order, or run — so that re-running the
pipeline (or re-sharding the corpus) keeps every document on the same
side of the train/eval wall.  md5(key) provides an engine-portable,
seed-stable hash (xxhash64 would be faster but is Spark-specific — used
where cross-engine reproducibility doesn't matter)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long60


def hash_bucket(key_col: str | Column, n_buckets: int = 100,
                salt: str = "") -> Column:
    """Deterministic bucket in [0, n_buckets): md5 of the stringified key
    (first 8 hex chars → int).  Stable across engines, runs, partitions.

    NULL keys RAISE (per-row guard): a NULL would hash to NULL, which
    silently lands in 'test' in train_val_test_split but silently
    DROPS in domain_sample — two different wrong behaviors for the
    same caller bug.  Coalesce to a sentinel first if NULL keys are a
    legitimate population."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    ck = F.when(c.isNull(),
                F.raise_error(F.lit(
                    "hash_bucket: NULL key — membership would be "
                    "undefined; coalesce to a sentinel first"))
                .cast("string")).otherwise(c.cast("string"))
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), ck)), 1, 8), 16, 10)
    return (h.cast("bigint") % n_buckets).cast("int")


def train_val_test_split(df: DataFrame, key_col: str,
                         train_pct: int = 80, val_pct: int = 10,
                         salt: str = "") -> DataFrame:
    """Adds `bucket` (0-99) and `split` ∈ {train, val, test} columns."""
    b = hash_bucket(key_col, 100, salt)
    split = (F.when(b < train_pct, "train")
             .when(b < train_pct + val_pct, "val")
             .otherwise("test"))
    return df.withColumn("bucket", b).withColumn("split", split)


def domain_sample(df: DataFrame, key_col: str, domain_col: str,
                  rates: dict[str, float], default_rate: float = 0.1,
                  salt: str = "mix", n_buckets: int = 10000) -> DataFrame:
    """Deterministic per-domain downsampling — the data-mixing pass that
    turns raw corpus proportions into a target training mixture.  A row
    survives iff hash_bucket(key, n_buckets, salt) < rate(domain) ·
    n_buckets, so membership is a pure function of the record key:
    re-runs, re-shards, and incremental appends keep the same rows, and
    per-domain subsets are NESTED as rates change (rate 0.25 ⊂ rate
    0.5 ⊂ 1.0 — raising a domain's weight only ADDS documents).

    Rates quantize to 1/n_buckets (default 1e-4).  No shuffle at all:
    the filter is a scan-side predicate."""
    rate = F.col(domain_col)
    expr = F.lit(float(default_rate))
    for dom, r in sorted(rates.items()):
        expr = F.when(rate == dom, float(r)).otherwise(expr)
    b = hash_bucket(key_col, n_buckets, salt)
    # floor(x + 0.5), not cast-truncate: 0.3*10000 is 2999.999... in
    # double, and truncation would undercut every non-dyadic rate by
    # one bucket (the CLAUDE.md cast-rounding trap)
    cut = F.floor(expr * n_buckets + F.lit(0.5)).cast("int")
    return df.filter(b < cut)


def pack_sequences(df: DataFrame, key_col: str, text_col: str,
                   budget: int = 2048, salt: str = "pack") -> DataFrame:
    """Assign documents to fixed token-budget training sequences
    (GPT-style "concat then chunk" packing at document granularity):
    documents are laid out in a deterministic md5-shuffled order, and
    each lands in the chunk where its first token falls —

        seq_id = floor(global_token_offset / budget)

    Returns (doc_id, tok, seq_id).

    The global running sum is a DISTRIBUTED prefix sum, not a
    single-partition window: the md5 key's first two bytes are the
    shard (a sort prefix, so shard order == key order), each of the
    65,536 shards computes a local cumsum in parallel (hashed onto
    however many tasks the session runs — ~1.5 GB/shard even at
    100 TB), and the 65,536-row shard-total table — cumsum'd and
    broadcast — supplies each shard's global offset.  One wide shuffle
    + one broadcast, versus the naive `Window.orderBy(key)` which
    funnels the corpus through ONE task."""
    from pyspark.sql import Window

    from .text import token_count

    key = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    shard = F.conv(F.substring(key, 1, 4), 16, 10).cast("int")
    base = df.select(F.col(key_col).alias("doc_id"), key.alias("k"),
                     shard.alias("shard"),
                     token_count(text_col).cast("long").alias("tok"))
    # materialize the compact projection ONCE: it feeds both the
    # per-shard window branch and the shard-total aggregate, whose
    # pruned subplans differ enough that Catalyst reuses no exchange —
    # without this the corpus scan + tokenization ran twice (the
    # dsir_weights 3x-recompute lesson)
    base = base.localCheckpoint(eager=True)
    w_local = (Window.partitionBy("shard").orderBy("k", "doc_id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    base = base.withColumn("local_cum", F.sum("tok").over(w_local))
    shard_tot = base.groupBy("shard").agg(F.sum("tok").alias("stot"))
    w_off = (Window.orderBy("shard")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = (shard_tot
            .withColumn("off", F.coalesce(F.sum("stot").over(w_off),
                                          F.lit(0)))
            .select("shard", "off"))
    return (base.join(F.broadcast(offs), "shard")
            .withColumn("start",
                        F.col("off") + F.col("local_cum") - F.col("tok"))
            .withColumn("seq_id", F.floor(F.col("start") / budget))
            .select("doc_id", "tok", "seq_id"))


def domain_cap(df: DataFrame, key_col: str, domain_col: str,
               cap: int, salt: str = "cap",
               salt_buckets: int = 64) -> DataFrame:
    """Keep at most `cap` rows per domain, chosen deterministically by
    md5 order of the key (a seedable shuffle, not arrival order) — the
    standard web-corpus curation guard against one domain dominating
    the mixture.  Adds `rk` (1-based rank within the domain's kept set).

    Skew-safe EXACT top-cap in two windows: rows first compete inside
    (domain, md5-salt-bucket) partitions — each keeps its own best
    `cap`, bounding any single partition's sort at corpus scale even
    for a domain holding half the corpus — then the ≤ cap·salt_buckets
    survivors per domain compete once more for the true top-cap.  The
    union of per-bucket top-cap provably contains the global top-cap
    (anything it drops is beaten by cap rows in its own bucket), so the
    two-phase result is identical to one giant window, which is exactly
    how the DuckDB oracle states it."""
    from pyspark.sql import Window

    key = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    sb = hash_bucket(key_col, salt_buckets, salt="capsalt")
    w1 = (Window.partitionBy(F.col(domain_col), sb)
          .orderBy(key, F.col(key_col)))
    survivors = (df.withColumn("_k", key)
                 .withColumn("_r1", F.row_number().over(w1))
                 .filter(F.col("_r1") <= cap))
    w2 = Window.partitionBy(domain_col).orderBy("_k", key_col)
    return (survivors
            .withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= cap)
            .drop("_k", "_r1"))


def dsir_weights(df: DataFrame, id_col: str, text_col: str,
                 is_target: Column, n_buckets: int = 512) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169):
    score every document by how much more likely its hashed-n-gram bag
    is under the TARGET domain's unigram+bigram distribution than under
    the rest of the corpus — the standard cheap proxy for "select raw
    web data that looks like the high-quality target".

        logw(doc) = sum over gram instances of
                      ln( p_target(bucket(gram)) / p_raw(bucket(gram)) )

    with buckets = md5(gram) mod n_buckets and add-1 smoothing on both
    hashed multinomials.  Selection downstream = top-k by weight, or
    Gumbel-resample with the l42 machinery.

    Cross-engine float discipline, structural: the per-BUCKET log-ratio
    is rounded ONCE to integer micro-units (floor(ln·1e6 + 0.5) — the
    l35/l40 decision-rounding), and each document's weight is then an
    EXACT BIGINT dot product of its bucket counts with those micro
    ratios — no float summation order anywhere.  Returns (id, n_grams,
    logw_micro); logw_micro/1e6 ≈ the natural-log importance weight.

    Scale shape: ONE shuffle of (id, bucket) fixed-width keys builds the
    per-doc count table; the bucket marginals are a second-level
    aggregate of that table (tiny), and the ratio table (n_buckets
    rows) broadcast-joins back.  Zero UDFs, nothing quadratic, and the
    expensive pass is shared between numerator and denominator
    statistics."""
    from .dedup import word_shingles
    # tokens() is THE tokenization (llm.text — single-space contract);
    # NULL-text documents explode to zero gram rows and are DROPPED
    # from the output by construction (documented contract: score only
    # documents with text; coalesce to '' upstream to rank them lowest)
    from .text import tokens
    grams = F.concat(tokens(text_col),
                     word_shingles(text_col, 2))
    base = df.select(F.col(id_col).alias("id"),
                     is_target.alias("tgt"),
                     F.explode(grams).alias("g"))
    per_doc = (base.select("id", "tgt",
                           (md5_long60(F.col("g")) % n_buckets)
                           .alias("bucket"))
               .groupBy("id", "tgt", "bucket")
               .agg(F.count(F.lit(1)).alias("cnt")))
    # localCheckpoint: the marginals, totals, and probe join below all
    # read per_doc, and Catalyst does NOT reuse the exchange across the
    # three branches — without this the corpus gram explode runs 3x
    # (measured: 3 Generate nodes in the executed plan).  Checkpointing
    # the compact (id, bucket, cnt) table makes the expensive pass run
    # exactly once (the fingerprint-once discipline of
    # llm.incremental.fingerprint_tables).
    per_doc = per_doc.localCheckpoint()
    marg = (per_doc.groupBy("tgt", "bucket").agg(F.sum("cnt").alias("c"))
            .groupBy("bucket")
            .agg(F.sum(F.when(F.col("tgt"), F.col("c"))).alias("ct"),
                 F.sum(F.when(~F.col("tgt"), F.col("c"))).alias("cr")))
    totals = marg.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"),
                      F.coalesce(F.sum("cr"), F.lit(0)).alias("tr"))
    b = F.lit(float(n_buckets))
    ratio = marg.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor(F.log(
            ((F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("tt") + b))
            / ((F.coalesce(F.col("cr"), F.lit(0)) + 1) / (F.col("tr") + b))
        ) * F.lit(1e6) + F.lit(0.5)).cast("long").alias("r_micro"))
    return (per_doc.join(F.broadcast(ratio), "bucket")
            .groupBy("id")
            .agg(F.sum("cnt").alias("n_grams"),
                 F.sum(F.col("cnt") * F.col("r_micro"))
                 .alias("logw_micro")))



def weighted_sample(df: DataFrame, id_col: str, weight_col: str,
                    k: int = 100) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis &
    Spirakis 2006: draw u_i ~ U(0,1], keep the k largest u_i^(1/w_i)) —
    the data-mixing primitive for "sample 10B tokens from this corpus
    with probability proportional to quality weight", reproducible
    across runs AND engines because u_i comes from md5(id), not an RNG.

    Ranking uses ln(u)/w (monotone in u^(1/w)) quantized to integer
    NANO-units — floor(·1e9 + 0.5) — with id as tiebreaker, so the
    selection boundary is a total order over exact integers on both
    engines (the repo-wide top-k discipline).  Rows with weight <= 0
    are excluded (zero mass).  Returns (id, weight, key_nano), the k
    kept rows.

    Scale shape: pure scan-side codegen + TakeOrderedAndProject (per-
    partition top-k, then a k-row merge on the driver) — no full sort,
    no shuffle of the corpus."""
    u = (md5_long60(F.col(id_col).cast("string")) + 1) \
        / F.lit(float(1 << 60))
    # clamp BEFORE the long cast: for tiny weights (< ~5e-9)
    # ln(u)/w·1e9 exceeds the int64 range, where Spark's double→long
    # cast silently CLAMPS (collapsing all such rows into an id-ordered
    # tie) while a DuckDB replay raises out-of-range — the clamp makes
    # the saturation explicit and identical on both engines, and is a
    # no-op for any weight a quality pipeline actually emits
    raw = F.log(u) / F.col(weight_col) * F.lit(1e9)
    lim = float(1 << 62)
    key_nano = F.floor(
        F.greatest(F.least(raw, F.lit(lim)), F.lit(-lim)) + F.lit(0.5)
    ).cast("long")
    return (df.filter(F.col(weight_col) > 0)
            .select(F.col(id_col).alias("id"),
                    F.col(weight_col).alias("weight"),
                    key_nano.alias("key_nano"))
            .orderBy(F.col("key_nano").desc(), "id")
            .limit(k))


def exact_stratified_split(df: DataFrame, id_col: str, strata_col: str,
                           pcts: tuple[int, int, int] = (80, 10, 10),
                           names: tuple[str, str, str] = ("train", "val",
                                                          "test"),
                           salt: str = "") -> DataFrame:
    """EXACT stratified train/val/test split: within every stratum the
    split sizes are the largest-remainder apportionment of (n·pct/100)
    — hash splits (train_val_test_split) only hit the proportions in
    expectation, which matters for small strata and for eval sets that
    must have an exact size.  Assignment is still fully deterministic:
    rows rank by (md5(salt+id), id) inside their stratum and the first
    seats_train go to train, etc., so re-runs and engine replays agree
    row-for-row.

    Integer-exact seats: base = (n·pct) DIV 100, leftover seats go to
    the splits with the largest (n·pct) MOD 100, ties broken by split
    order.  Scale shape: one count aggregate over strata, the seat
    table stays strata-sized (broadcast), and rows take one shuffle
    for the per-stratum rank window — the same cost as any
    deterministic shuffle-split."""
    from pyspark.sql import Window

    if sum(pcts) != 100:
        raise ValueError(f"pcts must sum to 100, got {pcts} "
                         f"(sum {sum(pcts)}) — an overshoot silently "
                         f"produces overlapping split boundaries")
    cnt = (df.groupBy(strata_col)
           .agg(F.count(F.lit(1)).alias("n")))
    parts = F.array(*[
        F.struct(F.lit(i).alias("prio"), F.lit(int(p)).alias("pct"))
        for i, p in enumerate(pcts)])
    a = (cnt.select(strata_col, "n", F.explode(parts).alias("s"))
         .select(strata_col, "n", F.col("s.prio").alias("prio"),
                 F.col("s.pct").alias("pct"))
         .withColumn("np", F.col("n") * F.col("pct"))
         .withColumn("base", F.expr("np DIV 100"))
         .withColumn("rem", F.col("np") % 100))
    ws = Window.partitionBy(strata_col)
    wr = Window.partitionBy(strata_col).orderBy(F.col("rem").desc(),
                                                "prio")
    a = (a.withColumn("leftover", F.col("n") - F.sum("base").over(ws))
         .withColumn("rk", F.row_number().over(wr))
         .withColumn("seats", F.col("base")
                     + F.when(F.col("rk") <= F.col("leftover"), 1)
                     .otherwise(0)))
    wc = (Window.partitionBy(strata_col).orderBy("prio")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    a = a.withColumn("cum", F.sum("seats").over(wc))
    piv = (a.groupBy(strata_col)
           .agg(F.max(F.when(F.col("prio") == 0, F.col("cum")))
                .alias("c0"),
                F.max(F.when(F.col("prio") == 1, F.col("cum")))
                .alias("c1")))
    wn = Window.partitionBy(strata_col).orderBy(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        id_col)
    rows = df.withColumn("rn", F.row_number().over(wn))
    split = (F.when(F.col("rn") <= F.col("c0"), names[0])
             .when(F.col("rn") <= F.col("c1"), names[1])
             .otherwise(names[2]))
    # NULL-SAFE seat-table join: Window.partitionBy groups NULL strata
    # (they get ranks and seats), but a plain equi-join would never
    # match the NULL key and every NULL-stratum row would silently
    # vanish from the split
    pv = piv.withColumnRenamed(strata_col, "__strat")
    return (rows.join(F.broadcast(pv),
                      F.col(strata_col).eqNullSafe(F.col("__strat")))
            .withColumn("split", split)
            .drop("rn", "c0", "c1", "__strat"))


def leakage_free_split(df: DataFrame, id_col: str, text_col: str,
                       train_pct: int = 85, n: int = 5,
                       salt: str = "lfs") -> DataFrame:
    """Leakage-free train/test split: deterministic hash-bucket
    membership FIRST (pure function of the id — the module contract),
    then every train doc sharing a word n-gram with ANY test doc is
    QUARANTINED — the composition every pretraining pipeline actually
    needs, because a plain split leaves eval-set n-grams in the
    training corpus and a plain decontamination has no split to
    protect.  Returns (id, split) with split ∈ {train, test,
    quarantined}; test membership is never affected (the held-out set
    stays exactly the hash bucket — only the TRAIN side shrinks).

    Scale shape: one shingle pass; the leak check is a distinct on the
    test side's hashed shingles plus one semi-join — 8-byte shuffle
    keys, fan-out only on genuinely shared shingles (the l21
    economics).  Docs too short to shingle cannot leak and stay
    train."""
    from .dedup import shingle_sets
    b = hash_bucket(id_col, 100, salt)
    base = df.select(
        F.col(id_col).alias("id"),
        F.when(b < train_pct, F.lit("train")).otherwise("test")
        .alias("split0"))
    sh = shingle_sets(df, id_col, text_col, n=n)
    test_ids = base.filter(F.col("split0") == "test").select("id")
    test_shingles = (sh.join(test_ids, "id", "left_semi")
                     .select("shingle").distinct())
    leaked = (sh.join(test_ids, "id", "left_anti")
              .join(test_shingles, "shingle", "left_semi")
              .select("id").distinct()
              .withColumn("leak", F.lit(True)))
    return (base.join(leaked, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.when(F.col("split0") == "test", "test")
                    .when(F.col("leak"), "quarantined")
                    .otherwise("train").alias("split")))
