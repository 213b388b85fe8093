"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding near-dup.

Scale shape (the part that matters at 100 TB):
- exact dedup is one hash aggregate on the text (or its md5);
- n-gram Jaccard is the *exact* quadratic baseline — explode shingles,
  self-join on shingle, one aggregate; use it as the rerank stage, never
  the full-corpus pass;
- MinHash-LSH is the full-corpus pass: signatures in one groupBy (H mins),
  banding turns the all-pairs problem into same-bucket joins, candidates
  get exact-Jaccard reranked (candidates only — the classic LSH recipe);
- SimHash packs a document into 64 bits; near-dup = small Hamming
  distance, blocked by 16-bit bands so the join never goes all-pairs.

Everything except the SimHash signature is JVM-side built-ins; SimHash
uses one Arrow-batched pandas UDF (per-word md5 bit-vote) because Spark
lacks a per-element 64-bit hash fold that stays deterministic across
engines.
"""

from __future__ import annotations

import hashlib
import os
from itertools import combinations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


# -- shingling --------------------------------------------------------------

def word_shingles(text_col: str | Column, n: int = 3) -> Column:
    """Array of word n-gram shingle strings (space-joined), empty when the
    document has fewer than n tokens.  Pure array expressions — codegen."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    t = F.split(c, " ")
    cnt = F.size(t)
    idx = F.sequence(F.lit(1), F.greatest(cnt - (n - 1), F.lit(0)))
    return F.when(cnt >= n, F.transform(
        idx, lambda i: F.array_join(F.slice(t, i, n), " "))
    ).otherwise(F.array().cast("array<string>"))


def _spread_scan(df: DataFrame) -> DataFrame:
    """Spread an under-partitioned input to the session's default
    parallelism before per-row-expensive MAP stages (Arrow UDFs, wide
    explodes).  A small corpus parquet arrives as ONE partition, so
    all pre-shuffle map work — shingle explosion, signature UDFs —
    serializes onto one core: invisible when quiet, pathological under
    tenant contention (the r11 l04 adjudication: 1.1-24 s swings on
    identical data; PERF.md).  No-op when the input already carries
    ≥ parallelism partitions (no shuffle added — corpus-scale plans
    are untouched) and for streaming frames (getNumPartitions needs
    an RDD lineage)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _materialize(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint for a multiply-referenced frame: compute it
    ONCE instead of re-deriving the whole subplan (scan + explode +
    distinct) at every reference — Catalyst reuses identical Exchange
    subtrees but re-runs everything ABOVE the exchange (the final
    distinct aggregate included) per reference.  No-op on streaming
    frames (no RDD lineage to checkpoint).

    CONSEQUENCE (the r14 l04 rule): a checkpoint child's size estimate
    stays fixed-small at any scale, so every join that consumes a
    corpus-scaled materialized frame below MUST carry an explicit
    merge/shuffle_hash hint — Catalyst would otherwise plan a GB-scale
    broadcast build at 100 TB (x100-measured death class).

    Build-only escape hatch (r14 ADVICE): the eager checkpoint runs at
    query BUILD time, so plan-extraction sessions (planlint, dumpplans)
    would execute corpus-scale jobs and leak checkpointed RDDs per
    query built.  `SPARK_GRAFT_NO_MATERIALIZE=1` makes this a no-op —
    the extracted plan then shows the full lazy subtree (which is what
    a plan LINTER should see anyway).  Never set it for executing
    queries: the consumer join hints assume a checkpoint child."""
    if df.isStreaming or os.environ.get("SPARK_GRAFT_NO_MATERIALIZE") == "1":
        return df
    return df.localCheckpoint(eager=True)


def shingle_sets(df: DataFrame, id_col: str, text_col: str,
                 n: int = 3, hashed: bool = True) -> DataFrame:
    """(id, shingle) distinct pairs — the exploded set representation.

    hashed=True (default) replaces each shingle string with its xxhash64:
    the distinct, the self-join, and every downstream shuffle then move
    8-byte longs instead of ~n-word strings (the dominant shuffle volume
    of the whole dedup family).  Set-intersection counts are unchanged up
    to 64-bit collisions — P ≈ m²/2⁶⁵ for m distinct shingles, ~1e-10 at
    m=10⁶ — the standard trade every shingle-based dedup pipeline makes.

    The input is spread via _spread_scan first: the explode+hash map
    work runs BEFORE the distinct's shuffle, so on a single-partition
    scan it would serialize onto one core (same exposure class as the
    r11 l04 finding; measured 1.2× on l03 at sf0.1 — smaller than
    l04's 9× because the distinct's shuffle already spreads everything
    downstream)."""
    base = _spread_scan(df).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, n)).alias("sh"))
    key = F.xxhash64("sh") if hashed else F.col("sh")
    return base.select("id", key.alias("shingle")).distinct()


# -- exact dedup ------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str,
                       text_col: str) -> DataFrame:
    """Group identical texts: (keep_id = min id, dup_count).  One hash
    aggregate; at scale group on md5(text) so the shuffle key is 16 bytes,
    not the document."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per distinct text.

    The only shuffle key is md5(text) — 32 bytes — never the document
    body (shuffling full text as the group key is the classic dedup
    scale-killer: the shuffle carries the corpus).  Keep-first is a
    window over that key rather than a groupBy+semi-join so NULL texts
    behave like any other group (md5(NULL) is NULL; a null-unsafe
    equi-join would silently DELETE every NULL-text row instead of
    keeping one, diverging from exact_dedup_groups)."""
    from pyspark.sql import Window

    keyed = df.withColumn("__h", F.md5(F.col(text_col)))
    w = Window.partitionBy("__h").orderBy(id_col)
    return (keyed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__h", "__rn"))


# -- exact n-gram Jaccard (quadratic baseline / rerank stage) ---------------

def jaccard_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                  threshold: float = 0.4,
                  candidates: DataFrame | None = None,
                  allow_quadratic: bool = False,
                  shingles: DataFrame | None = None) -> DataFrame:
    """All pairs (doc_a < doc_b) with shingle-set Jaccard ≥ threshold.

    With `candidates` (doc_a, doc_b) supplied, computes Jaccard only for
    those pairs (the LSH rerank path).  Threshold compares the exact
    integer ratio — bit-identical across engines.
    Returns (doc_a, doc_b, jaccard) with jaccard rounded to 6dp.

    Without candidates this is the FULL-CORPUS QUADRATIC baseline —
    the one shape in the dedup family that cannot run at 100× — so it
    refuses unless `allow_quadratic=True` makes the choice explicit.
    The scale path is minhash_dedup_pairs (same output, LSH-bounded
    candidate generation).

    `shingles`: optional precomputed (id, shingle) set from
    shingle_sets — lets a pipeline that already materialized the
    shingle pass (minhash_dedup_pairs) rerank without re-deriving it.
    Must be the shingle_sets(df, id_col, text_col, n) output (values
    identical by construction; only the derivation is shared).

    Materialize-once shape (r14 optimization round): the shingle set
    is referenced by sizes and BOTH self-join sides (and `candidates`
    by the doc restriction and the pair semi-join), so each was
    re-derived 2-4× per run — scan, explode, hash, distinct included.
    Both are now eager localCheckpoints, and every join fed by them
    carries an explicit merge hint (checkpoint children are
    estimator-blind: fixed-small stats at any scale would otherwise
    broadcast a corpus-scaled side — the l04 x100 death class)."""
    if candidates is None and not allow_quadratic:
        raise ValueError(
            "full-corpus exact Jaccard is quadratic in corpus size; "
            "pass candidates=... (the LSH rerank path, see "
            "minhash_dedup_pairs) or opt in with allow_quadratic=True "
            "for a bounded baseline/rerank run")
    sh = (shingles if shingles is not None
          else shingle_sets(df, id_col, text_col, n))
    if candidates is not None:
        # normalize caller-supplied pair order: an un-canonicalized
        # (7, 3) would otherwise never match the (3, 7) the
        # intersection emits and the pair would silently vanish;
        # materialized because both the doc restriction and the final
        # pair semi-join consume it (the candidate subplan — LSH
        # banding in the l03 pipeline — previously compiled twice)
        candidates = _materialize(candidates.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b")))
        # rerank path: restrict the expensive shingle self-join to docs
        # that appear in some candidate pair BEFORE joining — this is what
        # makes LSH cheaper than the exact baseline, not just a post-filter
        cand_docs = (candidates.select(F.col("doc_a").alias("id"))
                     .unionAll(candidates.select(F.col("doc_b").alias("id")))
                     .distinct())
        sh = sh.hint("merge").join(cand_docs, "id", "left_semi")
    # one materialization feeds sizes + both self-join sides; in the
    # rerank path it is the post-restriction set that materializes
    # (|candidate-doc shingles|, not |corpus shingles|)
    sh = _materialize(sh)
    # sizes AFTER the candidate restriction: the aggregate's shuffle is
    # |candidate-doc shingles|, not |corpus shingles| (identical output —
    # only whole docs are filtered, never individual shingles)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("doc_a"), "shingle")
    b = sh.select(F.col("id").alias("doc_b"), "shingle")
    inter = (a.hint("merge").join(b, "shingle")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("inter")))
    if candidates is not None:
        # no .distinct() on the build side: left_semi ignores
        # duplicate build rows, so deduping it is a wasted aggregate
        inter = (inter.hint("merge")
                 .join(candidates.select("doc_a", "doc_b"),
                       ["doc_a", "doc_b"], "left_semi"))
    jac = (inter
           .hint("merge")
           .join(sizes.select(F.col("id").alias("doc_a"),
                              F.col("sz").alias("sz_a")), "doc_a")
           .hint("merge")
           .join(sizes.select(F.col("id").alias("doc_b"),
                              F.col("sz").alias("sz_b")), "doc_b")
           .withColumn("jaccard_raw",
                       F.col("inter").cast("double")
                       / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
           .filter(F.col("jaccard_raw") >= threshold))
    return jac.select("doc_a", "doc_b",
                      F.round("jaccard_raw", 6).alias("jaccard"))


# -- MinHash + LSH ----------------------------------------------------------

def signatures_from_shingles(sh: DataFrame,
                             num_hashes: int = 48) -> DataFrame:
    """(id, sig ARRAY<LONG>[num_hashes]) from an (id, shingle-hash) set:
    sig[i] = min over shingles of xxhash64(i, shingle).  ONE groupBy
    with H min-aggregates (a single shuffle; signature width is a
    constant column count), so a caller that already materialized the
    shingle pass (llm.incremental) signs WITHOUT re-scanning the
    corpus."""
    aggs = [F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(num_hashes)]
    sig = sh.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)])
                      .alias("sig"))


def band_bucket_expr(sig_col: str, bands: int, rows_per_band: int):
    """The (band, bucket) posexplode expression shared by batch banding
    (lsh_candidates) and the incremental fingerprint index
    (llm.incremental.fingerprint_tables) — ONE definition so the two
    can never drift: a divergent copy would make the batch-vs-index
    bucket join silently miss every previously absorbed row."""
    return F.posexplode(F.array(*[
        F.xxhash64(F.lit(b), *[
            F.element_at(sig_col, b * rows_per_band + r + 1)
            for r in range(rows_per_band)])
        for b in range(bands)]))


def check_band_params(num_hashes: int, bands: int,
                      rows_per_band: int) -> None:
    """Loud-failure guard: bands·rows_per_band must EQUAL the signature
    width.  Larger: element_at past the end returns NULL (non-ANSI),
    xxhash64 silently skips NULL children, and the starved bands hash
    fewer (eventually zero) values — every doc lands in one bucket and
    the self-join goes quadratic with no error.  Smaller: trailing
    min-hash aggregates are paid for and silently ignored."""
    if bands * rows_per_band != num_hashes:
        raise ValueError(
            f"bands ({bands}) x rows_per_band ({rows_per_band}) must "
            f"equal num_hashes ({num_hashes}); got "
            f"{bands * rows_per_band}")


def lsh_candidates(signatures: DataFrame, bands: int = 16,
                   rows_per_band: int = 3,
                   max_bucket_rows: int | None = None,
                   hint_join: str | None = None) -> DataFrame:
    """Banding: docs sharing any band bucket become candidate pairs.
    Explode to (band, bucket_hash, id), self-join per bucket — the join key
    is (band, bucket), so identical buckets co-locate in one shuffle.

    `max_bucket_rows`: opt-in hot-bucket cap for heavy-duplication
    corpora.  A bucket with B members emits B² candidate rows — at 100 TB
    a boilerplate text repeated 10⁵ times turns one bucket into 10¹⁰
    pairs and that single key serializes the shuffle.  With the cap set,
    buckets larger than the cap are DROPPED from candidate generation
    (an explicit recall trade: members of an over-full bucket are
    near-certain duplicates of each other, and the intended pipeline
    collapses EXACT duplicates first — exact_dedup — so legitimate
    over-full buckets shouldn't exist).  None (default) keeps the
    complete behavior for oracle parity."""
    buckets = signatures.select(
        "id", band_bucket_expr("sig", bands, rows_per_band)
        .alias("band", "bucket"))
    if max_bucket_rows is not None:
        sizes = (buckets.groupBy("band", "bucket")
                 .agg(F.count(F.lit(1)).alias("_n"))
                 .filter(F.col("_n") <= max_bucket_rows)
                 .select("band", "bucket"))
        buckets = buckets.join(sizes, ["band", "bucket"], "left_semi")
    x = buckets.select(F.col("id").alias("doc_a"), "band", "bucket")
    y = buckets.select(F.col("id").alias("doc_b"), "band", "bucket")
    # hint_join=None (r14 adjudication): when `signatures` is
    # agg-derived off the scan, Catalyst's estimate GROWS with the
    # input — measured broadcast at fixture scale, SMJ at x30/x100
    # (l03 33 s clean at x100).  A caller feeding signatures from a
    # CHECKPOINTED shingle set (minhash_dedup_pairs since the r14
    # materialize-once change) passes hint_join="merge": the
    # checkpoint child pins the estimate fixed-small at any scale —
    # the class that broadcast-killed the simhash join at x100
    if hint_join is not None:
        x = x.hint(hint_join)
    return (x.join(y, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct())


def minhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.4,
                        num_hashes: int = 48, bands: int = 16) -> DataFrame:
    """Full fuzzy-dedup pipeline: MinHash → LSH bands → exact-Jaccard
    rerank of candidates only.  Band parameters (16 bands × 3 rows) put
    the S-curve threshold at (1/16)^(1/3) ≈ 0.40."""
    rows_per_band = num_hashes // bands
    check_band_params(num_hashes, bands, rows_per_band)
    # ONE shingle pass feeds both the signature aggregate and the
    # exact-Jaccard rerank (r14 optimization round: the rerank
    # previously re-derived scan+explode+distinct from scratch).
    # Because sig is now agg-over-checkpoint — estimator-blind, stats
    # fixed-small at any scale — the banding self-join must carry the
    # merge hint (hint_join below); unhinted it would broadcast a
    # corpus-scaled bucket side at 100 TB (the l04 x100 death class).
    sh = _materialize(shingle_sets(df, id_col, text_col, n))
    sig = signatures_from_shingles(sh, num_hashes)
    cand = lsh_candidates(sig, bands, rows_per_band, hint_join="merge")
    return jaccard_pairs(df, id_col, text_col, n, threshold,
                         candidates=cand, shingles=sh)


# -- SimHash ----------------------------------------------------------------

def _simhash64_udf():
    """64-bit SimHash of a token list: per-word md5-derived 64-bit hash,
    bitwise ±1 vote, sign → bit.  Arrow-batched AND numpy-vectorized
    inside the batch: md5 runs once per *unique* word, the 64-bit vote is
    an unpackbits + segment-sum (no per-word/per-bit Python loop — that
    scalar inner loop was the dedup family's throughput ceiling at corpus
    scale).  Bit semantics are identical to the scalar form: word hash
    h = int.from_bytes(md5(w)[:8], 'big'); bit b set iff strictly more
    words have bit b set than clear.  (Built lazily — pandas_udf needs an
    active session to resolve its return type.)"""
    import numpy as np
    from pyspark.sql.types import LongType

    def batch(tokens: pd.Series) -> np.ndarray:
        lens = np.fromiter(
            (0 if w is None else len(w) for w in tokens),
            dtype=np.int64, count=len(tokens))
        out = np.zeros(len(tokens), dtype=np.int64)
        total = int(lens.sum())
        if total == 0:
            return out
        flat = np.empty(total, dtype=object)
        pos = 0
        for w in tokens:
            if w is not None and len(w):
                flat[pos:pos + len(w)] = list(w)
                pos += len(w)
        uniq, inv = np.unique(flat, return_inverse=True)
        # md5(word)[:8] reversed = little-endian bytes of the big-endian
        # 64-bit int; unpackbits(bitorder='little') then yields column b
        # == bit b of h, matching the scalar (h >> b) & 1 vote
        dig = np.frombuffer(
            b"".join(hashlib.md5(w.encode()).digest()[7::-1] for w in uniq),
            dtype=np.uint8).reshape(-1, 8)
        ubits = np.unpackbits(dig, axis=1, bitorder="little").astype(np.int32)
        word_bits = ubits[inv]                       # (total_words, 64)
        nz = lens > 0
        starts = np.zeros(len(tokens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        ones = np.add.reduceat(word_bits, starts[nz], axis=0)
        # votes[b] = ones - (n - ones) > 0  ⇔  2*ones > n
        signbit = np.zeros((len(tokens), 64), dtype=bool)
        signbit[nz] = (2 * ones) > lens[nz, None]
        out = np.packbits(signbit, axis=1, bitorder="little") \
            .view(np.int64).ravel()
        return out

    @pandas_udf(LongType())
    def _simhash64(tokens: pd.Series) -> pd.Series:
        return pd.Series(batch(tokens), index=tokens.index)

    return _simhash64


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash LONG).

    The input is spread to the session's default parallelism before
    the pandas UDF when the scan is under-partitioned: a small corpus
    arrives as ONE partition (sf0.1 documents is a single ~600 KB
    parquet file), which serializes the family's dominant cost — the
    Arrow-batched signature — onto one core and exposes the whole
    query to single-core scheduling luck (r11 adjudication: 1.1-24 s
    swings on the same data; spread, 2.65 s steady and ~9× faster than
    the contended single-core readings — PERF.md "l04 regression").
    At corpus scale the scan already carries ≥ parallelism partitions,
    so the guard makes this a no-op — no shuffle is added where the
    data is already spread."""
    fn = _simhash64_udf()
    return _spread_scan(df).select(
        F.col(id_col).alias("id"),
        fn(F.split(F.col(text_col), " ")).alias("simhash"))


def _auto_sub_bands(n: int, max_hamming: int,
                    auto_row_threshold: int) -> "int | None":
    """Corpus-scaled Manku sub-band count (r14).

    None (pigeonhole split) under the threshold; otherwise the
    smallest m ≥ h+2 whose expected bucket occupancy
    n / 2^((m-h)·64/m) is ≤ 8 — any FIXED m has a fixed key space, so
    its bucket join grows quadratically in n (the x100 l04 find) —
    bounded by the explode budget C(m, m-h) ≤ 1024 keys/doc.  The
    pair set is m-invariant (completeness holds for every m > h), so
    this only moves the candidate-volume/fan-out trade."""
    from math import comb
    if n <= auto_row_threshold:
        return None
    m = max_hamming + 2
    while (n > 8 * 2 ** ((m - max_hamming) * 64.0 / m)
           and m < 32
           and comb(m + 1, m + 1 - max_hamming) <= 1024):
        m += 1
    return m


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 8,
                  sub_bands: "int | None | str" = "auto",
                  auto_row_threshold: int = 256) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming — COMPLETE
    (no missed pairs) by construction.

    Default blocking: split the 64-bit hash into max_hamming+1 bands; a
    pair with ≤ max_hamming differing bits cannot differ in every one of
    the max_hamming+1 bands (pigeonhole), so it agrees exactly on at least
    one band and lands in that band's bucket join — blocked, never
    all-pairs, and recall-complete (unlike a fixed band count, which is
    only complete for Hamming ≤ bands-1).  Exact Hamming (bit_count of
    xor) reranks bucket collisions.

    SCALE LIMIT of the default: at max_hamming=8 the 9 bands are only
    7-8 bits wide (≤256 buckets per band), so at corpus scale each
    (band, val) bucket join degrades toward quadratic — the completeness
    guarantee trades away blocking selectivity.

    `sub_bands=m` (m > max_hamming) switches to combination blocking
    (Manku et al., "Detecting Near-Duplicates for Web Crawling"): split
    into m sub-bands and emit one key per C(m, m-h) combination of
    (m-h) sub-bands, each key the hash with every other sub-band masked
    out (one literal bit mask per combination).
    A pair within Hamming h differs in ≤h sub-bands, so ≥(m-h) agree and
    at least one chosen combination matches entirely — still complete,
    but each key is (m-h)·(64/m) bits wide (e.g. h=8, m=10 → 45 keys of
    ~12.8 bits ≈ 7k buckets vs 256).  Rows per doc grow C(m, m-h)-fold;
    pick m so C(m, m-h) stays small (m = h+2 → C(h+2, 2)).

    DEFAULT ``sub_bands="auto"``: combination blocking whenever the
    corpus exceeds `auto_row_threshold` rows, else the pigeonhole
    split.  The threshold is the pigeonhole key-space size — 7-8-bit
    bands have ≤256 distinct values, so past ~256 rows every bucket is
    multi-doc by pigeonhole and the candidate join starts its
    quadratic slide; below it the 45× key fan-out costs more than it
    saves.  Auto also SCALES m WITH THE CORPUS (r14): any fixed m has
    a fixed key space (2^((m-h)·64/m) buckets), so bucket occupancy —
    and the candidate join, Σ occ² — grows QUADRATICALLY in corpus
    size (the r14 x100 probe measured l04 at 8.2× time for 3.3× data
    on m=10's ~7k buckets).  m steps up from h+2 until expected
    occupancy n / 2^((m-h)·64/m) ≤ 8, capped at C(m, m-h) ≤ 1024
    keys/doc (the explode budget) — the same bounded-candidates
    discipline as the ANN family's n_planes="auto".  Completeness
    holds for EVERY m > h, so the pair set is m-invariant
    (pytest-pinned) and the all-pairs oracle stays valid.  At fixture
    scales (≤ ~57k docs) auto still picks m=10 — registered plans
    unchanged.  The decision needs a count, so the signature DF is
    checkpointed first — one materialization either way, and the
    pair-set is identical for both blockings (pytest-pinned)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    # checkpoint on EVERY path: the signature DF feeds both sides of
    # the bucket self-join, and without materialization each side
    # re-runs the pandas-UDF SimHash over the full corpus — the
    # family's dominant cost paid twice (previously only the "auto"
    # branch checkpointed, so the documented explicit-m scale path was
    # the slow one)
    sh = simhash(df, id_col, text_col).localCheckpoint(eager=True)
    if sub_bands == "auto":
        sub_bands = _auto_sub_bands(sh.count(), max_hamming,
                                    auto_row_threshold)
    n_bands = (sub_bands if sub_bands is not None else max_hamming + 1)
    if n_bands <= max_hamming:
        raise ValueError(
            f"need more bands than max_hamming: {n_bands} <= {max_hamming}")
    base, rem = divmod(64, n_bands)
    widths = [base + 1 if b < rem else base for b in range(n_bands)]
    starts = [sum(widths[:b]) for b in range(n_bands)]
    band_masks = [((1 << w) - 1) << s for w, s in zip(widths, starts)]
    # one bit mask per combination of (n_bands - max_hamming) bands (the
    # pigeonhole split is the one-band case), as signed longs; disjoint
    # bands, so the sum is the OR
    masks = [sum(c) for c in combinations(band_masks,
                                          n_bands - max_hamming)]
    masks = [m - (1 << 64) if m >> 63 else m for m in masks]
    # a literal array, so the key count never grows generated code
    bands = (sh.select("id", "simhash", F.posexplode(
                F.array(*map(F.lit, masks)).cast("array<bigint>"))
                .alias("band", "mask"))
             .select("id", "simhash", "band",
                     F.col("simhash").bitwiseAND(F.col("mask"))
                     .alias("val")))
    x = bands.select(F.col("id").alias("doc_a"),
                     F.col("simhash").alias("sim_a"), "band", "val")
    y = bands.select(F.col("id").alias("doc_b"),
                     F.col("simhash").alias("sim_b"), "band", "val")
    # |corpus|·C(m,pick)-scaled sides by construction (checkpoint
    # child): explicit merge — the r14 x100 run died on a re-planned
    # GB-scale broadcast build of this side (maxResultSize) while the
    # first plan in the same process chose SMJ; never trust the
    # estimator here
    pairs = (x.hint("merge").join(y, ["band", "val"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b", "sim_a", "sim_b")
             .distinct()
             .withColumn("hamming", F.bit_count(
                 F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
             .filter(F.col("hamming") <= max_hamming))
    return pairs.select("doc_a", "doc_b", "hamming")


# -- embedding near-dup -----------------------------------------------------

def embedding_near_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                             threshold: float = 0.95,
                             block_col: str | None = None) -> DataFrame:
    """Pairs with cosine ≥ threshold.  Brute-force within optional blocks
    (label, LSH bucket, IVF cell...); the full-corpus path should block
    first (see similarity.lsh_ann_topk) — an unblocked cross join is the
    documented-slow baseline.

    Per-pair work is ONE dot + one divide: each side projects its L2
    norm as a top-level SCALAR column BELOW the join, so norms are
    computed once per input row, not once per pair (Θ(pairs·dim) saved
    — the within-block pair count is quadratic in block size by the
    query's own semantics, so the per-pair constant is the whole game;
    r12 PERF note).  cosine = try_divide(dot(va,vb), na·nb) is the
    EXACT cosine_expr formula and operation order — bit-identical
    results, including the zero-norm → NULL → threshold-rejected
    invariant.  (A unit-vector formulation was rejected: the norm
    lands inside the transform lambda, and higher-order functions are
    interpreted, so it re-evaluates per ELEMENT — dim+1 norms/row.)"""
    from .similarity import dot_expr, norm_expr
    va = F.col(vec_col).cast("array<double>")
    a = df.select(F.col(id_col).alias("id_a"), va.alias("va"),
                  norm_expr(va).alias("na"),
                  *( [F.col(block_col).alias("blk")] if block_col else []))
    b = df.select(F.col(id_col).alias("id_b"), va.alias("vb"),
                  norm_expr(va).alias("nb"),
                  *( [F.col(block_col).alias("blk")] if block_col else []))
    joined = a.join(b, ["blk"] if block_col else None) if block_col \
        else a.crossJoin(b)
    out = (joined.filter(F.col("id_a") < F.col("id_b"))
           .withColumn("cosine", F.round(
               F.try_divide(dot_expr("va", "vb"),
                            F.col("na") * F.col("nb")), 6))
           .filter(F.col("cosine") >= threshold))
    return out.select("id_a", "id_b", "cosine")


def lsh_blocked_near_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                               threshold: float = 0.35, n_planes: int = 8,
                               n_tables: int = 4,
                               seed: int = 42) -> DataFrame:
    """Embedding near-dup pairs blocked by COMPUTED LSH buckets — the
    production block key (l06's `label` block is fixture luck; a real
    corpus has no label).  Each of `n_tables` independent hyperplane
    tables contributes one hash join on its n_planes-bit bucket; the
    union is deduped on the pair key.  Scale shape: n_tables equi-joins
    whose key cardinality (2^n_planes × corpus/bucket) is tunable, never
    a CartesianProduct; recall follows the 1-(1-p^b)^T LSH curve and is
    pytest-pinned against the exact all-pairs baseline."""
    from .similarity import hyperplanes, lsh_bucket_expr
    # probe the first NON-NULL vector; an empty (or all-null) corpus
    # gets dummy 1-dim planes and flows through to the empty pair set
    # with the right schema instead of a driver-side TypeError
    row = (df.select(vec_col)
           .filter(F.col(vec_col).isNotNull()).first())
    dim = len(row[0]) if row is not None else 1
    out = None
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed + 1000 * t)
        keyed = df.withColumn("__bkt", lsh_bucket_expr(vec_col, planes))
        p = embedding_near_dup_pairs(keyed, id_col, vec_col, threshold,
                                     block_col="__bkt")
        out = p if out is None else out.unionByName(p)
    return out.dropDuplicates(["id_a", "id_b"])


# -- cluster-level dedup ----------------------------------------------------

def pairs_to_clusters(pairs: DataFrame, a_col: str = "doc_a",
                      b_col: str = "doc_b") -> DataFrame:
    """Near-dup pair list → duplicate clusters via connected components.

    Returns (cluster_id, n_members, members): cluster_id = min id in the
    component (the canonical survivor), members = comma-joined ascending
    id list.  Works over ANY pair source — MinHash text pairs, LSH
    embedding pairs — the pair graph is tiny relative to the corpus
    (only thresholded near-dups), and CC is min-id pointer jumping:
    O(diameter) supersteps, keyed shuffles only."""
    from ..graph.algorithms import _edge_components
    # Truncate the pair-derivation lineage ONCE: the labeling loop reads
    # the pairs every round and would otherwise re-execute the full
    # upstream pipeline (a MinHash pass costs more than the entire
    # component propagation on the tiny pair graph — measured 11.9s →
    # 4.7s for l18 at sf0.1)
    pairs = (pairs.select(F.col(a_col).alias("src"),
                          F.col(b_col).alias("dst"))
             .localCheckpoint(eager=True))
    labels = _edge_components(pairs, max_iter=20)
    if labels is None:
        raise RuntimeError("pairs_to_clusters: component labels did not "
                           "converge within 20 supersteps")
    cc = labels.select(F.col("n").alias("id"), F.col("c").alias("component"))
    return (cc.groupBy(F.col("component").alias("cluster_id"))
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.array_join(
                     F.transform(F.sort_array(F.collect_list("id")),
                                 lambda x: x.cast("string")),
                     ",").alias("members")))


def dedup_clusters(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                   threshold: float = 0.4) -> DataFrame:
    """Near-dup CLUSTERS: LSH pairs → connected components → one row per
    duplicate cluster (the end product a corpus dedup actually ships —
    pairs alone don't say which documents to drop).

    Returns (cluster_id, n_members, members): cluster_id = min doc id in
    the component (the canonical survivor — everything else in `members`
    is droppable), members = the comma-joined ascending id list.

    Scale shape: the pair graph is tiny relative to the corpus (only
    docs with a thresholded near-dup), and connected_components is the
    pointer-jumping min-id propagation — O(diameter) supersteps, keyed
    shuffles only.  `members` is a per-cluster collect_list: bounded by
    the largest dup cluster, which for boilerplate-heavy corpora can be
    large — at 100 TB keep this column for audit samples or cap it with
    slice(); the (cluster_id, n_members) part never skews."""
    pairs = minhash_dedup_pairs(df, id_col, text_col, n=n,
                                threshold=threshold)
    return pairs_to_clusters(pairs, "doc_a", "doc_b")


# -- benchmark decontamination ---------------------------------------------

def _containment_report(train_sh: DataFrame,
                        bench_sh: DataFrame) -> DataFrame:
    """Shared confirm/containment tail of the decontamination family:
    exact shingle equi-join + per-pair counts + containment vs the
    BENCHMARK side's shingle count.  One definition, two callers
    (plain and Bloom-prefiltered) — l34's "provably identical output"
    claim rests on this literally being the same plan tail."""
    bsz = bench_sh.groupBy("id").agg(F.count(F.lit(1)).alias("bn"))
    shared = (train_sh.select(F.col("id").alias("train_id"), "shingle")
              # broadcast the BENCH side (r15, VERDICT r14 item 2 —
              # replaces the r14 merge hint that cost l34 1.6× at
              # fixture): the benchmark side is SUITE-bounded by the
              # operator's contract (an eval set does not grow with
              # the corpus — ~10⁷ shingle rows for a large suite, the
              # same order as the Bloom filter broadcast the l34
              # caller already ships), so its broadcast is right at
              # any corpus scale, while SMJ sorted the corpus-scaled
              # train side for nothing.  An explicit hint, not
              # Catalyst's choice: BOTH sides here are checkpoint-fed
              # in the l34 caller (estimator-blind fixed-small stats),
              # and an unhinted plan may flip to broadcasting the
              # TRAIN side on a warm re-plan — the l04 x100 death
              # class.
              .join(F.broadcast(bench_sh.select(
                  F.col("id").alias("bench_id"), "shingle")), "shingle")
              .groupBy("train_id", "bench_id")
              .agg(F.count(F.lit(1)).alias("n_shared")))
    # bsz is one row per benchmark doc (≤ suite size — strictly smaller
    # than bench_sh above); explicit for the same two-blind-sides reason
    return (shared.join(F.broadcast(bsz.select(
                F.col("id").alias("bench_id"), "bn")), "bench_id")
            .select("train_id", "bench_id", "n_shared",
                    F.round(F.col("n_shared") / F.col("bn"), 6)
                    .alias("containment")))


def decontaminate_pairs(df: DataFrame, id_col: str, text_col: str,
                        bench_filter: Column, n: int = 5) -> DataFrame:
    """Benchmark decontamination: flag every (train doc, benchmark doc)
    pair sharing ≥1 word n-gram, with the shared-shingle count and the
    CONTAINMENT fraction (shared / benchmark-doc shingles) — the
    standard eval-leakage test run before every pretraining job.

    One shingle pass over the corpus, split train/bench by semi/anti
    join on the benchmark predicate, then ONE equi-join on the hashed
    shingle — identical scale economics to the Jaccard family: shuffles
    move 8-byte xxhash64 keys, the join fans out only on genuinely
    shared shingles, never all-pairs.  Containment is computed against
    the benchmark side's shingle count (what leaked), not the train
    doc's (how big the train doc is).

    The shingle set is materialized once (r14 optimization round): the
    train/bench split consumes it twice, so the scan + explode +
    distinct previously ran twice per query.  The bench_ids build side
    stays unhinted — it is scan-derived (estimates grow with input)
    and benchmark-suite-bounded, the designed broadcast; the confirm
    join below is already merge-hinted in _containment_report."""
    sh = _materialize(shingle_sets(df, id_col, text_col, n=n))
    bench_ids = df.filter(bench_filter).select(F.col(id_col).alias("id"))
    bench_sh = sh.join(bench_ids, "id", "left_semi")
    train_sh = sh.join(bench_ids, "id", "left_anti")
    return _containment_report(train_sh, bench_sh)


def bloom_membership_udf(keys: DataFrame, key_col: str,
                         m_bits: int = 1 << 17, k: int = 4):
    """Build an m-bit Bloom filter over `keys[key_col]` (64-bit hashes)
    and return a vectorized membership predicate (a pandas UDF over a
    broadcast numpy bitset) — true for every inserted key, true with
    probability ε ≈ (1−e^(−k·n/m))^k for anything else.

    Positions via Kirsch–Mitzenmacher: pos_i = (h_lo + i·h_hi) mod m,
    identical arithmetic JVM-side (build: bitwiseAND / shiftrightunsigned
    / pmod, bit_or aggregate over 64-bit words) and numpy-side (probe),
    so build and probe can live on different engines.  The driver
    collects ≤ m/64 longs — exactly the broadcast payload, never the
    key set.  `m_bits` is rounded UP to a multiple of 64 (the bitset
    word width): positions range over all of m, and a ragged final
    word would index past the array on both build and probe."""
    import numpy as np

    m_bits = (m_bits + 63) // 64 * 64
    spark = keys.sparkSession
    h_lo = F.col(key_col).bitwiseAND(F.lit(4294967295))
    h_hi = F.shiftrightunsigned(key_col, 32)
    pos_cols = [F.pmod(h_lo + F.lit(i) * h_hi, F.lit(m_bits))
                for i in range(k)]
    words = (keys.select(F.explode(F.array(*pos_cols)).alias("pos"))
             .selectExpr("pos div 64 AS w",
                         "shiftleft(1L, cast(pos % 64 AS int)) AS mask")
             .groupBy("w").agg(F.expr("bit_or(mask)").alias("bits")))
    arr = np.zeros(m_bits // 64, dtype=np.int64)
    for r in words.collect():          # ≤ m/64 rows: the filter itself
        arr[int(r["w"])] = r["bits"]
    bc = spark.sparkContext.broadcast(arr)
    mb, kk = m_bits, k

    @pandas_udf("boolean")
    def _maybe_contains(h_ser: pd.Series) -> pd.Series:
        import numpy as _np
        h = h_ser.to_numpy(dtype=_np.int64)
        a = bc.value
        lo = h & 0xFFFFFFFF                    # = Spark bitwiseAND
        hi = (h >> 32) & 0xFFFFFFFF            # = shiftrightunsigned
        ok = _np.ones(len(h), dtype=bool)
        for i in range(kk):
            pos = (lo + i * hi) % mb
            ok &= ((a[pos >> 6] >> (pos & 63)) & 1) == 1
        return pd.Series(ok)

    return _maybe_contains


def bloom_decontaminate_pairs(df: DataFrame, id_col: str, text_col: str,
                              bench_filter: Column, n: int = 5,
                              m_bits: int = 1 << 17,
                              k: int = 4) -> DataFrame:
    """`decontaminate_pairs` with a Bloom prefilter on the train side —
    IDENTICAL output (the filter only admits false positives, and every
    survivor is exact-confirmed by the same shingle equi-join), but the
    shuffle that feeds the join moves ~ε·|train shingles| rows instead
    of all of them.

    Why this exists: the plain equi-join already broadcasts nothing —
    BOTH shingle sets shuffle on the hash.  At 100 TB the train side is
    the corpus (~10¹² shingles) while the benchmark is fixed (~10⁷);
    an m-bit Bloom filter over the benchmark shingles is m/8 bytes
    (16 KiB at the default, 32 MiB for a 10⁷-gram benchmark at 10
    bits/key) — broadcast once, tested SCAN-SIDE before any exchange,
    so the corpus-sized shuffle shrinks by 1/ε (ε ≈ (1−e^(−kn/m))^k).

    Mechanics: k positions per 64-bit shingle hash via
    Kirsch–Mitzenmacher (pos_i = (h_lo + i·h_hi) mod m); the build is
    JVM-side (bit_or aggregate over 64-bit words, ≤ m/64 rows collected
    — bounded by the filter size, which is the broadcast anyway); the
    membership probe is one Arrow-batched pandas UDF over a broadcast
    numpy bitset (a bitset lookup cannot be a join without re-paying
    the shuffle it exists to avoid, and the numpy form is vectorized
    per batch, never per-row Python)."""
    # one shingle pass feeds both the bench and train splits (r14
    # optimization round — previously re-derived per split)
    sh = _materialize(shingle_sets(df, id_col, text_col, n=n))
    bench_ids = df.filter(bench_filter).select(F.col(id_col).alias("id"))
    bench_sh = (sh.join(bench_ids, "id", "left_semi")
                .localCheckpoint(eager=True))
    train_sh = sh.join(bench_ids, "id", "left_anti")
    maybe = bloom_membership_udf(bench_sh, "shingle", m_bits, k)
    surv = train_sh.filter(maybe(F.col("shingle")))
    return _containment_report(surv, bench_sh)


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3, threshold: float = 0.8,
                      candidates: DataFrame | None = None,
                      bottom_k: int = 8,
                      max_shingle_df: int | None = None) -> DataFrame:
    """ASYMMETRIC near-dup pairs: (doc_a, doc_b, containment) where
    containment = |Sh(a) ∩ Sh(b)| / min(|Sh(a)|, |Sh(b)|) ≥ threshold —
    the quote/subset detector Jaccard misses (a short doc fully quoted
    inside a long one has tiny Jaccard but containment ≈ 1, so
    Jaccard-tuned MinHash banding is the WRONG blocker here: its hit
    rate collapses exactly on the extreme-length-ratio pairs this
    operator exists for).

    Default blocker: each doc's BOTTOM-K smallest shingle hashes probe
    the full corpus shingle index — if doc a is truly contained in doc
    b, every one of a's shingles (its bottom-k included) appears in b,
    so the pair is a candidate with probability 1; partial containment
    ≥ t hits with P ≥ 1-(1-t)^k (k=8, t=0.8 → ~1-2.6e-6).  Cost shape:
    the probe side is k·|docs| 8-byte keys against the shingle inverted
    index (the l21 decontaminate join), never all-pairs; hot shingles
    fan out by their document frequency.

    `max_shingle_df` bounds that fan-out: shingles whose document
    frequency exceeds the cap (corpus stop-shingles — "the quick
    brown") are dropped from BOTH blocker sides before the bottom-k
    window and the probe join, so no probe row can ever emit more than
    `max_shingle_df` candidates.  Recall argument: shingle hashes are
    uniform, so a doc's bottom-k over the df-filtered set is a uniform
    sample of its COLD shingles; a pair with containment ≥ t over cold
    shingles still hits with P ≥ 1-(1-t)^k, and truly-contained pairs
    (every shingle shared, cold ones included) keep recall 1.  Only a
    doc consisting almost entirely of stop-shingles can lose candidates
    — exactly the boilerplate a dedup pipeline drops anyway.  The
    rerank computes EXACT containment (all shingles, uncapped) for
    candidates only, so the cap never biases emitted scores.

    Materialize-once shape (r14 optimization round): the shingle set
    was referenced by the df-cap aggregate, the blocker (twice), and
    the rerank (sizes + both self-join sides) — up to ~7 re-derivations
    of scan+explode+distinct per run (125 Exchange nodes in the l32
    plan).  The shingle set, the df-capped blocker side, the candidate
    pairs, and the restricted rerank set are now eager localCheckpoints;
    every join fed by them carries an explicit merge hint (checkpoint
    children are estimator-blind — the l04 x100 broadcast-death class)."""
    sh = _materialize(shingle_sets(df, id_col, text_col, n))
    if candidates is not None:
        # normalize caller pair order (the jaccard_pairs trap): an
        # un-canonicalized (7, 3) would never match the intersection's
        # (3, 7) and would silently vanish
        cand = candidates.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"))
    else:
        from pyspark.sql import Window
        sh_blk = sh
        if max_shingle_df is not None:
            dfreq = (sh.groupBy("shingle")
                     .agg(F.count(F.lit(1)).alias("_df")))
            # NOT materialized: consumed twice (bottom-k window +
            # probe side), but both derive from the checkpointed sh by
            # one cheap semi-join — re-deriving pins faster than
            # paying another barrier (in-session A/B, r14 opt round)
            sh_blk = (sh.hint("merge")
                      .join(dfreq.filter(F.col("_df") <= max_shingle_df)
                            .select("shingle"), "shingle", "left_semi"))
        w = Window.partitionBy("id").orderBy("shingle")
        probe = (sh_blk.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") <= bottom_k)
                 .select(F.col("id").alias("ia"), "shingle"))
        cand = (probe.hint("merge")
                .join(sh_blk.select(F.col("id").alias("ib"),
                                    "shingle"),
                      "shingle")
                .filter(F.col("ia") != F.col("ib"))
                .select(F.least("ia", "ib").alias("doc_a"),
                        F.greatest("ia", "ib").alias("doc_b"))
                .distinct())
    # the candidate pair set feeds the doc restriction AND the final
    # pair semi-join — one materialization, two consumers
    cand = _materialize(cand)
    cand_docs = (cand.select(F.col("doc_a").alias("id"))
                 .unionAll(cand.select(F.col("doc_b").alias("id")))
                 .distinct())
    sh = _materialize(sh.hint("merge").join(cand_docs, "id", "left_semi"))
    # sizes AFTER the candidate restriction (exact containment still
    # uses ALL of a candidate doc's shingles — only whole docs filter)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("doc_a"), "shingle")
    b = sh.select(F.col("id").alias("doc_b"), "shingle")
    inter = (a.hint("merge").join(b, "shingle")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("m"))
             # no .distinct() on the build side: cand is already
             # distinct (and left_semi ignores duplicates anyway)
             .hint("merge")
             .join(cand.select("doc_a", "doc_b"),
                   ["doc_a", "doc_b"], "left_semi"))
    out = (inter
           .hint("merge")
           .join(sizes.select(F.col("id").alias("doc_a"),
                              F.col("sz").alias("sz_a")), "doc_a")
           .hint("merge")
           .join(sizes.select(F.col("id").alias("doc_b"),
                              F.col("sz").alias("sz_b")), "doc_b")
           .withColumn("containment_raw",
                       F.col("m").cast("double")
                       / F.least("sz_a", "sz_b"))
           .filter(F.col("containment_raw") >= threshold))
    return out.select("doc_a", "doc_b",
                      F.round("containment_raw", 6).alias("containment"))


# -- exact shared substrings (Lee et al. 2022 exact-substring dedup) --------

def shared_spans(df: DataFrame, id_col: str, text_col: str,
                 k: int = 8, min_tokens: int = 16,
                 max_window_df: int | None = None) -> DataFrame:
    """MAXIMAL exact shared token spans across document pairs — the
    exact-substring dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499), re-expressed
    relationally instead of via their suffix array: a suffix array is a
    sequential in-memory structure; positioned k-gram window hashes +
    one equi-join + a per-diagonal islands merge compute the same
    maximal-span answer with nothing but keyed shuffles.

    Returns (doc_a, doc_b, start_a, start_b, n_tokens): every maximal
    run of ≥ `min_tokens` consecutive tokens appearing verbatim in both
    documents (0-based token offsets, doc_a < doc_b; a pair repeating a
    passage at several offsets yields one row per alignment).

    How: each doc emits (pos, xxhash64(tokens[pos:pos+k])) for every
    position; matches join on the hash; a shared span of length L ≥ k
    is exactly a run of L-k+1 consecutive matches on one DIAGONAL
    (pos_a - pos_b constant), so grouping matches by (pair, diagonal)
    and merging consecutive pos_a runs (the islands trick: pos_a minus
    its rank is constant within a run) yields maximal spans directly.

    Scale shape: the window-hash join is the l21 decontaminate join —
    8-byte keys, fan-out only on genuinely shared windows, never
    all-pairs; the islands window partitions by (pair, diagonal), so
    its partition size is one alignment's match count, bounded by the
    longest shared span.  Corpus-hot k-grams (licence boilerplate) fan
    the join out by their df; `max_window_df` drops windows above the
    cap on BOTH sides first — inside a long shared span that only
    splits or shortens the reported islands (each fragment still
    reports if ≥ min_tokens), it cannot create false spans, so the cap
    trades span completeness for bounded fan-out, explicitly.

    k < min_tokens is required (a span shorter than one window can't be
    seen); k trades join selectivity (higher k = rarer windows) against
    the shortest detectable span."""
    if k > min_tokens:
        raise ValueError(f"k={k} must be <= min_tokens={min_tokens}")
    from pyspark.sql import Window

    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
    # materialized (r14 optimization round): the positioned window-hash
    # set feeds both self-join sides (plus the df-cap aggregate and its
    # anti-join when capped) — each reference previously re-ran the
    # tokenize + per-position xxhash64 explode, the expensive map work
    # of this operator.  Checkpoint-fed consumers below carry merge
    # hints (estimator-blind stats — the l04 x100 broadcast class).
    wins = _materialize(df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.when(n >= k, F.transform(
                idx, lambda i: F.xxhash64(F.array_join(
                    F.slice(toks, i, k), " "))))
            .otherwise(F.array().cast("array<long>"))
        ).alias("pos", "h")))
    if max_window_df is not None:
        hot = (wins.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") > max_window_df).select("h"))
        wins = _materialize(wins.hint("merge").join(hot, "h", "left_anti"))
    a = wins.select(F.col("id").alias("doc_a"),
                    F.col("pos").alias("pos_a"), "h")
    b = wins.select(F.col("id").alias("doc_b"),
                    F.col("pos").alias("pos_b"), "h")
    m = (a.hint("merge").join(b, "h")
         .filter(F.col("doc_a") < F.col("doc_b"))
         .withColumn("d", F.col("pos_a") - F.col("pos_b")))
    w = Window.partitionBy("doc_a", "doc_b", "d").orderBy("pos_a")
    spans = (m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
             .groupBy("doc_a", "doc_b", "d", "grp")
             .agg(F.min("pos_a").alias("start_a"),
                  (F.max("pos_a") - F.min("pos_a") + k)
                  .alias("n_tokens"))
             .filter(F.col("n_tokens") >= min_tokens))
    return spans.select("doc_a", "doc_b", "start_a",
                        (F.col("start_a") - F.col("d")).alias("start_b"),
                        "n_tokens")


def cdc_chunks(df: DataFrame, id_col: str, text_col: str,
               w: int = 4, modulus: int = 16) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync family, on tokens):
    cut a document after token p whenever a rolling fingerprint of the
    `w`-token window ending at p hits 0 mod `modulus`.  Boundaries
    depend only on LOCAL content, so two documents sharing a long
    passage produce byte-identical chunks for it regardless of where
    the passage sits in either document — which is what makes
    chunk-level dedup work where fixed-size chunking misses every
    unaligned copy.  Expected chunk length ≈ `modulus` tokens.

    Returns (id, chunk_idx, start, n_tokens, chunk_key): 0-based token
    offsets and md5 of the chunk's token string.  Group by chunk_key
    downstream for chunk-level dedup / delta storage.

    Engine-portable fingerprint: md5 of the window string (the l04 /
    g20 discipline — never an engine-private hash in a DECISION), so a
    DuckDB oracle reproduces the exact cut set.  The last token is
    never a cut (a zero-length tail chunk can't exist); documents
    shorter than w+1 tokens are one chunk.

    Scale shape: chunking is pure per-row codegen (higher-order
    functions over the token array — zero UDFs, ZERO shuffles); the
    dedup aggregate downstream shuffles 16-byte md5 keys only.  At
    100 TB this is a scan-shaped pass, embarrassingly parallel."""
    if w < 1:
        raise ValueError(f"w={w} must be >= 1")
    if modulus < 2:
        raise ValueError(f"modulus={modulus} must be >= 2")

    # the shared engine-portable hash: the cut decision must be
    # byte-identical to the DuckDB oracle's replay, so there is exactly
    # ONE definition of it in the repo
    from ..functions.hashing import md5_long60 as md5int

    # staged projections so the token array and the cut array are each
    # evaluated ONCE per row: CollapseProject declines to inline a
    # non-cheap alias referenced multiple times downstream — without
    # this the md5 boundary filter gets duplicated into every struct
    # field of the chunk transform (~6x the per-row hashing)
    staged = df.select(F.col(id_col).alias("id"),
                       F.split(F.col(text_col), " ").alias("_t"))
    toks, n = F.col("_t"), F.size(F.col("_t"))
    staged = staged.select("id", "_t", F.when(n - 1 >= w, F.filter(
        F.sequence(F.lit(w), n - 1),
        lambda p: md5int(F.array_join(
            F.slice(toks, p - (w - 1), w), " ")) % modulus == 0
    )).otherwise(F.array().cast("array<int>")).alias("_c"))
    cuts = F.col("_c")
    starts = F.concat(F.array(F.lit(0)), cuts)
    ends = F.concat(cuts, F.array(n))
    chunk = F.transform(
        F.sequence(F.lit(0), F.size(cuts)),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.element_at(starts, i + 1).alias("start"),
            (F.element_at(ends, i + 1)
             - F.element_at(starts, i + 1)).alias("n_tokens"),
            F.md5(F.array_join(F.slice(
                toks, F.element_at(starts, i + 1) + 1,
                F.element_at(ends, i + 1) - F.element_at(starts, i + 1)
            ), " ")).alias("chunk_key")))
    return (staged.select("id", F.explode(chunk).alias("c"))
            .select("id", "c.*")
            .filter(F.col("n_tokens") > 0))


def cdc_dedup_report(df: DataFrame, id_col: str, text_col: str,
                     w: int = 4, modulus: int = 16,
                     min_docs: int = 2) -> DataFrame:
    """Chunk-level dedup report over `cdc_chunks`: every chunk whose
    verbatim text appears in >= `min_docs` distinct documents, with its
    occurrence count, token length, and smallest holding doc id.  The
    storage-dedup view of the corpus: `n_occ - 1` copies of each listed
    chunk are redundant bytes."""
    ch = cdc_chunks(df, id_col, text_col, w=w, modulus=modulus)
    return (ch.groupBy("chunk_key")
            .agg(F.countDistinct("id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occ"),
                 F.min("n_tokens").alias("n_tokens"),
                 F.min("id").alias("min_doc"))
            .filter(F.col("n_docs") >= min_docs))


def lsh_banding_audit(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3, num_hashes: int = 12, bands: int = 6,
                      threshold: float = 0.4,
                      sample: int = 200) -> DataFrame:
    """Precision/recall audit of the MinHash BANDING stage against exact
    Jaccard — the measurement that turns "banding recall is believed
    high" into a number a pipeline can alert on (every l03-style dedup
    silently assumes it).  Runs on a deterministic md5-ordered sample
    of `sample` docs, so the exact all-pairs side is bounded by the
    DECLARED sample size at any corpus scale — never corpus-quadratic
    (exactly how production dedup audits run).

    The audited signatures use the engine-portable md5 hash family
    (sig_i = min over shingle strings of md5('i|'+shingle); band bucket
    = md5 of the band's values joined '|'), NOT the production
    xxhash64 family — same S-curve statistics, but fully re-derivable
    in SQL, so the whole audit is hash-checkable.  Returns one row
    (n_true, n_cand, n_hit, precision, recall, f1) with ratios of
    exact integers rounded to 6 (f1 via the exact identity
    2·TP / (cand + true)).

    Scale shape: sample via TakeOrderedAndProject; everything after is
    sample-bounded."""
    from ..functions.hashing import md5_long60

    rows_per_band = num_hashes // bands
    skey = md5_long60(F.col(id_col).cast("string"))
    s = (df.select(F.col(id_col).alias(id_col), F.col(text_col), skey.alias("_sk"))
         .orderBy("_sk", id_col).limit(sample).drop("_sk"))
    # materialize-once (r15): the sample is referenced by BOTH the
    # banding pipeline and the exact-Jaccard side, so each lazy
    # reference re-ran the corpus TakeOrdered (the registered l46
    # plan read 25 Exchange / 4 corpus scans) — checkpointing the
    # 200-row sample cuts the corpus passes to ONE at any scale.
    # Candidate/truth frames stay lazy: they are sample-bounded, and
    # eager checkpoints for them pin-measured as pure job overhead.
    s = _materialize(s)
    sh = shingle_sets(s, id_col, text_col, n, hashed=False)
    aggs = [F.min(md5_long60(F.concat(F.lit(f"{i}|"), F.col("shingle"))))
            .alias(f"h{i}") for i in range(num_hashes)]
    sig = sh.groupBy("id").agg(*aggs)
    band_exprs = [
        md5_long60(F.concat_ws("|", F.lit(str(b)), *[
            F.col(f"h{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)]))
        for b in range(bands)]
    buckets = sig.select("id", F.posexplode(F.array(*band_exprs))
                         .alias("band", "bucket"))
    x = buckets.select(F.col("id").alias("doc_a"), "band", "bucket")
    y = buckets.select(F.col("id").alias("doc_b"), "band", "bucket")
    cand = (x.join(y, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    true_pairs = jaccard_pairs(s, id_col, text_col, n, threshold,
                               allow_quadratic=True).select("doc_a",
                                                            "doc_b")
    hit = cand.join(true_pairs, ["doc_a", "doc_b"], "left_semi")
    counts = (true_pairs.agg(F.count(F.lit(1)).alias("n_true"))
              .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_cand")))
              .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit"))))
    # zero-denominator convention (an ALERTING consumer must get a
    # number, never NULL): no candidates → vacuously precise (1.0); no
    # true pairs → nothing to miss, recall 1.0; both empty → f1 1.0.
    # A clean sample then scores 1/1/1 instead of silently NULLing the
    # very alert that should fire on recall collapse.
    prec = F.when(F.col("n_cand") > 0,
                  F.col("n_hit") / F.col("n_cand")).otherwise(F.lit(1.0))
    rec = F.when(F.col("n_true") > 0,
                 F.col("n_hit") / F.col("n_true")).otherwise(F.lit(1.0))
    f1 = F.when(F.col("n_cand") + F.col("n_true") > 0,
                2 * F.col("n_hit") / (F.col("n_cand") + F.col("n_true"))
                ).otherwise(F.lit(1.0))
    return counts.select(
        "n_true", "n_cand", "n_hit",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"))


def paragraph_dedup(paras: DataFrame, id_col: str, idx_col: str,
                    text_col: str) -> DataFrame:
    """Paragraph-level exact dedup with document reassembly (the
    RefinedWeb/Falcon curation step: boilerplate paragraphs repeat
    across pages even when whole documents don't).  Input is one row
    per (doc, paragraph index, paragraph text); the FIRST global
    occurrence of each distinct paragraph — ordered by (doc id, index)
    — survives, every later copy is dropped, and each document is
    rebuilt from its surviving paragraphs in index order.

    Scale shape: one shuffle keyed by md5(paragraph) (fixed-width,
    balanced) for the keep-first window, one groupBy(doc) for
    reassembly whose state is bounded by per-document paragraph count.
    Output per document: n_paras, n_kept, new_text_hash (md5 of the
    space-joined surviving text; md5('') when everything was a dup).
    """
    from pyspark.sql import Window

    p = paras.select(F.col(id_col).alias("id"),
                     F.col(idx_col).alias("idx"),
                     F.col(text_col).alias("para"))
    w = Window.partitionBy(F.md5("para")).orderBy("id", "idx")
    m = p.withColumn("keep", F.row_number().over(w) == 1)
    kept_text = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(
                F.when(F.col("keep"),
                       F.struct(F.col("idx"), F.col("para"))))),
            lambda s: s.para), " ")
    return (m.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_paras"),
                 F.sum(F.col("keep").cast("long")).alias("n_kept"),
                 F.md5(kept_text).alias("new_text_hash"))
            .withColumnRenamed("id", id_col))


def source_overlap_matrix(df: DataFrame, group_col: str, text_col: str,
                          n: int = 3, k: int = 32) -> DataFrame:
    """Corpus-governance overlap matrix: for every pair of sources, the
    MinHash-estimated AND exact Jaccard similarity of their word
    n-gram shingle SETS — the "how much does source A duplicate source
    B" dashboard a corpus build consults before mixing sources.

    The sketch side uses the engine-portable md5-based component hash
    family ('mh<i>|' + shingle → md5_long60, min per component) so the
    ESTIMATE itself is oracle-checkable bit-for-bit — unlike the
    xxhash64 family the per-document dedup path uses for shuffle
    economy (there the hashes only gate candidates; here the estimate
    IS the output).  At 100 TB you would keep only the sketch side:
    per-source state is k longs (mergeable by min — accumulate it
    incrementally per batch), and the pairwise matrix is
    |sources|²·k work on a broadcast-sized signature table.  The exact
    columns cost one shingle self-join keyed by shingle string and are
    the audit half, same as every sketch query in this repo."""
    from ..functions.hashing import md5_long60

    # materialized once: the (group, shingle) set feeds THREE consumers
    # (signature aggregate + both sides of the exact-intersection
    # self-join) — without the checkpoint each one re-runs the corpus
    # scan + explode + distinct (the CLAUDE.md re-derived-lineage
    # pathology)
    sh = (df.select(F.col(group_col).alias("g"),
                    F.explode(word_shingles(text_col, n)).alias("sh"))
          .distinct().localCheckpoint(eager=True))
    aggs = [F.min(md5_long60(
        F.concat(F.lit(f"mh{i}|"), F.col("sh")))).alias(f"h{i}")
        for i in range(k)]
    sig = sh.groupBy("g").agg(F.count(F.lit(1)).alias("n"), *aggs)
    a = sig.select(F.col("g").alias("source_a"),
                   F.col("n").alias("n_shingles_a"),
                   *[F.col(f"h{i}").alias(f"a{i}") for i in range(k)])
    b = sig.select(F.col("g").alias("source_b"),
                   F.col("n").alias("n_shingles_b"),
                   *[F.col(f"h{i}").alias(f"b{i}") for i in range(k)])
    matches = sum(
        (F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
         for i in range(k)), F.lit(0))
    pairs = (a.join(F.broadcast(b),
                    F.col("source_a") < F.col("source_b"))
             .select("source_a", "source_b", "n_shingles_a",
                     "n_shingles_b", matches.alias("m")))
    # merge (r14): sh is an eager localCheckpoint — its stats
    # stay fixed-small at any scale (the l04 x100 broadcast-death
    # estimator class), and both sides are |corpus·shingles|-scaled
    inter = (sh.alias("x").hint("merge").join(
        sh.alias("y"),
        (F.col("x.sh") == F.col("y.sh"))
        & (F.col("x.g") < F.col("y.g")))
        .groupBy(F.col("x.g").alias("source_a"),
                 F.col("y.g").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_common")))
    ni = F.coalesce(F.col("n_common"), F.lit(0).cast("long"))
    return (pairs.join(inter, ["source_a", "source_b"], "left")
            .select("source_a", "source_b", "n_shingles_a",
                    "n_shingles_b",
                    F.round(F.col("m") / F.lit(float(k)), 6)
                    .alias("est_jaccard"),
                    ni.alias("n_common"),
                    F.round(ni / (F.col("n_shingles_a")
                                  + F.col("n_shingles_b") - ni), 6)
                    .alias("exact_jaccard")))


def priority_dedup(df: DataFrame, id_col: str, text_col: str,
                   source_col: str, priority: list[str],
                   prefix_words: int = 0) -> DataFrame:
    """Cross-source dedup that keeps the HIGHEST-PRIORITY copy — the
    curation idiom where a document found in both a curated source and
    a crawl keeps the curated copy (plain min-id dedup would keep
    whichever source happened to ingest first).

    ``priority`` lists sources best-first; listed source i gets rank i,
    every unlisted source ranks len(priority), ties break on the unique
    id.  With ``prefix_words`` > 0 the dedup key is the first k words
    (the boilerplate-prefix near-exact key); 0 keys on the whole text.
    Either way the shuffle key is the 16-byte md5 of the key text.

    Returns one row per kept document: (id, source, src_rank, n_copies,
    n_sources).  One hash aggregate — the kept row rides along as
    min(struct(rank, id, source)), so there is no second pass or
    self-join."""
    if prefix_words > 0:
        key_text = F.array_join(
            F.slice(F.filter(F.split(F.col(text_col), " "),
                             lambda x: x != ""),
                    1, prefix_words), " ")
    else:
        key_text = F.col(text_col)
    rank = F.lit(len(priority))
    for i in range(len(priority) - 1, -1, -1):
        rank = F.when(F.col(source_col) == priority[i],
                      F.lit(i)).otherwise(rank)
    base = df.select(
        F.md5(key_text).alias("h"),
        rank.cast("int").alias("prio"),
        F.col(id_col).alias("id"),
        F.col(source_col).alias("src"))
    g = (base.groupBy("h")
         .agg(F.count(F.lit(1)).alias("n_copies"),
              F.countDistinct("src").alias("n_sources"),
              F.min(F.struct("prio", "id", "src")).alias("keep")))
    return g.select(
        F.col("keep.id").alias(id_col),
        F.col("keep.src").alias("source"),
        F.col("keep.prio").alias("src_rank"),
        "n_copies", "n_sources")


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 5, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local fingerprinting scheme): hash every k-word
    shingle, slide a window of `window` consecutive shingle hashes,
    keep each window's MINIMUM hash; the distinct kept hashes are the
    document's fingerprint set.  Guarantee: any shared run of at least
    k + window − 1 words contributes at least one shared fingerprint,
    while the kept set is ~2/(window+1) of all shingles — local
    fingerprinting with a coverage proof, unlike the global mod-p
    selection CDC chunking uses (cdc_chunks).

    Ties inside a window break on hash VALUE; the fingerprint set is
    position-free, so the classic rightmost-tie rule cannot change the
    output.  Documents shorter than k + window − 1 words emit no
    fingerprints (no full window exists — documented MOSS behavior).

    Engine-portable md5 and a window pass, so the cross-document pair
    join is hash-checkable (l62).

    Scale shape: shingle hashing is scan-side codegen over the word
    array; the window min is ONE ordered window pass keyed on the
    document (rows ∝ words); output is the distinct (id, fp) set."""
    from pyspark.sql import Window as W
    ws = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    base = (df.select(F.col(id_col).alias("id"), ws.alias("ws"))
            .withColumn("n", F.size("ws"))
            .filter(F.col("n") >= k + window - 1))
    grams = base.select(
        "id", "n",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.col("n") - k),
            lambda i: F.md5(F.array_join(
                F.slice(F.col("ws"), i + 1, F.lit(k)), " "))))
        .alias("pos", "h"))
    wspec = W.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    return (grams.withColumn("fp", F.min("h").over(wspec))
            # keep only FULL windows: the trailing partial frames would
            # select tail hashes a true winnower never considers
            .filter(F.col("pos") <= F.col("n") - k - (window - 1))
            .select("id", "fp").distinct())


def winnow_pairs(df: DataFrame, id_col: str, text_col: str,
                 k: int = 5, window: int = 4, min_shared: int = 2,
                 max_fp_df: int = 50) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints:
    (doc_a, doc_b, n_shared) for pairs sharing ≥ `min_shared` kept
    fingerprints.  A shared fingerprint implies a shared k-gram, so
    n_shared lower-bounds the shared-passage evidence.

    `max_fp_df` drops fingerprints appearing in more than that many
    documents before pairing (the l32 hot-shingle discipline):
    boilerplate that would otherwise pair everything with everything
    contributes quadratic candidates and no dedup signal."""
    # materialized once (r14 optimization round): the fingerprint set
    # (explode + ordered window pass + distinct — the expensive map
    # work) feeds the df aggregate and both self-join sides via the
    # anti-join; each reference previously re-derived it.  `hot` stays
    # unhinted: it is the over-cap fingerprint list, small by
    # construction (bounded by corpus/max_fp_df), so its broadcast is
    # right at any scale; the a×b self-join sides are checkpoint-fed
    # AND corpus-scaled, so they carry the merge hint (the l04 x100
    # broadcast class).
    fps = _materialize(winnow_fingerprints(df, id_col, text_col, k,
                                           window))
    hot = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("dfc"))
           .filter(F.col("dfc") > max_fp_df).select("fp"))
    kept = fps.join(hot, "fp", "left_anti")
    a = kept.select(F.col("id").alias("doc_a"), "fp")
    b = kept.select(F.col("id").alias("doc_b"), "fp")
    return (a.hint("merge").join(b, "fp")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))
