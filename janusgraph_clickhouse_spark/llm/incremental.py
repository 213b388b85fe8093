"""Incremental fuzzy dedup against a PERSISTED fingerprint index.

The operator a production ingest actually runs: a NEW batch of documents
is deduped against the existing corpus by joining the batch's MinHash
band buckets against an append-only fingerprint index — per-batch
shuffle volume is O(batch), never a whole-corpus signature recompute.
This is the same incremental-append discipline as the reference's
mutate path (ClickhouseKeyColumnValueStore.java:133-171: batched
delete-before-insert against the live table, never a table rewrite).

Index layout — three parquet tables under one root directory:

  buckets/   (id, band, bucket)   LSH candidate lookup
  shingles/  (id, shingle)        hashed shingle sets, exact rerank
  sizes/     (id, sz)             shingle-set sizes for Jaccard

All three are APPEND-ONLY: absorbing a batch appends the novel docs'
rows; existing part files are never rewritten (pytest-pinned by file
listing + mtime).

CRASH RECOVERY / AT-LEAST-ONCE STORY (the contract a replaying caller,
e.g. a foreachBatch sink, relies on):

- absorb_batch treats a doc as NOVEL only if it has no dup verdict AND
  no row in the `sizes` table, and `sizes` is written LAST of the three
  appends.  A whole-batch replay (foreachBatch is at-least-once) finds
  every previously absorbed doc in `sizes` and appends NOTHING.
- A crash BETWEEN the appends leaves torn docs — bucket/shingle rows
  without a sizes row.  Torn docs are invisible to verdicts (the sizes
  join is inner) and are healed on replay: still novel per the sizes
  probe, their full fingerprint is re-appended, and the duplicate
  bucket/shingle rows the tear left behind are neutralized at READ time
  — incremental_dedup_pairs dedups the index side AFTER restricting it
  to candidate docs, so the distinct costs O(candidates), not O(index).

Why exact rerank against index shingles rather than signature-estimated
Jaccard: the verdicts stay exactly reproducible (and DuckDB-oracle-able
— the oracle recomputes cross-side Jaccard from scratch), and the
rerank join touches only candidate docs' shingle rows.  The trade is
the shingle table's size (O(corpus tokens) × 8-byte hashes); an
estimate-only index would drop it at the cost of probabilistic
verdicts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import shingle_sets, signatures_from_shingles

# append/read order is load-bearing: `sizes` is the novelty sentinel and
# must be the LAST table absorb appends (see crash-recovery story above)
INDEX_TABLES = ("buckets", "shingles", "sizes")


def fingerprint_tables(df: DataFrame, id_col: str, text_col: str,
                       n: int = 3, num_hashes: int = 48,
                       bands: int = 16,
                       materialize: bool = False) -> dict[str, DataFrame]:
    """One corpus (or batch) → its three fingerprint tables.

    One shingle pass feeds the signature min-agg, the shingle table AND
    the sizes aggregate.  `materialize=True` eagerly localCheckpoints
    that pass first, so a caller who then WRITES all three tables scans
    the source documents exactly once (absorb_batch) instead of once
    per table write — the batch is fingerprinted once."""
    from .dedup import band_bucket_expr, check_band_params
    rows_per_band = num_hashes // bands
    check_band_params(num_hashes, bands, rows_per_band)
    sh = shingle_sets(df, id_col, text_col, n)
    if materialize:
        # _materialize, not a bare localCheckpoint: honors the
        # build-only SPARK_GRAFT_NO_MATERIALIZE escape hatch (planlint/
        # dumpplans sessions) and the streaming guard; behavior in
        # executing sessions is identical
        from .dedup import _materialize
        sh = _materialize(sh)
    sig = signatures_from_shingles(sh, num_hashes)
    # the SHARED band-bucket expression (dedup.band_bucket_expr): the
    # index must hash buckets bit-identically to batch lsh_candidates
    # or the batch-vs-index join silently misses every absorbed row
    buckets = sig.select(
        "id", band_bucket_expr("sig", bands, rows_per_band)
        .alias("band", "bucket"))
    # EVERY batch doc gets a sizes row, sz=0 for docs too short to
    # shingle — sizes is the novelty sentinel, and without a row such
    # docs stayed "novel" on every at-least-once replay, appending
    # empty part files forever and never becoming known
    ids = df.select(F.col(id_col).alias("id")).distinct()
    agg = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sizes = (ids.join(agg, "id", "left")
             .select("id", F.coalesce("sz", F.lit(0).cast("long"))
                     .alias("sz")))
    return {"buckets": buckets, "shingles": sh, "sizes": sizes}


def incremental_dedup_pairs(new_df: DataFrame, id_col: str, text_col: str,
                            index: dict[str, DataFrame],
                            threshold: float = 0.4, n: int = 3,
                            num_hashes: int = 48,
                            bands: int = 16) -> DataFrame:
    """(doc_id, dup_of, jaccard): every NEW doc × EXISTING doc pair with
    exact shingle Jaccard ≥ threshold, candidates drawn from the LSH
    band join of batch buckets × index buckets.

    Cost shape: signatures/shingles are computed for the BATCH only; the
    index side contributes equi-join lookups (band, bucket) and the
    candidate docs' shingle rows — never a corpus re-signature.  Within
    the batch itself nothing is compared (old side only; batch-internal
    dups are the caller's composition with minhash_dedup_pairs).

    Robust to a torn/replayed index: the old side excludes EVERY id in
    the current batch (not just self-pairs) — a replay of a batch whose
    absorb already reached the index sees the batch's own docs there,
    and without this exclusion two
    novel near-dups in one batch would suddenly emit verdicts against
    each other on replay only, diverging from the first run (the
    module's replay-converges contract).  The index side is also
    deduplicated AFTER the candidate restriction — duplicated index
    rows (a crash between appends) cannot inflate the intersection
    count or double-emit verdicts, and the distincts cost
    O(candidate docs), not O(index)."""
    fp = fingerprint_tables(new_df, id_col, text_col, n, num_hashes,
                            bands, materialize=True)
    batch_ids = fp["sizes"].select(F.col("id").alias("dup_of")).distinct()
    # shuffle_hash, batch side as build (r15): when the index tables are
    # in-plan derivations over a materialized shingle pass (the l30
    # registered form; read_index parquet tables are scan-derived and
    # unaffected), BOTH sides of this join are estimator-blind — an
    # unhinted plan may re-plan the corpus-scaled index side as a
    # broadcast build on a warm re-run (the l04 x100 class).  The batch
    # side is bounded by the ingest contract (per-batch work is
    # O(batch)), so it is the safe per-partition hash build; no sorts.
    cand = (fp["buckets"].select(F.col("id").alias("doc_id"),
                                 "band", "bucket")
            .hint("shuffle_hash")
            .join(index["buckets"].select(F.col("id").alias("dup_of"),
                                          "band", "bucket"),
                  ["band", "bucket"])
            .join(batch_ids, "dup_of", "left_anti")
            .select("doc_id", "dup_of").distinct())
    # The candidate pair list is referenced FOUR times downstream
    # (old/new semi-join keys, the pair confirm); without truncation
    # each reference re-derives the whole batch-signature + LSH join
    # subtree — including a repeated scan of the index BUCKETS table,
    # which at corpus scale is the expensive side.  The pair list is
    # O(candidates), so materializing it once is cheap and makes the
    # final plan provably signature-free: everything below here is
    # equi-joins against the checkpointed pairs.
    from .dedup import _materialize
    cand = _materialize(cand)
    cand_old = cand.select(F.col("dup_of").alias("id")).distinct()
    old_sh = (index["shingles"]
              .join(cand_old, "id", "left_semi")
              .select(F.col("id").alias("dup_of"), F.col("shingle"))
              .distinct())
    old_sz = (index["sizes"]
              .join(cand_old, "id", "left_semi")
              .select(F.col("id").alias("dup_of"), F.col("sz"))
              .distinct())
    cand_new = cand.select(F.col("doc_id").alias("id")).distinct()
    new_sh = (fp["shingles"].join(cand_new, "id", "left_semi")
              .select(F.col("id").alias("doc_id"), "shingle"))
    # same two-blind-sides situation as the candidate join above once
    # the index is in-plan-derived: hint the batch-bounded side as the
    # hash build (candidate-restricted batch shingles, O(batch tokens))
    inter = (new_sh
             .hint("shuffle_hash")
             .join(old_sh, "shingle")
             .join(cand, ["doc_id", "dup_of"], "left_semi")
             .groupBy("doc_id", "dup_of")
             .agg(F.count(F.lit(1)).alias("m")))
    jac = (inter
           .join(fp["sizes"].select(F.col("id").alias("doc_id"),
                                    F.col("sz").alias("sz_a")), "doc_id")
           .join(old_sz.select("dup_of", F.col("sz").alias("sz_b")),
                 "dup_of")
           .withColumn("jaccard_raw",
                       F.col("m").cast("double")
                       / (F.col("sz_a") + F.col("sz_b") - F.col("m")))
           .filter(F.col("jaccard_raw") >= threshold))
    return jac.select("doc_id", "dup_of",
                      F.round("jaccard_raw", 6).alias("jaccard"))


def read_index(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    return {t: spark.read.parquet(os.path.join(path, t))
            for t in INDEX_TABLES}


def write_index(tables: dict[str, DataFrame], path: str,
                mode: str = "append") -> None:
    """Append fingerprint rows (bootstrap with mode='overwrite').  Append
    mode only ever ADDS part files — the absorb path never rewrites
    existing index data.  Writes in INDEX_TABLES order: `sizes` last,
    because it is the novelty sentinel absorb_batch probes (a crash
    before the sizes append leaves docs torn-but-invisible, healed on
    replay — module docstring)."""
    for t in INDEX_TABLES:
        tables[t].write.mode(mode).parquet(os.path.join(path, t))


_META_FILE = "_FP_PARAMS"


def _write_meta(path: str, n: int, num_hashes: int, bands: int) -> None:
    import json
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, _META_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"n": n, "num_hashes": num_hashes, "bands": bands}, f)
    os.replace(tmp, os.path.join(path, _META_FILE))


_FP_DEFAULTS = {"n": 3, "num_hashes": 48, "bands": 16}


def stamp_index_params(path: str, n: int, num_hashes: int,
                       bands: int) -> None:
    """EXPLICIT migration step for a pre-meta index: the operator who
    knows what parameters built the index stamps them once, after
    which every absorb is checked against the stamp.  Refuses to
    restamp an index that already carries meta (that would be the
    exact poisoning _check_meta exists to prevent)."""
    if os.path.exists(os.path.join(path, _META_FILE)):
        raise ValueError(
            f"index at {path} already carries fingerprint parameters; "
            f"refusing to restamp — rebuild with bootstrap_index to "
            f"change schemes")
    _write_meta(path, n, num_hashes, bands)


def _check_meta(path: str, n: int, num_hashes: int, bands: int) -> None:
    """Fingerprint parameters are part of the index's identity: an
    absorb with different (n, num_hashes, bands) would hash into a
    DISJOINT bucket space — every duplicate silently declared novel
    and the index permanently poisoned with two incompatible schemes.
    The persisted meta makes that a loud error instead.

    A PRE-meta index (built before the stamp existed) must ALWAYS go
    through stamp_index_params (the explicit migrate step) first —
    even when the absorb call uses the library defaults.  NO call can
    prove it matches the index: an earlier revision let default-param
    calls adopt silently, but that left one poisoning path open — a
    pre-meta index actually built with non-default params, first
    absorbed post-upgrade by a default-param caller, would get stamped
    with the wrong (default) scheme, the exact disjoint-bucket-space
    poisoning this guard exists to prevent, just inverted.  Only the
    operator who knows the build params can stamp; the one-time
    loudness for default-built indexes is the price of closing it."""
    import json
    mp = os.path.join(path, _META_FILE)
    want = {"n": n, "num_hashes": num_hashes, "bands": bands}
    if not os.path.exists(mp):
        raise ValueError(
            f"index at {path} predates parameter stamping; run "
            f"stamp_index_params(path, n=..., num_hashes=..., "
            f"bands=...) ONCE with the params the index was actually "
            f"built with (defaults were {_FP_DEFAULTS}), or rebuild "
            f"with bootstrap_index")
    with open(mp) as f:
        have = json.load(f)
    if have != want:
        raise ValueError(
            f"fingerprint-parameter mismatch: index at {path} was built "
            f"with {have}, this call uses {want}; rebuild the index or "
            f"match its parameters")


def bootstrap_index(df: DataFrame, id_col: str, text_col: str, path: str,
                    n: int = 3, num_hashes: int = 48,
                    bands: int = 16) -> None:
    """Overwrite-build the index and stamp its fingerprint parameters."""
    write_index(fingerprint_tables(df, id_col, text_col, n, num_hashes,
                                   bands, materialize=True),
                path, mode="overwrite")
    _write_meta(path, n, num_hashes, bands)


def absorb_batch(new_df: DataFrame, id_col: str, text_col: str,
                 index_path: str, threshold: float = 0.4, n: int = 3,
                 num_hashes: int = 48, bands: int = 16) -> DataFrame:
    """One ingest step: dedup `new_df` against the persisted index, then
    append the NOVEL docs' fingerprints (docs with no dup verdict AND
    not already absorbed) so later batches dedup against them too.
    Returns the verdicts (doc_id, dup_of, jaccard), materialized BEFORE
    the index append so the lazy plan can never observe its own writes.

    Idempotent at batch granularity: a doc already present in the index
    (`sizes` probe — one row per doc, the cheapest id set) is never
    re-appended, so an at-least-once replay of an absorbed batch
    appends nothing; the novel set is checkpointed so the three table
    writes fingerprint the batch exactly once."""
    spark = new_df.sparkSession
    _check_meta(index_path, n, num_hashes, bands)
    index = read_index(spark, index_path)
    verdicts = incremental_dedup_pairs(
        new_df, id_col, text_col, index, threshold, n, num_hashes,
        bands).localCheckpoint(eager=True)
    dup_ids = verdicts.select(F.col("doc_id").alias(id_col)).distinct()
    known_ids = index["sizes"].select(F.col("id").alias(id_col)).distinct()
    novel = (new_df.join(dup_ids, id_col, "left_anti")
             .join(known_ids, id_col, "left_anti")
             .localCheckpoint(eager=True))
    if novel.isEmpty():
        return verdicts
    write_index(fingerprint_tables(novel, id_col, text_col, n, num_hashes,
                                   bands, materialize=True),
                index_path, mode="append")
    return verdicts


def snapshot_diff(old: DataFrame, new: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
    """Corpus snapshot diff — the dataset-versioning audit every
    periodic corpus rebuild publishes: per document id, whether it was
    added, removed, changed (content hash differs) or unchanged
    between two snapshots.  One full outer join on the id with md5
    content fingerprints computed scan-side; at 100 TB both legs are
    one pass and the join keys are the natural document ids (co-
    partitioned if both snapshots share layout — zero extra shuffle
    when bucketed by id, the `bucketed_tables` idiom above).

    Returns one row per id in either snapshot: (id, status)."""
    o = old.select(F.col(id_col).alias("id"),
                   F.md5(F.col(text_col)).alias("h_old"),
                   F.lit(True).alias("in_old"))
    n = new.select(F.col(id_col).alias("id"),
                   F.md5(F.col(text_col)).alias("h_new"),
                   F.lit(True).alias("in_new"))
    j = o.join(n, "id", "full_outer")
    # presence comes from join-side MARKERS, never from hash nullity —
    # md5(NULL text) is NULL, so a present-but-null-text document would
    # otherwise masquerade as added/removed
    status = (F.when(F.col("in_old").isNull(), "added")
              .when(F.col("in_new").isNull(), "removed")
              .when(~F.col("h_old").eqNullSafe(F.col("h_new")), "changed")
              .otherwise("unchanged"))
    return j.select("id", status.alias("status"))
