"""Incremental fuzzy dedup against a fingerprint index.

The operator a production ingest actually runs: a NEW batch of documents
is deduped against the existing corpus by joining the batch's MinHash
band buckets against the corpus's fingerprint index — per-batch shuffle
volume is O(batch), never a whole-corpus signature recompute.  This is
the same incremental-append discipline as the reference's mutate path
(ClickhouseKeyColumnValueStore.java:133-171: batched
delete-before-insert against the live table, never a table rewrite).

The index is three tables, as `fingerprint_tables` derives them (the
caller chooses whether to persist them, e.g. as parquet):

  buckets   (id, band, bucket)   LSH candidate lookup
  shingles  (id, shingle)        hashed shingle sets, exact rerank
  sizes     (id, sz)             shingle-set sizes for Jaccard

An index kept by appending may hold duplicated rows (a crash between
appends) or the batch's own ids (a replayed batch);
`incremental_dedup_pairs` gives the same verdicts either way.

Why exact rerank against index shingles rather than signature-estimated
Jaccard: the verdicts stay exactly reproducible (and DuckDB-oracle-able
— the oracle recomputes cross-side Jaccard from scratch), and the
rerank join touches only candidate docs' shingle rows.  The trade is
the shingle table's size (O(corpus tokens) × 8-byte hashes); an
estimate-only index would drop it at the cost of probabilistic
verdicts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_sets, signatures_from_shingles


def fingerprint_tables(df: DataFrame, id_col: str, text_col: str,
                       n: int = 3, num_hashes: int = 48,
                       bands: int = 16) -> dict[str, DataFrame]:
    """One corpus (or batch) → its three fingerprint tables.

    One shingle pass feeds the signature min-agg, the shingle table AND
    the sizes aggregate, and it is materialized first, so the three
    tables scan the source documents once, not once each."""
    from .dedup import _materialize, band_bucket_expr, check_band_params
    rows_per_band = num_hashes // bands
    check_band_params(num_hashes, bands, rows_per_band)
    # _materialize, not a bare localCheckpoint: honors the build-only
    # SPARK_GRAFT_NO_MATERIALIZE escape hatch (planlint/dumpplans
    # sessions) and the streaming guard
    sh = _materialize(shingle_sets(df, id_col, text_col, n))
    sig = signatures_from_shingles(sh, num_hashes)
    # the SHARED band-bucket expression (dedup.band_bucket_expr): the
    # index must hash buckets bit-identically to batch lsh_candidates
    # or the batch-vs-index join silently misses every indexed row
    buckets = sig.select(
        "id", band_bucket_expr("sig", bands, rows_per_band)
        .alias("band", "bucket"))
    # EVERY input doc gets a sizes row, sz=0 for docs too short to
    # shingle: incremental_dedup_pairs reads the batch's ids from it
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
    the current batch (not just self-pairs) — an index that already
    holds the batch's own docs (a replayed batch) would otherwise make
    two near-dups in one batch emit verdicts against each other.  The
    index side is also deduplicated AFTER the candidate restriction —
    duplicated index rows (a crash between appends) cannot inflate the
    intersection count or double-emit verdicts, and the distincts cost
    O(candidate docs), not O(index)."""
    fp = fingerprint_tables(new_df, id_col, text_col, n, num_hashes,
                            bands)
    batch_ids = fp["sizes"].select(F.col("id").alias("dup_of")).distinct()
    # shuffle_hash, batch side as build (r15): when the index tables are
    # in-plan derivations over a materialized shingle pass (the l30
    # registered form; index tables read from parquet are scan-derived
    # and unaffected), BOTH sides of this join are estimator-blind — an
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


def snapshot_diff(old: DataFrame, new: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
    """Corpus snapshot diff — the dataset-versioning audit every
    periodic corpus rebuild publishes: per document id, whether it was
    added, removed, changed (content hash differs) or unchanged
    between two snapshots.  One full outer join on the id with md5
    content fingerprints computed scan-side; at 100 TB both legs are
    one pass and the join keys are the natural document ids (co-
    partitioned if both snapshots share layout — zero extra shuffle
    when bucketed by id).

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
