"""Incremental dedup against a persisted fingerprint index: verdicts,
append-only index discipline and replay safety (per-batch cost
O(batch) — the corpus is never re-fingerprinted)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from janusgraph_clickhouse_spark.llm import incremental as I

A_DOCS = [(1, "a b c d e f g h"), (2, "x y z w q r s t")]
B_DOCS = [(11, "a b c d e f g h"),          # exact dup of doc 1
          (12, "m n o p mm nn oo pp")]      # novel
C_DOCS = [(21, "m n o p mm nn oo pp")]      # dup of doc 12 (batch B!)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _index_files(path):
    out = {}
    for t in I.INDEX_TABLES:
        d = os.path.join(path, t)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.stat(p).st_mtime_ns
    return out


def test_incremental_pairs_old_side_only(spark):
    """Verdicts compare new×old ONLY — identical docs inside the batch
    produce no pair, and corpus-internal dups are ignored."""
    old = _df(spark, A_DOCS + [(3, "a b c d e f g h")])  # 1,3 corpus dups
    new = _df(spark, [(11, "a b c d e f g h"),
                      (13, "a b c d e f g h")])          # batch dups too
    idx = I.fingerprint_tables(old, "doc_id", "text")
    got = {(r.doc_id, r.dup_of, r.jaccard)
           for r in I.incremental_dedup_pairs(
               new, "doc_id", "text", idx, threshold=0.4).collect()}
    # each new doc matches BOTH old copies; no (11,13) or (1,3) rows
    assert got == {(11, 1, 1.0), (11, 3, 1.0), (13, 1, 1.0), (13, 3, 1.0)}


def test_absorb_batches_append_only(spark, tmp_path):
    """Absorbing batches must (a) dedup against everything absorbed so
    far — including earlier batches' novel docs, (b) only APPEND to the
    index: no existing part file is rewritten or touched."""
    path = str(tmp_path / "fpindex")
    I.bootstrap_index(_df(spark, A_DOCS), "doc_id", "text", path)
    before_b = _index_files(path)

    vb = {(r.doc_id, r.dup_of) for r in I.absorb_batch(
        _df(spark, B_DOCS), "doc_id", "text", path).collect()}
    assert vb == {(11, 1)}
    after_b = _index_files(path)
    assert set(before_b) <= set(after_b)          # nothing deleted
    assert all(after_b[f] == m for f, m in before_b.items())  # untouched
    assert len(after_b) > len(before_b)           # novel doc 12 absorbed

    # C's doc 21 dups B's novel doc 12 — only catchable if the absorb
    # actually extended the index
    vc = {(r.doc_id, r.dup_of) for r in I.absorb_batch(
        _df(spark, C_DOCS), "doc_id", "text", path).collect()}
    assert vc == {(21, 12)}
    after_c = _index_files(path)
    assert all(after_c[f] == m for f, m in after_b.items())
    # doc 21 was a dup → NOT absorbed: a later identical doc still
    # resolves to the canonical 12
    vd = {(r.doc_id, r.dup_of) for r in I.absorb_batch(
        _df(spark, [(31, "m n o p mm nn oo pp")]), "doc_id", "text",
        path).collect()}
    assert vd == {(31, 12)}
    # the index absorbed exactly the novel doc 12 (21 and 31 were dups)
    ids = {r.id for r in
           I.read_index(spark, path)["sizes"].select("id").collect()}
    assert ids == {1, 2, 12}


def test_absorb_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-absorbing an already-absorbed
    batch must append NOTHING (the sizes probe sees every doc) and must
    not emit self-pair verdicts for the batch's own absorbed docs."""
    path = str(tmp_path / "fpindex")
    I.bootstrap_index(_df(spark, A_DOCS), "doc_id", "text", path)
    v1 = {(r.doc_id, r.dup_of, r.jaccard) for r in I.absorb_batch(
        _df(spark, B_DOCS), "doc_id", "text", path).collect()}
    after_first = _index_files(path)
    v2 = {(r.doc_id, r.dup_of, r.jaccard) for r in I.absorb_batch(
        _df(spark, B_DOCS), "doc_id", "text", path).collect()}
    assert v1 == v2 == {(11, 1, 1.0)}
    assert _index_files(path) == after_first  # byte-identical index


def test_torn_append_heals_on_replay(spark, tmp_path):
    """Crash between the three table appends: bucket/shingle rows exist
    without a sizes row.  The torn doc must stay invisible to verdicts,
    be re-absorbed as novel on replay, and the duplicate rows the tear
    left must not inflate any Jaccard above its true value."""
    path = str(tmp_path / "fpindex")
    I.bootstrap_index(_df(spark, A_DOCS), "doc_id", "text", path)
    batch = _df(spark, [(12, "m n o p mm nn oo pp")])
    fp = I.fingerprint_tables(batch, "doc_id", "text", materialize=True)
    # simulate the tear: buckets + shingles land, sizes never does
    for t in ("buckets", "shingles"):
        fp[t].write.mode("append").parquet(os.path.join(path, t))
    # torn doc invisible: a dup of 12 gets NO verdict yet
    probe = _df(spark, [(21, "m n o p mm nn oo pp")])
    idx = I.read_index(spark, path)
    assert I.incremental_dedup_pairs(
        probe, "doc_id", "text", idx).count() == 0
    # replay absorbs 12 fully (novel per the sizes probe)
    assert I.absorb_batch(batch, "doc_id", "text", path).count() == 0
    dup_sh = (I.read_index(spark, path)["shingles"]
              .filter(F.col("id") == 12))
    assert dup_sh.count() > dup_sh.distinct().count()  # tear left dups
    # duplicated index rows must not inflate jaccard past 1.0
    got = {(r.doc_id, r.dup_of, r.jaccard) for r in I.absorb_batch(
        probe, "doc_id", "text", path).collect()}
    assert got == {(21, 12, 1.0)}


def test_replay_emits_no_batch_internal_pairs(spark, tmp_path):
    """Two novel near-identical docs in ONE batch: the first run emits
    no verdicts; a replay (docs now in the index from the first
    absorb) must STILL emit none — the old side excludes the current
    batch's ids (r7 review: the replay previously matched the two
    against each other's absorbed fingerprints, and a consumer
    dropping every verdict-carrying doc would delete BOTH copies)."""
    from janusgraph_clickhouse_spark.llm.incremental import (
        absorb_batch, bootstrap_index)
    idx = str(tmp_path / "fpidx")
    seed = spark.createDataFrame(
        [(1, "completely unrelated seed text about mountains and rivers")],
        "doc_id long, text string")
    bootstrap_index(seed, "doc_id", "text", idx)
    txt = "the quick brown fox jumps over the lazy dog again and again"
    batch = spark.createDataFrame(
        [(11, txt), (12, txt + " extra")], "doc_id long, text string")
    first = absorb_batch(batch, "doc_id", "text", idx)
    assert first.count() == 0
    replay = absorb_batch(batch, "doc_id", "text", idx)
    assert replay.count() == 0


def test_absorb_rejects_mismatched_fingerprint_params(spark, tmp_path):
    """Different (bands, num_hashes) on absorb vs bootstrap hash into a
    disjoint bucket space - every dup silently declared novel; the
    persisted meta makes it a loud error (r7 review)."""
    import pytest
    from janusgraph_clickhouse_spark.llm.incremental import (
        absorb_batch, bootstrap_index)
    idx = str(tmp_path / "fpidx")
    df = spark.createDataFrame([(1, "a b c d e f g")],
                               "doc_id long, text string")
    bootstrap_index(df, "doc_id", "text", idx, bands=16)
    with pytest.raises(ValueError, match="parameter mismatch"):
        absorb_batch(df, "doc_id", "text", idx, bands=12)


def test_premeta_index_requires_explicit_stamp(spark, tmp_path):
    """A pre-meta index (no _FP_PARAMS file) must NOT adopt ANY first
    caller's params — not even the defaults: a pre-meta index actually
    built with non-default params, first absorbed post-upgrade by a
    default-param caller, would otherwise get stamped with the wrong
    (default) scheme — the poisoning path inverted (r8 review, closed
    fully in r9).  Every pre-meta index goes through
    stamp_index_params, which itself refuses to restamp an
    already-stamped index."""
    import os
    import pytest
    from janusgraph_clickhouse_spark.llm.incremental import (
        _META_FILE, absorb_batch, bootstrap_index, stamp_index_params)
    idx = str(tmp_path / "fpidx")
    df = spark.createDataFrame([(1, "a b c d e f g h i j k")],
                               "doc_id long, text string")
    bootstrap_index(df, "doc_id", "text", idx, bands=12)
    os.remove(os.path.join(idx, _META_FILE))   # simulate pre-meta index
    with pytest.raises(ValueError, match="predates parameter stamping"):
        absorb_batch(df, "doc_id", "text", idx, bands=12)
    stamp_index_params(idx, n=3, num_hashes=48, bands=12)
    assert absorb_batch(df, "doc_id", "text", idx, bands=12).count() == 0
    with pytest.raises(ValueError, match="refusing to restamp"):
        stamp_index_params(idx, n=3, num_hashes=48, bands=16)
    # a DEFAULT-param call on a pre-meta index is loud too (the index
    # may have been BUILT with non-default params — only the operator
    # can know), and absorbs normally once stamped
    idx2 = str(tmp_path / "fpidx2")
    bootstrap_index(df, "doc_id", "text", idx2)
    os.remove(os.path.join(idx2, _META_FILE))
    with pytest.raises(ValueError, match="predates parameter stamping"):
        absorb_batch(df, "doc_id", "text", idx2)
    stamp_index_params(idx2, n=3, num_hashes=48, bands=16)
    assert absorb_batch(df, "doc_id", "text", idx2).count() == 0
    assert os.path.exists(os.path.join(idx2, _META_FILE))


def test_shingle_less_docs_become_known(spark, tmp_path):
    """A doc too short to shingle gets a sizes row (sz=0), so a replay
    appends nothing instead of re-absorbing it forever (r7 review)."""
    import os
    from janusgraph_clickhouse_spark.llm.incremental import (
        absorb_batch, bootstrap_index)
    idx = str(tmp_path / "fpidx")
    seed = spark.createDataFrame([(1, "long enough seed text here ok")],
                                 "doc_id long, text string")
    bootstrap_index(seed, "doc_id", "text", idx)
    short = spark.createDataFrame([(5, "hi")], "doc_id long, text string")
    absorb_batch(short, "doc_id", "text", idx)
    files_after_first = sorted(
        os.listdir(os.path.join(idx, "sizes")))
    absorb_batch(short, "doc_id", "text", idx)   # replay
    files_after_replay = sorted(
        os.listdir(os.path.join(idx, "sizes")))
    assert files_after_first == files_after_replay
