"""Incremental dedup against a fingerprint index: verdicts compare the
batch with the index only, also when the index holds duplicated rows or
the batch's own ids (per-batch cost O(batch) — the corpus is never
re-fingerprinted)."""

from __future__ import annotations

from pyspark.sql import functions as F

from janusgraph_clickhouse_spark.llm import incremental as I

A_DOCS = [(1, "a b c d e f g h"), (2, "x y z w q r s t")]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(new, idx):
    return {(r.doc_id, r.dup_of, r.jaccard)
            for r in I.incremental_dedup_pairs(
                new, "doc_id", "text", idx, threshold=0.4).collect()}


def test_incremental_pairs_old_side_only(spark):
    """Verdicts compare new×old ONLY — identical docs inside the batch
    produce no pair, and corpus-internal dups are ignored."""
    old = _df(spark, A_DOCS + [(3, "a b c d e f g h")])  # 1,3 corpus dups
    new = _df(spark, [(11, "a b c d e f g h"),
                      (13, "a b c d e f g h")])          # batch dups too
    idx = I.fingerprint_tables(old, "doc_id", "text")
    # each new doc matches BOTH old copies; no (11,13) or (1,3) rows
    assert _pairs(new, idx) == {(11, 1, 1.0), (11, 3, 1.0),
                                (13, 1, 1.0), (13, 3, 1.0)}


def test_torn_append_heals_on_replay(spark):
    """An index kept by appending, torn by a crash between appends:
    bucket/shingle rows of doc 12 land without its sizes row.  The torn
    doc stays invisible to verdicts; once a replay appends its full
    fingerprint again, the duplicated rows the tear left must not
    inflate any Jaccard above its true value."""
    base = I.fingerprint_tables(_df(spark, A_DOCS), "doc_id", "text")
    fp = I.fingerprint_tables(_df(spark, [(12, "m n o p mm nn oo pp")]),
                              "doc_id", "text")
    torn = {t: (base[t].unionAll(fp[t]) if t != "sizes" else base[t])
            for t in base}
    probe = _df(spark, [(21, "m n o p mm nn oo pp")])
    assert _pairs(probe, torn) == set()
    healed = {t: torn[t].unionAll(fp[t]) for t in torn}
    dup_sh = healed["shingles"].filter(F.col("id") == 12)
    assert dup_sh.count() > dup_sh.distinct().count()  # tear left dups
    assert _pairs(probe, healed) == {(21, 12, 1.0)}


def test_replay_emits_no_batch_internal_pairs(spark):
    """Two novel near-identical docs in ONE batch emit no verdicts, and
    still emit none against an index that already holds them (a
    replayed batch): the old side excludes the current batch's ids, so
    a consumer dropping every verdict-carrying doc never deletes BOTH
    copies."""
    seed = _df(spark, [
        (1, "completely unrelated seed text about mountains and rivers")])
    txt = "the quick brown fox jumps over the lazy dog again and again"
    batch = _df(spark, [(11, txt), (12, txt + " extra")])
    first = I.fingerprint_tables(seed, "doc_id", "text")
    assert _pairs(batch, first) == set()
    replayed = I.fingerprint_tables(seed.unionAll(batch), "doc_id", "text")
    assert _pairs(batch, replayed) == set()


def test_shingle_less_docs_become_known(spark):
    """A doc too short to shingle still gets a sizes row (sz=0), so its
    id is known to the index and excluded as a batch id."""
    short = I.fingerprint_tables(_df(spark, [(5, "hi")]), "doc_id", "text")
    assert [tuple(r) for r in short["sizes"].collect()] == [(5, 0)]
    idx = I.fingerprint_tables(_df(spark, A_DOCS + [(5, "hi")]),
                               "doc_id", "text")
    assert _pairs(_df(spark, [(5, "hi")]), idx) == set()
