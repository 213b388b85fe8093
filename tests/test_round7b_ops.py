"""Closed-form unit tests for the late round-7 operators: exact bitmap
segment overlap, grouping sets, vocab JS drift, priority dedup,
overlapping chunking."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_segment_overlap_matrix_closed_form(spark):
    from janusgraph_clickhouse_spark.functions.bitmaps import (
        segment_overlap_matrix)
    # A={1,2,3}, B={2,3,4}, C={9} (disjoint from both)
    rows = [("A", 1), ("A", 2), ("A", 3), ("A", 3),   # dup row collapses
            ("B", 2), ("B", 3), ("B", 4), ("C", 9)]
    df = spark.createDataFrame(rows, "seg string, uid long")
    out = {(r.seg_a, r.seg_b): r for r in
           segment_overlap_matrix(df, "uid", "seg").collect()}
    ab = out[("A", "B")]
    assert (ab.n_a, ab.n_b, ab.n_inter, ab.n_union) == (3, 3, 2, 4)
    assert ab.jaccard == 0.5
    # zero-intersection pairs are KEPT with jaccard 0
    ac = out[("A", "C")]
    assert (ac.n_inter, ac.n_union, ac.jaccard) == (0, 4, 0.0)
    assert len(out) == 3


def test_segment_overlap_min_rows_threshold(spark):
    from janusgraph_clickhouse_spark.functions.bitmaps import (
        segment_members)
    rows = [("A", 1)] * 3 + [("A", 2)] * 1 + [("B", 1)] * 2
    df = spark.createDataFrame(rows, "seg string, uid long")
    m = {(r.seg, r.mid) for r in
         segment_members(df, "uid", "seg", min_rows=2).collect()}
    assert m == {("A", 1), ("B", 1)}   # (A,2) below threshold


def test_vocab_js_drift_identical_and_disjoint(spark):
    from janusgraph_clickhouse_spark.llm.text import vocab_js_drift
    rows = [(0, "a b c", "s1"), (1, "a b c", "s2"),   # identical dists
            (2, "x y z", "s3")]                        # disjoint vocab
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {(r.source_a, r.source_b): r for r in
           vocab_js_drift(df, "text", "src").collect()}
    assert out[("s1", "s2")].js_divergence == 0.0
    assert out[("s1", "s2")].shared_vocab == 3
    # disjoint support → JS = ln 2 exactly
    assert out[("s1", "s3")].shared_vocab == 0
    assert out[("s1", "s3")].js_divergence == round(math.log(2.0), 6)
    assert len(out) == 3


def test_vocab_js_drift_hand_computed(spark):
    from janusgraph_clickhouse_spark.llm.text import vocab_js_drift
    # P: a,a,b → p(a)=2/3, p(b)=1/3 ; Q: a,b,b → mirror
    df = spark.createDataFrame(
        [(0, "a a b", "p"), (1, "a b b", "q")],
        "doc_id long, text string, src string")
    r = vocab_js_drift(df, "text", "src").collect()[0]
    p, q, m = 2 / 3, 1 / 3, 1 / 2
    expected = 0.5 * (p * math.log(p / m) + q * math.log(q / m)
                      + q * math.log(q / m) + p * math.log(p / m))
    assert r.js_divergence == pytest.approx(expected, abs=2e-6)
    assert r.shared_vocab == 2


def test_priority_dedup_keep_order(spark):
    from janusgraph_clickhouse_spark.llm.dedup import priority_dedup
    rows = [(1, "same text", "crawl"), (2, "same text", "wiki"),
            (3, "same text", "forum"), (4, "only once", "crawl")]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {r.doc_id: r for r in
           priority_dedup(df, "doc_id", "text", "src",
                          priority=["wiki", "forum"]).collect()}
    # wiki (rank 0) beats forum (1) beats unlisted crawl (2)
    assert set(out) == {2, 4}
    assert out[2].source == "wiki" and out[2].src_rank == 0
    assert out[2].n_copies == 3 and out[2].n_sources == 3
    assert out[4].src_rank == 2 and out[4].n_copies == 1


def test_priority_dedup_prefix_key_and_id_tiebreak(spark):
    from janusgraph_clickhouse_spark.llm.dedup import priority_dedup
    rows = [(5, "a b c tail-one", "crawl"),
            (2, "a b c tail-two", "crawl"),   # same 3-word prefix
            (9, "x y z other", "crawl")]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {r.doc_id: r for r in
           priority_dedup(df, "doc_id", "text", "src", priority=[],
                          prefix_words=3).collect()}
    # equal rank → min id wins the prefix group
    assert set(out) == {2, 9}
    assert out[2].n_copies == 2


def test_overlap_chunks_closed_form(spark):
    from janusgraph_clickhouse_spark.llm.text import overlap_chunks
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5"), (2, ""), (3, "solo")],
        "doc_id long, text string")
    out = overlap_chunks(df, "doc_id", "text",
                         chunk_words=3, stride=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 0,2,4 → "w1 w2 w3", "w3 w4 w5", "w5"
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [(r.chunk_id, r.start_word, r.chunk_len, r.chunk_text)
            for r in c1] == [(0, 0, 3, "w1 w2 w3"),
                             (1, 2, 3, "w3 w4 w5"),
                             (2, 4, 1, "w5")]
    assert 2 not in by_doc               # zero-word doc → zero chunks
    assert [(r.chunk_id, r.chunk_len, r.chunk_text)
            for r in by_doc[3]] == [(0, 1, "solo")]


def test_overlap_chunks_rejects_lossy_stride(spark):
    from janusgraph_clickhouse_spark.llm.text import overlap_chunks
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="would drop"):
        overlap_chunks(df, "doc_id", "text", chunk_words=2, stride=3)
    with pytest.raises(ValueError, match="stride"):
        overlap_chunks(df, "doc_id", "text", chunk_words=2, stride=0)


def test_overlap_chunks_coverage_invariant(spark):
    """Every word index of every doc is covered by ≥1 chunk, and
    consecutive chunks overlap by exactly chunk_words - stride."""
    from janusgraph_clickhouse_spark.llm.text import overlap_chunks
    df = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(n)))
         for i, n in enumerate([1, 7, 8, 9, 24, 25])],
        "doc_id long, text string")
    out = overlap_chunks(df, "doc_id", "text", chunk_words=8, stride=5)
    rows = out.collect()
    covered = {}
    for r in rows:
        covered.setdefault(r.doc_id, set()).update(
            range(r.start_word, r.start_word + r.chunk_len))
    for i, n in enumerate([1, 7, 8, 9, 24, 25]):
        assert covered[i] == set(range(n)), f"doc {i} coverage hole"


def test_grouping_sets_plan_single_aggregate(spark, sf_smoke):
    """q52 stays ONE hash-aggregate pass (Expand before the shuffle),
    and its set list is exactly the three declared sets."""
    import __spark_entry__ as entry_mod
    df = entry_mod.queries()["q52_grouping_sets"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    rows = df.collect()
    gids = {r.gid for r in rows}
    assert gids == {0, 1, 3}   # (pri,status)=0, (pri)=1, ()=3


def test_sssp_weighted_prefers_cheap_long_path(spark):
    """Diamond: 1→4 direct costs 10; 1→2→3→4 costs 3 — the weighted
    min must take the 3-hop path (BFS semantics would answer 1 hop)."""
    from janusgraph_clickhouse_spark.graph.algorithms import sssp_weighted
    from janusgraph_clickhouse_spark.graph.model import PropertyGraph
    edges = spark.createDataFrame(
        [(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 2)],
        "src long, dst long, w long")
    verts = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    g = PropertyGraph(verts, edges)
    d = {r.id: r.dist for r in
         sssp_weighted(g, [1], weight_col="w", max_iter=10).collect()}
    assert d == {1: 0, 2: 1, 3: 2, 4: 3, 5: 5}


def test_sssp_weighted_undirected_and_unreached(spark):
    from janusgraph_clickhouse_spark.graph.algorithms import sssp_weighted
    from janusgraph_clickhouse_spark.graph.model import PropertyGraph
    edges = spark.createDataFrame([(2, 1, 4), (9, 10, 1)],
                                  "src long, dst long, w long")
    verts = spark.createDataFrame([(i,) for i in (1, 2, 9, 10)], "id long")
    g = PropertyGraph(verts, edges)
    # directed: edge points INTO the source's component only
    d = {r.id: r.dist for r in
         sssp_weighted(g, [1], "w", max_iter=5).collect()}
    assert d == {1: 0}           # unreached vertices are absent, not inf
    d = {r.id: r.dist for r in
         sssp_weighted(g, [1], "w", max_iter=5,
                       directed=False).collect()}
    assert d == {1: 0, 2: 4}


def test_sssp_weighted_loud_nonconvergence(spark):
    """A negative-weight cycle keeps improving forever — the operator
    must raise, never return silently-truncated distances."""
    from janusgraph_clickhouse_spark.graph.algorithms import sssp_weighted
    from janusgraph_clickhouse_spark.graph.model import PropertyGraph
    edges = spark.createDataFrame([(1, 2, -1), (2, 1, -1)],
                                  "src long, dst long, w long")
    verts = spark.createDataFrame([(1,), (2,)], "id long")
    g = PropertyGraph(verts, edges)
    with pytest.raises(ValueError, match="did not converge"):
        sssp_weighted(g, [1], "w", max_iter=4)


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """MOSS guarantee: a shared run of ≥ k + window − 1 words leaves at
    least one shared fingerprint — for ANY surrounding text."""
    from janusgraph_clickhouse_spark.llm.dedup import (winnow_fingerprints,
                                                       winnow_pairs)
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = 5+4-1
    rows = [(1, "p1 p2 p3 " + shared + " s1 s2"),
            (2, "q1 " + shared + " t1 t2 t3 t4"),
            (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, "doc_id", "text", k=5, window=4)
    s1 = {r.fp for r in fps.filter("id = 1").collect()}
    s2 = {r.fp for r in fps.filter("id = 2").collect()}
    assert s1 & s2, "shared 8-word run left no shared fingerprint"
    pairs = winnow_pairs(df, "doc_id", "text", k=5, window=4,
                         min_shared=1).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 2)}


def test_winnow_short_doc_and_hot_cap(spark):
    from janusgraph_clickhouse_spark.llm.dedup import (winnow_fingerprints,
                                                       winnow_pairs)
    # 7 words < k + window - 1 = 8 → no full window → no fingerprints
    df = spark.createDataFrame([(1, "a b c d e f g")],
                               "doc_id long, text string")
    assert winnow_fingerprints(df, "doc_id", "text", 5, 4).count() == 0
    # a fingerprint present in EVERY doc is dropped by the df cap
    boiler = "x1 x2 x3 x4 x5 x6 x7 x8"
    many = [(i, boiler) for i in range(5)]
    df2 = spark.createDataFrame(many, "doc_id long, text string")
    assert winnow_pairs(df2, "doc_id", "text", 5, 4, min_shared=1,
                        max_fp_df=4).count() == 0   # df=5 > cap 4
    assert winnow_pairs(df2, "doc_id", "text", 5, 4, min_shared=1,
                        max_fp_df=5).count() == 10  # all C(5,2) pairs


def test_cms_weighted_equals_exact_on_sparse_keys(spark):
    """With few keys and weighted counters, every estimate is still
    ≥ the exact weighted sum, and equals it when no bucket collides."""
    from janusgraph_clickhouse_spark.functions.sketches import (
        cms_heavy_hitters)
    rows = [("a", 5), ("a", 7), ("b", 100), ("c", 1)]
    df = spark.createDataFrame(rows, "k string, wgt long")
    out = {r.key: r for r in
           cms_heavy_hitters(df, "k", k=10, weight_col="wgt").collect()}
    assert out["a"].exact_cnt == 12
    assert out["b"].exact_cnt == 100
    for r in out.values():
        assert r.cms_estimate >= r.exact_cnt
        assert r.overcount == r.cms_estimate - r.exact_cnt


def test_cms_weighted_rejects_fractional_and_negative(spark):
    """A fractional weight would silently truncate under a bare long
    cast (diverging from a floor(x*100+0.5) oracle); a negative weight
    silently voids the CMS never-underestimate guarantee.  Both raise
    per row instead (r8 review)."""
    import pytest
    from janusgraph_clickhouse_spark.functions.sketches import (
        cms_heavy_hitters)
    frac = spark.createDataFrame([("a", 1.5)], "k string, wgt double")
    with pytest.raises(Exception, match="non-negative integer"):
        cms_heavy_hitters(frac, "k", k=5, weight_col="wgt").collect()
    neg = spark.createDataFrame([("a", -2)], "k string, wgt long")
    with pytest.raises(Exception, match="non-negative integer"):
        cms_heavy_hitters(neg, "k", k=5, weight_col="wgt").collect()
    # integral doubles are fine (the quantize-to-cents output shape)
    ok = spark.createDataFrame([("a", 3.0), ("a", 2.0)],
                               "k string, wgt double")
    row = cms_heavy_hitters(ok, "k", k=5, weight_col="wgt").collect()[0]
    assert row.exact_cnt == 5


def test_weighted_quantiles_null_values_and_negative_weights(spark):
    """NULL values are filtered (Spark windows sort NULLS FIRST, DuckDB
    NULLS LAST — a NULL row would shift every cumulative weight
    differently per engine); negative weights raise per row (r8
    review)."""
    import pytest
    from janusgraph_clickhouse_spark.functions.sketches import (
        weighted_quantiles)
    df = spark.createDataFrame(
        [("g", None, 100), ("g", 10, 1), ("g", 20, 1), ("g", 30, 2)],
        "g string, c int, w long")
    out = {r.pct: r.q_value for r in
           weighted_quantiles(df, "c", "w", ["g"], [50, 99]).collect()}
    # NULL row ignored entirely: W=4, p50 rank=2 -> 20, p99 rank=4 -> 30
    assert out == {50: 20, 99: 30}
    neg = spark.createDataFrame([("g", 10, -1)], "g string, c int, w long")
    with pytest.raises(Exception, match="negative weight"):
        weighted_quantiles(neg, "c", "w", ["g"], [50]).collect()


def test_incremental_hll_state_equals_direct(spark, tmp_path):
    """Chunked incremental register maintenance must equal the one-shot
    sketch (merge associativity), and a replayed batch id is a no-op
    (version protocol) — merge idempotence also holds by max()."""
    import os

    from janusgraph_clickhouse_spark.functions.sketches import (
        hll_registers)
    from janusgraph_clickhouse_spark.streaming.ops import (
        _hll_merge, _hll_reduce, _merge_state_batch, read_rollup)
    fold = (_hll_reduce, _hll_merge)
    ev = spark.createDataFrame(
        [(i, i % 37, "2024-01-01 %02d:10:00" % (i % 4)) for i in range(200)],
        "event_id long, user_id long, s string").withColumn(
            "ts", F.to_timestamp("s")).drop("s")
    state = str(tmp_path / "state")
    # three manual micro-batches through the SAME merge step the
    # streaming query uses
    for bid, pred in enumerate(["event_id % 3 = 0", "event_id % 3 = 1",
                                "event_id % 3 = 2"]):
        _merge_state_batch(spark, ev.filter(pred), bid, state, *fold)
    direct = hll_registers(
        ev.withColumn("h", F.unix_timestamp(
            F.date_trunc("hour", F.col("ts")))), "user_id", ["h"])
    got = {(r.h, r.bucket): r.m for r in read_rollup(spark, state).collect()}
    want = {(r.h, r.bucket): r.m for r in direct.collect()}
    assert got == want
    # replay of an already-committed batch id leaves CURRENT untouched
    before = open(os.path.join(state, "CURRENT")).read()
    _merge_state_batch(spark, ev.limit(5), 1, state, *fold)
    assert open(os.path.join(state, "CURRENT")).read() == before
    assert {(r.h, r.bucket): r.m
            for r in read_rollup(spark, state).collect()} == want


def test_state_dir_bound_to_checkpoint(tmp_path):
    from janusgraph_clickhouse_spark.streaming.ops import (
        _bind_state_to_checkpoint)
    state = str(tmp_path / "s")
    _bind_state_to_checkpoint(state, str(tmp_path / "ckpt_a"))
    _bind_state_to_checkpoint(state, str(tmp_path / "ckpt_a"))  # same: ok
    with pytest.raises(ValueError, match="cannot hold across checkpoints"):
        _bind_state_to_checkpoint(state, str(tmp_path / "ckpt_b"))


def test_embedding_outliers_closed_form(spark):
    """Label A: three vectors at (0,0), (0,0), (0,9) — the (0,9) point
    is the unique farthest from the rounded centroid (0,3)."""
    from janusgraph_clickhouse_spark.llm.similarity import (
        embedding_outliers)
    rows = [(1, [0.0, 0.0], "A"), (2, [0.0, 0.0], "A"),
            (3, [0.0, 9.0], "A"), (4, [1.0, 1.0], "B")]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    out = {(r.label, r.vec_id): r.dist2_micro2 for r in
           embedding_outliers(df, "vec_id", "embedding", "label",
                              top=1).collect()}
    # centroid A = (0, 3e6) exactly; dist²(3) = (9e6-3e6)² = 3.6e13
    assert out == {("A", 3): 36_000_000_000_000, ("B", 4): 0}


def test_embedding_outliers_integer_rank_ties(spark):
    """Equidistant vectors tie on the EXACT integer distance and break
    on id — no float ulp can reorder them."""
    from janusgraph_clickhouse_spark.llm.similarity import (
        embedding_outliers)
    rows = [(10, [1.0], "g"), (11, [-1.0], "g"), (12, [0.0], "g")]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    out = embedding_outliers(df, "vec_id", "embedding", "label",
                             top=2).collect()
    assert [(r.vec_id, r.dist2_micro2) for r in
            sorted(out, key=lambda r: r.vec_id)] == [
        (10, 1_000_000_000_000), (11, 1_000_000_000_000)]


def test_top_event_paths_deterministic_assembly(spark, sf_smoke):
    """The path string must follow (ts, event_id) order, not
    collect_list arrival order — rerun must agree exactly."""
    import __spark_entry__ as entry_mod
    fn = entry_mod.queries()["q54_top_event_paths"]
    a = [(r.path, r.n_users) for r in fn(spark, sf_smoke).collect()]
    b = [(r.path, r.n_users) for r in fn(spark, sf_smoke).collect()]
    assert a == b and len(a) > 0
    for path, _ in a:
        assert 1 <= len(path.split(">")) <= 8


def test_conditional_aggregates_empty_group_semantics(spark):
    """A group with no matching rows yields count 0, sum 0, NULL
    min/max/avg — the FILTER semantics the oracle shares."""
    from pyspark.sql import functions as F
    rows = [("g1", "F", 10.0), ("g1", "O", 99.0), ("g2", "O", 5.0)]
    df = spark.createDataFrame(rows, "g string, st string, v double")
    cents = F.floor(F.col("v") * 100 + F.lit(0.5)).cast("long")
    cond = F.col("st") == "F"
    cf = F.when(cond, cents)
    n_f = F.sum(F.when(cond, 1).otherwise(0)).cast("long")
    sum_f = F.coalesce(F.sum(cf), F.lit(0)).cast("long")
    out = {r.g: r for r in
           df.groupBy("g").agg(
               n_f.alias("n_f"), sum_f.alias("cents_f"),
               F.min(cf).cast("long").alias("min_f"),
               F.round(F.when(n_f > 0, sum_f.cast("double") / n_f), 6)
               .alias("avg_f")).collect()}
    assert (out["g1"].n_f, out["g1"].cents_f, out["g1"].min_f) == (1, 1000, 1000)
    assert (out["g2"].n_f, out["g2"].cents_f) == (0, 0)
    assert out["g2"].min_f is None and out["g2"].avg_f is None


def test_source_keyness_closed_form(spark):
    """Source A says 'x' 6 times of 12 words; corpus-wide 'x' is 6 of
    24 → pmi(x, A) = ln((6/12)/(6/24)) = ln 2."""
    import math
    from janusgraph_clickhouse_spark.llm.text import source_keyness
    a_text = "x x x x x x f f f f f f"          # 12 words
    b_text = "y y y y y y f f f f f f"          # 12 words
    df = spark.createDataFrame(
        [(1, a_text, "A"), (2, b_text, "B")],
        "doc_id long, text string, src string")
    out = {(r.source, r.term): r.pmi for r in
           source_keyness(df, "text", "src",
                          min_count=5, top=5).collect()}
    assert out[("A", "x")] == round(math.log(2.0), 6)
    assert out[("B", "y")] == round(math.log(2.0), 6)
    assert out[("A", "f")] == 0.0                # evenly spread term
    assert ("A", "y") not in out                 # below min_count in A


def test_temporal_reachability_respects_time_order(spark):
    """1→2 at t=5, 2→3 at t=3: vertex 3 is STATICALLY reachable but not
    time-respecting (its edge fired before 2 was reached); 2→4 at t=5
    (same instant as arrival) IS allowed."""
    from janusgraph_clickhouse_spark.graph.algorithms import (
        temporal_reachability)
    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 3), (2, 4, 5)], "src long, dst long, ts long")
    out = {r.id: r.arrival for r in
           temporal_reachability(edges, [1], start_ts=0,
                                 max_iter=8).collect()}
    assert out == {1: 0, 2: 5, 4: 5}


def test_temporal_reachability_earliest_of_many(spark):
    """Two time-respecting routes to 4 — arrival is the EARLIEST."""
    from janusgraph_clickhouse_spark.graph.algorithms import (
        temporal_reachability)
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 4, 9), (1, 3, 2), (3, 4, 4)],
        "src long, dst long, ts long")
    out = {r.id: r.arrival for r in
           temporal_reachability(edges, [1], start_ts=0,
                                 max_iter=8).collect()}
    assert out[4] == 4


def test_full_join_within_batch_semantics(spark):
    """Converted pair matches; unconverted click keeps a null right
    leg; a purchase with no in-window click keeps a null LEFT leg —
    the reconciliation rows a left join drops."""
    from janusgraph_clickhouse_spark.streaming.ops import full_join_within
    from tests.test_streaming import _attr_events
    ev = _attr_events(spark, [
        (1, 0, 7, "click"), (2, 120, 7, "purchase"),      # converts
        (3, 0, 8, "click"),                               # no purchase
        (4, 0, 9, "purchase"),                            # no click before
    ])
    got = sorted(((r.id_a, r.id_b, r.k)
                  for r in full_join_within(ev).collect()),
                 key=lambda t: (t[0] is None, t))
    assert got == [(1, 2, 7), (3, None, 8), (None, 4, 9)]


def test_streaming_full_join_emits_both_null_sides(spark, tmp_path):
    """True streaming: both unmatched sides emit once the watermark
    passes their horizons (dummy far-future events on both legs)."""
    from janusgraph_clickhouse_spark.streaming.ops import full_join_within
    from janusgraph_clickhouse_spark.streaming.ops import events_stream
    from tests.test_streaming import _attr_events, run_to_memory
    real = [
        (1, 0, 7, "click"), (2, 120, 7, "purchase"),
        (3, 0, 8, "click"),                   # unconverted → null right
        (4, 0, 9, "purchase"),                # unattributable → null left
    ]
    dummies = [(98, 86400, 998, "purchase"), (99, 86400, 999, "click")]
    ev = _attr_events(spark, real + dummies)
    d = str(tmp_path / "full_attr_events")
    ev.write.parquet(d)
    got = run_to_memory(full_join_within(events_stream(spark, d)),
                        mode="append")
    got_rows = {(r.id_a, r.id_b) for r in got.collect()}
    assert (1, 2) in got_rows
    assert (3, None) in got_rows       # null right leg emitted
    assert (None, 4) in got_rows       # null LEFT leg emitted


def test_late_r7_plan_shapes(spark, sf_smoke):
    """Scale-shape pins for the late-r7 operators: the only
    nested-loop joins are the documented tiny-matrix ones (segment /
    source totals frames); candidate machinery never goes Cartesian;
    l63's centroid table comes back via a broadcast hash join."""
    import __spark_entry__ as entry_mod
    qs = entry_mod.queries()

    p = qs["q51_bitmap_segments"](spark, sf_smoke) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p   # |segments|² frame is broadcast NLJ

    p = qs["l62_winnow_pairs"](spark, sf_smoke) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p  # pairing is a pure equi-join

    p = qs["l63_embedding_outliers"](spark, sf_smoke) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p      # centroid join must broadcast
    assert "CartesianProduct" not in p

    p = qs["g33_temporal_reachability"](spark, sf_smoke) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p

    # q56's exact side must stay the exploded-offset EQUI-join — the
    # OR-of-equalities form ran a BroadcastNestedLoopJoin over the
    # whole fact table (review finding)
    p = qs["q56_sliding_hll"](spark, sf_smoke) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_incremental_scd1_equals_direct_and_replay_noop(spark, tmp_path):
    import os

    from janusgraph_clickhouse_spark.streaming.ops import (
        _scd1_merge, _scd1_reduce, _merge_state_batch, read_rollup)
    fold = (_scd1_reduce, _scd1_merge)
    ev = spark.createDataFrame(
        [(i, i % 5, "t%d" % (i % 3), float(i),
          "2024-01-01 00:%02d:00" % (i % 60)) for i in range(40)],
        "event_id long, user_id long, event_type string, value double, "
        "s string").withColumn("ts", F.to_timestamp("s")).drop("s")
    state = str(tmp_path / "scd1")
    for bid, pred in enumerate(["event_id % 3 = 0", "event_id % 3 = 1",
                                "event_id % 3 = 2"]):
        _merge_state_batch(spark, ev.filter(pred), bid, state, *fold)
    got = {(r.user_id): (r.ts, r.event_id, r.event_type) for r in
           read_rollup(spark, state).collect()}
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())
    want = {r.user_id: (r.ts, r.event_id, r.event_type) for r in
            ev.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1").collect()}
    assert got == want
    # replaying an old batch id is a no-op
    before = open(os.path.join(state, "CURRENT")).read()
    _merge_state_batch(spark, ev.limit(3), 0, state, *fold)
    assert open(os.path.join(state, "CURRENT")).read() == before


def test_hll_sliding_equals_direct_window_sketch(spark):
    """The shift-union-merge of hourly states must equal sketching each
    trailing window directly from the facts (merge associativity over
    the window — the q56 claim)."""
    from janusgraph_clickhouse_spark.functions.sketches import (
        hll_registers, hll_sliding_estimate)
    ev = spark.createDataFrame(
        [(i, i % 29, 3600 * (i % 5)) for i in range(300)],
        "event_id long, user_id long, h long")
    regs = hll_registers(ev, "user_id", ["h"])
    got = {r.h: r.uniq_estimate for r in
           hll_sliding_estimate(regs, "h", step=3600,
                                window=3).collect()}
    from janusgraph_clickhouse_spark.functions.sketches import (
        hll_estimate_from_registers)
    hours = [r.h for r in regs.select("h").distinct().collect()]
    for h in hours:
        win = ev.filter(F.col("h").isin([h, h - 3600, h - 7200]))
        direct = hll_registers(win, "user_id", []) \
            .withColumn("h", F.lit(h))
        want = hll_estimate_from_registers(direct, ["h"]).collect()[0]
        assert got[h] == want.uniq_estimate, h


def test_length_ks_closed_form(spark):
    """A: lengths {1,1,2,2} vs B: {2,2,3,3} → CDFs step at 1 (.5 vs 0),
    2 (1 vs .5), 3 (1 vs 1) → KS = 0.5 at both x=1 and x=2."""
    from janusgraph_clickhouse_spark.llm.text import length_ks_drift
    def doc(n):
        return " ".join(["w"] * n)
    rows = ([(i, doc(1), "A") for i in range(2)]
            + [(10 + i, doc(2), "A") for i in range(2)]
            + [(20 + i, doc(2), "B") for i in range(2)]
            + [(30 + i, doc(3), "B") for i in range(2)])
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    r = length_ks_drift(df, "text", "src").collect()[0]
    assert (r.n_a, r.n_b) == (4, 4)
    assert r.d_max == 8           # |2*4 - 0*4| at x=1
    assert r.ks == 0.5
    # identical distributions → KS = 0
    df2 = spark.createDataFrame(
        [(1, doc(3), "X"), (2, doc(5), "X"),
         (3, doc(3), "Y"), (4, doc(5), "Y")],
        "doc_id long, text string, src string")
    r2 = length_ks_drift(df2, "text", "src").collect()[0]
    assert r2.ks == 0.0 and r2.d_max == 0


def test_segment_overlap_null_members_not_counted(spark):
    """NULL members/segments are excluded on BOTH sides of the
    algebra: sizes and intersections agree (count(DISTINCT)
    semantics), so n_union = n_a + n_b − n_inter always holds."""
    from janusgraph_clickhouse_spark.functions.bitmaps import (
        segment_overlap_matrix)
    rows = [("A", 1), ("A", None), ("B", 1), ("B", None), (None, 2)]
    df = spark.createDataFrame(rows, "seg string, uid long")
    out = segment_overlap_matrix(df, "uid", "seg").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_a, r.n_b, r.n_inter, r.n_union) == (1, 1, 1, 1)
    assert r.jaccard == 1.0


def test_leakage_free_split_quarantines_only_leaky_train(spark):
    """A train doc sharing a 3-gram with a test doc is quarantined; a
    clean train doc and every test doc keep their hash-bucket split;
    too-short docs cannot leak."""
    from janusgraph_clickhouse_spark.llm.split import (hash_bucket,
                                                       leakage_free_split)
    from pyspark.sql import functions as F
    rows = [(i, t) for i, t in [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma epsilon"),   # shares 'alpha beta gamma'
        (3, "zeta eta theta iota"),        # clean
        (4, "xy"),                         # too short to shingle
    ]]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.split for r in
           leakage_free_split(df, "doc_id", "text", train_pct=85,
                              n=3, salt="lfs").collect()}
    buckets = {r.doc_id: r.b for r in
               df.select("doc_id", hash_bucket("doc_id", 100, "lfs")
                         .alias("b")).collect()}
    test_ids = {i for i, b in buckets.items() if b >= 85}
    for i in out:
        if i in test_ids:
            assert out[i] == "test"
    train_ids = set(out) - test_ids
    # doc 4 can never be quarantined (no 3-grams)
    if 4 in train_ids:
        assert out[4] == "train"
    # if exactly one of doc1/doc2 is test, the other must be quarantined
    pair = {1, 2}
    if len(pair & test_ids) == 1:
        (tr,) = pair - test_ids
        assert out[tr] == "quarantined"
    elif not (pair & test_ids):
        assert out[1] == "train" and out[2] == "train"


def test_unpivot_single_expand_plan(spark, sf_smoke):
    """q58's melt must stay ONE Expand before the aggregate — never
    four scans of the fact table."""
    import __spark_entry__ as entry_mod
    df = entry_mod.queries()["q58_unpivot_measures"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert plan.count("FileScan parquet") == 1
    rows = {r.measure: r for r in df.collect()}
    assert set(rows) == {"l_quantity", "l_extendedprice",
                         "l_discount", "l_tax"}
    ns = {r.n for r in rows.values()}
    assert len(ns) == 1            # every measure sees every row
