"""Degenerate-input robustness pins: every graph operator must RETURN
(never raise) on the shapes fixtures never exercise.  Lives in its own
file so the suite's split-2 budget is unaffected (documented in
CLAUDE.md's split 3)."""

from __future__ import annotations
def test_degenerate_graphs_every_operator_returns(spark):
    """Robustness pin over the WHOLE graph-algorithm surface: every
    operator must RETURN (never raise) on an edgeless graph and on a
    self-loop-only graph — the degenerate shapes real corpora produce
    at partition boundaries and that fixtures never exercise.  The
    harmonic plan-time DIVIDE_BY_ZERO (ANSI constant folding of the
    seed frame's literal distance — fixed with try_divide) is exactly
    the bug class this guards."""
    import pyspark.sql.functions as F

    from janusgraph_clickhouse_spark.graph import algorithms as A
    from janusgraph_clickhouse_spark.graph.model import PropertyGraph

    def mk(edge_rows):
        schema = "src long, dst long, label string, weight double"
        e = spark.createDataFrame(edge_rows, schema)
        v = spark.createDataFrame([(1, "v", "1"), (2, "v", "2")],
                                  "id long, label string, name string")
        return PropertyGraph(v, e)

    ops = [
        ("pagerank", lambda g: A.pagerank(g, max_iter=3).collect()),
        ("ppr", lambda g: A.personalized_pagerank(
            g, [1], max_iter=3).collect()),
        ("hits", lambda g: A.hits(g, max_iter=2).collect()),
        ("cc", lambda g: A.connected_components(g).collect()),
        ("bfs", lambda g: A.bfs_distances(g, [1], max_hops=3).collect()),
        ("kcore", lambda g: A.k_core(g, k=2).collect()),
        ("lpa", lambda g: A.label_propagation(g, max_iter=2).collect()),
        ("harmonic", lambda g: A.harmonic_centrality(
            g, [1], max_hops=2).collect()),
        ("adamic", lambda g: A.adamic_adar(g, top=5).collect()),
        ("tri", lambda g: [A.triangle_count(g)]),
        ("lcc", lambda g: A.local_clustering(g).collect()),
        ("ktruss", lambda g: A.k_truss(g.edges, k=3).collect()),
        ("diameter", lambda g: A.diameter_estimate(g).collect()),
        ("mis", lambda g: A.maximal_independent_set(g.edges).collect()),
        ("sssp", lambda g: A.sssp_weighted(g, [1]).collect()),
        ("treach", lambda g: A.temporal_reachability(
            g.edges.select("src", "dst", F.lit(1).alias("ts")),
            [1]).collect()),
        ("topo", lambda g: A.longest_path_levels(g).collect()),
        ("assort", lambda g: A.degree_assortativity(g.edges).collect()),
        ("walks", lambda g: A.seeded_random_walks(g, [1],
                                                  steps=2).collect()),
        ("bwalks", lambda g: A.biased_random_walks(g, [1],
                                                   steps=2).collect()),
        ("betw", lambda g: A.betweenness_approx(g.edges).collect()),
        ("scc", lambda g: A.strongly_connected_components(
            g.edges).collect()),
    ]
    for case, rows in [("edgeless", []),
                       ("selfloop", [(1, 1, "e", 1.0)])]:
        for name, fn in ops:
            out = fn(mk(rows))  # must not raise
            assert out is not None, (case, name)


def test_degenerate_corpora_every_llm_op_returns(spark):
    """Same pin for the LLM text/dedup surface: empty corpus, single
    blank document, and two identical one-word documents must RETURN
    everywhere (BPE is excluded: an empty/blank corpus has no adjacent
    pairs and its loud ValueError is the documented contract).  Two
    one-word docs produce ZERO minhash/winnow pairs by semantics — a
    one-word text has no 3-gram shingles, i.e. no content to band;
    exact_dedup is the operator that catches those."""
    import pyspark.sql.functions as F

    from janusgraph_clickhouse_spark.llm import dedup as D
    from janusgraph_clickhouse_spark.llm import text as X

    def mk(rows):
        schema = "doc_id long, text string"
        return spark.createDataFrame(rows, schema)

    ops = [
        lambda df: X.text_stats(df, "doc_id", "text").collect(),
        lambda df: X.bigram_lm_score(df, "doc_id", "text").collect(),
        lambda df: X.tfidf_topk(df, "doc_id", "text").collect(),
        lambda df: X.boilerplate_score(df, "doc_id", "text").collect(),
        lambda df: X.gopher_rules(df, "doc_id", "text").collect(),
        lambda df: X.entropy_stats(df, "doc_id", "text").collect(),
        lambda df: X.overlap_chunks(df, "doc_id", "text").collect(),
        lambda df: X.scrub_pii(df, "text").collect(),
        lambda df: D.exact_dedup(df, "doc_id", "text").collect(),
        lambda df: D.exact_dedup_groups(df, "doc_id", "text").collect(),
        lambda df: D.minhash_dedup_pairs(df, "doc_id", "text").collect(),
        lambda df: D.simhash(df, "doc_id", "text").collect(),
        lambda df: D.simhash_pairs(df, "doc_id", "text").collect(),
        lambda df: D.dedup_clusters(df, "doc_id", "text").collect(),
        lambda df: D.cdc_chunks(df, "doc_id", "text").collect(),
        lambda df: D.cdc_dedup_report(df, "doc_id", "text").collect(),
        lambda df: D.winnow_fingerprints(df, "doc_id", "text").collect(),
        lambda df: D.winnow_pairs(df, "doc_id", "text").collect(),
        lambda df: D.lsh_banding_audit(df, "doc_id", "text").collect(),
    ]
    cases = [
        spark.createDataFrame([], "doc_id long, text string"),
        mk([(1, "")]),
        mk([(1, "hi"), (2, "hi")]),
    ]
    for ci, df in enumerate(cases):
        for oi, fn in enumerate(ops):
            out = fn(df)  # must not raise
            assert out is not None, (ci, oi)
    # the semantics pins the docstring promises
    dup = mk([(1, "hi"), (2, "hi")])
    assert len(D.exact_dedup(dup, "doc_id", "text").collect()) == 1
    assert D.minhash_dedup_pairs(dup, "doc_id", "text").count() == 0


def test_degenerate_vectors_every_similarity_op_returns(spark):
    """Same pin for the similarity/ANN surface: a corpus containing a
    zero-norm embedding (failed encoder, padding row) must never kill
    a job — cosine_expr is try_divide, so the zero-norm row's cosine
    is NULL, ordered last by every descending top-k and rejected by
    every threshold filter.  Also pins: fewer points than IVF cells,
    all-identical vectors through SQ8 (zero quantization range), and
    a zero-norm QUERY vector."""
    import pyspark.sql.functions as F

    from janusgraph_clickhouse_spark.llm import similarity as S

    zero = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "id long, vec array<float>")
    const = spark.createDataFrame(
        [(i, [1.0, 1.0]) for i in range(1, 5)],
        "id long, vec array<float>")
    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, vec array<float>")

    rows = S.brute_force_topk(zero, "id", "vec", [1.0, 0.0],
                              k=3).collect()
    assert [r.id for r in rows][:2] == [2, 3]  # real scores first
    assert rows[-1].id == 1 and rows[-1].cosine is None  # NULLs last
    assert len(S.brute_force_topk(zero, "id", "vec", [0.0, 0.0],
                                  k=3).collect()) == 3
    assert S.ivf_topk(tiny, "id", "vec", [1.0, 0.0], k=1).count() == 1
    assert S.pq_topk(tiny, "id", "vec", query_id=1, k=1,
                     m=2).count() == 1
    assert S.lsh_ann_topk(tiny, "id", "vec", [1.0, 0.0],
                          k=1).count() == 1
    assert S.sq8_topk(const, "id", "vec", query_id=1, k=2).count() == 2
    zl = zero.withColumn("label", F.lit("a"))
    assert S.embedding_outliers(zl, "id", "vec", "label").count() == 3
    # top-k JOIN semantics (r12, both paths): zero-norm rows are never
    # neighbors AND never query rows — no NULL-cosine k-fill padding
    # (the single-query brute_force_topk keeps NULLs-last padding for
    # inspection; the bulk join emits only defined similarities)
    for vec in (True, False):
        j = {(r.query_id, r.id)
             for r in S.brute_force_topk_join(
                 zero.withColumnRenamed("id", "qid")
                     .withColumnRenamed("vec", "qvec"),
                 zero, "qid", "qvec", "id", "vec", k=2,
                 vectorized=vec).collect()}
        assert j == {(2, 2), (2, 3), (3, 2), (3, 3)}, (vec, j)
    # the vectorized path's query collect stays BOUNDED (bounded-
    # collect discipline) — an over-cap query side auto-chunks through
    # max_queries-sized blocks (r13; was a loud raise) and the union +
    # global window must equal both the single-block vectorized form
    # and the JVM reference form
    qz = (zero.withColumnRenamed("id", "qid")
              .withColumnRenamed("vec", "qvec"))
    want = sorted((r.query_id, r.id, r.cosine)
                  for r in S.brute_force_topk_join(
                      qz, zero, "qid", "qvec", "id", "vec", k=1,
                      vectorized=False).collect())
    chunked = sorted((r.query_id, r.id, r.cosine)
                     for r in S.brute_force_topk_join(
                         qz, zero, "qid", "qvec", "id", "vec", k=1,
                         max_queries=1).collect())
    assert chunked == want


def test_degenerate_sketch_and_drift_inputs(spark):
    """Degenerate pins for sketches, drift diagnostics and splits:
    empty/NULL-only KMV inputs (jaccard_est is NULL — try_divide, the
    undefined-similarity discipline), empty/zero-weight weighted
    quantiles, a CLEAR ValueError for float weight columns (was a
    cryptic plan-time DATATYPE_MISMATCH), disjoint/one-sided drift
    comparisons, and DSIR with an empty target side."""
    import pytest

    import pyspark.sql.functions as F

    from janusgraph_clickhouse_spark.functions import sketches as K
    from janusgraph_clickhouse_spark.llm import split as P
    from janusgraph_clickhouse_spark.llm import text as X

    empty_s = spark.createDataFrame([], "v string")
    null_s = spark.createDataFrame([(None,)], "v string")
    one_s = spark.createDataFrame([("a",)], "v string")
    r = K.kmv_set_ops(empty_s, empty_s, "v").first()
    assert (r.n_a, r.n_b, r.n_intersect) == (0, 0, 0)
    assert r.jaccard_est is None
    r = K.kmv_set_ops(null_s, null_s, "v").first()
    assert (r.n_a, r.n_b) == (0, 0)
    r = K.kmv_set_ops(one_s, empty_s, "v").first()
    assert (r.n_a, r.n_b, r.n_intersect) == (1, 0, 0)
    assert r.jaccard_est == 0.0

    wq_empty = spark.createDataFrame([], "v long, w long, g string")
    wq_zero = spark.createDataFrame([(1, 0, "g"), (2, 0, "g")],
                                    "v long, w long, g string")
    assert K.weighted_quantiles(wq_empty, "v", "w", ["g"],
                                [50]).count() == 0
    assert K.weighted_quantiles(wq_zero, "v", "w", ["g"],
                                [50]).count() == 0
    wq_dbl = spark.createDataFrame([(1.0, 1.5, "g")],
                                   "v double, w double, g string")
    with pytest.raises(ValueError, match="integral type"):
        K.weighted_quantiles(wq_dbl, "v", "w", ["g"], [50])

    docs_one = spark.createDataFrame(
        [(1, "w1 w2 w3", "a")], "doc_id long, text string, src string")
    docs_dis = spark.createDataFrame(
        [(1, "aa bb cc", "a"), (2, "xx yy zz", "b")],
        "doc_id long, text string, src string")
    assert X.vocab_js_drift(docs_dis, "text", "src").count() == 1
    assert X.vocab_js_drift(docs_one, "text", "src").count() == 0
    assert X.source_keyness(docs_dis, "text", "src").count() == 0
    assert X.length_ks_drift(docs_dis, "text", "src").count() == 1
    assert X.length_ks_drift(docs_one, "text", "src").count() == 0

    docs = spark.createDataFrame([(1, "a b c")],
                                 "doc_id long, text string")
    assert P.dsir_weights(docs, "doc_id", "text",
                          F.lit(False)).count() == 1
    assert P.dsir_weights(docs, "doc_id", "text",
                          F.lit(True)).count() == 1
    assert P.pack_sequences(
        spark.createDataFrame([(1, " ".join(["w"] * 50))],
                              "doc_id long, text string"),
        "doc_id", "text", budget=8).count() == 1


def test_degenerate_temporal_inputs(spark):
    """Degenerate pins for the temporal operators: empty inputs,
    single-point series through LTTB (fewer points than buckets),
    same-timestamp ties, NULL values through LOCF, and as-of joins
    against an empty right side (row preserved, carried columns
    NULL)."""
    import pyspark.sql.functions as F

    from janusgraph_clickhouse_spark.operators import temporal as T

    def tsify(df):
        return (df.withColumn("ts", F.timestamp_seconds(F.col("tsl")))
                .drop("tsl"))

    schema = "k string, tsl long, v double, id long"
    empty = tsify(spark.createDataFrame([], schema))
    one = tsify(spark.createDataFrame([("a", 10, 1.0, 1)], schema))
    same = tsify(spark.createDataFrame(
        [("a", 10, 1.0, 1), ("a", 10, 2.0, 2)], schema))
    right = tsify(spark.createDataFrame([], "k string, tsl long, rv double"))

    assert T.as_of_join(empty, right, "k", "ts").count() == 0
    r = T.as_of_join(one, right, "k", "ts").first()
    assert r.rv is None  # left row survives, carry is NULL
    assert T.gap_fill_locf(one, "k", "ts", "v").count() == 1
    assert T.gap_fill_locf(empty, "k", "ts", "v").count() == 0
    nv = one.withColumn("v", F.lit(None).cast("double"))
    assert T.gap_fill_locf(nv, "k", "ts", "v").count() == 1
    assert T.lttb_downsample(one, "k", "ts", "v", "id").count() == 1
    assert T.lttb_downsample(same, "k", "ts", "v", "id").count() == 1
    assert T.lttb_downsample(empty, "k", "ts", "v", "id").count() == 0
    assert T.delta_sum(empty, "k", "ts", "v").count() == 0
