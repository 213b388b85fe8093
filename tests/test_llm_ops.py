"""LLM-op tests: LSH paths vs exact baselines, multimodal plumbing,
fingerprints (SURVEY §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from janusgraph_clickhouse_spark.llm import dedup as D
from janusgraph_clickhouse_spark.llm import multimodal as M
from janusgraph_clickhouse_spark.llm import similarity as S
from janusgraph_clickhouse_spark.llm import text as X
from janusgraph_clickhouse_spark.sources import load_table


def _docs(spark, sf):
    return load_table(spark, sf, "documents")


def _emb(spark, sf):
    return load_table(spark, sf, "embeddings")


def test_minhash_lsh_matches_exact(spark, sf_oracle):
    """LSH+rerank must recover the exact Jaccard pairs (precision 1.0 by
    construction of the rerank; recall ≈1 for 0.8+ planted dups)."""
    docs = _docs(spark, sf_oracle)
    exact = {(r.doc_a, r.doc_b)
             for r in D.jaccard_pairs(docs, "doc_id", "text", 3, 0.4,
                             allow_quadratic=True).collect()}
    lsh = {(r.doc_a, r.doc_b)
           for r in D.minhash_dedup_pairs(docs, "doc_id", "text", 3, 0.4).collect()}
    assert lsh <= exact                     # rerank ⇒ no false positives
    assert len(lsh) >= 0.9 * len(exact)     # high recall on planted dups
    assert len(exact) > 0


def test_simhash_finds_planted_dups(spark, sf_oracle):
    docs = _docs(spark, sf_oracle)
    exact = {(r.doc_a, r.doc_b)
             for r in D.jaccard_pairs(docs, "doc_id", "text", 3, 0.8,
                             allow_quadratic=True).collect()}
    sim = {(r.doc_a, r.doc_b)
           for r in D.simhash_pairs(docs, "doc_id", "text", 8).collect()}
    # simhash(hamming≤8) should recover most 0.8+ jaccard dups
    assert len(exact & sim) >= 0.8 * len(exact)


def test_simhash_spreads_single_partition_scan(spark, sf_oracle):
    """The signature stage must not run on one core: a 1-partition
    input (how a small corpus parquet arrives) is repartitioned to the
    session parallelism before the pandas UDF — the r11 l04
    adjudication found the single-core form swinging 1.1-24 s with
    scheduling luck.  An input already at/above the parallelism must
    pass through unshuffled (the 100 TB no-op guard)."""
    docs = _docs(spark, sf_oracle).coalesce(1)
    target = spark.sparkContext.defaultParallelism
    sig = D.simhash(docs, "doc_id", "text")
    assert sig.rdd.getNumPartitions() >= min(target, sig.count())
    wide = _docs(spark, sf_oracle).repartition(target + 7)
    plan = D.simhash(wide, "doc_id", "text") \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("repartition") <= 1, \
        "already-spread input must not be reshuffled by simhash()"
    # the shingle explode has the same exposure (its map side runs
    # before the distinct's shuffle): spread on a 1-partition input,
    # untouched on an already-spread one
    narrow_plan = D.shingle_sets(docs, "doc_id", "text") \
        ._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "repartition" in narrow_plan, \
        "1-partition input must be spread before the shingle explode"
    wide_plan = D.shingle_sets(wide, "doc_id", "text") \
        ._jdf.queryExecution().optimizedPlan().toString().lower()
    assert wide_plan.count("repartition") <= 1, \
        "already-spread input must not be reshuffled by shingle_sets()"


def _n_blocking_keys(df) -> int:
    """Number of band masks simhash_pairs explodes per doc, read off the
    literal array in the optimized plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    keys = plan.split("posexplode([", 1)[1].split("])", 1)[0]
    return keys.count(",") + 1


def test_simhash_multiband_blocking_is_complete(spark, sf_oracle):
    """Combination blocking (sub_bands=m, C(m, m-h) masked keys) must
    return EXACTLY the same pair set as the pigeonhole banding — both
    are complete for Hamming ≤ h, and the exact Hamming rerank removes
    any extra bucket collisions.  The `auto` default must pick
    combination blocking here (500 docs > the 256-row threshold): its
    plan explodes C(10, 2) = 45 masks, the pigeonhole split h+1 = 9.
    m = 12 explodes C(12, 4) = 495 keys per doc, which must still
    compile (the suite runs with codegen fallback off)."""
    docs = _docs(spark, sf_oracle)
    pigeon = {(r.doc_a, r.doc_b, r.hamming)
              for r in D.simhash_pairs(docs, "doc_id", "text", 8,
                                       sub_bands=None).collect()}
    multi = {(r.doc_a, r.doc_b, r.hamming)
             for r in D.simhash_pairs(docs, "doc_id", "text", 8,
                                      sub_bands=10).collect()}
    # r14: auto scales m with corpus size (x100: fixed m=10's ~7k
    # buckets went quadratic); the pair set must be m-INVARIANT —
    # completeness holds for every m > h — pin the scaled tiers too
    multi11 = {(r.doc_a, r.doc_b, r.hamming)
               for r in D.simhash_pairs(docs, "doc_id", "text", 8,
                                        sub_bands=11).collect()}
    multi12 = {(r.doc_a, r.doc_b, r.hamming)
               for r in D.simhash_pairs(docs, "doc_id", "text", 8,
                                        sub_bands=12).collect()}
    auto_df = D.simhash_pairs(docs, "doc_id", "text", 8)
    auto = {(r.doc_a, r.doc_b, r.hamming) for r in auto_df.collect()}
    assert multi == pigeon
    assert multi11 == pigeon
    assert multi12 == pigeon
    assert auto == pigeon
    assert len(pigeon) > 0
    assert _n_blocking_keys(auto_df) == 45, \
        "auto default did not flip to sub_bands"
    tiny = D.simhash_pairs(docs.limit(10), "doc_id", "text", 8)
    assert _n_blocking_keys(tiny) == 9, \
        "tiny corpus should keep the pigeonhole split"


def test_auto_sub_bands_scales_with_corpus():
    """r14: the auto blocking tier must hold expected bucket occupancy
    ≤ 8 by widening the key space as the corpus grows — a fixed m's
    bucket join is quadratic in n (the x100 l04 find) — while keeping
    every fixture-scale corpus on m=10 (registered plans unchanged)
    and respecting the C(m, m-h) ≤ 1024 explode budget."""
    from math import comb
    f = D._auto_sub_bands
    assert f(200, 8, 256) is None                  # under threshold
    # fixture scales: sf0.001/sf0.01/sf0.1 and the x10 study all stay
    # on the r13 tier
    for n in (500, 5000, 50000):
        assert f(n, 8, 256) == 10
    assert f(150_000, 8, 256) == 11                # x30
    assert f(500_000, 8, 256) == 11                # x100
    assert f(5_000_000, 8, 256) == 12
    # occupancy bound holds wherever the explode budget allows it
    for n in (10**6, 10**7):
        m = f(n, 8, 256)
        assert (n <= 8 * 2 ** ((m - 8) * 64.0 / m)
                or comb(m + 1, m + 1 - 8) > 1024)
    # monotone in n, and never below h+2
    prev = 0
    for n in (300, 10**4, 10**5, 10**6, 10**7, 10**8):
        m = f(n, 8, 256)
        assert m >= 10 and m >= prev
        prev = m


def test_lsh_blocked_near_dup_subset_of_exact(spark, sf_oracle):
    """Blocked pairs must be a SUBSET of the exact all-pairs baseline
    (blocking only prunes candidates; the cosine threshold is exact).
    Fixture similarities are moderate (~0.35-0.5) where the 8-bit LSH
    curve gives low recall by design — the recall guarantee is pinned on
    planted high-similarity vectors below."""
    emb = _emb(spark, sf_oracle)
    exact = {(r.id_a, r.id_b) for r in D.embedding_near_dup_pairs(
        emb, "vec_id", "embedding", 0.35).collect()}
    blocked = {(r.id_a, r.id_b) for r in D.lsh_blocked_near_dup_pairs(
        emb, "vec_id", "embedding", 0.35).collect()}
    assert blocked <= exact
    assert len(blocked) > 0


def test_lsh_blocked_near_dup_recall_on_planted_dups(spark):
    """In the production near-dup regime (cosine ≥ 0.95) the 4×8-bit
    tables give per-pair hit probability ≥ 1-(1-0.9^8)^4 ≈ 0.93; on 20
    planted pairs recall must be high."""
    import numpy as np
    rng = np.random.RandomState(11)
    base = rng.randn(20, 64)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        near = v + 0.05 * rng.randn(64)          # cosine ≈ 0.995
        rows.append((100 + i, [float(x) for x in near]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b) for r in D.lsh_blocked_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.95).collect()}
    planted = {(i, 100 + i) for i in range(20)}
    assert len(got & planted) >= 16  # ≥0.8 recall at ~0.93 expected


def test_exact_dedup_keeps_one_per_text(spark, sf_smoke):
    docs = _docs(spark, sf_smoke)
    deduped = D.exact_dedup(docs, "doc_id", "text")
    assert deduped.count() == docs.select("text").distinct().count()


def test_ann_recall_vs_brute_force(spark, sf_oracle):
    emb = _emb(spark, sf_oracle)
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    exact = [r.id for r in S.brute_force_topk(
        emb, "vec_id", "embedding", qv, k=10, exclude_id=0).collect()]
    approx = [r.id for r in S.lsh_ann_topk(
        emb, "vec_id", "embedding", qv, k=10, exclude_id=0).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"ANN recall {recall} too low: {approx} vs {exact}"


def test_topk_join_per_query(spark, sf_smoke):
    emb = _emb(spark, sf_smoke)
    queries = emb.filter(F.col("vec_id") < 3)
    out = S.brute_force_topk_join(queries, emb, "vec_id", "embedding",
                                  "vec_id", "embedding", k=5)
    rows = out.collect()
    assert len(rows) == 15  # 3 queries × 5
    for q in (0, 1, 2):
        mine = [r for r in rows if r.query_id == q]
        # the query vector itself is its own nearest neighbor (cosine 1.0)
        best = max(mine, key=lambda r: r.cosine)
        assert best.id == q and abs(best.cosine - 1.0) < 1e-6


def test_multimodal_features_deterministic(spark, sf_smoke):
    docs = _docs(spark, sf_smoke).limit(20)
    media = M.attach_binary(docs, "doc_id", "text")
    feats = M.extract_features(media).collect()
    assert len(feats) == 20
    by_id = {r.media_id: r for r in feats}
    src = {r.doc_id: r.text for r in docs.collect()}
    for mid, row in by_id.items():
        raw = src[mid].encode()
        assert row.n_bytes == len(raw)
        assert row.first_byte == raw[0]
        assert abs(row.byte_mean - sum(raw) / len(raw)) < 1e-9
        assert len(row.feature) == 4


def _wav_bytes(n, rate=8000, channels=1):
    """PCM-16 mono WAV: a deterministic sawtooth."""
    import struct
    samples = b"".join(struct.pack("<h", ((i * 37) % 2048) - 1024)
                       for i in range(n * channels))
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * 2, channels * 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(samples)) + samples)


def test_decode_audio_stats_end_to_end(spark):
    import numpy as np
    wav = _wav_bytes(400)
    media = spark.createDataFrame(
        [(1, wav, "audio/wav", len(wav)),
         (2, b"OggS" + b"\0" * 16, "audio/ogg", 20)],
        "media_id long, blob binary, mime string, n_bytes long")
    got = {r.media_id: r for r in M.decode_audio_stats(media).collect()}
    assert got[1].ok and got[1].n_samples == 400
    assert got[1].sample_rate == 8000 and got[1].channels == 1
    samples, _ = M.decode_audio(wav)
    exp = float(np.sqrt((samples.astype(np.float64) ** 2).mean()))
    assert abs(got[1].rms - exp) < 1e-6
    assert not got[2].ok


def test_quality_score_range(spark, sf_smoke):
    docs = _docs(spark, sf_smoke)
    q = docs.select(X.quality_score("text").alias("q"))
    mn, mx = q.agg(F.min("q"), F.max("q")).first()
    assert 0.0 <= mn and mx <= 1.0


def test_ivf_topk_recall(spark, sf_oracle):
    emb = _emb(spark, sf_oracle)
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    exact = [r.id for r in S.brute_force_topk(
        emb, "vec_id", "embedding", qv, k=10, exclude_id=0).collect()]
    approx = [r.id for r in S.ivf_topk(
        emb, "vec_id", "embedding", qv, k=10, n_cells=16, n_probe=6,
        exclude_id=0).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"IVF recall {recall}: {approx} vs {exact}"
    # results are a subset of the probed cells reranked exactly → scores
    # must match the exact scores for the ids it did return
    exact_scores = {r.id: r.cosine for r in S.brute_force_topk(
        emb, "vec_id", "embedding", qv, k=2000, exclude_id=0).collect()}
    for r in S.ivf_topk(emb, "vec_id", "embedding", qv, k=10,
                        n_cells=16, n_probe=6, exclude_id=0).collect():
        assert abs(exact_scores[r.id] - r.cosine) < 1e-9


def test_hash_split_stability_and_proportions(spark, sf_oracle):
    from janusgraph_clickhouse_spark.llm.split import train_val_test_split
    docs = _docs(spark, sf_oracle)
    a = {r.doc_id: r.split for r in
         train_val_test_split(docs, "doc_id").collect()}
    # repartitioning must not move any document across the wall
    b = {r.doc_id: r.split for r in
         train_val_test_split(docs.repartition(7), "doc_id").collect()}
    assert a == b
    from collections import Counter
    c = Counter(a.values())
    n = len(a)
    assert 0.7 < c["train"] / n < 0.9
    assert c["train"] + c["val"] + c["test"] == n
    # salt changes the assignment
    s = {r.doc_id: r.split for r in
         train_val_test_split(docs, "doc_id", salt="v2").collect()}
    assert s != a


def test_dedup_clusters_known_components(spark):
    """Three near-identical docs + two near-identical docs + one unique:
    exactly two clusters, canonical survivor = min id, members ascending."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " today"),
        (3, base + " tonight"),
        (10, "pack my box with five dozen liquor jugs for the long trip"),
        (11, "pack my box with five dozen liquor jugs for the long ride"),
        (99, "completely unrelated text about spark query planning at scale"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.cluster_id: (r.n_members, r.members)
           for r in D.dedup_clusters(docs, "doc_id", "text").collect()}
    assert out == {1: (3, "1,2,3"), 10: (2, "10,11")}


def test_knn_join_excludes_self_and_bounds_k(spark):
    """Every query gets ≤k rows, never itself, and its true nearest
    neighbor ranks first (orthogonal unit vectors make ranks exact)."""
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.9, 0.1]),
            (4, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.brute_force_topk_join(df.filter(F.col("vec_id").isin(0, 2)), df,
                                  "vec_id", "embedding",
                                  "vec_id", "embedding",
                                  k=2, exclude_self=True).collect()
    by_q = {}
    for r in out:
        assert r.id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.cosine, r.id))
    assert set(by_q) == {0, 2} and all(len(v) == 2 for v in by_q.values())
    assert max(by_q[0])[1] == 1 and max(by_q[2])[1] == 3


def test_decontaminate_flags_planted_overlap(spark):
    """A train doc embedding a benchmark doc's exact 5-gram run is
    flagged with containment 1.0; disjoint docs are not flagged."""
    bench = "alpha beta gamma delta epsilon"          # 1 five-gram
    rows = [
        (0, bench),                                    # benchmark (id%7==0)
        (3, "prefix words then " + bench + " trailing tail here"),
        (5, "totally different content with no overlap at all whatsoever"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.decontaminate_pairs(docs, "doc_id", "text",
                                F.col("doc_id") % 7 == 0, n=5).collect()
    assert [(r.train_id, r.bench_id, r.n_shared, r.containment)
            for r in out] == [(3, 0, 1, 1.0)]


def test_domain_sample_nested_and_deterministic(spark):
    """Raising a domain's rate only ADDS rows (nested subsets), and the
    kept set is identical across repartitionings (pure key function)."""
    from janusgraph_clickhouse_spark.llm.split import domain_sample

    docs = _docs(spark, "/root/testdata/sf0.001").select("doc_id", "lang")
    lo = {r.doc_id for r in domain_sample(
        docs, "doc_id", "lang", {"en": 0.25}, default_rate=0.2).collect()}
    hi = {r.doc_id for r in domain_sample(
        docs, "doc_id", "lang", {"en": 0.75}, default_rate=0.2).collect()}
    assert lo <= hi and len(hi) > len(lo)
    again = {r.doc_id for r in domain_sample(
        docs.repartition(7), "doc_id", "lang", {"en": 0.75},
        default_rate=0.2).collect()}
    assert again == hi


def test_pack_sequences_partitions_corpus(spark):
    from janusgraph_clickhouse_spark.llm.split import pack_sequences
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i % 7))) for i in range(200)],
        "doc_id long, text string")
    packed = pack_sequences(docs, "doc_id", "text", budget=100).collect()
    assert len(packed) == 200  # every doc assigned exactly once
    total = sum(r.tok for r in packed)
    # seq ids form a contiguous 0..ceil(total/budget)-1 range
    seqs = {r.seq_id for r in packed}
    assert seqs == set(range((total - 1) // 100 + 1))
    # per-sequence token start offsets respect the budget boundary:
    # every chunk's docs start inside [seq*budget, (seq+1)*budget)
    per_seq = {}
    for r in packed:
        per_seq.setdefault(r.seq_id, 0)
        per_seq[r.seq_id] += r.tok
    # all but the last chunk must have been filled past its boundary
    # start (docs whose start fell in the window) — weak but
    # order-independent invariant: cumulative conservation
    assert sum(per_seq.values()) == total


def test_bigram_lm_score_closed_form(spark):
    from janusgraph_clickhouse_spark.llm.text import bigram_lm_score
    import math
    # corpus: "a b", "a b", "a c" → c(a,b)=2, c(a,c)=1, c(a·)=3
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string")
    rows = {r.id: (r.n_bigrams, r.nll)
            for r in bigram_lm_score(docs, "doc_id", "text").collect()}
    assert rows[1] == (1, round(-math.log(2 / 3), 6))
    assert rows[3] == (1, round(-math.log(1 / 3), 6))


def test_tfidf_topk_prefers_rare_terms(spark):
    from janusgraph_clickhouse_spark.llm.text import tfidf_topk
    # 'common' appears in every doc (idf=0); 'rare1' only in doc 1
    docs = spark.createDataFrame(
        [(1, "common rare1 rare1"), (2, "common x"), (3, "common y")],
        "doc_id long, text string")
    top = tfidf_topk(docs, "doc_id", "text", k=1).collect()
    d1 = [r for r in top if r.id == 1][0]
    assert d1.token == "rare1"
    for r in top:
        assert r.token != "common"


def test_boilerplate_score_closed_form(spark):
    """Five docs sharing one template shingle run + one original doc:
    template shingles hit df>=5, original shingles stay rare."""
    template = "terms of service apply here"        # 3 shingles, df=5
    rows = [(i, f"{template} unique{i} text{i} body{i}")
            for i in range(5)]
    rows.append((9, "completely original prose with no template at all"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: (r.n_shingles, r.common_frac) for r in
           X.boilerplate_score(df, "doc_id", "text", n=3,
                               common_df=5).collect()}
    # each template doc: 5 template tokens + 3 unique = 8 tokens → 6
    # 3-gram shingles; the 3 fully-inside-template ones are common
    for i in range(5):
        n, frac = got[i]
        assert n == 6
        assert frac == 0.5
    n, frac = got[9]
    assert frac == 0.0 and n == 6


def test_containment_detects_planted_quote(spark):
    """A short doc quoted verbatim inside a long doc: Jaccard is tiny
    (shingle sets differ wildly in size) but containment = 1.0."""
    quote = " ".join(f"q{i}" for i in range(12))
    long_doc = ("intro words here " + quote + " "
                + " ".join(f"t{i}" for i in range(40)))
    rows = [(1, quote), (2, long_doc),
            (3, " ".join(f"z{i}" for i in range(30)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.containment
           for r in D.containment_pairs(df, "doc_id", "text",
                                        threshold=0.8).collect()}
    assert got == {(1, 2): 1.0}
    # the same pair fails a 0.8 JACCARD gate — asymmetry is the point
    jac = {(r.doc_a, r.doc_b)
           for r in D.jaccard_pairs(df, "doc_id", "text", 3, 0.8,
                                    allow_quadratic=True).collect()}
    assert (1, 2) not in jac


def test_lsh_hot_bucket_cap(spark):
    """With the cap set, an over-full bucket (mass-duplicated text)
    stops generating pairs while normal buckets still do; default
    behavior stays complete."""
    rows = [(i, "dup dup dup dup dup text body here") for i in range(30)]
    rows += [(100, "alpha beta gamma delta epsilon zeta"),
             (101, "alpha beta gamma delta epsilon zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = D.signatures_from_shingles(D.shingle_sets(df, "doc_id", "text"))
    full = {(r.doc_a, r.doc_b) for r in D.lsh_candidates(sig).collect()}
    capped = {(r.doc_a, r.doc_b) for r in D.lsh_candidates(
        sig, max_bucket_rows=10).collect()}
    assert (100, 101) in full and (100, 101) in capped
    assert (0, 1) in full
    assert not any(a < 100 and b < 100 for a, b in capped)
    assert capped < full


def test_scrub_pii_redacts_and_counts(spark):
    rows = [
        (1, "contact me at jane.doe@example.com or on +1 (555) 123-4567"),
        (2, "see https://example.com/path?q=1 and http://other.org now"),
        (3, "nothing sensitive in this one at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           X.scrub_pii(df, "text").collect()}
    assert "@" not in got[1].text and "555" not in got[1].text
    assert got[1].pii_email == 1 and got[1].pii_phone == 1
    assert got[2].pii_url == 2
    assert "example.com" not in got[2].text
    assert got[3].text == rows[2][1]
    assert (got[3].pii_email, got[3].pii_url, got[3].pii_phone) == (0, 0, 0)
    # redaction token present where matches were removed
    assert got[1].text.count("[REDACTED]") == 2


def test_scrub_pii_counts_on_original_text(spark):
    """Counts audit the ORIGINAL text: an email inside a URL counts as
    both pii_email and pii_url even though the email replacement runs
    first and consumes part of the URL's match region."""
    df = spark.createDataFrame(
        [(1, "go to https://x.com/jane@b.com for details")],
        "doc_id long, text string")
    r = X.scrub_pii(df, "text").collect()[0]
    assert r.pii_email == 1 and r.pii_url == 1 and r.pii_phone == 0
    assert "jane@b.com" not in r.text and "https://" not in r.text


def test_containment_max_shingle_df_caps_hot_shingle(spark):
    """A stop-shingle shared by every doc must not drive the probe
    fan-out: with the cap, output is unchanged on a corpus where one
    shingle has df = n_docs (the blocker drops it; the truly-contained
    pair is still found through its cold shingles, and the rerank's
    exact score is computed over ALL shingles, hot one included)."""
    hot = "the quick brown"
    quote = " ".join(f"q{i}" for i in range(12))
    rows = [(1, hot + " " + quote),
            (2, hot + " intro " + quote + " "
             + " ".join(f"t{i}" for i in range(40)))]
    rows += [(10 + i, hot + " " + " ".join(f"u{i}_{j}" for j in range(20)))
             for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(r.doc_a, r.doc_b): r.containment
                for r in D.containment_pairs(
                    df, "doc_id", "text", threshold=0.8).collect()}
    capped = {(r.doc_a, r.doc_b): r.containment
              for r in D.containment_pairs(
                  df, "doc_id", "text", threshold=0.8,
                  max_shingle_df=5).collect()}
    assert (1, 2) in capped
    assert capped == uncapped


def test_shared_spans_planted_passage(spark):
    """A 30-token passage pasted into two docs at different offsets must
    come back as ONE maximal span with exact offsets and length."""
    passage = " ".join(f"p{i}" for i in range(30))
    d1 = " ".join(f"a{i}" for i in range(7)) + " " + passage + " " \
        + " ".join(f"b{i}" for i in range(5))
    d2 = " ".join(f"c{i}" for i in range(12)) + " " + passage
    rows = [(1, d1), (2, d2),
            (3, " ".join(f"z{i}" for i in range(40)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.doc_a, r.doc_b, r.start_a, r.start_b, r.n_tokens)
           for r in D.shared_spans(df, "doc_id", "text",
                                   k=8, min_tokens=16).collect()]
    assert got == [(1, 2, 7, 12, 30)]


def test_shared_spans_below_min_ignored(spark):
    """A shared run shorter than min_tokens (but >= k) must not emit."""
    shared = " ".join(f"s{i}" for i in range(10))  # 10 < 16
    rows = [(1, shared + " " + " ".join(f"x{i}" for i in range(20))),
            (2, shared + " " + " ".join(f"y{i}" for i in range(20)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert D.shared_spans(df, "doc_id", "text",
                          k=8, min_tokens=16).count() == 0


def test_shared_spans_multiple_alignments(spark):
    """A passage repeated TWICE in one doc aligns to the other doc's
    single copy at two diagonals: two span rows, one per alignment."""
    passage = " ".join(f"p{i}" for i in range(20))
    filler = " ".join(f"f{i}" for i in range(10))
    rows = [(1, passage + " " + filler + " " + passage),
            (2, passage)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r.start_a, r.start_b, r.n_tokens)
                 for r in D.shared_spans(df, "doc_id", "text",
                                         k=8, min_tokens=16).collect())
    assert got == [(0, 0, 20), (30, 0, 20)]


def test_shared_spans_hot_window_cap(spark):
    """max_window_df drops corpus-hot k-grams from both join sides: the
    boilerplate block every doc shares stops fanning out the join, while
    a genuinely-shared rare passage still reports exactly."""
    boiler = " ".join(f"lic{i}" for i in range(20))
    passage = " ".join(f"p{i}" for i in range(20))
    rows = [(1, boiler + " " + passage),
            (2, boiler + " " + " ".join(f"q{i}" for i in range(6))
             + " " + passage)]
    rows += [(10 + i, boiler + " " + " ".join(f"u{i}_{j}"
                                              for j in range(10)))
             for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r.doc_a, r.doc_b, r.start_a, r.start_b, r.n_tokens)
              for r in D.shared_spans(df, "doc_id", "text", k=8,
                                      min_tokens=16,
                                      max_window_df=5).collect()}
    # the rare passage (df=2 windows) survives at its exact offsets;
    # every boilerplate-only pair is gone
    assert (1, 2, 20, 26, 20) in capped
    assert all(a in (1, 2) and b in (1, 2) for a, b, *_ in capped)


# -- Bloom-prefiltered decontamination --------------------------------------

def test_bloom_decontaminate_matches_exact(spark, sf_smoke):
    """Bloom admits only false positives and the confirm join removes
    them — the output must equal the plain equi-join path exactly."""
    docs = _docs(spark, sf_smoke)
    flt = F.col("doc_id") % 7 == 0
    exact = sorted(tuple(r) for r in D.decontaminate_pairs(
        docs, "doc_id", "text", flt, n=5).collect())
    bloom = sorted(tuple(r) for r in D.bloom_decontaminate_pairs(
        docs, "doc_id", "text", flt, n=5).collect())
    assert bloom == exact and len(exact) > 0


def test_bloom_decontaminate_tiny_filter_still_exact(spark):
    """A deliberately saturated filter (m=256 bits) lets nearly every
    shingle through — the answer must STILL be exact, only slower."""
    bench = "alpha beta gamma delta epsilon"
    rows = [
        (0, bench),
        (3, "prefix words then " + bench + " trailing tail here"),
        (5, "totally different content with no overlap at all whatsoever"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.bloom_decontaminate_pairs(docs, "doc_id", "text",
                                      F.col("doc_id") % 7 == 0,
                                      n=5, m_bits=256, k=2).collect()
    assert [(r.train_id, r.bench_id, r.n_shared, r.containment)
            for r in out] == [(3, 0, 1, 1.0)]


def test_bloom_prefilter_selectivity_and_recall(spark, sf_smoke):
    """The prefilter itself: passes EVERY truly shared shingle (no false
    negatives, ever) and rejects the overwhelming majority of the rest
    at the default sizing (ε ≈ 0.5% expected; assert < 5%)."""
    docs = _docs(spark, sf_smoke)
    flt = F.col("doc_id") % 7 == 0
    sh = D.shingle_sets(docs, "doc_id", "text", n=5)
    bench_ids = docs.filter(flt).select(F.col("doc_id").alias("id"))
    train_sh = (sh.join(bench_ids, "id", "left_anti")
                .localCheckpoint(eager=True))
    bench_sh = sh.join(bench_ids, "id", "left_semi")
    maybe = D.bloom_membership_udf(bench_sh, "shingle")
    surv = train_sh.filter(maybe(F.col("shingle"))).localCheckpoint(True)
    truly = train_sh.join(bench_sh.select("shingle").distinct(), "shingle",
                          "left_semi")
    # recall 1: every shared (id, shingle) row survives the prefilter
    assert truly.join(surv, ["id", "shingle"], "left_anti").count() == 0
    n_train, n_surv, n_true = (train_sh.count(), surv.count(),
                               truly.count())
    assert n_true <= n_surv < n_true + 0.05 * n_train


# -- int8 scalar quantization -----------------------------------------------

def test_sq8_full_shortlist_equals_brute_force(spark, sf_smoke):
    """With shortlist >= corpus the rerank sees everything, so sq8_topk
    must reproduce brute_force_topk exactly (same rounding, same
    ordering discipline) — pins that quantization only affects WHICH
    rows reach the rerank, never the reported scores."""
    emb = _emb(spark, sf_smoke)
    n = emb.count()
    qv = list(emb.filter(F.col("vec_id") == 0).select("embedding")
              .first()[0])
    brute = [(r.id, r.cosine) for r in S.brute_force_topk(
        emb, "vec_id", "embedding", qv, k=10, exclude_id=0).collect()]
    sq = [(r.id, r.cosine) for r in S.sq8_topk(
        emb, "vec_id", "embedding", query_id=0, k=10,
        shortlist=n).collect()]
    assert sq == brute


def test_sq8_quantize_bounds_and_constant_dim(spark):
    """Quantized codes stay in [0, 255]; a constant dimension (mx == mn)
    quantizes to 0 instead of dividing by zero."""
    rows = [(i, [float(i), 5.0, -3.0 + 2.0 * i]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mn, s = S.sq8_params(df, "embedding")
    assert mn[1] == 5.0 and s[1] == 1.0
    q = df.select(S.sq8_quantize_expr("embedding", mn, s).alias("q"))
    for r in q.collect():
        assert all(0 <= x <= 255 for x in r.q)
        assert r.q[1] == 0


def test_sq8_shortlist_recall_on_fixture(spark, sf_smoke):
    """At the registered sizing (shortlist 50) the true top-10 should
    survive quantization on the fixture embeddings — the declared
    approximation holds where it is deployed."""
    emb = _emb(spark, sf_smoke)
    qv = list(emb.filter(F.col("vec_id") == 0).select("embedding")
              .first()[0])
    brute = {r.id for r in S.brute_force_topk(
        emb, "vec_id", "embedding", qv, k=10, exclude_id=0).collect()}
    sq = {r.id for r in S.sq8_topk(
        emb, "vec_id", "embedding", query_id=0, k=10,
        shortlist=50).collect()}
    assert len(brute & sq) >= 9


# -- per-domain cap ---------------------------------------------------------

def test_domain_cap_exact_and_deterministic(spark, sf_smoke):
    """Cap respected per domain; result equals the single-window
    definition; invariant under repartitioning (pure key function)."""
    from pyspark.sql import Window
    from janusgraph_clickhouse_spark.llm.split import domain_cap
    docs = _docs(spark, sf_smoke)
    capped = domain_cap(docs, "doc_id", "source", cap=10)
    per = {r.source: r.n for r in capped.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per and all(n <= 10 for n in per.values())
    key = F.md5(F.concat(F.lit("cap"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    one = (docs.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") <= 10))
    got = sorted((r.doc_id, r.source, r.rk)
                 for r in capped.select("doc_id", "source", "rk").collect())
    want = sorted((r.doc_id, r.source, r.rk)
                  for r in one.select("doc_id", "source", "rk").collect())
    assert got == want
    re_got = sorted((r.doc_id, r.source, r.rk) for r in domain_cap(
        docs.repartition(13), "doc_id", "source", cap=10)
        .select("doc_id", "source", "rk").collect())
    assert re_got == want


# -- content-defined chunking ----------------------------------------------


def test_cdc_chunks_partition_each_doc(spark, sf_smoke):
    """Chunks tile every document exactly: contiguous starts, token
    counts summing to the doc's token count, chunk_idx dense from 0."""
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").limit(50)
    ch = D.cdc_chunks(docs, "doc_id", "text").collect()
    by_doc = {}
    for r in ch:
        by_doc.setdefault(r.id, []).append(r)
    n_by_doc = {r.doc_id: len(r.text.split(" "))
                for r in docs.select("doc_id", "text").collect()}
    assert set(by_doc) == set(n_by_doc)
    for doc, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        assert [r.chunk_idx for r in rows] == list(range(len(rows)))
        pos = 0
        for r in rows:
            assert r.start == pos
            assert r.n_tokens > 0
            pos += r.n_tokens
        assert pos == n_by_doc[doc]


def test_cdc_chunks_shared_passage_aligns(spark):
    """The CDC property: a long passage shared at DIFFERENT offsets
    produces identical interior chunk keys in both docs (fixed-size
    chunking would miss every unaligned copy)."""
    passage = " ".join(f"p{i}" for i in range(120))
    rows = [(1, " ".join(f"a{i}" for i in range(7)) + " " + passage),
            (2, " ".join(f"b{i}" for i in range(31)) + " " + passage)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ch = D.cdc_chunks(df, "doc_id", "text").collect()
    keys = {1: {r.chunk_key for r in ch if r.id == 1},
            2: {r.chunk_key for r in ch if r.id == 2}}
    shared = keys[1] & keys[2]
    # interior chunks of the 120-token passage must coincide (only the
    # chunk straddling each doc's unique prefix may differ)
    assert len(shared) >= 3


def test_cdc_chunks_short_doc_single_chunk(spark):
    """A doc shorter than w+1 tokens can have no cut: one chunk."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    rows = D.cdc_chunks(df, "doc_id", "text", w=4).collect()
    assert len(rows) == 1 and rows[0].n_tokens == 3 and rows[0].start == 0


def test_cdc_chunks_param_validation(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        D.cdc_chunks(df, "doc_id", "text", w=0)
    with pytest.raises(ValueError):
        D.cdc_chunks(df, "doc_id", "text", modulus=1)


def test_cdc_dedup_report_counts(spark):
    """Exact duplicate docs share every chunk; the report counts docs
    and occurrences per chunk text."""
    text = " ".join(f"t{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, " ".join(f"u{i}" for i in range(60)))],
        "doc_id long, text string")
    rep = D.cdc_dedup_report(df, "doc_id", "text").collect()
    assert rep, "duplicate docs must share chunks"
    assert all(r.n_docs == 2 and r.n_occ == 2 and r.min_doc == 1
               for r in rep)
    n_chunks_1 = D.cdc_chunks(
        df.filter("doc_id = 1"), "doc_id", "text").count()
    assert len(rep) == n_chunks_1


# -- Gopher quality rules ---------------------------------------------------


def test_gopher_rules_verdicts(spark):
    """Rule-by-rule verdicts on synthetic docs: a clean doc passes;
    short / symbol-heavy / bullet-list / no-stopword docs each fail
    their specific rule."""
    clean = ("the quick brown fox jumps over " * 12
             + "a lazy dog full of cheer and joy to be with")
    short = "the cat sat on the mat with joy and to be"
    symbols = " ".join("word#" for _ in range(60)) + " the of to and"
    bullets = "\n".join("- item the of and to be point here now ok"
                        for _ in range(10))
    nostop = " ".join(f"w{i}" for i in range(80))
    df = spark.createDataFrame(
        [(1, clean), (2, short), (3, symbols), (4, bullets), (5, nostop)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in X.gopher_rules(df, "doc_id", "text").collect()}
    assert got[1].passes
    assert not got[2].passes and got[2].n_words < 50
    assert not got[3].passes and got[3].symbol_ratio > 0.1
    assert not got[4].passes and got[4].bullet_ratio > 0.9
    assert not got[5].passes and got[5].stop_hits < 2


def test_gopher_rules_stop_hits_distinct(spark):
    """stop_hits counts DISTINCT required stop words, not occurrences."""
    df = spark.createDataFrame(
        [(1, "the the the the"), (2, "the of and that")],
        "doc_id long, text string")
    got = {r.doc_id: r.stop_hits
           for r in X.gopher_rules(df, "doc_id", "text").collect()}
    assert got == {1: 1, 2: 4}


# -- product quantization ---------------------------------------------------


def test_pq_full_shortlist_equals_brute_force(spark, sf_smoke):
    """shortlist >= corpus makes PQ's approximation vacuous: the exact
    rerank sees every row, so the answer must equal brute force."""
    emb = load_table(spark, sf_smoke, "embeddings")
    n = emb.count()
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    want = [(r.id, r.cosine) for r in S.brute_force_topk(
        emb, "vec_id", "embedding", qv, k=10, exclude_id=1).collect()]
    got = [(r.id, r.cosine) for r in S.pq_topk(
        emb, "vec_id", "embedding", query_id=1, k=10,
        shortlist=n).collect()]
    assert got == want


def test_pq_recall_on_fixture(spark, sf_smoke):
    """ADC shortlist=50 must recover most of the true top-10 (the PQ
    recall contract; deterministic on the fixture)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    true_ids = {r.id for r in S.brute_force_topk(
        emb, "vec_id", "embedding", qv, k=10, exclude_id=1).collect()}
    got_ids = {r.id for r in S.pq_topk(
        emb, "vec_id", "embedding", query_id=1, k=10,
        shortlist=50).collect()}
    assert len(true_ids & got_ids) >= 6


def test_pq_codes_shape_and_range(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings").limit(100)
    cents = S.pq_train(emb, "vec_id", "embedding", m=4, ks=8)
    assert len(cents) == 4
    assert all(len(cs) == 8 for cs in cents)
    assert all(len(cv) == 16 for cs in cents for cv in cs)
    codes = emb.select(
        S.pq_codes_expr("embedding", cents).alias("c")).collect()
    for r in codes:
        assert len(r.c) == 4
        assert all(0 <= x < 8 for x in r.c)


def test_pq_param_validation(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    with pytest.raises(ValueError):
        S.pq_train(emb, "vec_id", "embedding", m=5)  # 64 % 5 != 0
    with pytest.raises(ValueError):
        S.pq_topk(emb, "vec_id", "embedding", query_id=-12345)


# -- DSIR importance weights --------------------------------------------------

def test_dsir_weights_sign_and_counts(spark):
    """Docs made of the target's token get positive weight, raw-only
    tokens negative; n_grams = unigrams + bigrams = 2n - 1."""
    from janusgraph_clickhouse_spark.llm.split import dsir_weights
    rows = [(1, "aa aa aa aa", True), (2, "aa aa aa aa", True),
            (3, "bb bb bb bb", False), (4, "bb bb bb bb", False),
            (5, "aa aa aa aa", False)]  # raw doc that LOOKS like target
    df = spark.createDataFrame(rows, "id long, text string, tgt boolean")
    out = {r.id: r for r in dsir_weights(
        df, "id", "text", is_target=F.col("tgt"), n_buckets=64).collect()}
    assert all(out[i].n_grams == 7 for i in out)
    # the target-looking raw doc scores identically to the target docs
    assert out[5].logw_micro == out[1].logw_micro
    assert out[5].logw_micro > 0 > out[3].logw_micro


def test_dsir_weights_match_python_model(spark):
    """The micro-unit weights equal an independent Python reimplementation
    of the smoothed hashed-bigram model (hash → counts → log ratio)."""
    import hashlib
    import math
    from collections import Counter
    from janusgraph_clickhouse_spark.llm.split import dsir_weights
    rows = [(1, "x y z x", True), (2, "y z q", False),
            (3, "x q q y", False), (4, "z z", True)]
    B = 32

    def buckets(text):
        toks = text.split(" ")
        grams = toks + [" ".join(toks[i:i + 2])
                        for i in range(len(toks) - 1)]
        return [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B
                for g in grams]

    tgt, raw = Counter(), Counter()
    for _id, text, is_t in rows:
        (tgt if is_t else raw).update(buckets(text))
    tt, tr = sum(tgt.values()), sum(raw.values())
    r_micro = {b: math.floor(math.log(
        ((tgt.get(b, 0) + 1) / (tt + B)) / ((raw.get(b, 0) + 1) / (tr + B))
    ) * 1e6 + 0.5) for b in set(tgt) | set(raw)}
    want = {i: sum(r_micro[b] for b in buckets(t)) for i, t, _ in rows}

    df = spark.createDataFrame(rows, "id long, text string, tgt boolean")
    got = {r.id: r.logw_micro for r in dsir_weights(
        df, "id", "text", is_target=F.col("tgt"), n_buckets=B).collect()}
    assert got == want


# -- deterministic weighted sampling ------------------------------------------

def test_weighted_sample_deterministic_and_filters(spark):
    """Same input → identical selection on every run; non-positive
    weights are excluded; k >= n returns every eligible row."""
    from janusgraph_clickhouse_spark.llm.split import weighted_sample
    rows = [(i, (i * 37) % 11 + 1) for i in range(50)] + [(99, 0), (98, -3)]
    df = spark.createDataFrame(rows, "id long, w long")
    a = [tuple(r) for r in weighted_sample(df, "id", "w", k=10).collect()]
    b = [tuple(r) for r in weighted_sample(df, "id", "w", k=10).collect()]
    assert a == b and len(a) == 10
    full = weighted_sample(df, "id", "w", k=1000).collect()
    assert len(full) == 50 and {r.id for r in full} == set(range(50))


def test_weighted_sample_matches_python_keys(spark):
    """key_nano equals the Python recomputation of
    floor(ln((md5_60(id)+1)/2^60)/w * 1e9 + 0.5) and the kept set is
    the top-k of that ranking."""
    import hashlib
    import math
    from janusgraph_clickhouse_spark.llm.split import weighted_sample
    rows = [(i, w) for i, w in [(1, 5), (2, 50), (3, 500), (4, 2), (5, 80)]]
    df = spark.createDataFrame(rows, "id long, w long")

    def key(i, w):
        v = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return math.floor(math.log((v + 1) / float(1 << 60)) / w * 1e9 + 0.5)

    want = sorted(((key(i, w), i, w) for i, w in rows),
                  key=lambda t: (-t[0], t[1]))[:3]
    got = weighted_sample(df, "id", "w", k=3).collect()
    assert [(r.key_nano, r.id, r.weight) for r in got] == want


# -- BPE merge training -------------------------------------------------------

def test_bpe_merges_closed_form(spark):
    """Sennrich's canonical toy corpus shape: (l,o) and (lo,w) dominate,
    then the e/w merges cascade into 'new'."""
    from janusgraph_clickhouse_spark.llm.text import bpe_merges
    df = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "new newer newest low")],
        "id long, text string")
    got = [tuple(r) for r in bpe_merges(df, "id", "text", 4).collect()]
    assert got == [(0, "l", "o", "lo", 6), (1, "lo", "w", "low", 6),
                   (2, "e", "w", "ew", 3), (3, "n", "ew", "new", 3)]


def test_bpe_greedy_leftmost_on_runs(spark):
    """(a,a) over 'aaaa'/'aaa': greedy leftmost pairs up from the left —
    'aaaa' gives 2 merged pairs, 'aaa' gives 1 + a loner — so the (a,a)
    count is 5 (freq-weighted adjacent positions: 3+2) and the second
    round counts ('aa','aa') once and ('aa','a') once."""
    from janusgraph_clickhouse_spark.llm.text import bpe_merges
    df = spark.createDataFrame([(1, "aaaa aaa")], "id long, text string")
    got = [tuple(r) for r in bpe_merges(df, "id", "text", 2).collect()]
    assert got[0] == (0, "a", "a", "aa", 5)
    # after merging: aaaa -> [aa, aa], aaa -> [aa, a]
    # pairs: (aa,aa)=1, (aa,a)=1 -> tie broken lexicographically: (aa,a)
    assert got[1] == (1, "aa", "a", "aaa", 1)


def test_bpe_raises_when_pairs_exhausted(spark):
    """Single-char vocabulary has no adjacent pairs — must fail loudly,
    not return a short table."""
    import pytest
    from janusgraph_clickhouse_spark.llm.text import bpe_merges
    df = spark.createDataFrame([(1, "a b a")], "id long, text string")
    with pytest.raises(ValueError, match="exhausted"):
        bpe_merges(df, "id", "text", 1)


def test_curation_pipeline_stages_compose(spark, sf_oracle):
    """l44: every sampled doc passed the quality gate and survived
    dedup; the sample is the deterministic top-100 and repeat runs
    agree."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    import janusgraph_clickhouse_spark.plans.llm_queries  # noqa: F401
    from janusgraph_clickhouse_spark.llm.text import gopher_rules
    out = QUERIES["l44_curation_pipeline"](spark, sf_oracle)
    rows = out.collect()
    assert len(rows) == 100
    docs = _docs(spark, sf_oracle)
    passing = {r.doc_id for r in gopher_rules(
        docs, "doc_id", "text", min_words=20, min_stop_hits=1)
        .filter("passes").select("doc_id").collect()}
    assert {r.id for r in rows} <= passing
    again = QUERIES["l44_curation_pipeline"](spark, sf_oracle).collect()
    assert rows == again


def test_bpe_token_counts_match_manual_apply(spark):
    """l45's vocab-join apply equals tokenizing each word by hand with
    the learned merges."""
    from janusgraph_clickhouse_spark.llm.text import (bpe_merges,
                                                      bpe_token_counts)
    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "new low newest")],
        "id long, text string")
    merges = [(r.sym_a, r.sym_b, r.merged)
              for r in bpe_merges(df, "id", "text", 3).collect()]

    def tokenize(word):
        syms = list(word)
        for a, b, m in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(m); i += 2
                else:
                    out.append(syms[i]); i += 1
            syms = out
        return syms

    got = {r.id: (r.n_words, r.n_bpe_tokens)
           for r in bpe_token_counts(df, "id", "text", 3).collect()}
    for _id, text in [(1, "low low lower"), (2, "new low newest")]:
        words = text.split(" ")
        want = (len(words), sum(len(tokenize(w)) for w in words))
        assert got[_id] == want


def test_lsh_banding_audit_invariants(spark):
    """Audit sanity on a crafted corpus: near-identical docs are true
    pairs AND banding candidates (recall 1 on identical signatures);
    hit count is bounded by both sides; disjoint docs never pair."""
    from janusgraph_clickhouse_spark.llm.dedup import lsh_banding_audit
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, base), (2, base),                      # exact duplicates
            (3, base + " lambda"),                     # near-duplicate
            (4, "one two three four five six seven"),  # unrelated
            (5, "red green blue cyan magenta yellow")]
    df = spark.createDataFrame(rows, "id long, text string")
    r = lsh_banding_audit(df, "id", "text", sample=10).collect()[0]
    assert r.n_hit <= min(r.n_cand, r.n_true)
    assert r.n_true >= 2          # (1,2) exact + (1,3)/(2,3) near
    assert r.recall == 1.0        # identical sigs always share buckets
    assert r.n_cand < 10          # nowhere near all pairs


def test_canonical_url_closed_forms(spark):
    from janusgraph_clickhouse_spark.llm.linkage import canonical_url
    cases = [
        ("HTTPS://WWW.Ex.COM:443/a/b/?q=1&utm_x=2#f", "https://ex.com/a/b"),
        ("http://ex.com:80/", "http://ex.com/"),
        ("https://ex.com", "https://ex.com/"),
        ("https://sub.ex.com/path", "https://sub.ex.com/path"),
        ("https://ex.com/p//", "https://ex.com/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonical_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_canonical_url_malformed_keeps_raw_key(spark):
    """Schemeless/malformed URLs must NOT collapse into one ':///'
    group (ADVICE r6): each keeps its raw string as its own key, so
    only byte-identical malformed strings still dedup together."""
    from janusgraph_clickhouse_spark.llm.linkage import (canonical_url,
                                                        url_dedup_groups)
    rows = [(1, "not a url"), (2, "ex.com/no-scheme"), (3, "://"),
            (4, "not a url"), (5, "https://ok.com/x")]
    df = spark.createDataFrame(rows, "id long, url string")
    got = [r.c for r in df.select(canonical_url("url").alias("c"))
           .collect()]
    assert got == ["not a url", "ex.com/no-scheme", "://",
                   "not a url", "https://ok.com/x"]
    groups = {r.canonical_url: (r.keep_id, r.dup_count)
              for r in url_dedup_groups(df, "id", "url").collect()}
    assert len(groups) == 4
    assert groups["not a url"] == (1, 2)  # identical raws still dedup
    assert groups["https://ok.com/x"] == (5, 1)


def test_fuzzy_match_pairs_closed_form(spark):
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.llm.linkage import fuzzy_match_pairs
    rows = [("red widget",), ("rad widget",), ("blue widget",),
            ("red bolt",), ("red widget",)]  # dup name collapses
    df = spark.createDataFrame(rows, "name string")
    blk = F.regexp_extract(F.col("name"), "([a-z]+)$", 1)
    out = fuzzy_match_pairs(df, "name", blk, max_distance=4).collect()
    pairs = {(r.name_a, r.name_b): r.lev for r in out}
    assert pairs[("rad widget", "red widget")] == 1
    assert ("blue widget", "rad widget") in pairs  # lev 4 boundary
    # bolt is its own block: never paired with a widget name
    assert all("bolt" not in a and "bolt" not in b for a, b in pairs)
    # duplicate names collapse before pairing: no self-pair, 3 pairs total
    assert len(pairs) == 3


def test_entropy_stats_closed_form(spark):
    import math
    from janusgraph_clickhouse_spark.llm.text import entropy_stats
    df = spark.createDataFrame([(1, "a a b b"), (2, "x x x x")],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in
           entropy_stats(df, "doc_id", "text").collect()}
    assert out[1].n_words == 4
    assert abs(out[1].words_entropy - math.log(2)) < 1e-5
    assert out[2].words_entropy == 0.0
    # chars of "a a b b": {a:2, b:2, ' ':3} over n=7
    assert out[1].n_chars == 7
    h = math.log(7) - (2*math.log(2)*2 + 3*math.log(3)) / 7
    assert abs(out[1].chars_entropy - h) < 1e-5


def test_entropy_stats_line_separator_chars(spark):
    """Char counting uses an explicit [^\\n] class so Java and RE2
    agree (ADVICE r6): \\r, \\u0085, \\u2028, \\u2029 COUNT as chars
    (RE2 semantics, which the DuckDB oracle shares); \\n never does."""
    from janusgraph_clickhouse_spark.llm.text import entropy_stats
    df = spark.createDataFrame(
        [(1, "ab\r\ncd e")], "doc_id long, text string")
    out = entropy_stats(df, "doc_id", "text").collect()[0]
    # a b \r c d   e = 7 chars; the \n is excluded
    assert out.n_chars == 7


def test_knn_classify_separated_clusters(spark):
    """Two well-separated direction clusters classify perfectly."""
    import random
    from janusgraph_clickhouse_spark.llm.similarity import knn_classify
    rng = random.Random(7)
    rows = []
    for i in range(40):
        lbl = i % 2
        base = [1.0, 0.0, 0.0, 0.0] if lbl == 0 else [0.0, 0.0, 0.0, 1.0]
        vec = [b + rng.uniform(-0.05, 0.05) for b in base]
        rows.append((i, vec, lbl))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, "
                                     "label int")
    out = knn_classify(df, "vec_id", "embedding", "label", k=3).collect()
    assert len(out) == 40
    assert all(r.correct for r in out)


def test_auto_planes_scales_with_corpus(spark):
    """``n_planes="auto"`` (r6 verdict item): fixture-scale corpora
    resolve to the oracle's 4; past m = 16·budget the bit count grows
    so expected candidates per point stay ≤ budget per table —
    candidate volume is bounded under corpus growth."""
    from janusgraph_clickhouse_spark.llm.similarity import _auto_planes

    def auto(m, budget=256):
        return _auto_planes(spark.range(m), "auto", budget)

    class Counted:
        """A corpus that reports `m` rows: counting spark.range(10**12)
        is a minutes-long scan that tests nothing _auto_planes does
        (it reads only df.count())."""

        def __init__(self, m):
            self.m = m

        def count(self):
            return self.m

    assert auto(500) == 4       # sf0.01 fixture → oracle's value
    assert auto(2000) == 4      # sf0.1 fixture → oracle's value
    assert auto(16 * 256) == 4          # boundary (m = 2^4·budget)
    assert auto(16 * 256 + 1) == 5      # first flip
    assert _auto_planes(Counted(10**9), "auto", 256) == 22  # ~4M buckets
    assert _auto_planes(Counted(10**12), "auto", 256) == 24  # cap
    # explicit ints pass through without a count job
    assert _auto_planes(spark.range(1), 7, 256) == 7


def test_auto_planes_bounds_candidate_volume(spark):
    """Plan-level pin of the flip: a planted corpus above the budget
    threshold gets MORE hyperplane bits, and the realized candidate
    count per point drops versus the old fixed n_planes=4."""
    import random
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.llm.similarity import knn_classify
    rng = random.Random(13)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)], i % 3)
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    # budget 4 → p = ceil(log2(300/4)) = 7 bits vs the fixed 4
    auto = knn_classify(df, "vec_id", "embedding", "label", k=3,
                        candidate_budget=4, dim=8)
    fixed = knn_classify(df, "vec_id", "embedding", "label", k=3,
                         n_planes=4, dim=8)
    n_auto = auto.agg(F.sum("n_candidates")).collect()[0][0]
    n_fixed = fixed.agg(F.sum("n_candidates")).collect()[0][0]
    assert n_auto < n_fixed / 2, (n_auto, n_fixed)


def test_hard_negatives_are_cross_label_and_ranked(spark):
    """Twin vectors with different labels share every LSH bucket, so
    each twin is the other's rank-1 hard negative (cos 1.0); an
    isolated well-separated cluster yields NO cross-label candidates
    (LSH separates clean clusters by design — blocked mining finds
    negatives exactly where label regions abut in hash space)."""
    import random
    from janusgraph_clickhouse_spark.llm.similarity import hard_negatives
    rng = random.Random(11)
    rows = []
    for i in range(10):
        vec = [rng.uniform(-1, 1) for _ in range(6)]
        rows.append((i, vec, 0))
        rows.append((100 + i, vec, 1))          # identical twin, label 1
    rows.append((500, [100.0, 90.0, 80.0, 70.0, 60.0, 50.0], 2))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, "
                                     "label int")
    out = hard_negatives(df, "vec_id", "embedding", "label", k=2).collect()
    assert out
    by_anchor = {}
    for r in out:
        assert r.neg_label != r.anchor_label
        assert 1 <= r.rank <= 2
        by_anchor.setdefault(r.anchor_id, []).append(r)
    for rs in by_anchor.values():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert all(a.cos >= b.cos for a, b in zip(rs, rs[1:]))
    for i in range(10):
        assert by_anchor[i][0].neg_id == 100 + i
        assert by_anchor[i][0].cos == 1.0
        assert by_anchor[100 + i][0].neg_id == i


def test_source_report_composition_consistency(spark, sf_smoke):
    """The dataset-card rollup must equal a recomputation from its
    individually-tested pieces (gopher verdicts + md5 dedup keys)."""
    from janusgraph_clickhouse_spark.plans.registry import QUERIES
    docs = _docs(spark, sf_smoke)
    rep = {r.source: r for r in
           QUERIES["l52_source_report"](spark, sf_smoke).collect()}
    g = {r.doc_id: r for r in
         X.gopher_rules(docs, "doc_id", "text").collect()}
    rows = docs.select("doc_id", "source", "text").collect()
    import collections
    agg = collections.defaultdict(lambda: [0, set(), 0, 0])
    for r in rows:
        a = agg[r.source]
        a[0] += 1
        a[1].add(r.text)
        a[2] += g[r.doc_id].n_words
        a[3] += 1 if g[r.doc_id].passes else 0
    assert set(rep) == set(agg)
    for srcname, (n, texts, words, passes) in agg.items():
        row = rep[srcname]
        assert row.n_docs == n
        assert row.uniq_texts == len(texts)
        assert row.total_words == words
        assert row.n_gopher_pass == passes


def test_exact_dedup_null_texts_keep_one(spark):
    """NULL texts form one dedup group like any other (md5(NULL) is
    NULL; the old null-unsafe semi-join silently deleted ALL of them —
    r7 review fix)."""
    from janusgraph_clickhouse_spark.llm.dedup import exact_dedup
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (4, "x"), (5, "y")],
        "doc_id long, text string")
    out = sorted(r.doc_id for r in
                 exact_dedup(df, "doc_id", "text").collect())
    assert out == [1, 3, 5]


def test_jaccard_pairs_normalizes_candidate_order(spark):
    """Caller candidates in (big, small) order must still be scored —
    previously they silently vanished (r7 review fix)."""
    from janusgraph_clickhouse_spark.llm.dedup import jaccard_pairs
    df = spark.createDataFrame(
        [(3, "a b c d e"), (7, "a b c d f")],
        "doc_id long, text string")
    cand = spark.createDataFrame([(7, 3)], "doc_a long, doc_b long")
    out = jaccard_pairs(df, "doc_id", "text", threshold=0.1,
                        candidates=cand).collect()
    assert len(out) == 1 and (out[0].doc_a, out[0].doc_b) == (3, 7)


def test_band_params_validated_loudly(spark):
    """bands x rows_per_band != num_hashes must raise, never silently
    starve the trailing bands into quadratic one-bucket joins."""
    import pytest
    from janusgraph_clickhouse_spark.llm.dedup import (
        check_band_params, minhash_dedup_pairs)
    with pytest.raises(ValueError, match="must\\s+equal num_hashes"):
        check_band_params(48, 16, 4)
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError):
        minhash_dedup_pairs(df, "doc_id", "text", num_hashes=50, bands=16)


def test_lsh_blocked_near_dup_empty_corpus(spark):
    """An empty (or all-null-vector) corpus returns an empty pair set
    with the right schema instead of a driver TypeError."""
    from janusgraph_clickhouse_spark.llm.dedup import (
        lsh_blocked_near_dup_pairs)
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    out = lsh_blocked_near_dup_pairs(empty, "vec_id", "embedding")
    assert out.count() == 0
    assert "id_a" in out.columns and "id_b" in out.columns


def test_lsh_banding_audit_clean_sample_scores_ones(spark):
    """A sample with zero true pairs and zero candidates must report
    1.0/1.0/1.0, not NULL — an alerting consumer comparing recall<0.9
    would otherwise never fire (r7 review fix, mirrored in the l46
    oracle)."""
    from janusgraph_clickhouse_spark.llm.dedup import lsh_banding_audit
    # fully disjoint word sets: no shared shingle, no shared min-hash,
    # hence zero candidates AND zero true pairs
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(8)))
            for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = lsh_banding_audit(df, "doc_id", "text", sample=6).collect()[0]
    assert r.n_true == 0 and r.n_cand == 0
    assert r.precision == 1.0 and r.recall == 1.0 and r.f1 == 1.0


def test_entropy_stats_keeps_one_sided_docs(spark):
    """A doc with words but zero countable chars (text '\\n\\n') must
    still emit a row (n_chars=0, NULL char entropy) — the inner join
    silently dropped it (r7 review, reproduced)."""
    from janusgraph_clickhouse_spark.llm.text import entropy_stats
    df = spark.createDataFrame([(1, "hello world hello"), (2, "\n\n")],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in
           entropy_stats(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2}
    assert out[2].n_chars == 0 and out[2].chars_entropy is None


def test_stopword_ratio_empty_list_means_zero(spark):
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.llm.text import stopword_ratio
    df = spark.createDataFrame([("the cat",)], "text string")
    r = df.select(stopword_ratio("text", stopwords=[]).alias("r"),
                  stopword_ratio("text").alias("dflt")).collect()[0]
    assert r.r == 0.0        # explicit [] = no stopwords, NOT EN fallback
    assert r.dflt == 0.5


def test_exact_stratified_split_keeps_null_strata(spark):
    """NULL-stratum rows get seats and split labels like any stratum
    (null-safe seat-table join; the plain equi-join silently dropped
    them — r7 review)."""
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.llm.split import (
        exact_stratified_split)
    rows = [(i, None if i < 10 else "s") for i in range(20)]
    df = spark.createDataFrame(rows, "id long, src string")
    out = exact_stratified_split(df, "id", "src")
    assert out.count() == 20
    nulls = out.filter(F.col("src").isNull())
    got = {r.split: r.c for r in
           nulls.groupBy("split").agg(F.count(F.lit(1)).alias("c"))
           .collect()}
    assert got == {"train": 8, "val": 1, "test": 1}


def test_exact_stratified_split_validates_pcts(spark):
    import pytest
    from janusgraph_clickhouse_spark.llm.split import (
        exact_stratified_split)
    df = spark.createDataFrame([(1, "s")], "id long, src string")
    with pytest.raises(ValueError, match="sum to 100"):
        exact_stratified_split(df, "id", "src", pcts=(80, 20, 10))


def test_hash_bucket_null_key_raises(spark):
    import pytest
    from janusgraph_clickhouse_spark.llm.split import train_val_test_split
    df = spark.createDataFrame([(None,)], "id string")
    with pytest.raises(Exception, match="NULL key"):
        train_val_test_split(df, "id").collect()


def test_domain_sample_non_dyadic_rate_exact(spark):
    """rate 0.3 keeps buckets [0, 3000) exactly — the old cast-truncate
    cut at 2999 (0.3*10000 is 2999.999... in double; r7 review)."""
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.llm.split import (
        domain_sample, hash_bucket)
    df = (spark.range(20000)
          .select(F.col("id"), F.lit("web").alias("dom")))
    kept = domain_sample(df, "id", "dom", {"web": 0.3})
    want = df.filter(hash_bucket("id", 10000, "mix") < 3000).count()
    assert kept.count() == want
