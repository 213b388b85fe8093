"""Property-based invariants (hypothesis, SURVEY §5): WAV decode
round-trips over arbitrary sample data, scrub idempotence, dedup-family
algebra.  Spark-backed properties batch each example into ONE job and
keep example counts small; pure-numpy properties run wide."""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from janusgraph_clickhouse_spark.llm import dedup as D
from janusgraph_clickhouse_spark.llm import multimodal as M
from janusgraph_clickhouse_spark.llm import text as X

# deterministic, CI-friendly.  derandomize=True (r15, VERDICT r14 item 1):
# the driver's gate must be reproducible — a fresh random Hypothesis draw
# failed the session-window boundary in the driver's r14 run but not in any
# builder run.  Bug-hunting with fresh entropy belongs in local sessions
# (run with --hypothesis-seed=random), not in the gate.
FAST = settings(max_examples=20, deadline=None, derandomize=True,
                suppress_health_check=[HealthCheck.function_scoped_fixture])
SPARK_FAST = settings(max_examples=5, deadline=None, derandomize=True,
                      suppress_health_check=[
                          HealthCheck.function_scoped_fixture])


@FAST
@given(n=st.integers(1, 500), channels=st.integers(1, 2),
       rate=st.sampled_from([8000, 16000, 44100]), seed=st.integers(0, 999))
def test_wav_decode_roundtrip(n, channels, rate, seed):
    import struct
    rng = np.random.RandomState(seed)
    samples = rng.randint(-32768, 32768, size=(n, channels),
                          dtype=np.int16)
    raw = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * 2, channels * 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 36 + len(raw)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(raw)) + raw)
    got, got_rate = M.decode_audio(wav)
    assert got_rate == rate
    assert np.array_equal(got, samples)


_WORD = st.text(alphabet="abcxyz@.:/019+()- ", min_size=0, max_size=12)
_TEXTS = st.lists(_WORD, min_size=1, max_size=6)

@SPARK_FAST
@given(texts=_TEXTS)
def test_scrub_pii_idempotent(spark, texts):
    """Scrubbing already-scrubbed text is a no-op: the replacement token
    matches no pattern, so scrub∘scrub == scrub (and the second pass
    counts only whatever survives — which the first pass then proves
    it removed)."""
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    once = X.scrub_pii(df, "text").select("doc_id", "text")
    twice = X.scrub_pii(once, "text")
    rows = twice.collect()
    scrubbed = {r.doc_id: r.text for r in once.collect()}
    for r in rows:
        assert r.text == scrubbed[r.doc_id]
        assert (r.pii_email, r.pii_url, r.pii_phone) == (0, 0, 0)

@SPARK_FAST
@given(docs=st.lists(
    st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=12)
    .map(" ".join),
    min_size=2, max_size=6))
def test_jaccard_pairs_algebra(spark, docs):
    """Canonical ordering, (0, 1] range, and exact-1 iff identical
    shingle sets — over arbitrary tiny corpora."""
    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = D.jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.01,
                          allow_quadratic=True).collect()
    sh = {i: set() for i, _ in rows}
    for i, t in rows:
        w = t.split(" ")
        for j in range(len(w) - 1):
            sh[i].add((w[j], w[j + 1]))
    for r in got:
        assert r.doc_a < r.doc_b
        assert 0 < r.jaccard <= 1
        a, b = sh[r.doc_a], sh[r.doc_b]
        exact = len(a & b) / len(a | b)
        assert abs(r.jaccard - round(exact, 6)) < 1e-9
        if r.jaccard == 1.0:
            assert a == b

@SPARK_FAST
@given(seed=st.integers(0, 10_000))
def test_shared_spans_report_true_substrings(spark, seed):
    """Every reported span must be a literal token-for-token match at
    the reported offsets — checked against the raw texts in Python."""
    rng = np.random.RandomState(seed)
    vocab = [f"w{i}" for i in range(30)]
    passage = [vocab[rng.randint(30)] for _ in range(rng.randint(16, 25))]
    def doc():
        pre = [f"u{rng.randint(1000)}" for _ in range(rng.randint(0, 8))]
        post = [f"v{rng.randint(1000)}" for _ in range(rng.randint(0, 8))]
        return pre + passage + post
    texts = [" ".join(doc()), " ".join(doc())]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    spans = D.shared_spans(df, "doc_id", "text", k=8,
                           min_tokens=16).collect()
    assert spans, "the planted passage must be found"
    toks = [t.split(" ") for t in texts]
    for r in spans:
        assert (toks[r.doc_a][r.start_a:r.start_a + r.n_tokens]
                == toks[r.doc_b][r.start_b:r.start_b + r.n_tokens])


_WORDS = st.lists(st.sampled_from(
    ["key", "agg", "row", "scan", "fast", "hash", "x", "yz"]),
    min_size=1, max_size=40)

@SPARK_FAST
@given(docs=st.lists(_WORDS, min_size=1, max_size=6),
       modulus=st.sampled_from([4, 8, 16]))
def test_cdc_chunks_partition_exactly(spark, docs, modulus):
    """CDC chunks PARTITION each document: starts are contiguous, token
    counts sum to the doc length, and re-joining the chunk texts (via
    their md5 keys being consistent with the slices) loses nothing —
    for ANY token content and cut density."""
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.llm.dedup import cdc_chunks
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, text string")
    out = cdc_chunks(df, "id", "text", w=2, modulus=modulus).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    for i, ws in enumerate(rows):
        n_tokens = len(rows[i][1].split(" "))
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert chunks[0].start == 0
        pos = 0
        for c in chunks:
            assert c.start == pos
            pos += c.n_tokens
        assert pos == n_tokens

@SPARK_FAST
@given(seed=st.integers(0, 9999))
def test_hll_order_and_partitioning_invariant(spark, seed):
    """The HLL estimate is a max-aggregate of a pure hash — identical
    under any row order, duplication, or partitioning."""
    import random
    from janusgraph_clickhouse_spark.functions.sketches import hll_distinct
    rng = random.Random(seed)
    vals = [rng.randrange(10_000) for _ in range(300)]
    df1 = spark.createDataFrame([(v,) for v in vals], ["k"])
    shuffled = vals[::-1] + vals[:50]
    df2 = spark.createDataFrame([(v,) for v in shuffled], ["k"]) \
        .repartition(7)
    a = hll_distinct(df1, "k").collect()[0]
    b = hll_distinct(df2, "k").collect()[0]
    assert a.hll_estimate == b.hll_estimate

@SPARK_FAST
@given(docs=st.lists(_WORDS, min_size=2, max_size=6))
def test_scd2_versions_account_for_every_event(spark, docs):
    """SCD2 invariants for ANY event sequence: per-user n_events sums to
    the user's event count, versions are contiguous from 1, and exactly
    one version per user is current."""
    import datetime
    from janusgraph_clickhouse_spark.streaming.ops import scd2_versions
    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for uid, states in enumerate(docs):
        for k, s in enumerate(states):
            eid += 1
            rows.append((eid, base + datetime.timedelta(seconds=30 * k),
                         uid, s, 1.0, "{}"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = scd2_versions(ev).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r)
    for uid, states in enumerate(docs):
        vs = sorted(per_user[uid], key=lambda r: r.version)
        assert sum(r.n_events for r in vs) == len(states)
        assert [r.version for r in vs] == list(range(1, len(vs) + 1))
        assert sum(1 for r in vs if r.is_current) == 1
        assert vs[-1].is_current

@given(st.integers(0, 2**31 - 1), st.integers(50, 400))
@settings(max_examples=5, deadline=None)
def test_kmv_identical_and_disjoint_sets(spark, seed, n):
    """KMV algebra closed forms ONLY — these hold deterministically for
    ANY key set: A vs A gives Jaccard 1 and equal estimates; A vs a
    disjoint B has an exact-zero sketch intersection.  The accuracy
    band deliberately lives in test_kmv_accuracy_over_pinned_seeds:
    asserting a probabilistic error bound over hypothesis-drawn inputs
    is a coin flipped every run (seed=104/n=180 broke the 3-sigma
    bound, seed=12/n=370 broke the widened 4-sigma one — a
    deterministic sketch over random universes WILL keep finding tail
    draws)."""
    from janusgraph_clickhouse_spark.functions.sketches import kmv_set_ops
    a = spark.range(seed, seed + n).selectExpr("id AS k")
    same = kmv_set_ops(a, a, "k", k=32).collect()[0]
    assert same.jaccard_est == 1.0
    assert same.est_a == same.est_b == same.est_union
    assert same.n_intersect == n
    assert same.est_a > 0
    b = spark.range(seed + 10**9, seed + 10**9 + n).selectExpr("id AS k")
    disj = kmv_set_ops(a, b, "k", k=32).collect()[0]
    assert disj.n_intersect == 0

def test_kmv_accuracy_over_pinned_seeds(spark):
    """Distributional accuracy check on a FIXED seed list: the median
    relative error of the k=32 KMV cardinality estimate over 20 pinned
    (seed, n) draws is well under the ~18% = 1/sqrt(k-1) theoretical
    sigma.  Median over pinned inputs is stable run-to-run (no bound to
    widen when a new tail draw appears); individual draws can and do
    exceed several sigma — seed=12/n=370 sits at 72.2% error and is
    intentionally INCLUDED below to pin that outliers don't move the
    median."""
    import statistics
    from janusgraph_clickhouse_spark.functions.sketches import kmv_set_ops
    pinned = [(104, 180), (12, 370), (0, 50), (1, 400), (7, 97),
              (42, 256), (999, 333), (2**30, 128), (31337, 64),
              (55555, 211), (123456, 389), (2, 301), (17, 150),
              (271828, 77), (314159, 222), (8675309, 111),
              (13, 358), (1000003, 99), (777, 288), (2**31 - 1, 175)]
    errs = []
    for seed, n in pinned:
        a = spark.range(seed, seed + n).selectExpr("id AS k")
        r = kmv_set_ops(a, a, "k", k=32).collect()[0]
        errs.append(abs(r.est_a - n) / n)
    assert statistics.median(errs) < 0.25, sorted(errs)

def test_kmv_small_sets_are_exact(spark):
    """Below k distinct values the sketch IS the set: every estimate
    collapses to the exact count."""
    from janusgraph_clickhouse_spark.functions.sketches import kmv_set_ops
    a = spark.range(0, 10).selectExpr("id AS k")
    b = spark.range(5, 15).selectExpr("id AS k")
    r = kmv_set_ops(a, b, "k", k=32).collect()[0]
    assert r.est_a == 10.0 and r.est_b == 10.0
    assert r.est_union == 15.0
    assert r.n_intersect == 5
    assert abs(r.est_intersect - 5.0) < 1e-9
    assert abs(r.jaccard_est - 5.0 / 15.0) < 1e-6

@SPARK_FAST
@given(vals=st.lists(st.floats(0, 100, allow_nan=False, width=32),
                     min_size=1, max_size=30))
def test_delta_sum_matches_python_reference(spark, vals):
    """deltaSum over any value sequence equals the per-pair cents
    reference — quantization before differencing, positive diffs only."""
    from datetime import datetime, timedelta
    from janusgraph_clickhouse_spark.operators.temporal import delta_sum
    base = datetime(2024, 1, 1)
    rows = [(1, base + timedelta(minutes=i), float(v), i)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, "
                                     "value double, event_id long")
    out = delta_sum(df, "user_id", "ts", "value",
                    order_extra="event_id").collect()[0]
    import math
    cents = [math.floor(float(v) * 100 + 0.5) for v in vals]
    diffs = [b - a for a, b in zip(cents, cents[1:])]
    assert out.n_events == len(vals)
    assert out.n_increases == sum(1 for d in diffs if d > 0)
    assert out.delta_sum_cents == sum(d for d in diffs if d > 0)

@SPARK_FAST
@given(buckets=st.lists(st.tuples(st.integers(0, 20),
                                  st.floats(0, 50, allow_nan=False)),
                        min_size=1, max_size=15, unique_by=lambda t: t[0]))
def test_gap_fill_axis_dense_and_locf(spark, buckets):
    """The filled axis is exactly [min_b, max_b] step width; every gap
    bucket carries the last observed sum forward."""
    from datetime import datetime, timedelta
    from janusgraph_clickhouse_spark.operators.temporal import gap_fill_locf
    base = datetime(2024, 1, 1)
    rows = [("k", base + timedelta(minutes=10 * b), float(v))
            for b, v in buckets]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = sorted(gap_fill_locf(df, "k", "ts", "v", width_sec=600)
                 .collect(), key=lambda r: r.b)
    bs = [r.b for r in out]
    assert bs == list(range(bs[0], bs[-1] + 1, 600))
    import math
    obs = {b: math.floor(float(v) * 100 + 0.5)
           for b, v in buckets}
    b0 = min(obs)
    last = None
    for r in out:
        idx = (r.b - out[0].b) // 600 + min(b for b, _ in buckets)
        if idx in obs:
            last = obs[idx]
            assert not r.is_gap and r.cnt == 1
        else:
            assert r.is_gap and r.cnt == 0
        assert r.filled_sum_cents == last

@FAST
@given(host=st.from_regex(r"[A-Za-z][A-Za-z0-9]{0,8}", fullmatch=True),
       path=st.from_regex(r"(/[A-Za-z0-9]{0,5}){0,3}/?", fullmatch=True),
       www=st.booleans(), port=st.booleans(), query=st.booleans())
def test_canonical_url_idempotent(spark, host, path, www, port, query):
    """canonical(canonical(u)) == canonical(u) — the canonical form is
    a fixed point."""
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.llm.linkage import canonical_url
    u = ("https://" + ("www." if www else "") + host + ".com"
         + (":443" if port else "") + path
         + ("?utm_x=1" if query else ""))
    df = spark.createDataFrame([(u,)], "url string")
    once = df.select(canonical_url("url").alias("c"))
    twice = once.select(canonical_url("c").alias("c2"), "c").collect()[0]
    assert twice.c2 == twice.c

@SPARK_FAST
@given(data=st.lists(st.tuples(st.integers(0, 50), st.integers(1, 9)),
                     min_size=1, max_size=30),
       pcts=st.sets(st.integers(1, 100), min_size=1, max_size=4))
def test_weighted_quantiles_match_python_reference(spark, data, pcts):
    """weighted_quantiles == the sort-and-accumulate reference for any
    integer values/weights and any percent set."""
    from janusgraph_clickhouse_spark.functions.sketches import (
        weighted_quantiles)
    df = spark.createDataFrame([("g", v, w) for v, w in data],
                               "g string, c long, w long")
    got = {r.pct: r.q_value for r in
           weighted_quantiles(df, "c", "w", ["g"],
                              sorted(pcts)).collect()}
    W = sum(w for _, w in data)
    agg = {}
    for v, w in data:
        agg[v] = agg.get(v, 0) + w
    for p in pcts:
        r = -(-W * p // 100)  # ceil
        cum = 0
        for v in sorted(agg):
            cum += agg[v]
            if cum >= r:
                assert got[p] == v, (p, r, got, agg)
                break

@SPARK_FAST
@given(counts=st.lists(st.integers(1, 40), min_size=1, max_size=5),
       pcts=st.tuples(st.integers(1, 98), st.integers(1, 50)))
def test_exact_stratified_split_is_largest_remainder(spark, counts, pcts):
    """Per-stratum split sizes equal the largest-remainder reference
    for arbitrary stratum sizes and percentages."""
    from pyspark.sql import functions as F

    from janusgraph_clickhouse_spark.llm.split import (
        exact_stratified_split)
    tp, vp = pcts
    if tp + vp >= 100:
        vp = (100 - tp) // 2
    sp = 100 - tp - vp
    rows, base = [], 0
    for si, n in enumerate(counts):
        rows += [(base + i, f"s{si}") for i in range(n)]
        base += n
    df = spark.createDataFrame(rows, "id long, src string")
    out = exact_stratified_split(df, "id", "src", pcts=(tp, vp, sp))
    got = {(r.src, r.split): r.c for r in
           out.groupBy("src", "split")
           .agg(F.count(F.lit(1)).alias("c")).collect()}
    for si, n in enumerate(counts):
        seats = []
        for prio, p in enumerate((tp, vp, sp)):
            seats.append([n * p // 100, n * p % 100, prio])
        leftover = n - sum(s[0] for s in seats)
        for s in sorted(seats, key=lambda s: (-s[1], s[2]))[:leftover]:
            s[0] += 1
        for (want, _, prio), name in zip(
                seats, ("train", "val", "test")):
            have = got.get((f"s{si}", name), 0)
            assert have == want, (si, n, name, want, have, got)

@SPARK_FAST
@given(seq=st.lists(st.sampled_from("vcspe"), min_size=0, max_size=25))
def test_sequence_count_matches_re_findall(spark, seq):
    """sequence_count == Python re.findall (non-overlapping greedy) for
    any event stream."""
    import re
    from janusgraph_clickhouse_spark.operators.temporal import (
        sequence_count)
    letters = {"view": "v", "click": "c", "signup": "s",
               "purchase": "p", "error": "e"}
    inv = {v: k for k, v in letters.items()}
    rows = [(1, t, t, inv[ch]) for t, ch in enumerate(seq)]
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string")
    pats = {"n_cp": "cp", "n_j": "v[vc]*p", "n_e": "e"}
    r = sequence_count(df, "user_id", "ts", "event_id", "event_type",
                       letters=letters, patterns=pats).collect()[0]
    s = "".join(seq)
    for name, rx in pats.items():
        assert getattr(r, name) == len(re.findall(rx, s)), (s, name)

@SPARK_FAST
@given(paras=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 4),
                                st.sampled_from(["aa", "bb", "cc"])),
                      min_size=1, max_size=20, unique_by=lambda t: t[:2]))
def test_paragraph_dedup_conservation(spark, paras):
    """Σ n_kept == number of DISTINCT paragraph texts that appear (each
    distinct text survives exactly once, anywhere), and n_paras sums to
    the input size."""
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.llm.dedup import paragraph_dedup
    df = spark.createDataFrame(paras, "doc_id long, idx long, para string")
    out = paragraph_dedup(df, "doc_id", "idx", "para")
    agg = out.agg(F.sum("n_paras").alias("np"),
                  F.sum("n_kept").alias("nk")).collect()[0]
    assert agg.np == len(paras)
    assert agg.nk == len({p for _, _, p in paras})

@SPARK_FAST
@given(n_words=st.integers(0, 40), chunk=st.integers(1, 10),
       stride_off=st.integers(0, 5))
def test_overlap_chunks_reassembly_property(spark, n_words, chunk,
                                            stride_off):
    """For ANY (n_words, chunk_words ≥ stride): concatenating each
    chunk's NEW words (the last `stride` of each window, all of the
    first) reproduces the document exactly — no loss, no duplication
    beyond the declared overlap."""
    stride = max(1, chunk - stride_off)
    words = [f"w{i}" for i in range(n_words)]
    df = spark.createDataFrame([(1, " ".join(words))],
                               "doc_id long, text string")
    rows = sorted(X.overlap_chunks(df, "doc_id", "text",
                                   chunk_words=chunk,
                                   stride=stride).collect(),
                  key=lambda r: r.chunk_id)
    if n_words == 0:
        assert rows == []
        return
    rebuilt = []
    for r in rows:
        toks = r.chunk_text.split(" ") if r.chunk_text else []
        assert len(toks) == r.chunk_len
        new = toks if r.chunk_id == 0 else toks[chunk - stride:]
        rebuilt.extend(new)
    assert rebuilt == words

@SPARK_FAST
@given(seed=st.integers(0, 99))
def test_priority_dedup_partition_property(spark, seed):
    """Kept rows are exactly one per distinct text; every kept row has
    the minimal (rank, id) of its group; copies sum to the corpus."""
    rng = np.random.RandomState(seed)
    srcs = ["a", "b", "c"]
    rows = [(i, "t%d" % rng.randint(0, 6), srcs[rng.randint(0, 3)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = D.priority_dedup(df, "doc_id", "text", "src",
                           priority=["b", "c"]).collect()
    rank = {"b": 0, "c": 1, "a": 2}
    groups = {}
    for i, t, s in rows:
        groups.setdefault(t, []).append((rank[s], i, s))
    assert len(out) == len(groups)
    assert sum(r.n_copies for r in out) == len(rows)
    by_id = {r.doc_id: r for r in out}
    for t, members in groups.items():
        rk, i, s = min(members)
        assert i in by_id
        assert by_id[i].source == s and by_id[i].src_rank == rk
        assert by_id[i].n_copies == len(members)

@SPARK_FAST
@given(seed=st.integers(0, 99))
def test_segment_overlap_inclusion_exclusion(spark, seed):
    """For ANY membership table: n_union = n_a + n_b − n_inter and both
    n_inter ≤ min(n_a, n_b) and jaccard ∈ [0, 1] hold for every pair."""
    from janusgraph_clickhouse_spark.functions.bitmaps import (
        segment_overlap_matrix)
    rng = np.random.RandomState(seed)
    rows = [("s%d" % rng.randint(0, 4), int(rng.randint(0, 15)))
            for _ in range(40)]
    df = spark.createDataFrame(rows, "seg string, uid long")
    sets = {}
    for s, u in rows:
        sets.setdefault(s, set()).add(u)
    out = segment_overlap_matrix(df, "uid", "seg").collect()
    segs = sorted(sets)
    assert len(out) == len(segs) * (len(segs) - 1) // 2
    for r in out:
        a, b = sets[r.seg_a], sets[r.seg_b]
        assert (r.n_a, r.n_b) == (len(a), len(b))
        assert r.n_inter == len(a & b)
        assert r.n_union == len(a | b) == r.n_a + r.n_b - r.n_inter
        assert 0.0 <= r.jaccard <= 1.0

@SPARK_FAST
@given(seed=st.integers(0, 999), run_len=st.integers(8, 14),
       pre_a=st.integers(0, 10), pre_b=st.integers(0, 10))
def test_winnow_planted_run_property(spark, seed, run_len, pre_a, pre_b):
    """MOSS guarantee, randomized: ANY planted shared run of
    ≥ k + window − 1 words (k=5, w=4 → 8) yields a shared winnowing
    fingerprint regardless of the random surrounding text or the
    run's offset in either document."""
    rng = np.random.RandomState(seed)
    def rand_words(n, tag):
        return [f"{tag}{rng.randint(0, 1_000_000)}" for _ in range(n)]
    shared = [f"run{seed}_{i}" for i in range(run_len)]
    doc_a = rand_words(pre_a, "a") + shared + rand_words(3, "x")
    doc_b = rand_words(pre_b, "b") + shared + rand_words(5, "y")
    df = spark.createDataFrame(
        [(1, " ".join(doc_a)), (2, " ".join(doc_b))],
        "doc_id long, text string")
    fps = D.winnow_fingerprints(df, "doc_id", "text", k=5, window=4)
    rows = fps.collect()
    s1 = {r.fp for r in rows if r.id == 1}
    s2 = {r.fp for r in rows if r.id == 2}
    assert s1 & s2, (seed, run_len, pre_a, pre_b)

@SPARK_FAST
@given(docs=st.lists(
    st.lists(st.text(alphabet="abc", min_size=1, max_size=5),
             min_size=1, max_size=6).map(" ".join),
    min_size=1, max_size=5))
def test_bpe_train_and_apply_match_reference(spark, docs):
    """BPE training (pair count desc, then lexicographic — greedy
    leftmost non-overlapping merge) and the vocabulary-join apply on
    arbitrary small corpora match a pure-Python reference trainer:
    identical ordered merge table AND identical per-document
    (n_words, n_bpe_tokens) — guards the islands-formulation greedy
    merge and the run-length parity argument against every corpus
    hypothesis can draw (aaaa runs, overlapping pairs, ties)."""
    from collections import Counter

    from hypothesis import assume

    from janusgraph_clickhouse_spark.llm.text import (
        bpe_merges, bpe_token_counts)
    n_merges = 3
    freq = Counter(w for d in docs for w in d.split(" ") if w)
    assume(freq)
    syms = {w: list(w) for w in freq}
    want_merges = []
    ok = True
    for t in range(n_merges):
        pc = Counter()
        for w, f in freq.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            ok = False
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want_merges.append((t, a, b, a + b, cnt))
        for w in syms:
            s = syms[w]
            out = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    assume(ok)  # vocab exhausted pairs → the Spark side raises loudly
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    got_merges = [(r.step, r.sym_a, r.sym_b, r.merged, r.pair_count)
                  for r in bpe_merges(df, "doc_id", "text",
                                      n_merges=n_merges)
                  .orderBy("step").collect()]
    assert got_merges == want_merges, docs
    want_counts = {}
    for i, d in enumerate(docs):
        ws = [w for w in d.split(" ") if w]
        if ws:
            want_counts[i] = (len(ws), sum(len(syms[w]) for w in ws))
    got_counts = {r.id: (r.n_words, r.n_bpe_tokens)
                  for r in bpe_token_counts(df, "doc_id", "text",
                                            n_merges=n_merges).collect()}
    assert got_counts == want_counts, docs

@SPARK_FAST
@given(vals=st.lists(st.tuples(st.integers(0, 9), st.integers(0, 5)),
                     min_size=1, max_size=30),
       weighted=st.booleans())
def test_cms_heavy_hitters_match_reference(spark, vals, weighted):
    """Count-Min heavy hitters (d=4 × w=256 md5-salted counters, min
    over rows, top-k by estimate desc / key asc) on arbitrary small
    multisets match a bit-exact pure-Python sketch replica — counts
    and integer weights both — plus the one-sided guarantee
    (overcount ≥ 0) asserted independently."""
    import hashlib

    from janusgraph_clickhouse_spark.functions.sketches import (
        CMS_D, CMS_W, cms_heavy_hitters)

    def bucket(r, key):
        s = f"cms{r}|{key}"
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % CMS_W

    counters = {}
    exact = {}
    for key, w in vals:
        wt = w if weighted else 1
        exact[key] = exact.get(key, 0) + wt
        for r in range(CMS_D):
            b = (r, bucket(r, str(key)))
            counters[b] = counters.get(b, 0) + wt
    est = {key: min(counters[(r, bucket(r, str(key)))]
                    for r in range(CMS_D)) for key in exact}
    want = sorted(((k, est[k], exact[k], est[k] - exact[k])
                   for k in exact),
                  key=lambda t: (-t[1], t[0]))[:20]
    df = spark.createDataFrame(vals, "key long, w long")
    out = cms_heavy_hitters(df, "key",
                            weight_col="w" if weighted else None)
    got = [(r.key, r.cms_estimate, r.exact_cnt, r.overcount)
           for r in out.collect()]
    assert got == want, (vals, weighted)
    assert all(o >= 0 for *_, o in got)

@SPARK_FAST
@given(vals=st.lists(st.integers(0, 500), min_size=0, max_size=60))
def test_hll_distinct_matches_bit_exact_replica(spark, vals):
    """HLL distinct (m=256 registers over md5_long60: bucket = low 8
    bits, rank = 53 − bit_length(h>>8), Z summed as exact int64)
    matches a pure-Python register replica on arbitrary small
    multisets — guards the shared q41/q46 register machinery against
    formula drift (an off-by-one rank or bucket shifts the estimate
    far beyond the 4dp grid)."""
    import hashlib

    from janusgraph_clickhouse_spark.functions.sketches import (
        HLL_M, HLL_NUMER, hll_distinct)
    regs = {}
    for v in set(vals):
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        bucket = h % HLL_M
        rest = h >> 8
        rank = 53 - rest.bit_length() if rest > 0 else 53
        regs[bucket] = max(rank, regs.get(bucket, 0))
    z = (sum(1 << (53 - m) for m in regs.values())
         + (HLL_M - len(regs)) * (1 << 53))
    want_est = HLL_NUMER / z
    row = (hll_distinct(
        spark.createDataFrame([(v,) for v in vals] or [(None,)],
                              "v int"), "v").first())
    assert row.n_exact == len(set(vals))
    assert abs(row.hll_estimate - want_est) <= 5.1e-5, (vals, want_est)
    if vals:
        want_rel = (want_est - row.n_exact) / row.n_exact
        assert abs(row.rel_error - want_rel) <= 5.1e-7
    else:
        assert row.rel_error is None

@SPARK_FAST
@given(keys=st.lists(st.integers(0, 10**6), min_size=1, max_size=40,
                     unique=True),
       salt=st.sampled_from(["", "s1", "abc"]))
def test_split_membership_matches_md5_replica(spark, keys, salt):
    """train/val/test membership (md5(salt+key)[:8] % 100) and
    domain_sample survivorship (bucket < floor(rate·n + 0.5)) match a
    pure-Python md5 replica on arbitrary key sets, and domain_sample
    subsets are NESTED as the rate grows (the documented
    raising-a-weight-only-adds-documents contract)."""
    import hashlib

    from janusgraph_clickhouse_spark.llm.split import (
        domain_sample, train_val_test_split)

    def bucket(k, n, s):
        return int(hashlib.md5((s + str(k)).encode())
                   .hexdigest()[:8], 16) % n

    df = spark.createDataFrame([(k, "web") for k in keys],
                               "doc_id long, domain string")
    got = {r.doc_id: (r.bucket, r.split)
           for r in train_val_test_split(df, "doc_id",
                                         salt=salt).collect()}
    for k in keys:
        b = bucket(k, 100, salt)
        s = "train" if b < 80 else ("val" if b < 90 else "test")
        assert got[k] == (b, s), (k, salt, got[k], (b, s))
    prev = None
    for rate in (0.1, 0.35, 0.8):
        surv = {r.doc_id for r in domain_sample(
            df, "doc_id", "domain", {"web": rate}).collect()}
        import math
        cut = math.floor(rate * 10000 + 0.5)
        want = {k for k in keys if bucket(k, 10000, "mix") < cut}
        assert surv == want, (rate, salt)
        if prev is not None:
            assert prev <= surv  # nesting
        prev = surv

@SPARK_FAST
@given(events=st.lists(st.tuples(st.integers(0, 2),      # user
                                 st.integers(0, 50),     # ts
                                 st.integers(0, 20),     # event_id
                                 st.integers(-500, 500)),  # cents value
                       min_size=1, max_size=25, unique=True),
       horizon=st.sampled_from([0, 3, 30]))
def test_decayed_score_matches_exact_reference(spark, events, horizon):
    """decayed_score's exact-int64 contract on arbitrary event sets:
    score_fixed = Σ_{k≤horizon} cents_k · 2^(horizon−k) over the
    (ts, event_id)-DESC recency ranks, bit-identical to a pure-Python
    big-int replica (including negative values and the hard horizon
    cut)."""
    from janusgraph_clickhouse_spark.streaming.ops import decayed_score
    want = {}
    by_user = {}
    for u, ts, eid, c in events:
        by_user.setdefault(u, []).append((ts, eid, c))
    for u, evs in by_user.items():
        evs.sort(key=lambda t: (-t[0], -t[1]))
        kept = evs[:horizon + 1]
        score = sum(c * (1 << (horizon - k))
                    for k, (_, _, c) in enumerate(kept))
        want[u] = (len(kept), score)
    df = spark.createDataFrame(
        [(u, ts, eid, c / 100.0) for u, ts, eid, c in events],
        "user_id long, tsl long, event_id long, value double")
    import pyspark.sql.functions as F
    df = df.withColumn("ts", F.timestamp_seconds(F.col("tsl")))
    got = {r.user_id: (r.n_scored, r.score_fixed)
           for r in decayed_score(df, horizon=horizon).collect()}
    assert got == want, (events, horizon)

@SPARK_FAST
@given(events=st.lists(st.tuples(st.integers(0, 1),       # user
                                 st.integers(0, 2000)),    # ts seconds
                       min_size=1, max_size=20, unique=True))
def test_session_window_matches_gap_merge_reference(spark, events):
    """Batch session_window semantics on arbitrary event sets match a
    pure-Python gap merge: an event extends the session iff its ts <=
    last-event ts + gap (Spark MERGES at exact equality — measured on
    4.1.2: events at 0 and 300 with a 300 s gap form ONE session; the
    r14 driver's Hypothesis run caught the old exclusive-end reference
    on exactly this boundary); per-session n_events and session_start
    must agree exactly."""
    from janusgraph_clickhouse_spark.streaming.ops import session_stats
    GAP = 300
    want = {}
    by_user = {}
    for u, ts in events:
        by_user.setdefault(u, []).append(ts)
    for u, tss in by_user.items():
        tss.sort()
        start, last, n = tss[0], tss[0], 1
        for ts in tss[1:]:
            if ts <= last + GAP:
                last, n = ts, n + 1
            else:
                want[(u, start)] = n
                start, last, n = ts, ts, 1
        want[(u, start)] = n
    import pyspark.sql.functions as F
    df = (spark.createDataFrame(
        [(u, ts, 1.0) for u, ts in events],
        "user_id long, tsl long, value double")
        .withColumn("ts", F.timestamp_seconds(F.col("tsl"))))
    got = {(r.user_id, r.session_start): r.n_events
           for r in session_stats(df, gap="5 minutes").collect()}
    assert got == want, events

@SPARK_FAST
@given(events=st.lists(
    st.tuples(st.integers(0, 1),          # user
              st.integers(0, 900),        # ts seconds
              st.integers(0, 30),         # event_id
              st.booleans()),             # True = click, False = purchase
    min_size=1, max_size=16, unique_by=lambda t: t[2]))
def test_interval_joins_match_reference(spark, events):
    """The inner/left/full interval-join matrix on arbitrary event
    sets matches a pure-Python replica of the CLOSED 5-minute window
    [ts_a, ts_a + 300] — boundary inclusivity on BOTH ends and the
    id_a < id_b self-join dedup are exactly where engines drift."""
    import pyspark.sql.functions as F

    from janusgraph_clickhouse_spark.streaming.ops import (
        full_join_within, left_join_within, self_join_within)
    GAP = 300
    rows = [(u, ts, eid, "click" if c else "purchase")
            for u, ts, eid, c in events]
    want_self = {(a[2], b[2]) for a in rows for b in rows
                 if a[0] == b[0] and a[2] < b[2]
                 and a[1] <= b[1] <= a[1] + GAP}
    clicks = [r for r in rows if r[3] == "click"]
    purchases = [r for r in rows if r[3] == "purchase"]
    inner = {(a[2], b[2]) for a in clicks for b in purchases
             if a[0] == b[0] and a[1] <= b[1] <= a[1] + GAP}
    want_left = inner | {(a[2], None) for a in clicks
                         if not any(x == a[2] for x, _ in inner)}
    want_full = want_left | {(None, b[2]) for b in purchases
                             if not any(y == b[2] for _, y in inner)}
    df = (spark.createDataFrame(
        rows, "user_id long, tsl long, event_id long, event_type string")
        .withColumn("ts", F.timestamp_seconds(F.col("tsl"))))
    got_self = {(r.id_a, r.id_b)
                for r in self_join_within(df, "user_id").collect()}
    got_left = {(r.id_a, r.id_b)
                for r in left_join_within(df).collect()}
    got_full = {(r.id_a, r.id_b)
                for r in full_join_within(df).collect()}
    assert got_self == want_self, rows
    assert got_left == want_left, rows
    assert got_full == want_full, rows

@SPARK_FAST
@given(seed=st.integers(0, 9999), n_keys=st.integers(1, 3),
       n_left=st.integers(1, 12), n_right=st.integers(0, 12))
def test_asof_join_matches_pandas_merge_asof(spark, seed, n_keys,
                                             n_left, n_right):
    """as_of_join (the union-merge single-shuffle ASOF) must agree with
    pandas.merge_asof(direction='backward', allow_exact_matches=True)
    on arbitrary integer-timestamp event sets — including left rows
    with no prior right row (NULL legs) and exact-timestamp ties.
    Right (key, ts) pairs are generated UNIQUE: the operator's
    documented tie rule for duplicate right timestamps (max orderable
    projection) differs from pandas' positional 'last row wins'."""
    import pandas as pd
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.operators.temporal import as_of_join
    rng = np.random.RandomState(seed)
    left_rows = [(int(rng.randint(0, n_keys)), int(rng.randint(0, 50)),
                  i) for i in range(n_left)]
    seen = set()
    right_rows = []
    for j in range(n_right):
        key, ts = int(rng.randint(0, n_keys)), int(rng.randint(0, 50))
        if (key, ts) in seen:
            continue
        seen.add((key, ts))
        right_rows.append((key, ts, float(j) + 0.5))
    ldf = spark.createDataFrame(left_rows, "k long, ts long, lid long")
    rdf = spark.createDataFrame(
        right_rows or [(None, None, None)],
        "k long, ts long, rv double").filter(F.col("k").isNotNull())
    got = {r.lid: (r.rv, r.matched_ts)
           for r in as_of_join(ldf, rdf, key="k", ts="ts",
                               right_cols=["rv"]).collect()}
    lpd = pd.DataFrame(left_rows, columns=["k", "ts", "lid"]
                       ).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(right_rows, columns=["k", "ts", "rv"]
                       ).sort_values("ts", kind="stable")
    if right_rows:
        merged = pd.merge_asof(lpd, rpd, on="ts", by="k",
                               direction="backward",
                               allow_exact_matches=True,
                               suffixes=("", "_r"))
        want = {int(r.lid): (None if pd.isna(r.rv) else float(r.rv))
                for r in merged.itertuples()}
    else:
        want = {lid: None for _, _, lid in left_rows}
    assert {k: v[0] for k, v in got.items()} == want
    # matched_ts is NULL exactly when the value leg is NULL
    for lid, (rv, mts) in got.items():
        assert (rv is None) == (mts is None)

@SPARK_FAST
@given(seed=st.integers(0, 9999), n_docs=st.integers(1, 30),
       budget=st.integers(3, 40))
def test_pack_sequences_matches_md5_replica(spark, seed, n_docs, budget):
    """pack_sequences' distributed prefix sum (65,536-shard cumsum +
    broadcast shard offsets) must equal the single-threaded replica:
    sort docs by (md5(salt+doc_id), doc_id), cumsum the token counts,
    seq_id = floor(first_token_offset / budget).  Uses the operator's
    own returned `tok` so the property isolates the PLACEMENT math;
    also checks conservation (every doc exactly once)."""
    import hashlib
    from janusgraph_clickhouse_spark.llm.split import pack_sequences
    rng = np.random.RandomState(seed)
    rows = [(i, " ".join(f"w{rng.randint(0, 99)}"
                         for _ in range(rng.randint(1, 9))))
            for i in range(n_docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, "doc_id", "text", budget=budget,
                         salt="prop").collect()
    assert sorted(r.doc_id for r in out) == list(range(n_docs))
    toks = {r.doc_id: r.tok for r in out}
    order = sorted(range(n_docs),
                   key=lambda d: (hashlib.md5(
                       f"prop{d}".encode()).hexdigest(), d))
    offset, want = 0, {}
    for d in order:
        want[d] = offset // budget
        offset += toks[d]
    assert {r.doc_id: r.seq_id for r in out} == want

@SPARK_FAST
@given(seed=st.integers(0, 9999), n_train=st.integers(1, 10),
       m_bits=st.sampled_from([256, 1024, 1 << 14]))
def test_bloom_decontaminate_identical_to_exact(spark, seed, n_train,
                                                m_bits):
    """l34's 'provably identical output' claim, randomized: the Bloom
    prefilter admits only false POSITIVES and every survivor is
    exact-confirmed, so bloom_decontaminate_pairs must equal
    decontaminate_pairs row-for-row at ANY filter size — including
    m_bits=256, where the filter is saturated and nearly everything
    passes to the confirm join.  Half the train docs get a planted
    5-gram run copied from a benchmark doc (true contamination);
    the rest are random (must stay absent from both outputs)."""
    rng = np.random.RandomState(seed)
    bench_text = " ".join(f"b{rng.randint(0, 9999)}" for _ in range(12))
    bench_words = bench_text.split()
    rows = [(0, bench_text)]
    for i in range(1, n_train + 1):
        noise = [f"t{i}_{rng.randint(0, 9999)}" for _ in range(6)]
        if i % 2 == 0:
            start = rng.randint(0, len(bench_words) - 5 + 1)
            planted = bench_words[start:start + 5]
            rows.append((i, " ".join(noise[:3] + planted + noise[3:])))
        else:
            rows.append((i, " ".join(noise + [f"u{i}_{j}" for j in
                                              range(5)])))
    from pyspark.sql import functions as F
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = F.col("doc_id") == 0
    exact = {(r.train_id, r.bench_id): (r.n_shared, r.containment)
             for r in D.decontaminate_pairs(
                 df, "doc_id", "text", bench, n=5).collect()}
    bloom = {(r.train_id, r.bench_id): (r.n_shared, r.containment)
             for r in D.bloom_decontaminate_pairs(
                 df, "doc_id", "text", bench, n=5,
                 m_bits=m_bits).collect()}
    assert bloom == exact
    planted_ids = {i for i in range(1, n_train + 1) if i % 2 == 0}
    assert {t for (t, _b) in exact.keys()} >= planted_ids

@SPARK_FAST
@given(seed=st.integers(0, 9999), n_corpus=st.integers(2, 20),
       n_queries=st.integers(1, 4), dim=st.integers(2, 6),
       k=st.integers(1, 5))
def test_brute_force_topk_join_matches_numpy(spark, seed, n_corpus,
                                             n_queries, dim, k):
    """brute_force_topk_join (broadcast queries + window top-k) must
    return exactly numpy's per-query cosine top-k under the engine
    ordering contract: round(cos, 6) DESC, id ASC.  Vectors are drawn
    with non-zero norm; scores are re-derived in float64 on both
    sides so the property is bit-comparable after the 6dp round."""
    from janusgraph_clickhouse_spark.llm.similarity import (
        brute_force_topk_join)
    rng = np.random.RandomState(seed)
    corpus = rng.randn(n_corpus, dim) + 0.1
    queries = rng.randn(n_queries, dim) + 0.1
    cdf = spark.createDataFrame(
        [(i, corpus[i].tolist()) for i in range(n_corpus)],
        "id long, v array<double>")
    qdf = spark.createDataFrame(
        [(100 + j, queries[j].tolist()) for j in range(n_queries)],
        "qid long, qv array<double>")
    got = {}
    for r in brute_force_topk_join(qdf, cdf, "qid", "qv", "id", "v",
                                   k=k).collect():
        got.setdefault(r.query_id, []).append((r.id, r.cosine))
    for j in range(n_queries):
        q = queries[j]
        cos = corpus @ q / (np.linalg.norm(corpus, axis=1)
                            * np.linalg.norm(q))
        ranked = sorted(((round(float(cos[i]), 6), i)
                         for i in range(n_corpus)),
                        key=lambda t: (-t[0], t[1]))[:k]
        want = [(i, c) for c, i in ranked]
        have = sorted(got.get(100 + j, []),
                      key=lambda t: (-t[1], t[0]))
        assert have == want, (j, have, want)

@SPARK_FAST
@given(seed=st.integers(0, 9999), n_corpus=st.integers(2, 20),
       n_queries=st.integers(1, 4), dim=st.integers(2, 6),
       k=st.integers(1, 5))
def test_topk_join_vectorized_equals_jvm_path(spark, seed, n_corpus,
                                              n_queries, dim, k):
    """The Arrow/BLAS top-k join (r12 default) and the all-JVM
    crossJoin+window form must be row-identical — INCLUDING zero-norm
    vectors on both sides (never neighbors, never query rows: the
    cosine_expr invariant) and the exclude_self corner where a corpus
    point queries its own corpus."""
    from janusgraph_clickhouse_spark.llm.similarity import (
        brute_force_topk_join)
    rng = np.random.RandomState(seed)
    corpus = rng.randn(n_corpus, dim) + 0.1
    corpus[0] = 0.0  # a zero-norm corpus row in every draw
    cdf = spark.createDataFrame(
        [(i, corpus[i].tolist()) for i in range(n_corpus)],
        "id long, v array<double>")
    # queries ARE corpus points (ids shared → exclude_self is live),
    # plus one zero-norm query
    qrows = [(i, corpus[i].tolist())
             for i in range(min(n_queries, n_corpus))]
    qrows.append((999, [0.0] * dim))
    qdf = spark.createDataFrame(qrows, "qid long, qv array<double>")

    def rows(vec):
        return sorted(
            (r.query_id, r.id, r.cosine)
            for r in brute_force_topk_join(
                qdf, cdf, "qid", "qv", "id", "v", k=k,
                exclude_self=True, vectorized=vec).collect())

    got_vec, got_jvm = rows(True), rows(False)
    assert got_vec == got_jvm
    assert all(q != 999 for q, _i, _c in got_vec)  # zero-norm query
    assert all(i != 0 for _q, i, _c in got_vec)    # zero-norm corpus


@SPARK_FAST
@given(seed=st.integers(0, 9999), n_corpus=st.integers(2, 16),
       n_queries=st.integers(2, 6), k=st.integers(1, 4),
       max_queries=st.integers(1, 3), excl=st.booleans())
def test_topk_join_chunked_and_degenerate_equal_jvm(spark, seed,
                                                    n_corpus, n_queries,
                                                    k, max_queries,
                                                    excl):
    """r13 hardening pins: the auto-chunked vectorized top-k join
    (query side split across max_queries-sized broadcast blocks, one
    global window over the union) must be row-identical to the all-JVM
    crossJoin form — INCLUDING every degenerate-input class the r12
    ADVICE named: NULL corpus ids (kept with the NULLS FIRST tiebreak,
    dropped under exclude_self), NULL query_id (its own window group —
    routes that chunk to the expression fallback), ragged-dim and
    NULL-element vectors on both sides (NULL cosine → dropped),
    duplicate query_ids split across chunks, and — r14, closing the
    ADVICE NaN divergence — NaN/±inf ELEMENTS on both sides (NaN
    cosine filtered on the JVM form, non-finite norms dropped on the
    vectorized form: never neighbors on either path).  The multi-chunk
    runs also exercise the r14 eager-chunk path (localCheckpoint +
    broadcast destroy per chunk)."""
    from janusgraph_clickhouse_spark.llm.similarity import (
        brute_force_topk_join)
    rng = np.random.RandomState(seed)
    dim = 4
    corpus = rng.randn(n_corpus, dim) + 0.1
    crows = [(None if rng.rand() < 0.2 else i, corpus[i].tolist())
             for i in range(n_corpus)]
    crows.append((n_corpus, [1.0, None, 0.5, 0.2]))  # NULL element
    crows.append((n_corpus + 1, [1.0, 0.5]))         # ragged dim
    crows.append((n_corpus + 2,
                  [float("nan"), 1.0, 0.5, 0.2]))    # NaN element (r14)
    crows.append((n_corpus + 3,
                  [float("inf"), 1.0, 0.5, 0.2]))    # inf element (r14)
    cdf = spark.createDataFrame(crows, "id long, v array<double>")
    qrows = []
    for j in range(n_queries):
        qid = (None if rng.rand() < 0.2
               else int(rng.randint(0, max(2, n_corpus))))  # dups live
        draw = rng.rand()
        if draw < 0.15:
            qv = [1.0, 0.3]                          # ragged query
        elif draw < 0.3:
            qv = [0.2, None, 0.1, 0.4]               # NULL element
        elif draw < 0.4:
            qv = [float("nan"), 0.2, 0.1, 0.4]       # NaN query (r14)
        elif draw < 0.5:
            qv = [float("-inf"), 0.2, 0.1, 0.4]      # inf query (r14)
        else:
            qv = (rng.randn(dim) + 0.1).tolist()
        qrows.append((qid, qv))
    qdf = spark.createDataFrame(qrows, "qid long, qv array<double>")

    def canon(df):
        return sorted(
            tuple((v is not None, v if v is not None else 0)
                  for v in (r.query_id, r.id, r.cosine))
            for r in df.collect())

    want = canon(brute_force_topk_join(
        qdf, cdf, "qid", "qv", "id", "v", k=k, exclude_self=excl,
        vectorized=False))
    got = canon(brute_force_topk_join(
        qdf, cdf, "qid", "qv", "id", "v", k=k, exclude_self=excl,
        max_queries=max_queries))
    assert got == want


@SPARK_FAST
@given(seed=st.integers(0, 9999), n_dups=st.integers(10, 40),
       n_queries=st.integers(2, 5), k=st.integers(1, 4),
       excl=st.booleans())
def test_topk_join_tie_band_trim_equals_jvm(spark, seed, n_dups,
                                            n_queries, k, excl):
    """r14: dup-heavy corpora tie WHOLESALE at the k-th quantized
    score (a dedup workload is exactly this), and the whole-matrix
    superset cut trims those tie bands back to exact per-query top-k
    by the final NULLS-FIRST-then-id order.  A corpus that is n_dups
    exact copies of ONE vector (distinct ids, one NULL id) plus a few
    distinct rows forces every query's tie band past the 2·k·|Q|
    trim guard; the result must stay row-identical to the all-JVM
    window form."""
    from janusgraph_clickhouse_spark.llm.similarity import (
        brute_force_topk_join)
    rng = np.random.RandomState(seed)
    dim = 4
    base = (rng.randn(dim) + 0.1).tolist()
    crows = [(i, base) for i in range(n_dups)]
    crows.append((None, base))  # NULL id inside the tie band
    for i in range(3):
        crows.append((n_dups + i, (rng.randn(dim) + 0.1).tolist()))
    cdf = spark.createDataFrame(crows, "id long, v array<double>")
    qrows = [(0, base)]  # a query INSIDE the dup cluster (excl live)
    for j in range(1, n_queries):
        qrows.append((j, (rng.randn(dim) + 0.1).tolist()))
    qdf = spark.createDataFrame(qrows, "qid long, qv array<double>")

    def canon(df):
        return sorted(
            tuple((v is not None, v if v is not None else 0)
                  for v in (r.query_id, r.id, r.cosine))
            for r in df.collect())

    want = canon(brute_force_topk_join(
        qdf, cdf, "qid", "qv", "id", "v", k=k, exclude_self=excl,
        vectorized=False))
    got = canon(brute_force_topk_join(
        qdf, cdf, "qid", "qv", "id", "v", k=k, exclude_self=excl))
    assert got == want


@SPARK_FAST
@given(seed=st.integers(0, 9999), n_rows=st.integers(1, 120),
       n_groups=st.integers(1, 3))
def test_exact_percentiles_cont_matches_builtin(spark, seed, n_rows,
                                                n_groups):
    """The shuffle-sort exact percentile (r13, the q30 x30 OOM fix)
    must be BIT-identical to Spark's builtin `percentile` aggregate —
    same Percentile.getPercentile float-op order — across duplicates,
    NULLs, singleton groups and the 0.0/1.0 boundary probs."""
    from janusgraph_clickhouse_spark.functions.sketches import (
        exact_percentiles_cont)
    rng = np.random.RandomState(seed)
    groups = ["a", "b", "c"][:n_groups]
    rows = [(groups[rng.randint(n_groups)],
             None if rng.rand() < 0.07
             else float(rng.choice([1.5, 2.25, -3.0,
                                    round(rng.randn() * 100, 3)])))
            for _ in range(n_rows)]
    df = spark.createDataFrame(rows, "g string, v double")
    probs = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
    want = {(r.g, p): r[f"q{i}"]
            for r in df.groupBy("g").agg(
                *[__import__("pyspark.sql.functions", fromlist=["expr"])
                  .expr(f"percentile(v, {p})").alias(f"q{i}")
                  for i, p in enumerate(probs)]).collect()
            for i, p in enumerate(probs)}
    got_rows = exact_percentiles_cont(df, ["g"], "v", probs).collect()
    got = {(r.g, r.p): r.q_cont for r in got_rows}
    # exact ROW-SET match (r14, ADVICE): an all-NULL-value group must
    # be PRESENT with q_cont NULL like the builtin's group row, not
    # silently absent — `.get(key) is None` alone cannot tell those
    # apart, so pin the key sets first.
    assert len(got_rows) == len(got), "duplicate (group, p) rows"
    assert set(got) == set(want), (set(want) ^ set(got))
    for key, w in want.items():
        assert got[key] == w, (key, w, got[key])


@SPARK_FAST
@given(seed=st.integers(0, 9999), n_pts=st.integers(1, 40),
       n_keys=st.integers(1, 3), width=st.sampled_from([10, 60, 600]))
def test_lttb_downsample_matches_python_replica(spark, seed, n_pts,
                                                n_keys, width):
    """lttb_downsample (parallel-anchor LTTB, integer-exact area
    argmax) vs a single-threaded replica of the documented contract:
    one point per (key, bucket); first/last observed buckets keep
    their first/last point; interior buckets keep the point
    maximizing |(Px−Nx)(y−Py) − (Px−x)(Ny−Py)| against the neighbor
    buckets' (midpoint, floor-mean-cents) anchors, ties → earliest
    ts then smallest id.  Duplicate timestamps within a bucket are
    drawn deliberately (the tie path)."""
    import math
    from datetime import datetime, timezone
    from pyspark.sql import Row
    from janusgraph_clickhouse_spark.operators.temporal import (
        lttb_downsample)
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n_pts):
        k = int(rng.randint(0, n_keys))
        t = int(rng.randint(0, 4 * width))
        cents = int(rng.randint(-500, 500))
        rows.append((k, t, cents))
    data = [Row(k=k, ts=datetime.fromtimestamp(t, tz=timezone.utc),
                v=c / 100.0, pid=i)
            for i, (k, t, c) in enumerate(rows)]
    df = spark.createDataFrame(data)
    got = {(r.k, r.b): (r.ts_sec, r.cents, r.rule)
           for r in lttb_downsample(df, "k", "ts", "v", "pid",
                                    width_sec=width).collect()}
    # replica
    pts = [(k, t, math.floor((c / 100.0) * 100 + 0.5), i)
           for i, (k, t, c) in enumerate(rows)]
    half = width // 2
    want = {}
    for key in {p[0] for p in pts}:
        kp = [p for p in pts if p[0] == key]
        buckets = sorted({t - t % width for _, t, _, _ in kp})
        agg = {b: [p for p in kp if p[1] - p[1] % width == b]
               for b in buckets}
        for bi, b in enumerate(buckets):
            members = agg[b]
            if bi == 0:
                _, t, c, i = min(members, key=lambda p: (p[1], p[3]))
                want[(key, b)] = (t, c, "first")
            elif bi == len(buckets) - 1:
                _, t, c, i = max(members, key=lambda p: (p[1], p[3]))
                want[(key, b)] = (t, c, "last")
            else:
                pb, nb = agg[buckets[bi - 1]], agg[buckets[bi + 1]]
                px = buckets[bi - 1] + half
                py = math.floor(sum(p[2] for p in pb) / len(pb))
                nx = buckets[bi + 1] + half
                ny = math.floor(sum(p[2] for p in nb) / len(nb))
                best = max(members,
                           key=lambda p: (abs((px - nx) * (p[2] - py)
                                              - (px - p[1]) * (ny - py)),
                                          -p[1], -p[3]))
                want[(key, b)] = (best[1], best[2], "area")
    assert got == want

@SPARK_FAST
@given(seed=st.integers(0, 9999), n_docs=st.integers(1, 12),
       vocab=st.integers(2, 8))
def test_tfidf_topk_matches_python_replica(spark, seed, n_docs, vocab):
    """tfidf_topk vs a python replica: tf/df/N are exact integers, so
    the selection (per-doc top-3 under rounded-score DESC + token ASC)
    must match exactly on random corpora; scores compare to 1e-6
    (both engines compute tf·ln(N/df) in float64 — integer-count
    inputs never land on a rounding boundary)."""
    import math
    rng = np.random.RandomState(seed)
    rows = [(i, " ".join(f"w{rng.randint(0, vocab)}"
                         for _ in range(rng.randint(1, 10))))
            for i in range(n_docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in X.tfidf_topk(df, "doc_id", "text", k=3).collect():
        got.setdefault(r.id, []).append((r.token, r.tfidf))
    tf, docs_with = {}, {}
    for i, text in rows:
        for w in text.split(" "):
            tf[(i, w)] = tf.get((i, w), 0) + 1
            docs_with.setdefault(w, set()).add(i)
    n = float(n_docs)
    want = {}
    for i, _ in rows:
        scored = sorted(
            ((round(c * math.log(n / len(docs_with[w])), 6), w)
             for (d, w), c in tf.items() if d == i),
            key=lambda t: (-t[0], t[1]))[:3]
        want[i] = [(w, s) for s, w in scored]
    assert set(got) == set(want)
    for i in want:
        assert [w for w, _ in got[i]] == [w for w, _ in want[i]], i
        for (_, gs), (_, ws) in zip(got[i], want[i]):
            assert abs(gs - ws) <= 1e-6, (i, gs, ws)

@SPARK_FAST
@given(seed=st.integers(0, 9999), n_docs=st.integers(1, 10),
       vocab=st.integers(2, 6))
def test_bigram_lm_score_matches_python_replica(spark, seed, n_docs,
                                                vocab):
    """bigram_lm_score vs a python replica of the corpus-trained
    bigram MLE: n_bigrams is exact; nll (a float average) compares to
    1e-6 after the engine's 6dp rounding.  Single-token docs emit no
    row (no bigram instances) — asserted explicitly."""
    import math
    rng = np.random.RandomState(seed)
    rows = [(i, " ".join(f"w{rng.randint(0, vocab)}"
                         for _ in range(rng.randint(1, 8))))
            for i in range(n_docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: (r.n_bigrams, r.nll)
           for r in X.bigram_lm_score(df, "doc_id", "text").collect()}
    c2, c1, inst = {}, {}, {}
    for i, text in rows:
        ws = text.split(" ")
        pairs = list(zip(ws, ws[1:]))
        inst[i] = pairs
        for p in pairs:
            c2[p] = c2.get(p, 0) + 1
            c1[p[0]] = c1.get(p[0], 0) + 1
    for i, _ in rows:
        if not inst[i]:
            assert i not in got
            continue
        nll = sum(-math.log(c2[p] / c1[p[0]]) for p in inst[i]) \
            / len(inst[i])
        gn, gnll = got[i]
        assert gn == len(inst[i])
        assert abs(gnll - round(nll, 6)) <= 2e-6, (i, gnll, nll)

@SPARK_FAST
@given(seed=st.integers(0, 9999), n_events=st.integers(1, 30),
       n_chunks=st.integers(1, 4))
def test_scd1_merge_chunking_invariant(spark, seed, n_events, n_chunks):
    """incremental SCD1 (s22): the per-key struct-MAX merge is
    associative and idempotent, so the persisted current state must be
    INDEPENDENT of how the event stream is partitioned into ordered
    micro-batches — any random chunking, including empty chunks,
    yields the one-shot argMax-(ts, event_id, ...) per key — and a
    replay of every already-committed batch id must change nothing
    (the at-least-once contract)."""
    import shutil
    import tempfile
    from datetime import datetime, timezone
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from janusgraph_clickhouse_spark.streaming.ops import (
        _scd1_merge, _scd1_reduce, _merge_state_batch, read_rollup)
    fold = (_scd1_reduce, _scd1_merge)
    rng = np.random.RandomState(seed)
    rows = [Row(user_id=int(rng.randint(0, 5)),
                ts=datetime.fromtimestamp(int(rng.randint(0, 50)),
                                          tz=timezone.utc),
                event_id=int(i),
                event_type=["view", "purchase"][int(rng.randint(0, 2))],
                value=float(rng.randint(0, 500)) / 100.0)
            for i in range(n_events)]
    assign = rng.randint(0, n_chunks, size=n_events)
    d = tempfile.mkdtemp(prefix="scd1_prop_")
    try:
        df = spark.createDataFrame(rows)
        for b in range(n_chunks):
            chunk = df.filter(
                F.col("event_id").isin(
                    [i for i in range(n_events) if assign[i] == b])
                if (assign == b).any() else F.lit(False))
            _merge_state_batch(spark, chunk, b, d, *fold)
        got = {r.user_id: (r.ts, r.event_id, r.event_type, r.cents)
               for r in read_rollup(spark, d).collect()}
        # replay every batch — must be a byte-for-byte no-op
        for b in range(n_chunks):
            _merge_state_batch(spark, df.limit(0), b, d, *fold)
        again = {r.user_id: (r.ts, r.event_id, r.event_type, r.cents)
                 for r in read_rollup(spark, d).collect()}
        assert again == got
        want = {}
        for r in rows:
            cents = int(np.floor(r.value * 100 + 0.5))
            key = (r.ts, r.event_id, r.event_type, cents)
            if r.user_id not in want or key > want[r.user_id]:
                want[r.user_id] = key
        norm = {u: (t.replace(tzinfo=timezone.utc), e, ty, c)
                for u, (t, e, ty, c) in got.items()}
        assert norm == want
    finally:
        shutil.rmtree(d, ignore_errors=True)

@SPARK_FAST
@given(seed=st.integers(0, 9999), n_rows=st.integers(1, 40),
       cap=st.integers(1, 5), n_domains=st.integers(1, 4))
def test_domain_cap_matches_md5_replica(spark, seed, n_rows, cap,
                                        n_domains):
    """domain_cap's two-phase skew-safe window (per-(domain,salt-
    bucket) top-cap, then per-domain top-cap over survivors) must
    equal the single-window definition: per domain, sort by
    (md5('cap'+key), key), keep the first `cap` with 1-based rk.
    Exact string/integer comparison — no floats anywhere."""
    import hashlib
    from janusgraph_clickhouse_spark.llm.split import domain_cap
    rng = np.random.RandomState(seed)
    rows = [(i, f"d{rng.randint(0, n_domains)}") for i in range(n_rows)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    got = {r.doc_id: (r.domain, r.rk)
           for r in domain_cap(df, "doc_id", "domain", cap=cap).collect()}
    want = {}
    for dom in {d for _, d in rows}:
        members = sorted(
            (i for i, d in rows if d == dom),
            key=lambda i: (hashlib.md5(f"cap{i}".encode()).hexdigest(),
                           i))[:cap]
        for rk, i in enumerate(members, 1):
            want[i] = (dom, rk)
    assert got == want

@SPARK_FAST
@given(seed=st.integers(0, 9999), n_rows=st.integers(1, 40),
       r_lo=st.integers(0, 5), r_hi=st.integers(5, 10))
def test_domain_sample_membership_and_nesting(spark, seed, n_rows,
                                              r_lo, r_hi):
    """domain_sample membership is the pure hash function
    md5-bucket(key) < floor(rate·n_buckets + 0.5), and per-domain
    subsets NEST as rates grow (raising a weight only ADDS documents)
    — both asserted against a hashlib replica on random corpora."""
    import hashlib
    import math
    from janusgraph_clickhouse_spark.llm.split import domain_sample
    rng = np.random.RandomState(seed)
    rows = [(i, f"d{rng.randint(0, 3)}") for i in range(n_rows)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    lo, hi = r_lo / 10.0, r_hi / 10.0
    kept_lo = {r.doc_id for r in domain_sample(
        df, "doc_id", "domain", rates={}, default_rate=lo).collect()}
    kept_hi = {r.doc_id for r in domain_sample(
        df, "doc_id", "domain", rates={}, default_rate=hi).collect()}
    assert kept_lo <= kept_hi  # nesting
    nb = 10000
    def member(i, rate):
        b = int(hashlib.md5(f"mix{i}".encode()).hexdigest()[:8],
                16) % nb
        return b < math.floor(rate * nb + 0.5)
    assert kept_lo == {i for i, _ in rows if member(i, lo)}
    assert kept_hi == {i for i, _ in rows if member(i, hi)}

@SPARK_FAST
@given(seed=st.integers(0, 9999), n_rows=st.integers(1, 30),
       k=st.integers(1, 10))
def test_weighted_sample_matches_efraimidis_replica(spark, seed,
                                                    n_rows, k):
    """weighted_sample (Efraimidis-Spirakis with md5-derived u_i and
    nano-quantized ln(u)/w keys) vs a hashlib replica: the kept set,
    order keys, and zero/negative-weight exclusion must match exactly
    — the selection boundary is a total order over exact integers."""
    import hashlib
    import math
    from janusgraph_clickhouse_spark.llm.split import weighted_sample
    rng = np.random.RandomState(seed)
    rows = [(i, round(float(rng.choice([0.0, 0.1, 1.0, 5.0, 50.0])), 2))
            for i in range(n_rows)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [(r.id, r.key_nano)
           for r in weighted_sample(df, "doc_id", "w", k=k).collect()]
    cand = []
    lim = float(1 << 62)
    for i, w in rows:
        if w <= 0:
            continue
        u = (int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
             + 1) / float(1 << 60)
        raw = math.log(u) / w * 1e9
        key_nano = int(math.floor(max(min(raw, lim), -lim) + 0.5))
        cand.append((i, key_nano))
    want = sorted(cand, key=lambda t: (-t[1], t[0]))[:k]
    assert got == want
