"""Text-analysis operators for training-data pipelines.

All hot-path expressions are JVM-side built-ins (split / transform /
aggregate / array_* — whole-stage codegen); nothing here crosses into
Python.  Language-ID and quality scoring are heuristic (lexicon overlap,
length/stopword ratios) — the shapes a 100 TB pre-filter actually uses
before anything model-based sees the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language lexicons for the stopword-overlap language-ID
# heuristic.  Deliberately small: the operator's value is the *shape*
# (explode → broadcast lexicon join → per-doc argmax), not the lexicon.
LANG_LEXICONS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour"],
    "zh": ["de", "shi", "le", "bu", "zai", "you", "wo", "ta"],
}

EN_STOPWORDS = LANG_LEXICONS["en"]


def tokens(text_col: str | Column) -> Column:
    """Whitespace tokenization.  CONTRACT: the corpus is single-space
    pre-normalized — split(' ') keeps EMPTY tokens for runs of
    whitespace, so un-normalized text inflates token counts and
    deflates ratio metrics (gopher_rules would reject a doc for a
    double space).  Pre-clean raw text with
    regexp_replace(trim(text), '\\\\s+', ' ') first, or swap in a
    BPE-ish regexp_extract_all.  (The entropy/BPE paths filter empties
    for their own math; a dozen SQL oracles replay this exact split,
    which is why the definition stays minimal rather than filtering.)"""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def token_count(text_col: str | Column) -> Column:
    return F.size(tokens(text_col))


def distinct_token_ratio(text_col: str | Column) -> Column:
    t = tokens(text_col)
    return F.size(F.array_distinct(t)) / F.size(t)


def stopword_ratio(text_col: str | Column,
                   stopwords: list[str] | None = None) -> Column:
    t = tokens(text_col)
    # `is not None`, not falsy-or: an explicitly EMPTY stopword list
    # means "no stopwords" (ratio 0), never a silent English fallback
    sw_list = stopwords if stopwords is not None else EN_STOPWORDS
    sw = F.array(*[F.lit(w) for w in sw_list])
    inter = F.filter(t, lambda w: F.array_contains(sw, w))
    return F.size(inter) / F.size(t)


def avg_token_length(text_col: str | Column) -> Column:
    t = tokens(text_col)
    total = F.aggregate(t, F.lit(0), lambda acc, w: acc + F.length(w))
    return total / F.size(t)


def quality_score(text_col: str | Column) -> Column:
    """Composite [0,1] quality heuristic: enough tokens, lexical
    diversity, a sane stopword fraction.  Weights are illustrative; the
    operator shape (pure column expressions, no UDF) is the point."""
    n = token_count(text_col).cast("double")
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))
    diversity = distinct_token_ratio(text_col)
    sw = stopword_ratio(text_col)
    sw_term = F.lit(1.0) - F.abs(sw - F.lit(0.15)) / F.lit(0.85)
    return (F.lit(0.4) * length_term + F.lit(0.4) * diversity
            + F.lit(0.2) * sw_term)


def language_id(text_col: str | Column,
                lexicons: dict[str, list[str]] | None = None) -> Column:
    """Predicted language = argmax over languages of lexicon-hit count
    (ties break alphabetically).  Pure column expressions: one pass over
    the token array per language, no shuffle, no UDF."""
    lex = lexicons or LANG_LEXICONS
    t = tokens(text_col)
    scored = []
    for lang in sorted(lex):
        words = F.array(*[F.lit(w) for w in lex[lang]])
        score = F.size(F.filter(t, lambda w: F.array_contains(words, w)))
        scored.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    # two-pass argmax: max score first, then MIN lang among the maxima
    # (a single array_max over (score, lang) structs would break ties
    # toward the alphabetically LAST language — the l08 oracle's tie
    # rule is first-alpha)
    arr = F.array(*scored)
    best = F.array_max(F.transform(arr, lambda s: s["score"]))
    winners = F.filter(arr, lambda s: s["score"] == best)
    return F.array_min(F.transform(winners, lambda s: s["lang"]))


def content_fingerprint(text_col: str | Column) -> Column:
    """Exact-content fingerprint: md5 of the normalized text (cheap,
    cross-engine reproducible)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(F.trim(F.lower(c)))


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document stats block (token count, diversity, stopword ratio,
    avg token length, composite quality score).  THE implementation
    behind l07 (which selects the oracle-checked subset) — one
    definition so the stats and the registered query cannot drift."""
    return df.select(
        F.col(id_col),
        token_count(text_col).cast("long").alias("n_tokens"),
        F.round(distinct_token_ratio(text_col), 6).alias("distinct_ratio"),
        F.round(stopword_ratio(text_col), 6).alias("stopword_ratio"),
        F.round(avg_token_length(text_col), 6).alias("avg_token_len"),
        F.round(quality_score(text_col), 6).alias("quality"),
    )


def bigram_instances(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) — one row per adjacent token pair INSTANCE (duplicates
    kept: counts, not sets).  Built scan-side with transform+element_at
    (no positional self-join, no UDF): each token indexes its successor
    in the same array, so the whole derivation is one explode."""
    t = tokens(text_col)
    pairs = F.transform(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda x, i: F.struct(x.alias("w1"),
                              F.element_at(t, i + 2).alias("w2")))
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(pairs).alias("p"))
            .select("id", F.col("p.w1").alias("w1"),
                    F.col("p.w2").alias("w2")))


def bigram_lm_score(df: DataFrame, id_col: str, text_col: str,
                    round_dp: int = 6) -> DataFrame:
    """Per-document bigram language-model score — avg negative log
    probability of the document's bigrams under the corpus-trained
    bigram MLE (the cheap perplexity-style quality signal):

        nll(doc) = avg over bigram instances of -ln(c(w1,w2) / c(w1·))

    where c(w1·) is the bigram-prefix marginal (so P(·|w1) sums to 1).
    Returns (id, n_bigrams, nll).  Training and scoring are the same
    two hash aggregates + two equi-joins — fully JVM-side, shuffle keys
    are tokens (bounded vocab), never document bodies."""
    # materialized once (r14 optimization round): the bigram-instance
    # explode feeds both the count aggregate and the scoring join —
    # re-deriving it doubled the tokenize+explode map work.  The count
    # sides are agg-over-checkpoint (estimator-blind, vocab-bounded in
    # a natural corpus but adversarially unbounded), so the scoring
    # joins carry merge hints (the l04 x100 broadcast class).
    from .dedup import _materialize
    inst = _materialize(bigram_instances(df, id_col, text_col))
    c2 = inst.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = (inst.hint("merge").join(c2, ["w1", "w2"])
              .hint("merge").join(c1, "w1")
              .withColumn("nll", -F.log(F.col("c2") / F.col("c1"))))
    return (scored.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.avg("nll"), round_dp).alias("nll")))


def tfidf_topk(df: DataFrame, id_col: str, text_col: str,
               k: int = 3, round_dp: int = 6) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf
    (idf = ln(N/df)); returns (id, token, tfidf).  tf and df are two
    hash aggregates; N folds in as a broadcast 1-row cross join (no
    driver collect); the per-doc cut is a window over the ROUNDED score
    with the token as total-order tiebreaker."""
    from pyspark.sql import Window

    words = df.select(F.col(id_col).alias("id"),
                      F.explode(tokens(text_col)).alias("token"))
    # materialized once (r14 optimization round): tf feeds both the
    # document-frequency aggregate and the scoring join — re-deriving
    # it doubled the tokenize+explode+aggregate work.  dfreq is
    # agg-over-checkpoint (estimator-blind), so the scoring join
    # carries the merge hint (the l04 x100 broadcast class).
    from .dedup import _materialize
    tf = _materialize(words.groupBy("id", "token")
                      .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (tf.hint("merge").join(dfreq, "token")
              .crossJoin(F.broadcast(n))
              .withColumn("tfidf",
                          F.round(F.col("tf")
                                  * F.log(F.col("n") / F.col("df")),
                                  round_dp)))
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), "token")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("id", "token", "tfidf"))


def boilerplate_score(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3, common_df: int = 5) -> DataFrame:
    """(id, n_shingles, common_frac): the fraction of a document's word
    n-gram shingles that are corpus-COMMON (document frequency ≥
    `common_df`) — the boilerplate/template detector of a training-data
    quality stack (navigation chrome, license blocks, and mirrored
    templates score high; original prose scores low).

    Scale shape: shingles hashed to 8-byte keys (counts are
    hash-invariant, so a SQL oracle re-derives them from raw strings),
    one document-frequency aggregate, one join back keyed on the same
    shingle hash, one per-doc aggregate.  Linear in corpus tokens, zero
    UDFs, no pair enumeration — boilerplate detection WITHOUT the
    quadratic containment join.  The physical plan scans the corpus
    TWICE (the df-aggregate branch and the join branch don't unify into
    a ReusedExchange) — deliberate: the one-scan alternative, a count
    window partitioned by shingle, buffers each shingle's rows in one
    partition and dies on exactly the hot template shingles this
    operator exists to find; two cheap columnar scans + a skew-safe
    aggregate is the 100 TB-correct trade (checkpoint the shingle pass
    instead if scans dominate — it's the same table l30's index
    persists)."""
    from .dedup import _materialize, shingle_sets
    # materialized once (r14 optimization round — the docstring's own
    # "checkpoint the shingle pass instead" alternative, taken): one
    # scan+explode+distinct instead of two; the join-back carries the
    # merge hint because both sides are now checkpoint-fed
    # (estimator-blind stats — the l04 x100 broadcast class)
    sh = _materialize(shingle_sets(df, id_col, text_col, n))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (sh.hint("merge").join(dfreq, "shingle")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.when(F.col("df") >= common_df, 1)
                       .otherwise(0)).alias("n_common"))
            .select("id", "n_shingles",
                    F.round(F.col("n_common").cast("double")
                            / F.col("n_shingles"), 6)
                    .alias("common_frac")))


# dialect-conservative patterns (no lookaround, no \b-dialect surprises)
# so the same regex means the same thing in Java (Spark) and RE2-style
# engines — the subset both worlds agree on
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
}


def scrub_pii(df: DataFrame, text_col: str,
              patterns: "dict[str, str] | None" = None,
              token: str = "[REDACTED]") -> DataFrame:
    """Training-data redaction pass: replace every PII pattern match in
    `text_col` with `token` and append one `pii_<kind>` count column per
    pattern (the audit trail a removal pipeline needs).  Pure
    regexp_replace / regexp_count column expressions — codegen, zero
    UDFs, scan-side at 100 TB.

    Every `pii_<kind>` count is computed against the ORIGINAL text —
    never the progressively scrubbed intermediate — so a pattern whose
    match region overlaps an earlier kind's still audits true original
    occurrences (an email inside a URL counts as BOTH pii_email and
    pii_url).  Replacements chain in dict order; the scrubbed text
    therefore reflects first-pattern-wins on overlapping regions while
    the counts stay order-independent."""
    pats = patterns if patterns is not None else PII_PATTERNS
    out = df
    orig = F.col(text_col)
    cur = orig
    for kind, pat in pats.items():
        out = out.withColumn(f"pii_{kind}",
                             F.regexp_count(orig, F.lit(pat)))
        cur = F.regexp_replace(cur, pat, token)
    return out.withColumn(text_col, cur)


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(df: DataFrame, id_col: str, text_col: str,
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_len: float = 3.0, max_mean_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 max_bullet_ratio: float = 0.9,
                 max_ellipsis_ratio: float = 0.3,
                 min_alpha_ratio: float = 0.8,
                 min_stop_hits: int = 2) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021,
    arXiv:2112.11446 Table A1) — the standard web-corpus repetition/
    garbage filter applied before LLM pretraining:

      1. word count in [min_words, max_words];
      2. mean word length in [min_mean_len, max_mean_len];
      3. symbol-to-word ratio ('#' or '...') <= max_symbol_ratio;
      4. fraction of lines starting with a bullet <= max_bullet_ratio;
      5. fraction of lines ending in an ellipsis <= max_ellipsis_ratio;
      6. fraction of words containing an alphabetic char >= min_alpha_ratio;
      7. at least min_stop_hits distinct required stop words present.

    Returns per-doc metrics (ratios rounded to 6 — the cross-engine
    float discipline; `passes` is evaluated on the ROUNDED values so an
    oracle re-deriving it can never flip on a ulp) plus the `passes`
    verdict.  Pure column expressions over the token and line arrays —
    zero UDFs, zero shuffles: a scan-shaped filter at 100 TB."""
    t = tokens(text_col)
    n = F.size(t).cast("double")
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("double")
    r6 = lambda c: F.round(c, 6)

    mean_len = r6(F.aggregate(t, F.lit(0),
                              lambda acc, w: acc + F.length(w)) / n)
    symbol_ratio = r6((F.regexp_count(text, F.lit("#"))
                       + F.regexp_count(text, F.lit(r"\.\.\."))) / n)
    bullet_ratio = r6(F.size(F.filter(
        lines, lambda l: l.rlike(r"^[ \t]*[-*]"))) / n_lines)
    ellipsis_ratio = r6(F.size(F.filter(
        lines, lambda l: l.rlike(r"\.\.\.$"))) / n_lines)
    alpha_ratio = r6(F.size(F.filter(
        t, lambda w: w.rlike("[A-Za-z]"))) / n)
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(F.filter(sw, lambda s: F.array_contains(t, s)))

    out = df.select(
        F.col(id_col),
        F.size(t).alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        stop_hits.alias("stop_hits"))
    return out.withColumn("passes", (
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_len)
        & (F.col("mean_word_len") <= max_mean_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_ratio") <= max_bullet_ratio)
        & (F.col("ellipsis_ratio") <= max_ellipsis_ratio)
        & (F.col("alpha_ratio") >= min_alpha_ratio)
        & (F.col("stop_hits") >= min_stop_hits)))


def _chars(word: Column) -> Column:
    """Character array via explicit substring positions (mirrors the SQL
    oracle's range+substr exactly; split-on-empty edge semantics differ
    between engines)."""
    return F.transform(F.sequence(F.lit(1), F.length(word)),
                       lambda i: F.substring(word, i, 1))


def _merge_pair_greedy(syms: Column, a: str, b: str) -> Column:
    """Greedy LEFTMOST non-overlapping merge of adjacent pair (a, b) in
    a symbol array — the BPE apply step ("a a a" under (a,a) becomes
    ["aa","a"], never ["a","aa"]).  One F.aggregate pass per row: the
    accumulator carries (emitted prefix, pending symbol); a pending `a`
    followed by `b` emits the merged token and clears.  Pure codegen,
    zero shuffles."""
    merged_tok = F.lit(a + b)
    init = F.struct(F.array().cast("array<string>").alias("out"),
                    F.lit(None).cast("string").alias("pend"))

    def step(acc, x):
        hit = acc["pend"].isNotNull() & (acc["pend"] == a) & (x == F.lit(b))
        flushed = F.when(acc["pend"].isNotNull(),
                         F.concat(acc["out"], F.array(acc["pend"]))
                         ).otherwise(acc["out"])
        return F.when(hit, F.struct(
            F.concat(acc["out"], F.array(merged_tok)).alias("out"),
            F.lit(None).cast("string").alias("pend"))
        ).otherwise(F.struct(flushed.alias("out"), x.alias("pend")))

    return F.aggregate(
        syms, init, step,
        lambda acc: F.when(acc["pend"].isNotNull(),
                           F.concat(acc["out"], F.array(acc["pend"]))
                           ).otherwise(acc["out"]))


def _bpe_train(df: DataFrame, id_col: str, text_col: str,
               n_merges: int = 4):
    """Byte-pair-encoding merge training (Sennrich et al. 2016,
    arXiv:1508.07909) — the tokenizer-training pass of an LLM data
    pipeline: aggregate the corpus to (word, freq), split words into
    character symbols, then `n_merges` times (1) count adjacent symbol
    pairs weighted by word frequency, (2) pick the most frequent pair
    (count desc, then lexicographic — exact-integer decisions, tie-safe
    cross-engine), (3) greedily merge its leftmost non-overlapping
    occurrences in every word.  Returns (merge table DataFrame —
    (step, sym_a, sym_b, merged, pair_count) — , final vocab DataFrame
    (word, freq, syms)).

    Scale shape: the ONLY corpus-sized pass is the word-frequency
    aggregate (one shuffle of word tokens); every BPE iteration runs on
    the VOCABULARY table (distinct words — orders of magnitude smaller,
    exactly how production BPE trainers work), localCheckpointed per
    step.  The per-iteration driver collect is the single best-pair row
    (the IVF-centroid discipline: O(n_merges) rows ever hit the
    driver).  Raises if the vocabulary runs out of adjacent pairs
    before n_merges (loud, per the SCC discipline).

    The greedy leftmost merge is oracle-checked against an
    islands-formulation SQL rederivation (merge positions = even
    offsets inside runs of consecutive matching positions — equivalent
    to greedy by a parity argument; only a=b pairs form runs >1)."""
    words = (df.select(F.explode(F.split(F.col(text_col), " "))
                       .alias("word"))
             .filter(F.length("word") > 0)
             .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    vocab = (words.select("word", "freq",
                          _chars(F.col("word")).alias("syms"))
             .localCheckpoint())
    merges = []
    for t in range(n_merges):
        pairs = vocab.select(
            "freq", F.explode(F.arrays_zip(
                F.slice("syms", 1, F.size("syms") - 1),
                F.slice("syms", 2, F.size("syms") - 1))).alias("p"))
        best = (pairs.select(F.col("p")["0"].alias("sym_a"),
                             F.col("p")["1"].alias("sym_b"), "freq")
                .groupBy("sym_a", "sym_b")
                .agg(F.sum("freq").alias("pair_count"))
                .orderBy(F.col("pair_count").desc(), "sym_a", "sym_b")
                .first())
        if best is None:
            raise ValueError(
                f"vocabulary exhausted adjacent pairs at merge {t} "
                f"(requested n_merges={n_merges})")
        merges.append((t, best.sym_a, best.sym_b,
                       best.sym_a + best.sym_b, best.pair_count))
        vocab = (vocab.select(
            "word", "freq",
            _merge_pair_greedy(F.col("syms"), best.sym_a, best.sym_b)
            .alias("syms"))
            .localCheckpoint())
    spark = df.sparkSession
    merges_df = spark.createDataFrame(
        merges, "step int, sym_a string, sym_b string, merged string, "
                "pair_count bigint")
    return merges_df, vocab


def bpe_merges(df: DataFrame, id_col: str, text_col: str,
               n_merges: int = 4) -> DataFrame:
    """The l43 surface: just the ordered merge table (see _bpe_train)."""
    merges_df, _ = _bpe_train(df, id_col, text_col, n_merges=n_merges)
    return merges_df


def bpe_token_counts(df: DataFrame, id_col: str, text_col: str,
                     n_merges: int = 4) -> DataFrame:
    """Tokenizer APPLY: per-document token counts under the BPE
    tokenizer just trained on the same corpus — the tokens-per-doc /
    compression-ratio metric every pre-training data pipeline reports
    (sequence budgeting, cost estimates).  Because tokenization is
    word-local, applying the merges to a document is a JOIN against
    the trained vocabulary's final symbol lists — the corpus is never
    re-segmented per document:

        n_bpe_tokens(doc) = Σ over word instances |syms(word)|

    Returns (id, n_words, n_bpe_tokens, compression) with compression
    = round(n_bpe_tokens / n_chars-of-words, 6) — BPE tokens per
    character, the standard fertility-style ratio (exact-integer
    inputs, one rounded division).

    Scale shape: one explode of doc words + a vocab join (distinct
    words) + one per-doc aggregate.  The join is NOT hint-forced to
    broadcast: distinct whitespace tokens grow with the corpus (URLs,
    numbers, hashes) and a forced broadcast of an unbounded vocabulary
    overrides the size threshold straight into a driver OOM — AQE
    picks broadcast when the vocab actually fits and a shuffle join
    when it doesn't."""
    _, vocab = _bpe_train(df, id_col, text_col, n_merges=n_merges)
    sizes = vocab.select("word", F.size("syms").alias("n_syms"),
                         F.length("word").alias("w_chars"))
    words = (df.select(F.col(id_col).alias("id"),
                       F.explode(F.split(F.col(text_col), " "))
                       .alias("word"))
             .filter(F.length("word") > 0))
    return (words.join(sizes, "word")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_syms").alias("n_bpe_tokens"),
                 F.round(F.sum("n_syms")
                         / F.sum("w_chars").cast("double"), 6)
                 .alias("compression")))


def entropy_stats(df: DataFrame, id_col: str, text_col: str,
                  prefix_chars: int = 256) -> DataFrame:
    """Per-document Shannon entropy quality signals (nats): unigram
    word entropy over the full text and character entropy over the
    first `prefix_chars` characters — the compression-style quality
    heuristics corpus filters use beside Gopher rules (low entropy ⇒
    repetitive/templated text; the prefix cap keeps the char explode
    O(1) per document at any document length).

    Cross-engine float discipline (the l41 structure): each c·ln(c)
    term is quantized to an exact integer (floor(·1e6 + 0.5)) BEFORE
    the per-document sum, so no float summation order exists; the
    final H = ln(n) − (S/1e6)/n is one deterministic expression of two
    exact integers, rounded at the edge."""
    tid = F.col(id_col)

    def _h(unit_col: Column, src: DataFrame, out: str) -> DataFrame:
        counts = (src.groupBy(tid.alias("id"), unit_col.alias("u"))
                  .agg(F.count(F.lit(1)).alias("c")))
        term = F.floor(F.col("c") * F.log(F.col("c")) * F.lit(1e6)
                       + F.lit(0.5)).cast("long")
        agg = (counts.groupBy("id")
               .agg(F.sum("c").alias("n"), F.sum(term).alias("s_micro")))
        h = F.log(F.col("n")) - (F.col("s_micro") / F.lit(1e6)) / F.col("n")
        return agg.select("id", F.col("n").alias(f"n_{out}"),
                          F.round(h, 6).alias(f"{out}_entropy"))

    words = (df.select(tid, F.explode(F.split(F.col(text_col), " "))
                       .alias("w")).filter(F.col("w") != ""))
    # '[^\n]' not '.': Java's '.' excludes \r and the Unicode line
    # separators while RE2's excludes only \n — an explicit class makes
    # both engines count the same characters.
    chars = df.select(tid, F.explode(F.regexp_extract_all(
        F.substring(F.col(text_col), 1, prefix_chars), F.lit("[^\\n]"), 0))
        .alias("ch"))
    wh = _h(F.col("w"), words, "words")
    ch = _h(F.col("ch"), chars, "chars")
    # FULL OUTER: a doc can have words but zero countable chars (or
    # vice versa — e.g. text '\n\n' splits to one "word" but '[^\n]'
    # matches nothing); an inner join silently DROPPED such docs from
    # a per-document quality metric.  The missing side reports n=0
    # with NULL entropy (entropy of zero units is undefined).
    z = F.lit(0).cast("long")
    return (wh.join(ch, "id", "full_outer")
            .select(F.col("id").alias(id_col),
                    F.coalesce("n_words", z).alias("n_words"),
                    "words_entropy",
                    F.coalesce("n_chars", z).alias("n_chars"),
                    "chars_entropy"))


def vocab_js_drift(df: DataFrame, text_col: str,
                   source_col: str, round_dp: int = 6) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    word distributions — the corpus-drift / source-mixture diagnostic
    (high JS ⇒ the two sources speak different vocabularies; JS is
    symmetric and bounded by ln 2, unlike raw KL which is infinite on
    disjoint support).

    Decomposition that keeps the vocab scan SHARED-WORDS-ONLY: with
    p_w = c_aw/N_a, q_w = c_bw/N_b and m_w = (p_w+q_w)/2,

        2·JS = Σ_shared [p·ln(p/m) + q·ln(q/m)]
             + ln2 · (2 − Σ_shared p − Σ_shared q)

    because every word exclusive to one source contributes exactly
    p·ln 2 (its mixture weight is p/2).  The exclusive mass therefore
    never needs a full-outer join — it falls out of the shared-count
    sums, which are exact integers.

    Cross-engine float discipline (the l47 structure): each shared-word
    term is quantized to an exact integer (floor(·1e9 + 0.5)) before
    the per-pair sum, so no float summation order exists; the final JS
    is one deterministic expression of exact integers, rounded at the
    edge.

    Scale shape: word counts shuffle on (source, word) once; the
    shared-word join shuffles on the word, where each word carries at
    most |sources| rows per side; totals are |sources| rows, broadcast.
    Output is the |sources|² pair matrix (zero-shared pairs kept, at
    JS = ln 2 exactly)."""
    w = (df.select(F.col(source_col).alias("src"),
                   F.explode(F.split(F.col(text_col), " ")).alias("w"))
         .filter(F.col("w") != ""))
    # materialize-once (r15): the (src, word) count table fed totals
    # AND both sides of the shared-word self-join, so the corpus
    # word-explode + aggregate ran 3× (the registered l59 plan read
    # 11 Exchange / 6 corpus scans).  The table is |vocab|·|sources|
    # rows — linear, never quadratic.  The self-join's sides are then
    # checkpoint-fed and vocab-scaled (estimator-blind fixed-small
    # stats — the l04 x100 re-plan class), so the join carries an
    # explicit shuffle_hash hint: narrow (src, w, c) legs hash cheaper
    # than they sort, and neither side may be broadcast at corpus
    # scale.
    from .dedup import _materialize
    counts = _materialize(
        w.groupBy("src", "w").agg(F.count(F.lit(1)).alias("c")))
    totals = counts.groupBy("src").agg(F.sum("c").alias("n"))
    a = counts.select(F.col("src").alias("source_a"), "w",
                      F.col("c").alias("ca"))
    b = counts.select(F.col("src").alias("source_b"), "w",
                      F.col("c").alias("cb"))
    ta = totals.select(F.col("src").alias("source_a"),
                       F.col("n").alias("na"))
    tb = totals.select(F.col("src").alias("source_b"),
                       F.col("n").alias("nb"))
    shared = (a.hint("shuffle_hash").join(b, "w")
              .filter(F.col("source_a") < F.col("source_b"))
              .join(F.broadcast(ta), "source_a")
              .join(F.broadcast(tb), "source_b"))
    p = F.col("ca") / F.col("na")
    q = F.col("cb") / F.col("nb")
    m = (p + q) / F.lit(2.0)
    term = p * F.log(p / m) + q * F.log(q / m)
    micro = F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("long")
    agg = (shared.groupBy("source_a", "source_b")
           .agg(F.count(F.lit(1)).alias("shared_vocab"),
                F.sum(micro).alias("s_micro"),
                F.sum("ca").alias("sh_a"),
                F.sum("cb").alias("sh_b")))
    pairs = (ta.crossJoin(F.broadcast(tb))
             .filter(F.col("source_a") < F.col("source_b"))
             .join(F.broadcast(agg), ["source_a", "source_b"], "left"))
    z = F.lit(0).cast("long")
    sm = F.coalesce("s_micro", z)
    sa = F.coalesce("sh_a", z)
    sb = F.coalesce("sh_b", z)
    js = F.lit(0.5) * (sm / F.lit(1e9)
                       + F.log(F.lit(2.0))
                       * (F.lit(2.0) - sa / F.col("na")
                          - sb / F.col("nb")))
    return pairs.select(
        "source_a", "source_b",
        F.coalesce("shared_vocab", z).alias("shared_vocab"),
        F.round(js, round_dp).alias("js_divergence"))


def overlap_chunks(df: DataFrame, id_col: str, text_col: str,
                   chunk_words: int = 64,
                   stride: int = 48) -> DataFrame:
    """Overlapping sliding-window chunking — the context-window
    segmentation step RAG indexing and fixed-window pretraining both
    need: every document becomes ceil(n_words/stride) chunks of up to
    ``chunk_words`` words, consecutive chunks overlapping by
    (chunk_words − stride) words so no span is ever split across a
    chunk boundary without also appearing whole in a neighbor.

    Chunk starts are 0, stride, 2·stride, … while start < n_words, so
    the final chunk may be short (it is still emitted — dropping it
    would silently lose the document tail).  Documents with zero words
    emit zero chunks.

    Scale shape: pure scan-side codegen — split/filter/sequence/
    posexplode/slice, zero shuffles, zero UDFs; output rows are
    ∝ n_words/stride.  Requires stride ≥ 1 and chunk_words ≥ stride
    (a stride larger than the window would DROP words between chunks
    — loud error, not silent data loss)."""
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    if chunk_words < stride:
        raise ValueError(
            f"chunk_words ({chunk_words}) < stride ({stride}) would drop "
            f"the words between consecutive windows")
    words = F.filter(F.split(F.col(text_col), " "),
                     lambda x: x != "")
    base = (df.select(F.col(id_col).alias("id"), words.alias("ws"))
            .withColumn("n", F.size("ws"))
            .filter(F.col("n") > 0))
    ex = base.select(
        "id", "n", "ws",
        F.posexplode(F.sequence(F.lit(0), F.col("n") - 1,
                                F.lit(stride))).alias("chunk_id", "start"))
    chunk = F.array_join(
        F.slice(F.col("ws"), F.col("start") + 1, chunk_words), " ")
    n_in = F.least(F.lit(chunk_words), F.col("n") - F.col("start"))
    return ex.select(
        F.col("id").alias(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start").cast("long").alias("start_word"),
        n_in.cast("long").alias("chunk_len"),
        chunk.alias("chunk_text"))


def source_keyness(df: DataFrame, text_col: str,
                   source_col: str, min_count: int = 5, top: int = 5,
                   round_dp: int = 6) -> DataFrame:
    """Per-source DISTINCTIVE terms by pointwise mutual information:
    pmi(t, s) = ln( (c_ts/N_s) / (c_t/N) ) — how over-represented a
    term is in a source vs the whole corpus (the keyness analysis that
    explains WHAT a high l59 JS-drift pair differs on).  Terms below
    ``min_count`` occurrences in the source are dropped (rare-term PMI
    explodes); top-`top` per source by (rounded pmi desc, term asc).

    Every pmi is one deterministic double expression of four exact
    integers — no summation exists, so rounding at the edge is the
    whole cross-engine discipline.  One (source, word) hash aggregate
    (the global term counts derive from it, never a second corpus
    pass); totals broadcast; one window per source."""
    w = (df.select(F.col(source_col).alias("src"),
                   F.explode(F.split(F.col(text_col), " ")).alias("w"))
         .filter(F.col("w") != ""))
    # materialize-once (r15): the (src, word) aggregate fed c_t, n_s
    # AND the scored join, so the corpus word-explode ran 3× (the
    # registered l64 plan read 9 Exchange / 4 corpus scans); the table
    # is |vocab|·|sources| rows — linear.  The scored↔c_t join is then
    # checkpoint-fed and vocab-scaled on both sides (estimator-blind),
    # so it carries the explicit shuffle_hash hint (never broadcast a
    # vocab-scaled side on fixed-small stats — the l04 x100 class).
    from .dedup import _materialize
    c_ts = _materialize(
        w.groupBy("src", "w").agg(F.count(F.lit(1)).alias("c_ts")))
    c_t = c_ts.groupBy("w").agg(F.sum("c_ts").alias("c_t"))
    n_s = c_ts.groupBy("src").agg(F.sum("c_ts").alias("n_s"))
    n = n_s.agg(F.sum("n_s").alias("n"))
    scored = (c_ts.filter(F.col("c_ts") >= min_count)
              .join(c_t.hint("shuffle_hash"), "w")
              .join(F.broadcast(n_s), "src")
              .crossJoin(F.broadcast(n))
              .withColumn("pmi", F.round(
                  F.log((F.col("c_ts") / F.col("n_s"))
                        / (F.col("c_t") / F.col("n"))), round_dp)))
    from pyspark.sql import Window as W
    win = W.partitionBy("src").orderBy(F.col("pmi").desc(), F.col("w"))
    return (scored.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") <= top)
            .select(F.col("src").alias("source"), F.col("w").alias("term"),
                    "c_ts", "pmi"))


def length_ks_drift(df: DataFrame, text_col: str,
                    source_col: str, round_dp: int = 6) -> DataFrame:
    """Pairwise two-sample Kolmogorov-Smirnov statistic between
    per-source DOCUMENT-LENGTH (word count) distributions — the
    distribution-shift monitor that catches a source whose documents
    got systematically shorter/longer even when vocabulary (l59) and
    keyness (l64) look stable.

    Exactness: KS = max |F_a(x) − F_b(x)| is evaluated by integer
    cross-multiplication — d(x) = |cum_a(x)·n_b − cum_b(x)·n_a| is an
    exact int64 (cumulative counts are windowed integer sums over a
    unique axis), and KS = max d / (n_a·n_b) is one rounded division
    at the edge.  No float participates in the max.

    Scale shape: per-source length histograms are one hash aggregate
    (length cardinality-bounded); the evaluation grid is
    |source pairs| × |distinct lengths| rows assembled from broadcast
    frames; one window pass per pair.  Returns (source_a, source_b,
    n_a, n_b, d_max, ks)."""
    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    base = df.select(F.col(source_col).alias("src"),
                     F.size(words).alias("len"))
    # materialize-once (r15): the per-source length histogram fed
    # totals, the length axis AND both cumulative sides, so the corpus
    # word-split scan ran 4× (the registered l66 plan read 7 Exchange /
    # 5 corpus scans).  The histogram is |sources|·|distinct lengths|
    # rows — cardinality-bounded BY SEMANTICS, so unlike the
    # vocab-scaled checkpoints the downstream joins may broadcast it
    # at any corpus scale (no hints needed).
    from .dedup import _materialize
    counts = _materialize(
        base.groupBy("src", "len").agg(F.count(F.lit(1)).alias("c")))
    totals = counts.groupBy("src").agg(F.sum("c").alias("n"))
    lens = counts.select("len").distinct()
    ta = totals.select(F.col("src").alias("source_a"),
                       F.col("n").alias("n_a"))
    tb = totals.select(F.col("src").alias("source_b"),
                       F.col("n").alias("n_b"))
    axis = (ta.crossJoin(F.broadcast(tb))
            .filter(F.col("source_a") < F.col("source_b"))
            .crossJoin(F.broadcast(lens)))
    ca = counts.select(F.col("src").alias("source_a"), "len",
                       F.col("c").alias("ca"))
    cb = counts.select(F.col("src").alias("source_b"), "len",
                       F.col("c").alias("cb"))
    z = F.lit(0).cast("long")
    g = (axis.join(ca, ["source_a", "len"], "left")
         .join(cb, ["source_b", "len"], "left")
         .select("source_a", "source_b", "n_a", "n_b", "len",
                 F.coalesce("ca", z).alias("ca"),
                 F.coalesce("cb", z).alias("cb")))
    from pyspark.sql import Window as W
    w = (W.partitionBy("source_a", "source_b").orderBy("len")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    d = F.abs(F.sum("ca").over(w) * F.col("n_b")
              - F.sum("cb").over(w) * F.col("n_a"))
    return (g.withColumn("d", d)
            .groupBy("source_a", "source_b", "n_a", "n_b")
            .agg(F.max("d").alias("d_max"))
            .withColumn("ks", F.round(
                F.col("d_max") / (F.col("n_a") * F.col("n_b")),
                round_dp)))
