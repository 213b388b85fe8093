"""Cross-engine-deterministic sketches.

ClickHouse ships approximate aggregates as first-class surface
(uniq / uniqHLL12 / uniqCombined — the reference's backing store
idiom for "count distinct on 100 TB").  Spark's own
approx_count_distinct is a black-box HLL++ whose estimate differs
between engines and versions, so it can never be oracle-checked.
This module rebuilds the sketch from first principles on top of the
repo's engine-portable md5 hash: every register value, and therefore
the estimate itself, is BIT-IDENTICAL between Spark and any SQL engine
that can md5 — determinism as a design property, not a test accident
(the l42/l35 discipline applied to sketching).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import md5_long60

# Flajolet et al. 2007 bias constant for m = 256 registers
HLL_M = 256
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# estimate = alpha * m^2 / Z  where Z = Σ 2^-M_j; registers are scaled
# by 2^53 so Z's sum is an EXACT int64 (every term 2^(53-M_j) is an
# integer; 256 terms ≤ 2^61) — no float summation order anywhere.
HLL_NUMER = HLL_ALPHA * HLL_M * HLL_M * float(1 << 53)


def hll_distinct(df: DataFrame, col: str) -> DataFrame:
    """HyperLogLog distinct-count estimate (Flajolet, Fusy, Gandouet &
    Meunier 2007) with m=256 registers over the 60-bit md5 hash: bucket
    = low 8 bits, rank = leading-zero count of the remaining 52 bits
    + 1 (computed EXACTLY via the binary-string length — no float log2
    whose last-ulp misrounding could flip a register).  Returns one row
    (n_exact, hll_estimate, rel_error); n_exact is the true distinct
    count for the error column — on a real 100 TB corpus you'd emit
    only the estimate, which is the point of the sketch.

    Raw Flajolet estimator only (no small/large-range correction
    branches): deterministic, documented, and at m=256 the ±1.0σ error
    is ~6.5% — the rel_error column shows the actual figure.

    Scale shape: one scan + one 256-group aggregate + a 256-row final
    fold; the shuffle carries at most m register rows per partition
    (map-side partial max).  The exact count's count(DISTINCT) is the
    expensive half — the sketch side is free.

    Built ON the shared register machinery (hll_registers + _hll_z) so
    q41 and the q46 state path can never drift; NULL inputs contribute
    nothing (matching count(DISTINCT)) instead of forging a phantom
    max-rank register; an empty input folds to the raw estimator over
    all-missing registers (alpha·m ≈ 181 at m=256), never NULL."""
    reg = hll_registers(df, col, [])
    z = _hll_z(reg, [])
    exact = df.agg(F.countDistinct(F.col(col)).alias("n_exact"))
    est = F.lit(HLL_NUMER) / F.col("z")
    rel = F.when(F.col("n_exact") > 0,
                 F.round((est - F.col("n_exact")) / F.col("n_exact"), 6))
    return (exact.crossJoin(F.broadcast(z))
            .select("n_exact",
                    F.round(est, 4).alias("hll_estimate"),
                    rel.alias("rel_error")))


# Count-Min dimensions: d salted hash rows × w counters.  Error bound:
# overestimate ≤ N·e/w with probability 1 - e^-d (Cormode & Muthukrishnan
# 2005); counters and estimates are exact integers, so parity is exact.
CMS_D = 4
CMS_W = 256


def _cms_bucket(row: Column, key: Column) -> Column:
    """Row-salted bucket: md5('cms<r>|<key>') mod w — engine-portable
    like every hash DECISION in this repo.  NULL keys coalesce to a
    sentinel so the NULL group gets a REAL bucket: md5(NULL) is NULL,
    which failed the counter probe join and silently dropped the NULL
    key from the top-k even when it was the heaviest hitter (both the
    build and probe sides route through this one function, so the
    sentinel stays consistent)."""
    k = F.coalesce(key, F.lit("\x00__cms_null__"))
    return md5_long60(F.concat(F.lit("cms"), row.cast("string"),
                              F.lit("|"), k)) % CMS_W


# KMV hash-space size: md5_long60 is uniform on [0, 2^60)
KMV_M = float(1 << 60)


def _kmv_stats(sketch: DataFrame) -> DataFrame:
    """(n rows kept, kth minimum hash) of a sketch as a 1-row DF."""
    return sketch.agg(F.count(F.lit(1)).alias("n"),
                      F.max("h").alias("hk"))


def _kmv_estimate(n: Column, hk: Column, k: int) -> Column:
    """Beyer et al. 2007 unbiased KMV distinct estimate: (k-1)·M/h(k)
    when the sketch is full, else the sketch IS the set (exact)."""
    return F.when(n < k, n.cast("double")) \
            .otherwise(F.lit(k - 1) * F.lit(KMV_M) / hk)


def kmv_set_ops(a: DataFrame, b: DataFrame, col: str,
                k: int = 32) -> DataFrame:
    """Distinct / union / intersection / Jaccard estimates for two key
    sets from k-minimum-value sketches (Bar-Yossef et al. 2002; Beyer
    et al. 2007 — the theta-sketch set algebra ClickHouse exposes as
    uniqCombined + set operations), with the exact values beside them.

    Estimators: per-set and union size via (k-1)·M/h(k) over the
    respective k-min sketches; the union sketch is the k smallest of
    the two sketches' union; ρ = members of the union sketch present
    in BOTH input sketches gives Jaccard ≈ ρ/k and |A∩B| ≈ (ρ/k)·Û.
    Every comparison and ρ is integer-exact on the md5_long60 hash, so
    estimates are bit-identical across engines; only the final
    division is float, rounded at the edge.

    Scale shape (r15 one-pass rework — result-identical): ONE
    union+groupBy pass over both inputs builds a per-distinct-value
    membership-flags table (h, fl) that feeds BOTH sketches AND all
    three exact counts; the lazy form re-derived each side's corpus
    distinct up to 3× (the registered q43 plan read 12 scans /
    15 Exchange).  The flags table is linear in distinct keys (never
    quadratic) and consumed three times, so it is checkpointed once —
    the l32 materialize-once discipline; everything downstream is
    ≤k-row algebra or a single aggregate over the checkpoint.
    Equivalence: groupBy(v) dedups values exactly like the per-side
    DISTINCTs (exact counts count VALUES); the sketch sides re-distinct
    on h, preserving the original distinct-after-hash semantics; empty
    inputs yield 0-counts via coalesce exactly like count(*)."""
    from ..llm.dedup import _materialize
    va = (a.filter(F.col(col).isNotNull())
          .select(F.col(col).alias("v"), F.lit(1).alias("s")))
    vb = (b.filter(F.col(col).isNotNull())
          .select(F.col(col).alias("v"), F.lit(2).alias("s")))
    flags = (va.unionAll(vb).groupBy("v")
             .agg(F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
                  .alias("ca"),
                  F.sum(F.when(F.col("s") == 2, 1).otherwise(0))
                  .alias("cb"))
             .select(md5_long60(F.col("v").cast("string")).alias("h"),
                     (F.col("ca") > 0).alias("ina"),
                     (F.col("cb") > 0).alias("inb")))
    flags = _materialize(flags)
    # sa/sb/su stay LAZY: they are ≤k-row TakeOrdered passes over the
    # checkpoint (re-deriving one is a cheap columnar scan, and
    # checkpointing each costs a whole extra job — pin-measured slower
    # at fixture scale than the re-derivations)
    sa = (flags.filter("ina").select("h").distinct()
          .orderBy("h").limit(k))
    sb = (flags.filter("inb").select("h").distinct()
          .orderBy("h").limit(k))
    su = sa.union(sb).distinct().orderBy("h").limit(k)
    rho = (su.join(F.broadcast(sa), "h", "left_semi")
           .join(F.broadcast(sb), "h", "left_semi")
           .agg(F.count(F.lit(1)).alias("rho")))
    stats = (_kmv_stats(sa).select(F.col("n").alias("na"),
                                   F.col("hk").alias("ha"))
             .crossJoin(_kmv_stats(sb).select(F.col("n").alias("nb"),
                                              F.col("hk").alias("hb")))
             .crossJoin(_kmv_stats(su).select(F.col("n").alias("nu"),
                                              F.col("hk").alias("hu")))
             .crossJoin(rho))
    # exact count(DISTINCT) semantics in one aggregate over the flags
    # checkpoint (rows are distinct values by construction); coalesce
    # keeps the empty-input counts at 0 exactly like count(*)
    zl = F.lit(0).cast("long")
    exact = flags.agg(
        F.coalesce(F.sum(F.when(F.col("ina"), 1).otherwise(0)), zl)
         .cast("long").alias("n_a"),
        F.coalesce(F.sum(F.when(F.col("inb"), 1).otherwise(0)), zl)
         .cast("long").alias("n_b"),
        F.coalesce(F.sum(F.when(F.col("ina") & F.col("inb"), 1)
                         .otherwise(0)), zl)
         .cast("long").alias("n_intersect"))
    est_u = _kmv_estimate(F.col("nu"), F.col("hu"), k)
    # try_divide: two EMPTY inputs (filtered-away partitions, NULL-only
    # columns) make the union sketch empty (nu = 0) and a plain
    # division kills the job under ANSI.  Jaccard of two empty sets is
    # mathematically undefined — NULL is the honest value, and the
    # exact columns beside it still read 0/0/0.
    jac = F.try_divide(F.col("rho").cast("double"),
                       F.least(F.col("nu"), F.lit(k)))
    return (stats.crossJoin(exact).select(
        F.lit(k).alias("k"),
        F.round(_kmv_estimate(F.col("na"), F.col("ha"), k), 4)
          .alias("est_a"),
        F.round(_kmv_estimate(F.col("nb"), F.col("hb"), k), 4)
          .alias("est_b"),
        F.round(est_u, 4).alias("est_union"),
        F.round(jac * est_u, 4).alias("est_intersect"),
        F.round(jac, 6).alias("jaccard_est"),
        "n_a", "n_b", "n_intersect"))


def cms_heavy_hitters(df: DataFrame, col: str, k: int = 20,
                      weight_col: str | None = None) -> DataFrame:
    """Heavy hitters via a Count-Min sketch (Cormode & Muthukrishnan
    2005 — ClickHouse's topK/approx frequency idiom): d=4 salted hash
    rows × w=256 counters built in ONE aggregate pass; each candidate
    key's estimate is the MIN of its d counters (never an
    underestimate); returns the top-`k` keys by estimate (desc, key
    asc) with the exact count and realized overcount beside it.

    ``weight_col`` switches to the topKWeighted form: counters and
    exact counts sum that column's exact-integer weights (cents-
    quantize floats first — the q44 discipline) instead of row counts;
    the CMS min-over-rows guarantee holds for any non-negative
    additive weight exactly as it does for counts.  Both preconditions
    are ENFORCED per row (a raise_error branch on each bad row): a
    fractional weight would silently truncate under a bare long cast
    and diverge from a floor(x·100+0.5) oracle, and a negative weight
    silently voids the never-underestimate guarantee — pre-quantize
    with cents (q53 does) rather than passing raw floats.

    Every counter and estimate is an exact integer from md5-derived
    buckets — bit-identical across engines (the q41 discipline; no
    float appears anywhere).  On a real corpus the candidate set would
    come from a sample or prior window rather than distinct(); here the
    fixture's key cardinality makes distinct() the honest baseline and
    the comparison column.

    Scale shape: the sketch build shuffles (row, bucket) pairs — at
    most d·w = 1024 groups regardless of corpus size, perfect map-side
    combine; the probe joins the candidate keys against a BROADCAST
    1024-row counter table."""
    rows = F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("r")
    key = F.col(col).cast("string")
    if weight_col is None:
        w = F.lit(1).cast("long")
    else:
        wraw = F.col(weight_col)
        w = F.when(
            (wraw < 0) | (wraw != F.floor(wraw)),
            F.raise_error(F.concat(
                F.lit("cms_heavy_hitters: weight_col must be a "
                      "non-negative integer (quantize floats to cents "
                      "first — a bare cast would truncate and a "
                      "negative weight voids the CMS min-over-rows "
                      "guarantee); got "), wraw.cast("string")))
            .cast("long")).otherwise(wraw.cast("long"))
    counters = (df.select(key.alias("k"), w.alias("w")).select("k", "w", rows)
                .select("w", "r", _cms_bucket(F.col("r"), F.col("k"))
                        .alias("bucket"))
                .groupBy("r", "bucket").agg(F.sum("w").alias("c")))
    exact = (df.select(F.col(col).alias("key"), w.alias("w"))
             .groupBy("key")
             .agg(F.sum("w").alias("exact_cnt")))
    probes = (exact.select("key", "exact_cnt", rows)
              .select("key", "exact_cnt", "r",
                      _cms_bucket(F.col("r"),
                                  F.col("key").cast("string"))
                      .alias("bucket")))
    est = (probes.join(F.broadcast(counters), ["r", "bucket"])
           .groupBy("key", "exact_cnt")
           .agg(F.min("c").alias("cms_estimate")))
    return (est.select("key", "cms_estimate", "exact_cnt",
                       (F.col("cms_estimate") - F.col("exact_cnt"))
                       .alias("overcount"))
            .orderBy(F.col("cms_estimate").desc(), "key").limit(k))


def hll_registers(df: DataFrame, col: str,
                  group_cols: list[str]) -> DataFrame:
    """MERGEABLE HyperLogLog state (ClickHouse uniqState): per group,
    the m=256 register table (bucket, max rank) for `col`'s hash.
    Registers are the associative half of the sketch — states for any
    two groups merge by per-bucket MAX, so coarser rollups derive from
    finer ones WITHOUT rescanning the fact table (the
    AggregatingMergeTree materialized-view idiom).

    NULL values are FILTERED before hashing (md5(NULL) is NULL, which
    would forge a phantom bucket=NULL register with max rank 53 that
    then survives every per-bucket-MAX merge into every rollup,
    inflating all of them); count(DISTINCT) semantics ignore NULLs,
    so the sketch does too."""
    for c in ("bucket", "rank", "m"):
        if c in group_cols:
            raise ValueError(f"group column {c!r} collides with the "
                             f"register schema; alias it first")
    h = md5_long60(F.col(col).cast("string"))
    rest = F.shiftright(h, 8)
    rank = F.when(rest > 0,
                  F.lit(53) - F.length(F.bin(rest))).otherwise(F.lit(53))
    return (df.filter(F.col(col).isNotNull())
            .select(*group_cols, (h % HLL_M).alias("bucket"),
                    rank.alias("rank"))
            .groupBy(*group_cols, "bucket")
            .agg(F.max("rank").alias("m")))


def _hll_z(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """THE exact-int64 register fold (shared by hll_distinct and
    hll_estimate_from_registers so the two can never drift):
    Z = Σ 2^(53-m) + (missing buckets)·2^53 per group; an empty
    register set folds to the all-missing constant, never NULL."""
    return (regs.groupBy(*group_cols).agg(
        (F.coalesce(
            F.sum(F.pow(F.lit(2.0), F.lit(53) - F.col("m")).cast("long")),
            F.lit(0))
         + (F.lit(HLL_M) - F.count(F.col("m"))) * F.lit(1 << 53))
        .alias("z")))


def hll_estimate_from_registers(regs: DataFrame,
                                group_cols: list[str]) -> DataFrame:
    """Fold a register table (ClickHouse uniqMerge): per group,
    Z = Σ 2^(53-m) + (missing buckets)·2^53 as an EXACT int64, then
    the Flajolet estimate — bit-identical across engines (the q41
    fold, applied to persisted state)."""
    z = _hll_z(regs, group_cols)
    return z.select(*group_cols,
                    F.round(F.lit(HLL_NUMER) / F.col("z"), 4)
                    .alias("uniq_estimate"))


def histogram_state(df: DataFrame, val_col: str, group_cols: list[str],
                    lo: int, width: int, n_bins: int) -> DataFrame:
    """MERGEABLE fixed-bin histogram state (the ClickHouse
    quantile-state idiom, deterministic variant): per group, (bin,
    cnt) rows over an integer value column — bin = clamp((v - lo) DIV
    width).  States merge by per-bin count SUM (associative, any
    order), so rollup hierarchies derive from fine states without
    rescanning facts; one hash aggregate with map-side combine, state
    size ≤ n_bins rows per group at any data scale."""
    for c in ("bin", "cnt"):
        if c in group_cols:
            raise ValueError(f"group column {c!r} collides with the "
                             f"state schema; alias it first")
    a = (F.col(val_col).cast("long") - F.lit(int(lo)).cast("long"))
    # true integer DIV (the docstring's claim): the old float-division
    # form lost exactness past 2^53 micro-units
    b = F.expr(f"__hs_a DIV {int(width)}")
    bin_ = F.greatest(F.lit(0), F.least(F.lit(n_bins - 1), b))
    return (df.select(*group_cols, a.alias("__hs_a"))
            .select(*group_cols, bin_.alias("bin"))
            .groupBy(*group_cols, "bin")
            .agg(F.count(F.lit(1)).alias("cnt")))


def histogram_quantiles(state: DataFrame, group_cols: list[str],
                        lo: int, width: int,
                        percents: list[int]) -> DataFrame:
    """Fold a histogram state into per-group quantile estimates, one
    row per (group, pct).  Integer-exact across engines: rank r =
    ceil(n·p/100) via (n·p + 99) DIV 100, the covering bin found on
    the cumulative count, and the within-bin midpoint interpolation
    done in micro-units with integer DIV only — no float touches the
    value until the caller's final display division."""
    from pyspark.sql import Window

    reserved = {"bin", "cnt", "cum", "n", "pct", "num_r", "r",
                "num_i", "den_i", "interp", "est_micro"}
    bad = reserved.intersection(group_cols)
    if bad:
        raise ValueError(f"group columns {sorted(bad)} collide with the "
                         f"fold's internal names; alias them first")
    # defensive re-aggregate: a state produced by plain UNION of two
    # states (instead of a per-bin SUM merge) holds duplicate bins,
    # and the cumulative window's tie order would make the fold
    # NONDETERMINISTIC — re-summing makes it total for any input
    state = (state.groupBy(*group_cols, "bin")
             .agg(F.sum("cnt").alias("cnt")))
    w = (Window.partitionBy(*group_cols).orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (state.withColumn("cum", F.sum("cnt").over(w))
           .withColumn("n", F.sum("cnt").over(
               Window.partitionBy(*group_cols))))
    p = cum.select(*group_cols, "bin", "cnt", "cum", "n",
                   F.explode(F.array(*[F.lit(x) for x in percents]))
                   .alias("pct"))
    p = p.withColumn("num_r", F.col("n") * F.col("pct") + F.lit(99))
    # clamp the rank to >= 1: pct=0 would yield r=0, which no row
    # covers — the (group, pct) row silently vanished
    p = p.withColumn("r", F.greatest(F.lit(1).cast("long"),
                                     F.expr("num_r DIV 100")))
    hit = p.filter((F.col("cum") >= F.col("r"))
                   & (F.col("cum") - F.col("cnt") < F.col("r")))
    micro = F.lit(int(width) * 1_000_000).cast("long")
    # loud int64 guard: num_i peaks at micro·2·cnt, so a covering bin
    # holding more than 2^62/micro rows would WRAP silently in
    # non-ANSI Spark while the oracle diverges — refuse instead
    # (use more/narrower bins, which is the right fix at that scale)
    cnt_cap = (1 << 62) // (int(width) * 1_000_000)
    cnt_ok = F.when(
        F.col("cnt") > F.lit(cnt_cap),
        F.raise_error(F.concat(
            F.lit(f"histogram_quantiles: covering bin holds more than "
                  f"{cnt_cap} rows — the micro-unit interpolation "
                  f"would overflow int64; use more bins; got "),
            F.col("cnt").cast("string"))).cast("long")
    ).otherwise(F.col("cnt"))
    hit = (hit.withColumn("cnt", cnt_ok)
        .withColumn(
        "num_i",
        micro * (F.lit(2) * (F.col("r") - (F.col("cum") - F.col("cnt")))
                 - F.lit(1)))
        .withColumn("den_i", F.lit(2) * F.col("cnt"))
        .withColumn("interp", F.expr("num_i DIV den_i")))
    est = (F.lit(lo).cast("long")
           + F.col("bin") * F.lit(width)) * F.lit(1_000_000).cast("long") \
        + F.col("interp")
    return hit.select(*group_cols, "pct",
                      est.cast("long").alias("est_micro"))


def weighted_quantiles(df: DataFrame, val_col: str, weight_col: str,
                       group_cols: list[str],
                       percents: list[int]) -> DataFrame:
    """ClickHouse quantileExactWeighted analog: per group, the EXACT
    weighted quantile — the smallest value whose cumulative weight
    reaches ceil(W·p/100) (type-1 weighted quantile).  Inputs must be
    integer (quantize values to cents, weights to counts) so rank
    arithmetic is (W·p + 99) DIV 100 — no float anywhere, both
    engines agree exactly.

    NULL values are FILTERED before ranking (count(DISTINCT)-style,
    as kmv_set_ops filters its inputs): Spark windows sort NULLS FIRST but
    DuckDB sorts NULLS LAST, so a NULL value row would shift every
    cumulative weight differently per engine.  Negative weights are
    REJECTED per row (raise_error branch): they break cum-weight
    monotonicity, silently making the "smallest value reaching rank r"
    ill-defined.

    Scale shape: one pre-aggregate on (group, value) collapses
    duplicate values (bounded by value cardinality per group), then a
    cumulative-weight window over that collapsed set; one row per
    (group, pct) out."""
    from pyspark.sql import Window

    reserved = {"w", "cum", "tot", "pct", "num_r", "r", "q_value"}
    bad = reserved.intersection([*group_cols, val_col])
    if bad:
        raise ValueError(f"columns {sorted(bad)} collide with the "
                         f"fold's internal names; alias them first")
    wtype = df.schema[weight_col].dataType.typeName()
    if wtype not in ("byte", "short", "integer", "long"):
        # fail with the CONTRACT, not the cryptic downstream
        # DATATYPE_MISMATCH on "num_r DIV 100" a float weight column
        # otherwise produces at plan time
        raise ValueError(
            f"weighted_quantiles: weight_col {weight_col!r} must be an "
            f"integral type (quantize floats to counts/cents first — "
            f"the docstring contract); got {wtype}")
    wraw = F.col(weight_col)
    wok = F.when(
        wraw < 0,
        F.raise_error(F.concat(
            F.lit("weighted_quantiles: negative weight breaks "
                  "cumulative-weight monotonicity; got "),
            wraw.cast("string"))).cast(df.schema[weight_col].dataType)
    ).otherwise(wraw)
    g = (df.filter(F.col(val_col).isNotNull())
         .groupBy(*group_cols, val_col)
         .agg(F.sum(wok).alias("w")))
    wc = (Window.partitionBy(*group_cols).orderBy(val_col)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = (g.withColumn("cum", F.sum("w").over(wc))
         .withColumn("tot", F.sum("w").over(
             Window.partitionBy(*group_cols))))
    p = c.select(*group_cols, val_col, "w", "cum", "tot",
                 F.explode(F.array(*[F.lit(x) for x in percents]))
                 .alias("pct"))
    p = (p.withColumn("num_r", F.col("tot") * F.col("pct") + F.lit(99))
         .withColumn("r", F.greatest(F.lit(1).cast("long"),
                                     F.expr("num_r DIV 100"))))
    hit = p.filter((F.col("cum") >= F.col("r"))
                   & (F.col("cum") - F.col("w") < F.col("r")))
    return hit.select(*group_cols, "pct",
                      F.col(val_col).alias("q_value"))


def exact_percentiles_cont(df: DataFrame, group_cols: list[str],
                           val_col: str,
                           probs: list[float]) -> DataFrame:
    """Exact linear-interpolation percentiles (Spark ``percentile`` ==
    SQL ``quantile_cont``) in a SHUFFLE-SORT shape: one row per
    (group, prob), column ``q_cont``.

    Why not the builtin: Spark's exact ``percentile`` AGGREGATE buffers
    every (value → count) of a group inside a single aggregation
    buffer, so one big group concentrates on one task's heap — the r13
    x30 probe measured the tipping point (q30 over 18M lineitem rows
    in 3 groups OOM'd a JVM solo on the 8g heap).  This form collapses
    duplicates with a (group, value) count aggregate (partial+final,
    any skew), then a cumulative-count window over the collapsed set —
    the per-group sort SPILLS through the external sorter instead of
    buffering, the documented trade of wall-clock for survival.  At
    true 100 TB with few groups, percentile_approx (t-digest) remains
    the right tool; this is the exact form that does not die.

    Interpolation reproduces Spark's ``Percentile.getPercentile``
    exactly, float-op order included: pos = p·(n−1);
    (higher − pos)·v_lo + (pos − lower)·v_hi, with the frac-0 short
    circuit returning v_lo — a cross-path equality property pins this
    against the builtin.  NULL values are filtered before ranking
    (the builtin ignores them; engines disagree on NULL sort order),
    but GROUP membership matches the builtin exactly (r14, ADVICE):
    a group whose values are all NULL — and, when ``group_cols`` is
    empty, an empty input — still emits its (group, p) rows with NULL
    ``q_cont``, via a null-safe left join from the distinct group keys
    of the UNFILTERED input.  That key probe is the one extra scan
    this costs (column-pruned to the group columns; |groups|-bounded
    both join sides)."""
    from pyspark.sql import Window

    reserved = {"v", "cnt", "cum", "tot", "p", "pos", "k", "frac",
                "q_cont"}
    bad = reserved.intersection(group_cols)
    if bad:
        raise ValueError(f"columns {sorted(bad)} collide with the "
                         f"fold's internal names; alias them first")
    g = (df.filter(F.col(val_col).isNotNull())
         .select(*group_cols, F.col(val_col).cast("double").alias("v"))
         .groupBy(*group_cols, "v")
         .agg(F.count(F.lit(1)).alias("cnt")))
    wc = (Window.partitionBy(*group_cols).orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = (g.withColumn("cum", F.sum("cnt").over(wc))
         .withColumn("tot", F.sum("cnt").over(
             Window.partitionBy(*group_cols))))
    p = c.select(*group_cols, "v", "cnt", "cum", "tot",
                 F.explode(F.array(*[F.lit(float(x)) for x in probs]))
                 .alias("p"))
    pos = F.col("p") * (F.col("tot") - 1).cast("double")
    k = F.floor(pos).cast("long")
    p = (p.withColumn("pos", pos).withColumn("k", k)
         .withColumn("frac", F.col("pos") - F.col("k").cast("double")))
    # the 1-based indices holding the bracketing values; a duplicate
    # run can satisfy both conditions with ONE collapsed row
    lo_i = F.col("k") + 1
    hi_i = F.col("k") + 2
    is_lo = (F.col("cum") >= lo_i) & (F.col("cum") - F.col("cnt") < lo_i)
    is_hi = (F.col("cum") >= hi_i) & (F.col("cum") - F.col("cnt") < hi_i)
    hit = p.filter(is_lo | is_hi).select(
        *group_cols, "p", "pos", "k", "frac",
        F.when(is_lo, F.col("v")).alias("v_lo"),
        F.when(is_hi, F.col("v")).alias("v_hi"))
    agg = (hit.groupBy(*group_cols, "p", "pos", "k", "frac")
           .agg(F.max("v_lo").alias("v_lo"), F.max("v_hi").alias("v_hi")))
    # Spark Percentile.getPercentile, same op order:
    # (higher − pos)·lower + (pos − lower)·higher; frac == 0 → lower
    q = F.when(F.col("frac") == 0.0, F.col("v_lo")).otherwise(
        (F.col("k") + 1 - F.col("pos")) * F.col("v_lo")
        + (F.col("pos") - F.col("k")) * F.col("v_hi"))
    res = agg.select(*group_cols, "p", q.alias("q_cont"))
    # builtin-matching group membership: every distinct group key of
    # the UNFILTERED input (or the builtin's single global row when
    # ungrouped, empty input included) gets its (group, p) rows; an
    # all-NULL-value group surfaces as q_cont = NULL instead of
    # silently vanishing.  eqNullSafe: groupBy treats NULL keys as a
    # group, so the probe join must too.
    keys = (df.select(*group_cols).distinct() if group_cols
            else df.sparkSession.range(1).select())
    probe = keys.select(
        *group_cols,
        F.explode(F.array(*[F.lit(float(x)) for x in probs]))
        .alias("p")).alias("probe")
    res = res.alias("res")
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"probe.{c}").eqNullSafe(F.col(f"res.{c}"))
         for c in group_cols] + [F.col("probe.p") == F.col("res.p")])
    return probe.join(res, cond, "left").select(
        *[F.col(f"probe.{c}") for c in group_cols],
        F.col("probe.p").alias("p"), F.col("res.q_cont"))


def hll_sliding_estimate(regs: DataFrame, time_col: str = "h",
                         step: int = 3600, window: int = 3) -> DataFrame:
    """Sliding distinct-count from MERGEABLE register states (the
    ClickHouse uniqMerge-over-a-window idiom): given per-bucket states
    keyed by a time bucket (`hll_registers(df, col, [time_col])`),
    the trailing-`window`-bucket estimate at each bucket is one
    per-bucket MAX merge of the last `window` states — the fact table
    is never rescanned, and each output hour touches exactly
    `window`·256 state rows regardless of cardinality.

    The shift-and-union form keeps it one plan: state at time t
    contributes to outputs t, t+step, …, t+(window−1)·step; a semi-join
    restricts outputs to buckets that actually exist (no phantom
    trailing hours after the last data)."""
    shifted = regs.select((F.col(time_col) + 0 * step).alias(time_col),
                          "bucket", "m")
    for k in range(1, window):
        shifted = shifted.unionByName(
            regs.select((F.col(time_col) + k * step).alias(time_col),
                        "bucket", "m"))
    hours = regs.select(time_col).distinct()
    merged = (shifted.join(hours, time_col, "left_semi")
              .groupBy(time_col, "bucket")
              .agg(F.max("m").alias("m")))
    return hll_estimate_from_registers(merged, [time_col])
