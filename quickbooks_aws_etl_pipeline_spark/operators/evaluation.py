"""Classifier-evaluation operators for in-pipeline quality models.

Web-corpus pipelines gate documents with small classifiers (the
fastText/CCNet-style language and quality models; the repo's own
text_class_nb / text_quality_score tiers). Shipping such a gate
without measuring it is how silent corpus regressions happen, so the
eval step is first-class pipeline surface: distributed tie-corrected
ROC AUC (the threshold-free ranking metric) and reliability
(calibration) bins — both exact-integer so every engine agrees on
every digit.

The reference outsources all model work (it has no classifier
anywhere — qb_bills.py:40-169 and siblings are pure ETL); this module
is north-star surface for the 100 TB training-data use the engine
targets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import round_ratio6, round_ratio6_dec
from .windows import bucketed_cumsum

PPM_DOMAIN = 1_000_001  # integer ppm scores live in [0, 1_000_000]


def _ppm_bucket(buckets: int) -> Column:
    """Monotone range-bucket of a ppm ``score``: [0, ``buckets``) on
    the ppm domain."""
    return (F.col("score") * F.lit(buckets)
            / F.lit(PPM_DOMAIN)).cast("int")


def _with_cumneg_below(hist: DataFrame, buckets: int,
                       partition_by: tuple[str, ...] = ()) -> DataFrame:
    """Adds ``cumneg_below``, the negatives scored strictly below each
    row's score within its partition, to a (score, neg_s) histogram."""
    cum, _ = bucketed_cumsum(hist, _ppm_bucket(buckets), ["score"],
                             values=["neg_s"], partition_by=partition_by)
    return cum.withColumn("cumneg_below",
                          F.col("cum_neg_s") - F.col("neg_s"))


def auc_rank_ppm(df: DataFrame, score_col: str, pos_col: str,
                 buckets: int = 256) -> DataFrame:
    """Tie-corrected ROC AUC of an integer ppm score against a boolean
    label, by rank-sum over the SCORE HISTOGRAM — never a per-row
    global sort.

    AUC = P(score_pos > score_neg) + P(score_pos = score_neg)/2
        = (2*W + T) / (2 * n_pos * n_neg)

    with W the concordant (pos above neg) pair count and T the tied
    pair count. Both fall out of the per-score histogram h(s) =
    (pos_s, neg_s): with cumneg_below(s) = sum of neg_s' over s' < s,

        2*W + T = sum_s pos_s * (2*cumneg_below(s) + neg_s).

    Scale shape: one map-side-combining shuffle builds the histogram,
    whose size is bounded by the ppm DOMAIN (<= 1e6+1 rows) no matter
    how many rows are scored; the negative-count cumulative is
    :func:`.windows.bucketed_cumsum` on a range-bucket of the score
    (<= ``buckets`` driver offsets for in-domain scores; an
    out-of-domain score gets a bucket of its own, never dropped).

    Exactness: every pair count is integer; the single division is
    round_ratio6_dec — the DECIMAL(38,0) DIV form of the integer
    half-away recipe, exact for any bigint numerator (the double-DIV
    round_ratio6 would cap auc_num2 at ~4.5e9, i.e. ~47k balanced
    rows — the r7 advisory; the decimal path removes that cliff). The
    remaining integer ceiling is bigint itself: den = 2*n_pos*n_neg
    must fit int64, so n_pos*n_neg <= ~4.6e18 — ~2.1e9 balanced
    positives/negatives (~4e9 scored rows). At corpus scale beyond
    that, the standard practice this operator models is AUC on a
    deterministic eval sample (hash_sample): the metric's precision
    saturates long before 100 TB of rows.

    Output (1 row): n_pos, n_neg, auc_num2 (= 2*W + T), auc.
    """
    hist = (df.groupBy(F.col(score_col).alias("score"))
            .agg(F.sum(F.when(F.col(pos_col), 1).otherwise(0))
                 .cast("bigint").alias("pos_s"),
                 F.sum(F.when(F.col(pos_col), 0).otherwise(1))
                 .cast("bigint").alias("neg_s")))
    return (_with_cumneg_below(hist, buckets).agg(
        F.sum("pos_s").cast("bigint").alias("n_pos"),
        F.sum("neg_s").cast("bigint").alias("n_neg"),
        F.sum(F.col("pos_s") * (2 * F.col("cumneg_below")
                                + F.col("neg_s")))
        .cast("bigint").alias("auc_num2"))
        .withColumn("__den", 2 * F.col("n_pos") * F.col("n_neg"))
        .select("n_pos", "n_neg", "auc_num2",
                round_ratio6_dec("auc_num2", "__den", "auc")))


def auc_bootstrap_ci(df: DataFrame, score_col: str, pos_col: str,
                     id_col: str, replicates: int = 8,
                     buckets: int = 64) -> DataFrame:
    """Uncertainty for the AUC point estimate: ``replicates``
    Poisson-bootstrap resamples of the scored set, each evaluated by
    the same histogram rank-sum as :func:`auc_rank_ppm` — a point
    metric without a CI can't tell a real model regression from
    resampling noise, so production eval suites ship both.

    Resampling is the Chamandy-style Poisson(1) bootstrap
    (operators/sampling.poisson_bootstrap_means): per (row,
    replicate) an integer weight from md5("aucboot" r ":" id)
    against the shared Poisson CDF literals — deterministic,
    index-free, bit-identical on both engines. The weighted score
    histogram aggregates on (replicate, score) in ONE map-side-
    combining exchange (<= replicates * score-domain rows); the
    cumulative is :func:`.windows.bucketed_cumsum` partitioned by
    replicate (<= replicates * buckets driver offsets). The
    per-replicate ratio is round_ratio6_dec; a replicate that
    resamples away an entire class (probability ~ e^-n — never at
    any real eval size) emits NULL rather than dividing by zero.

    Output: ``replicates`` rows (replicate, n_pos_eff, n_neg_eff,
    auc); consumers read the spread (e.g. min/max or percentiles)
    as the CI around auc_rank_ppm's point estimate.
    """
    from .sampling import poisson1_cdf_thresholds
    from .text import md5_long
    cdf = poisson1_cdf_thresholds()
    reps = F.explode(F.sequence(F.lit(0), F.lit(replicates - 1)))
    base = df.select(F.col(score_col).alias("score"),
                     F.col(pos_col).alias("__pos"),
                     F.col(id_col).alias("__id"),
                     reps.alias("rep"))
    u = ((md5_long(F.concat(F.lit("aucboot"),
                            F.col("rep").cast("string"), F.lit(":"),
                            F.col("__id").cast("string")))
          + F.lit(1)).cast("double") / F.lit(float(2 ** 60)))
    w = sum((u > F.lit(c)).cast("int") for c in cdf)
    hist = (base.select("rep", "score", "__pos", w.alias("w"))
            .groupBy("rep", "score")
            .agg(F.sum(F.when(F.col("__pos"), F.col("w")).otherwise(0))
                 .cast("bigint").alias("pos_s"),
                 F.sum(F.when(F.col("__pos"), 0).otherwise(F.col("w")))
                 .cast("bigint").alias("neg_s")))
    agg = (_with_cumneg_below(hist, buckets, ("rep",)).groupBy("rep")
           .agg(F.sum("pos_s").cast("bigint").alias("n_pos_eff"),
                F.sum("neg_s").cast("bigint").alias("n_neg_eff"),
                F.sum(F.col("pos_s") * (2 * F.col("cumneg_below")
                                        + F.col("neg_s")))
                .cast("bigint").alias("__num2"))
           .withColumn("__den",
                       2 * F.col("n_pos_eff") * F.col("n_neg_eff")))
    return (agg.select(
        F.col("rep").cast("int").alias("replicate"),
        "n_pos_eff", "n_neg_eff",
        F.when(F.col("__den") > 0,
               round_ratio6_dec("__num2", "__den", "auc"))
        .alias("auc")))


def calibration_bins(df: DataFrame, score_col: str, pos_col: str,
                     n_bins: int = 10) -> DataFrame:
    """Reliability-diagram table for an integer ppm score vs a boolean
    label: fixed-width score bins, each with its count, positive
    count, observed positive rate, and mean score — the calibration
    check (is a 0.8-scored document actually positive 80% of the
    time?) that accompanies every deployed quality gate.

    One map-side-combining aggregate keyed on the bin (<= n_bins
    groups); all ratios via round_ratio6 so the 6-decimal outputs are
    engine-exact. Empty bins are absent (no dense spine — callers
    wanting one join against a literal range).
    """
    width = 1_000_000 // n_bins
    binned = df.select(
        F.col(score_col).cast("bigint").alias("__score"),
        F.col(pos_col).alias("__pos"),
    ).select(
        F.least(F.expr(f"__score div {width}"),
                F.lit(n_bins - 1)).cast("int").alias("bin"),
        "__score", "__pos")
    return (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum(F.when(F.col("__pos"), 1).otherwise(0))
                 .cast("bigint").alias("n_pos"),
                 F.sum("__score").cast("bigint").alias("__sum_score"))
            .select("bin", "n", "n_pos",
                    round_ratio6(F.col("n_pos"), F.col("n"))
                    .alias("pos_rate"),
                    round_ratio6(F.col("__sum_score"), F.col("n"))
                    .alias("mean_score_ppm")))


def stopword_ppm(text_col: Column, words: list[str]) -> Column:
    """Integer stopword density in ppm — the shared quality score the
    eval keys grade (same formula as token_budget_selection,
    operators/sampling.py:263: (n_stop * 1e6) div n_tokens on the
    whitespace tokenization). Returned as a two-step expression the
    caller must wrap in a select chain; here it is inlined with
    named-operand div via F.expr-free arithmetic.
    """
    from .text import stopword_count, tokens
    toks = tokens(text_col)
    num = stopword_count(toks, words).cast("bigint") * F.lit(1_000_000)
    den = F.size(toks).cast("bigint")
    # integer floor-div on non-negative operands, exact below 2^53
    return ((num - F.pmod(num, den)) / den).cast("bigint")


def score_drift_psi(df: DataFrame, score_col: str, pop_col: str,
                    n_bins: int = 10) -> DataFrame:
    """Population Stability Index between two score populations —
    the standard production-monitoring drift metric for a deployed
    quality/classifier gate. NOTE the log base: terms use log10 (the
    engine's cross-engine-rounded log), so the classic natural-log
    PSI thresholds convert as PSI_ln = PSI_log10 * ln(10) ~ 2.303x —
    i.e. alert at ~0.087 here where the textbook says 0.2.

        PSI = sum_bins (p_i - q_i) * log10(p_i / q_i)

    over fixed-width ppm score bins, Laplace-1 smoothed so empty
    bins contribute finitely ((n+1)/(N+n_bins)).

    Exactness — ALL integers, no decimal columns and only one float
    per bin: p and q are e7-scaled integer round-half-up rationals
    (q7 = (2*(n+1)*1e7 + (N+bins)) DIV (2*(N+bins)), computed by
    DECIMAL(38,0) DIV so it is exact for ANY bigint population — the
    earlier double-DIV emulation capped populations at ~4.5e8 rows,
    the r7 advisory); the log-ratio uses base-10 log of the smoothed
    rational, rounded at 7 decimals via floor(x*1e7 + 0.5) (the same
    cross-engine log10 contract every LM key relies on — the double
    conversion of the (n+1)*(N+bins) products is the one remaining
    approximation: above 2^53 it rounds nearest-even IDENTICALLY on
    IEEE engines, so the e7-rounded log stays cross-engine stable);
    the per-bin term is then the BIGINT product (p7 - q7) *
    logdiff_e7 at scale e14, emitted round-half-away at e10.
    |p-q| <= 1e7 and |logdiff_e7| < 1e8 keep the product under
    1e15 — bigint-safe.

    Scale shape: one map-side-combining aggregate keyed on
    (bin, population) — <= 2*n_bins groups regardless of corpus
    size — then literal-spine joins (broadcast). ``pop_col`` must be
    a boolean column: true = reference/train, false = serving.

    Output: n_bins rows (bin, n_train, n_serve, psi_term_e10); total
    PSI = sum(psi_term_e10)/1e10.
    """
    width = 1_000_000 // n_bins
    binned = df.select(
        F.col(score_col).cast("bigint").alias("__score"),
        F.col(pop_col).alias("__train"),
    ).select(
        F.least(F.expr(f"__score div {width}"),
                F.lit(n_bins - 1)).cast("int").alias("bin"),
        "__train")
    hist = (binned.groupBy("bin")
            .agg(F.sum(F.when(F.col("__train"), 1).otherwise(0))
                 .cast("bigint").alias("n_train"),
                 F.sum(F.when(F.col("__train"), 0).otherwise(1))
                 .cast("bigint").alias("n_serve")))
    return psi_from_histogram(hist, n_bins)


def psi_from_histogram(hist: DataFrame, n_bins: int) -> DataFrame:
    """PSI terms from a possibly-sparse (bin, n_train, n_serve)
    histogram — the integer tail of :func:`score_drift_psi`, split
    out so a STREAMING query can maintain the histogram (the stateful
    part) while this batch math scores the memory-sink snapshot.
    Bins absent from ``hist`` enter as zeros via the literal spine."""
    spark = hist.sparkSession
    spine = spark.range(n_bins).select(F.col("id").cast("int")
                                       .alias("bin"))
    full = (spine.join(hist, "bin", "left")
            .select("bin",
                    F.coalesce("n_train", F.lit(0)).cast("bigint")
                    .alias("n_train"),
                    F.coalesce("n_serve", F.lit(0)).cast("bigint")
                    .alias("n_serve")))
    tot = full.agg(F.sum("n_train").alias("__nt"),
                   F.sum("n_serve").alias("__ns"))

    def q7(n1_col: str, d_col: str):
        # round-half-up((n+1)/(N+bins)) at e7 — same integers as the
        # classic (a - pmod)/b emulation but computed by DECIMAL(38,0)
        # DIV, so it stays exact for ANY bigint population (the double
        # emulation capped populations at ~4.5e8 rows, 2*(n+1)*1e7 <
        # 2^53 — the r7 advisory; the decimal path removes the cliff)
        return F.expr(
            f"(2 * CAST({n1_col} AS DECIMAL(38,0)) * 10000000"
            f" + CAST({d_col} AS DECIMAL(38,0)))"
            f" DIV (2 * CAST({d_col} AS DECIMAL(38,0)))"
        ).cast("bigint")

    t = (full.crossJoin(F.broadcast(tot))
         .withColumn("__np1", F.col("n_train") + 1)
         .withColumn("__ns1", F.col("n_serve") + 1)
         .withColumn("__dt", F.col("__nt") + n_bins)
         .withColumn("__ds", F.col("__ns") + n_bins)
         .withColumn("p7", q7("__np1", "__dt"))
         .withColumn("q7", q7("__ns1", "__ds"))
         .withColumn(
             "logdiff_e7",
             F.floor(F.log10(
                 ((F.col("n_train") + 1) * (F.col("__ns") + n_bins))
                 .cast("double")
                 / ((F.col("n_serve") + 1) * (F.col("__nt") + n_bins))
                 .cast("double")) * 10_000_000 + 0.5).cast("bigint"))
         .withColumn("__t_e14",
                     (F.col("p7") - F.col("q7")) * F.col("logdiff_e7")))
    half = F.lit(10_000)
    a = F.abs(F.col("__t_e14")) * 2 + half
    b = F.lit(20_000)
    q = ((a - F.pmod(a, b)) / b).cast("bigint")
    return t.select(
        "bin", "n_train", "n_serve",
        (F.signum(F.col("__t_e14")).cast("bigint") * q)
        .alias("psi_term_e10"))


def pr_thresholds(df: DataFrame, score_col: str, pos_col: str,
                  n_thresholds: int = 10) -> DataFrame:
    """Precision / recall / F1 at a sweep of decision thresholds —
    the operating-point table that turns a scored gate into a
    deployable one (AUC says the ranking is good; THIS says where to
    cut). Thresholds are the n_thresholds decile ppm boundaries
    (t = i * 1e6/n, predict positive when score >= t).

    Scale shape: one histogram aggregate (score-domain-bounded, the
    auc_rank_ppm exchange), then ONE 1-row aggregate computes
    TP/FP at every threshold as conditional sums (2*n_thresholds
    columns), unstacked to n_thresholds rows — no per-threshold
    rescan, no join fan-out. All counts integer; precision, recall,
    and F1 are single rationals via round_ratio6
    (F1 = 2TP / (2TP + FP + FN) — one exact division each).
    Degenerate thresholds where TP+FP = 0 report precision 0 (the
    deployment-honest convention, flagged by n_pred = 0).
    """
    hist = (df.groupBy(F.col(score_col).alias("score"))
            .agg(F.sum(F.when(F.col(pos_col), 1).otherwise(0))
                 .cast("bigint").alias("pos_s"),
                 F.sum(F.when(F.col(pos_col), 0).otherwise(1))
                 .cast("bigint").alias("neg_s")))
    width = 1_000_000 // n_thresholds
    cols = []
    for i in range(n_thresholds):
        t = i * width
        cols += [
            F.sum(F.when(F.col("score") >= t, F.col("pos_s"))
                  .otherwise(0)).cast("bigint").alias(f"tp{i}"),
            F.sum(F.when(F.col("score") >= t, F.col("neg_s"))
                  .otherwise(0)).cast("bigint").alias(f"fp{i}"),
        ]
    totals = [F.sum("pos_s").cast("bigint").alias("np"),
              F.sum("neg_s").cast("bigint").alias("nn")]
    one = hist.agg(*(cols + totals))
    stack = ", ".join(
        f"{i}, {i * width}L, tp{i}, fp{i}" for i in range(n_thresholds))
    rows = one.selectExpr(
        "np", "nn",
        f"stack({n_thresholds}, {stack}) "
        "as (t_idx, threshold_ppm, tp, fp)")
    fn = F.col("np") - F.col("tp")
    pred = F.col("tp") + F.col("fp")
    return rows.select(
        F.col("t_idx").cast("int").alias("t_idx"),
        F.col("threshold_ppm").cast("bigint").alias("threshold_ppm"),
        "tp", "fp",
        pred.alias("n_pred"),
        F.when(pred > 0, round_ratio6(F.col("tp"), pred))
         .otherwise(F.lit(0.0)).alias("precision"),
        round_ratio6(F.col("tp"), F.col("np")).alias("recall"),
        F.when((2 * F.col("tp") + F.col("fp") + fn) > 0,
               round_ratio6(2 * F.col("tp"),
                            2 * F.col("tp") + F.col("fp") + fn))
         .otherwise(F.lit(0.0)).alias("f1"))


def conformal_threshold(df: DataFrame, score_col: str, pos_col: str,
                        cal_flag: str, alpha_num: int = 1,
                        alpha_den: int = 10,
                        buckets: int = 256) -> DataFrame:
    """Split-conformal decision threshold for a scored binary gate
    (Vovk et al.; the Angelopoulos-Bates recipe): on a held-out
    CALIBRATION set of true positives, take the k-th smallest score
    with k = floor(alpha * (n_cal + 1)); predicting positive when
    score >= that threshold then guarantees >= 1-alpha recall on
    exchangeable future positives — a distribution-free coverage
    bound no operating-point sweep (pr_thresholds) provides.

    Exactness: k is the exact integer (n_cal+1)*alpha_num DIV
    alpha_den (alpha as a rational, never a float), the threshold is
    an order statistic of integer ppm scores, and the reported
    eval-split coverage / false-positive rate are round_ratio6_dec
    rationals.

    Scale shape: the order statistic is found on the calibration
    score HISTOGRAM (score-domain-bounded, one map-side-combining
    exchange), cumulated by :func:`.windows.bucketed_cumsum` on
    auc_rank_ppm's range-buckets — never a global sort or
    un-partitioned window. The eval-split metrics are ONE aggregate
    against the broadcast 1-row threshold.

    Output (1 row): n_cal, k_order, threshold_ppm, n_pos_eval,
    n_neg_eval, coverage, fpr.
    """
    cal = df.filter(F.col(cal_flag) & F.col(pos_col))
    hist = (cal.groupBy(F.col(score_col).alias("score"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    cum, (n_cal, _) = bucketed_cumsum(hist, _ppm_bucket(buckets), ["score"],
                                    values=["cnt"])
    k = max(1, (n_cal + 1) * alpha_num // alpha_den)
    thr = (cum.filter(F.col("cum_cnt") >= k)
           .agg(F.min("score").cast("bigint").alias("threshold_ppm")))
    ev = df.filter(~F.col(cal_flag))
    return (ev.crossJoin(F.broadcast(thr))
            .agg(F.first("threshold_ppm").alias("threshold_ppm"),
                 F.sum(F.when(F.col(pos_col), 1).otherwise(0))
                 .cast("bigint").alias("n_pos_eval"),
                 F.sum(F.when(F.col(pos_col), 0).otherwise(1))
                 .cast("bigint").alias("n_neg_eval"),
                 F.sum(F.when(F.col(pos_col)
                              & (F.col(score_col)
                                 >= F.col("threshold_ppm")), 1)
                       .otherwise(0)).cast("bigint").alias("__pos_ge"),
                 F.sum(F.when((~F.col(pos_col))
                              & (F.col(score_col)
                                 >= F.col("threshold_ppm")), 1)
                       .otherwise(0)).cast("bigint").alias("__neg_ge"))
            .select(F.lit(n_cal).cast("bigint").alias("n_cal"),
                    F.lit(k).cast("bigint").alias("k_order"),
                    "threshold_ppm", "n_pos_eval", "n_neg_eval",
                    round_ratio6_dec("__pos_ge", "n_pos_eval",
                                     "coverage"),
                    round_ratio6_dec("__neg_ge", "n_neg_eval", "fpr")))


def spearman_rho(df: DataFrame, a_col: str, b_col: str,
                 a_domain: int, b_domain: int,
                 buckets: int = 256) -> DataFrame:
    """Spearman's rank correlation between two integer signals on the
    same rows, mid-rank (average-rank) method with the classical
    6*sum(d^2) formula — the stated cross-engine contract (with ties
    the Pearson-on-ranks form differs slightly; both engines compute
    THIS formula on THE SAME average ranks, so the value is exact).

    All-integer: ranks carried in half-units (r2 = 2*avg_rank), so
    d = (r2_a - r2_b)/2 and sum(d^2) = sum(D^2)/4 with D integer;
    rho = 1 - 6*sum(d^2) / (n(n^2-1))
        = (4n(n^2-1) - 6*sum(D^2)) / (4n(n^2-1)),
    both sides DECIMAL(38,0) BEFORE any product (n^3 wraps int64 past
    ~1.3e6 rows and D^2 past ~1.5e9 — the BM25 wrap-band lesson),
    emitted through round_ratio6_dec. Two domain-bounded histogram
    exchanges + two value-keyed map joins + one scalar aggregate; the
    rank cumulative is :func:`.windows.bucketed_cumsum` partitioned by
    signal — no global sort, no un-partitioned window.

    Output (1 row): n, sum_d2_x4 (= sum(D^2)), rho.
    """
    base = df.select(F.col(a_col), F.col(b_col))
    # ONE stacked histogram pass builds BOTH signals' rank maps:
    # stacking (sig, val) scans the base once — the term that
    # dominates at 100 TB — and needs one driver offset collect.
    hist = (base.select(F.expr(
        f"stack(2, 'a', CAST({a_col} AS BIGINT),"
        f" 'b', CAST({b_col} AS BIGINT)) AS (sig, val)"))
        .groupBy("sig", "val")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    bucket = (F.col("val") * F.lit(buckets)
              / F.when(F.col("sig") == "a", F.lit(a_domain))
              .otherwise(F.lit(b_domain))).cast("int")
    cum, _ = bucketed_cumsum(hist, bucket, ["val"], values=["cnt"],
                             partition_by=["sig"])
    # mid-rank in half-units: 2*(rows below) + cnt + 1
    rank = cum.select("sig", "val",
                      (2 * F.col("cum_cnt") - F.col("cnt") + 1)
                      .alias("__r2"))
    ra = (rank.filter(F.col("sig") == "a")
          .select(F.col("val").alias(a_col),
                  F.col("__r2").alias(f"__r2_{a_col}")))
    rb = (rank.filter(F.col("sig") == "b")
          .select(F.col("val").alias(b_col),
                  F.col("__r2").alias(f"__r2_{b_col}")))
    joined = base.join(ra, a_col).join(rb, b_col)
    dd = F.expr(f"CAST(__r2_{a_col} - __r2_{b_col} AS DECIMAL(38,0))")
    agg = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dd * dd).cast("decimal(38,0)").alias("sum_d2_x4"))
    return (agg.withColumn(
        "__num", F.expr(
            "4 * CAST(n AS DECIMAL(38,0))"
            " * (CAST(n AS DECIMAL(38,0)) * n - 1)"
            " - 6 * sum_d2_x4"))
        .withColumn("__den", F.expr(
            "greatest(4 * CAST(n AS DECIMAL(38,0))"
            "         * (CAST(n AS DECIMAL(38,0)) * n - 1),"
            "         CAST(1 AS DECIMAL(38,0)))"))
        .select("n",
                F.col("sum_d2_x4").cast("bigint").alias("sum_d2_x4"),
                round_ratio6_dec("__num", "__den", "rho")))


def auc_rank_ppm_sliced(df: DataFrame, score_col: str, pos_col: str,
                        slice_col: str, buckets: int = 64) -> DataFrame:
    """Per-SLICE tie-corrected AUC — :func:`auc_rank_ppm` keyed by a
    slice column (source/domain/demographic), the fairness/slice-
    analysis form: a global AUC can hide a slice where the model
    ranks at chance, and slice-wise evaluation is how production
    eval suites surface it.

    Same machinery, slice-keyed: ONE (slice, score) map-side-
    combining exchange (bounded by |slices| x score domain), then
    :func:`.windows.bucketed_cumsum` partitioned by slice (|slices| x
    ``buckets`` driver offsets). A single-class slice (n_pos or n_neg
    = 0) emits NULL auc EXPLICITLY on both sides (Spark DIV by zero
    yields NULL, DuckDB // raises — the ACF zero-variance lesson).

    Generic over the slice column's type and null content: the
    primitive's NULL-safe offset join keeps a NULL slice as its own
    group instead of silently dropping it.

    Output: one row per slice (slice, n_pos, n_neg, auc_num2, auc).
    """
    hist = (df.groupBy(F.col(slice_col).alias("slice"),
                       F.col(score_col).alias("score"))
            .agg(F.sum(F.when(F.col(pos_col), 1).otherwise(0))
                 .cast("bigint").alias("pos_s"),
                 F.sum(F.when(F.col(pos_col), 0).otherwise(1))
                 .cast("bigint").alias("neg_s")))
    return (_with_cumneg_below(hist, buckets, ("slice",)).groupBy("slice")
            .agg(F.sum("pos_s").cast("bigint").alias("n_pos"),
                 F.sum("neg_s").cast("bigint").alias("n_neg"),
                 F.sum(F.col("pos_s") * (2 * F.col("cumneg_below")
                                         + F.col("neg_s")))
                 .cast("bigint").alias("auc_num2"))
            .withColumn("__den", 2 * F.col("n_pos") * F.col("n_neg"))
            .select("slice", "n_pos", "n_neg", "auc_num2",
                    F.when(F.col("__den") == 0,
                           F.lit(None).cast("double"))
                    .otherwise(round_ratio6_dec("auc_num2", "__den",
                                                "auc")).alias("auc"))
            .orderBy("slice"))
