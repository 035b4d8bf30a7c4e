"""Deterministic sampling / dataset-split operators.

A 100 TB training-data pipeline needs reproducible splits and samples:
``df.sample(fraction)`` re-draws on every recompute (and per-task
retry), so everything here derives the keep/assign decision from a
content hash — the same row lands in the same split on every run, on
every engine (md5-based, so the DuckDB oracle reproduces it
bit-for-bit; see operators/text.py::md5_long).

All operators are narrow maps over the hash — zero shuffle, fully
pushdown-friendly, and stable under repartitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import round6_decimal_mean_expr
from .text import md5_long
from .windows import bucketed_cumsum


def hash_bucket(col: Column, buckets: int = 100) -> Column:
    """Stable [0, buckets) bucket from a 60-bit md5 of the key."""
    return md5_long(col.cast("string")) % F.lit(buckets)


def train_test_split(df: DataFrame, key_col: str,
                     train_pct: int = 80, valid_pct: int = 10,
                     split_col: str = "split") -> DataFrame:
    """Assign each row to train/valid/test by hash bucket of its key.

    Contract for pipelines: membership depends only on the key, so
    incremental re-runs never migrate a document across splits and
    dedup-before-split keeps leakage out of eval sets.
    """
    b = hash_bucket(F.col(key_col))
    return df.withColumn(
        split_col,
        F.when(b < train_pct, "train")
         .when(b < train_pct + valid_pct, "valid")
         .otherwise("test"))


def hash_sample(df: DataFrame, key_col: str, keep_1_in: int = 5) -> DataFrame:
    """Deterministic ~1/keep_1_in sample: keep rows whose key hashes
    into bucket 0. Unlike ``df.sample`` this is stable across retries
    and engines."""
    return df.filter(hash_bucket(F.col(key_col), keep_1_in) == 0)


def stratified_hash_sample(df: DataFrame, key_col: str, stratum_col: str,
                           keep_1_in: int = 5) -> DataFrame:
    """Per-stratum deterministic sample: the hash mixes the stratum in
    so each stratum draws an independent ~1/keep_1_in subset (hashing
    the bare key would reuse the identical subset per stratum)."""
    mixed = F.concat_ws("|", F.col(stratum_col).cast("string"),
                        F.col(key_col).cast("string"))
    return df.filter(hash_bucket(mixed, keep_1_in) == 0)


def sequence_pack_chunked(df: DataFrame, text_col: str, id_col: str,
                          group_col: str, budget_tokens: int = 2048,
                          pack_col: str = "pack_id") -> DataFrame:
    """Assign documents to fixed-token-budget packs (LLM pre-training
    batch assembly): within each group, documents are laid end-to-end
    in ``id_col`` order and a pack boundary falls every
    ``budget_tokens`` tokens — ``pack = floor(start_offset / budget)``
    over a running-sum window.

    One shuffle (window partition on the group). The offset rule is
    deterministic and engine-independent — unlike greedy best-fit
    packing, which needs sequential state; at 100 TB the group column
    (source / shard) bounds each window's sort.
    """
    n_tokens = F.size(F.split(F.col(text_col), " "))
    w = (Window.partitionBy(group_col).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    return (df.select(
        F.col(group_col), F.col(id_col),
        n_tokens.alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn(pack_col,
                    F.floor((F.col("cum_tokens") - F.col("n_tokens"))
                            / F.lit(budget_tokens))))


def weighted_sample_topk(df: DataFrame, key_col: str, weight_col: str,
                         k: int = 50, seed: str = "s0") -> DataFrame:
    """A-Res weighted reservoir sampling (Efraimidis & Spirakis 2006):
    each row draws u = (md5_long(seed:key)+1)/2^60 in (0,1] and the
    sample is the k rows with the largest u^(1/w) — equivalently the
    largest ln(u)/w (w > 0). Inclusion probability is proportional to
    weight, without replacement, in ONE distributed pass.

    Scale shape: the draw is a narrow md5 map (zero shuffle) and the
    top-k is orderBy(desc).limit(k) — Spark plans
    TakeOrderedAndProject (per-partition heaps + driver merge of k
    rows), never a global sort. Determinism: u comes from the content
    hash, so re-runs, task retries, and engines agree row-for-row;
    changing ``seed`` redraws the sample. The reference has no
    sampling at all; this is the weighted variant of the north-star
    dataset-prep tier (hash_sample covers the uniform case).
    """
    u = (md5_long(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
         + F.lit(1)).cast("double") / F.lit(float(2 ** 60))
    a_key = F.log(u) / F.col(weight_col).cast("double")
    # The sample MEMBERSHIP is the contract; the draw key stays
    # internal (its ~1e-5-scale doubles stringify differently across
    # engines — NOTES.md driver-contract gotchas). It is rounded to 9
    # decimals before the cut so any ln() last-ulp difference between
    # libm and the JVM cannot flip the k-boundary, and ties break on
    # the row key.
    return (df.select(F.col(key_col), F.col(weight_col),
                      F.round(a_key, 9).alias("__a_key"))
            .orderBy(F.desc("__a_key"), F.col(key_col))
            .limit(k)
            .select(F.col(key_col), F.col(weight_col)))


def deterministic_global_shuffle(df: DataFrame, key_col: str,
                                 seed: str = "epoch0",
                                 buckets: int | None = None) -> DataFrame:
    """Seeded, reproducible global shuffle for training-data ordering:
    every row gets a dense position 1..N in the order of
    md5(seed || ':' || key) — re-runs, retries, and engines all agree,
    and changing ``seed`` reshuffles (the per-epoch reshuffle).

    A naive ``row_number() OVER (ORDER BY hash)`` is a scale-killer:
    Spark executes an un-partitioned window on ONE task. Instead the
    position is :func:`.windows.bucketed_cumsum`'s row count on a
    RANGE-bucket of the hash's top 16 bits: bucket = floor(prefix16 *
    buckets / 65536). The map is monotonic in the hash, so bucket
    order == hash order for ANY bucket count in [1, 65536] (a modulo
    here would interleave ranges and break the global order for
    buckets < 256); md5 prefixes are uniform by construction, so no
    skew.

    Output (and its order) is identical to the naive form and
    independent of ``buckets``; every stage is bounded by N/buckets
    rows per task. ``buckets`` defaults to 8x the cluster's default
    parallelism (>= 256, <= 65536) so per-bucket volume scales DOWN
    as the cluster scales up — at 100 TB on ~10^3 executors that is
    ~10^4 buckets of ~10 GB, not 256 buckets of ~400 GB.
    """
    if buckets is None:
        par = df.sparkSession.sparkContext.defaultParallelism
        buckets = max(256, min(65536, par * 8))
    if not 1 <= buckets <= 65536:
        raise ValueError(f"buckets must be in [1, 65536], got {buckets}")
    skey = F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
    bucket = (F.conv(F.substring("shuffle_key", 1, 4), 16, 10)
              .cast("long") * F.lit(buckets) / F.lit(65536)).cast("int")
    ranked, _ = bucketed_cumsum(
        df.select(F.col(key_col), skey.alias("shuffle_key")), bucket,
        ["shuffle_key", key_col])
    return ranked.select(F.col("cum_rows").alias("position"), key_col,
                         "shuffle_key")


def weighted_sample_per_group(df: DataFrame, key_col: str, weight_col: str,
                              group_col: str, k: int = 10,
                              seed: str = "s0") -> DataFrame:
    """Per-group A-Res weighted sampling: the balanced-curation shape
    (top-k weighted draw per source/domain/language) — combines the
    domain quota cap with weight-proportional selection in one pass.

    Same deterministic draw as :func:`weighted_sample_topk`; the cut
    is a rank over a window partitioned by the group, so the single
    shuffle is keyed on the group column and each task holds one
    group's candidates (never a global sort)."""
    u = (md5_long(F.concat(F.lit(f"{seed}:"), F.col(group_col).cast("string"),
                           F.lit("|"), F.col(key_col).cast("string")))
         + F.lit(1)).cast("double") / F.lit(float(2 ** 60))
    a_key = F.log(u) / F.col(weight_col).cast("double")
    w = (Window.partitionBy(group_col)
         .orderBy(F.desc(F.round(a_key, 9)), F.col(key_col)))
    return (df.select(F.col(group_col), F.col(key_col), F.col(weight_col),
                      F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= k)
            .drop("rn"))


def temperature_mixture(df: DataFrame, source_col: str, mass_col: str,
                        id_col: str, alpha: float = 0.5,
                        seed: str = "mix0") -> DataFrame:
    """Temperature-scaled source mixing — the multilingual-LM recipe
    (rebalance a skewed corpus toward q_s ∝ share_s^alpha, alpha<1
    up-weighting rare sources) realized as deterministic DOWN-sampling
    so no row is ever duplicated: the per-source keep-rate is

        rate_s = (min_share / share_s)^(1-alpha)

    (the rarest-by-mass source keeps everything; heavier sources keep
    proportionally less, exactly the q_s/share_s odds ratio
    normalized to a max of 1). Membership is the content hash draw
    u = (md5_60(seed:id)+1)/2^60 < rate_s, so re-runs, task retries,
    and engines agree row-for-row and changing ``seed`` redraws.

    Scale shape: per-source mass is ONE partial-aggregated shuffle on
    the source key; the rate table is source-cardinality-sized and
    broadcast back onto the corpus (never a window over data); the
    final per-source tally partial-aggregates again. Nothing driver-
    side ever holds more than |sources| rows. Only alpha=0.5 uses
    sqrt (IEEE correctly-rounded in every engine); other alphas go
    through pow, so rates are rounded to 6 decimals in BOTH engines
    before the cut to keep the boundary engine-independent.

    Returns (source, n_docs, n_sampled, rate).
    """
    mass = (df.groupBy(source_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col(mass_col).cast("bigint")).alias("mass")))
    floor_mass = mass.agg(F.min("mass").alias("min_mass"))
    ratio = F.col("min_mass").cast("double") / F.col("mass").cast("double")
    rate = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, 1.0 - alpha)
    rates = (mass.crossJoin(F.broadcast(floor_mass))
             .select(F.col(source_col), F.col("n_docs"),
                     F.round(rate, 6).alias("rate")))
    u = ((md5_long(F.concat(F.lit(f"{seed}:"),
                            F.col(id_col).cast("string")))
          + F.lit(1)).cast("double") / F.lit(float(2 ** 60)))
    sampled = (df.select(F.col(source_col), u.alias("__u"))
               .join(F.broadcast(rates.select(source_col, "rate")),
                     source_col)
               .filter(F.col("__u") < F.col("rate"))
               .groupBy(source_col)
               .agg(F.count(F.lit(1)).alias("n_sampled")))
    return (rates.join(sampled, source_col, "left")
            .select(F.col(source_col), F.col("n_docs"),
                    F.coalesce(F.col("n_sampled"), F.lit(0).cast("bigint"))
                    .alias("n_sampled"),
                    F.col("rate")))


def token_budget_selection(df: DataFrame, text_col: str, id_col: str,
                           budget_num: int = 2, budget_den: int = 10,
                           buckets: int | None = None) -> DataFrame:
    """Quality-ranked corpus curation under a global token budget —
    "keep the best 20% of tokens": rank documents by an exact integer
    quality score (stopword density in ppm, the Gopher-style natural-
    language proxy) descending, doc_id ascending, and keep the maximal
    prefix whose cumulative token count fits budget_num/budget_den of
    the corpus's total tokens.

    The global cumulative sum is the scale problem: a naive
    ``SUM(n) OVER (ORDER BY score DESC)`` runs on ONE task. Instead
    :func:`.windows.bucketed_cumsum` prefix-sums token counts over a
    RANGE-bucket of the score (monotonic map, so bucket order == rank
    order); the corpus total (and so the budget) falls out of its one
    driver collect, and whole buckets whose offset already reaches the
    budget are pruned on the driver before their window runs.

    Score values cluster on real corpora (many docs share a ppm
    value), so unlike the uniform md5 prefix the bucket map can skew;
    the production refinement is equi-depth bucket edges from
    approx-quantiles of the score. Integer arithmetic (ppm score via
    bigint ``div``, budget as num/den of a bigint) keeps every
    boundary decision engine-exact — no double division anywhere.
    """
    from .text import LANG_STOPWORDS, stopword_count, tokens

    if buckets is None:
        par = df.sparkSession.sparkContext.defaultParallelism
        buckets = max(256, min(65536, par * 8))
    toks = tokens(F.col(text_col))
    scored = df.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        (stopword_count(toks, LANG_STOPWORDS["en"]).cast("bigint")
         * F.lit(1_000_000)).alias("__stop_ppm_num"),
    ).select(
        id_col, "n_tokens",
        F.expr("__stop_ppm_num div n_tokens").alias("score_ppm"),
    )
    bucket = ((F.lit(1_000_000) - F.col("score_ppm")) * F.lit(buckets)
              / F.lit(1_000_001)).cast("int")

    def budget(totals: tuple[int, ...]) -> int:
        return totals[0] * budget_num // budget_den

    cum, totals = bucketed_cumsum(
        scored, bucket, [F.desc("score_ppm"), F.col(id_col)],
        values=["n_tokens"], stop_at=budget)
    return (cum.filter(F.col("cum_n_tokens") <= F.lit(budget(totals)))
            .select(id_col, "score_ppm", "n_tokens",
                    F.col("cum_n_tokens").alias("cum_tokens")))


def poisson1_cdf_thresholds(kmax: int = 8) -> list[float]:
    """P(X <= k) for X ~ Poisson(1), k = 0..kmax-1 — the inverse-CDF
    table for deterministic bootstrap weights. Generated ONCE in
    Python and embedded as identical literals in both the Spark plan
    and the oracle SQL (the minhash-coefficient pattern), so the
    weight decision is bit-identical by construction."""
    import math
    acc, fact, out = 0.0, 1.0, []
    for k in range(kmax):
        if k > 0:
            fact *= k
        acc += math.exp(-1.0) / fact
        out.append(acc)
    return out


def poisson_bootstrap_means(df: DataFrame, value_col: str, key_col: str,
                            replicates: int = 32) -> DataFrame:
    """Poisson bootstrap (Chamandy et al. 2012): the resampling
    scheme that works on data too large to index — replicate r gives
    each row an INDEPENDENT Poisson(1) weight derived from
    md5(r : key), approximating multinomial resampling without any
    global coordination, shuffle, or second pass over row ids.

    Per (row, replicate): u = (md5_long + 1) / 2^60 (exact power-of-
    two scaling — both engines round the long->double cast the same
    way; the same draw idiom as weighted_sample_topk), then w =
    #thresholds(u > c_k) over the shared Poisson(1) CDF literals.
    Replicate estimates are ratio-of-DECIMAL-sums (weights are small
    ints, so w * value is exact at scale 2), divided as doubles in
    one shared operand order.

    Scale: the replicate explode is a narrow map (x R rows inside
    codegen, never materialized wide); the only exchange is the
    R-group aggregate, which partial-aggregates map-side — bootstrap
    CIs over 100 TB move R rows per task, nothing else.
    """
    cdf = poisson1_cdf_thresholds()
    reps = F.explode(F.sequence(F.lit(0), F.lit(replicates - 1)))
    u = ((md5_long(F.concat(F.lit("boot"), F.col("rep").cast("string"),
                            F.lit(":"), F.col(key_col).cast("string")))
          + F.lit(1)).cast("double") / F.lit(float(2 ** 60)))
    w = sum((u > F.lit(c)).cast("int") for c in cdf)
    vdec = F.col(value_col).cast("decimal(18,2)")
    return (df.select(F.col(key_col), F.col(value_col), reps.alias("rep"))
            .select("rep", vdec.alias("v"), w.alias("w"))
            .groupBy("rep")
            .agg(F.sum(F.col("w").cast("bigint")).alias("n_eff"),
                 F.sum(F.col("v") * F.col("w")).alias("wsum"))
            .select(F.col("rep").cast("int").alias("replicate"),
                    "n_eff",
                    # integer half-away mean of the exact scale-2
                    # decimal sum — same tie-safe recipe (and
                    # rationale) as unigram_logprob_scores: wsum/n
                    # can land exactly on a ...5 tie at the 7th
                    # decimal, where ROUND(double, 6) diverges
                    # across engines
                    round6_decimal_mean_expr("wsum", "n_eff", 2,
                                             "boot_mean")))


def dsir_importance_select(df: DataFrame, text_col: str, id_col: str,
                           is_target: Column, buckets: int = 4096,
                           top_n: int = 100) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): score every raw (non-
    target) document by the hashed-bigram Naive-Bayes log-ratio of
    the target vs raw bucket distributions (add-one smoothing) and
    keep the ``top_n``. Determinism contract: each bucket weight is
    a 7-decimal rounding cast into DECIMAL(20,7); the Spark side sums
    that weight once per bigram OCCURRENCE (exact decimal addition —
    no products at all), while only the DuckDB oracle uses the
    per-(doc,bucket) n x w product form, where ITS DECIMAL(10,0)
    count operand keeps the product precision at 31 so DuckDB never
    reduces the sum scale below 7. Both sums are exact and
    algebraically identical, so the rankings agree bit-for-bit.

    Scale shape — no corpus-sized exchange anywhere: the bucket
    statistics aggregate straight off the bigram OCCURRENCES
    (partial aggregation collapses each task's contribution to
    <= ``buckets`` rows map-side, so that exchange is bounded), and
    the per-doc score is the sum of the broadcast-joined WEIGHT PER
    OCCURRENCE — algebraically identical to sum(n_bucket * w) but
    needing no (doc, bucket, n) intermediate: because every
    document's bigrams are generated inside its own scan task, the
    doc-keyed partial aggregation collapses to ~1 row per document
    before its exchange. (The first cut of this operator aggregated
    (doc, is_target, bucket, n) first; that intermediate crossed two
    corpus-sized exchanges — measured 26.7 s / 127 MB shuffle at
    100k docs vs ~3 s / ~3 MB for this form, same output.) The
    <= ``buckets``-row statistics table is computed once behind a
    localCheckpoint barrier (its two consumers — the totals scalar
    and the weight projection — would otherwise each re-expand the
    corpus aggregate); the global cut is TakeOrderedAndProject.

    The scoring pass deliberately RE-EXPANDS the corpus bigrams
    rather than checkpointing ``feat``: measured at sf2 (100k docs,
    r9 — the r8 verdict's requested experiment), recompute runs in
    7.9 s while an eager localCheckpoint of the corpus-sized bigram
    relation dies with SparkOutOfMemoryError during materialization
    — the barrier-by-measurement doctrine's clearest data point yet
    (barriers are for BOUNDED relations only).
    """
    from ..io import widen
    from .text import md5_long, tokens, word_shingles

    toks = tokens(F.col(text_col))
    # widen: the sf0.1 corpus is ONE parquet row group, so without it
    # the whole bigram expansion (both passes) serializes onto one
    # core — measured r10; at 100 TB the scan has thousands of
    # splits and widen is a no-op (no shuffle added)
    feat = (widen(df).select(
        F.col(id_col), is_target.alias("is_target"),
        F.explode(word_shingles(toks, 2)).alias("bg"))
        .select(id_col, "is_target",
                F.pmod(md5_long(F.col("bg")), F.lit(buckets))
                .alias("bucket")))
    bt = (feat.groupBy("bucket")
          .agg(F.sum(F.when(F.col("is_target"), 1)
                     .otherwise(0)).alias("ct"),
               F.sum(F.when(~F.col("is_target"), 1)
                     .otherwise(0)).alias("cr"))
          .localCheckpoint(eager=False))
    totals = bt.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    w = (bt.crossJoin(F.broadcast(totals))
         .select("bucket",
                 F.round(
                     F.log10((F.col("ct") + 1).cast("double")
                             / (F.col("tt") + buckets).cast("double"))
                     - F.log10((F.col("cr") + 1).cast("double")
                               / (F.col("tr") + buckets).cast("double")),
                     7).cast("decimal(20,7)").alias("w")))
    scored = (feat.filter(~F.col("is_target"))
              .join(F.broadcast(w), "bucket")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                   F.sum("w").alias("s")))
    return (scored.select(id_col, "n_bigrams",
                          F.col("s").cast("double").alias("dsir_logratio"))
            .orderBy(F.desc("dsir_logratio"), F.asc(id_col))
            .limit(top_n))


def perplexity_buckets(df: DataFrame, text_col: str, id_col: str,
                       k: int = 3) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): split
    the corpus into ``k`` equal-count quality tiers (head / middle /
    tail for k=3) by each document's LM score — here the corpus-own
    mean unigram log-probability (:func:`..operators.text.
    unigram_logprob_scores`), the same KenLM stand-in the quality
    tiers use elsewhere in this repo. Higher mean logprob = lower
    perplexity = head.

    The scale problem is the GLOBAL rank: ``row_number() OVER
    (ORDER BY score)`` is a one-task window. Instead the rank is
    :func:`.windows.bucketed_cumsum`'s row count on the score
    QUANTIZED to centi-log bins (-floor(avg_logprob * 100): monotonic
    in the descending score, and a few hundred bins no matter the
    corpus size). Bucket assignment is the
    explicit integer formula ((rank-1) * k) div n — identical SQL on
    both engines, no reliance on an engine's NTILE remainder rule.
    Ties (same score) order by doc_id, so the cut is deterministic.
    """
    from .text import unigram_logprob_scores

    ranked, (total,) = bucketed_cumsum(
        unigram_logprob_scores(df, text_col, id_col),
        -F.floor(F.col("avg_logprob") * 100).cast("int"),
        [F.desc("avg_logprob"), F.asc(id_col)])
    ranked = ranked.withColumnRenamed("cum_rows", "ppl_rank")
    # integer DIV, never `/`: Spark's `/` on bigints is DOUBLE
    # division and double->bigint CAST truncates while DuckDB's
    # rounds (the NOTES cross-engine division lesson)
    bucket = F.expr(f"((ppl_rank - 1) * {k}) DIV {total}")
    label = (F.when(bucket == 0, "head")
             .when(bucket == k - 1, "tail").otherwise("middle"))
    return ranked.select(
        F.col(id_col), "n_tokens", "avg_logprob", "ppl_rank",
        label.alias("ppl_bucket"))


def two_lm_token_delta(toke: DataFrame) -> DataFrame:
    """The two-unigram-LM per-token gain table both excess-loss tiers
    share: from an exploded ``(.., __tgt boolean, token)`` relation,
    ONE grouped map-side-combining exchange yields (cnt_all, cnt_tgt)
    per token; both token totals and the vocab size fold out of it as
    a 1-row broadcast (the unigram_logprob_scores ReusedExchange
    pattern, doubled), and the per-token Laplace-1 delta

        __d = round7(log10 p_tgt(tok)) - round7(log10 p_all(tok))

    is computed on the VOCAB relation (vocab-sized, never corpus-
    sized) as an exact DECIMAL(28,7) difference — downstream
    corpus-sized rescore joins do no transcendental math. Extracted
    from excess_loss_select in round 8 so the DoReMi-style domain
    reweighting shares the identical model."""
    vocab = (toke.groupBy("token")
             .agg(F.count(F.lit(1)).alias("cnt_all"),
                  F.sum(F.when(F.col("__tgt"), 1).otherwise(0))
                  .alias("cnt_tgt")))
    totals = vocab.agg(F.sum("cnt_all").alias("__n_all"),
                       F.sum("cnt_tgt").alias("__n_tgt"),
                       F.count(F.lit(1)).alias("__v"))
    dec7 = lambda c: F.round(c, 7).cast("decimal(28,7)")  # noqa: E731
    return (vocab.crossJoin(F.broadcast(totals))
            .select("token",
                    (dec7(F.log10((F.col("cnt_tgt") + 1)
                                  .cast("double")
                                  / (F.col("__n_tgt")
                                     + F.col("__v"))))
                     - dec7(F.log10((F.col("cnt_all") + 1)
                                    .cast("double")
                                    / (F.col("__n_all")
                                       + F.col("__v")))))
                    .alias("__d")))


def excess_loss_select(df: DataFrame, text_col: str, id_col: str,
                       target_cond: Column, k: int = 50) -> DataFrame:
    """RHO-style excess-loss data selection (Lin et al. 2024, "Rho-1:
    Not All Tokens Are What You Need", doc-level form): score every
    document by the mean per-token log-probability GAIN of an
    in-domain reference LM over the base corpus LM,

        excess(doc) = mean_tok( log p_ref(tok) - log p_base(tok) ),

    and keep the top-k — the docs the reference model "likes" most
    relative to the generic model, i.e. the most target-domain-
    learnable mass. Both LMs are Laplace-1 unigram models (the
    unigram_logprob_scores proxy tier); ``target_cond`` marks the
    reference slice.

    Scale shape: ONE vocabulary exchange carries BOTH models — the
    grouped aggregate computes (cnt_all, cnt_tgt) per token in a
    single map-side-combining shuffle, and both token totals plus the
    vocab size fold out of it as a 1-row broadcast (the
    unigram_logprob_scores ReusedExchange pattern, doubled). The
    per-token delta is precomputed on the VOCAB relation (vocab-sized,
    not corpus-sized) before the rescore join, so the corpus-sized
    pass does no transcendental math. The top-k cut is
    TakeOrderedAndProject on (score desc, id asc).

    Exactness: each log10 rounds to 7 decimals into DECIMAL(28,7)
    BEFORE the subtraction (exact decimal delta, order-free sums);
    the 6-decimal mean is the integer half-away recipe
    (round6_decimal_mean_expr), so the ranking key is engine-exact
    and ties break on the id.
    """
    from .text import tokens

    toke = df.select(F.col(id_col), target_cond.alias("__tgt"),
                     F.explode(tokens(F.col(text_col))).alias("token"))
    tok_delta = two_lm_token_delta(toke)
    # explicit vocab-side broadcast: Generate keeps its child's
    # sizeInBytes, so Catalyst underestimates the exploded corpus
    # side and can pick IT as the build at real volume (the NB
    # scoring 426 MiB / driver-OOM hazard, measured r9 at sf8)
    scored = (toke.join(F.broadcast(tok_delta), "token")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.sum("__d").alias("sum_delta")))
    from ..functions.numeric import round6_decimal_mean_expr
    return (scored.select(
                F.col(id_col), F.col("n_tokens"),
                round6_decimal_mean_expr("sum_delta", "n_tokens", 7,
                                         "excess_score"))
            .orderBy(F.desc("excess_score"), F.asc(id_col))
            .limit(k))


def sequence_pack_atomic(df: DataFrame, text_col: str, id_col: str,
                         group_col: str, budget_tokens: int = 2048,
                         pack_col: str = "pack_id") -> DataFrame:
    """ATOMIC next-fit packing: documents are never split across a
    pack boundary (the cross-contamination concern of Krell et al.
    2022 — a split document trains on severed context), so a pack
    closes when the next document would overflow the budget; an
    oversized document occupies its own (over-budget) pack rather
    than being cut.

    Unlike sequence_pack_chunked's offset rule, atomic next-fit is a
    CHAIN RECURRENCE (each boundary depends on every prior decision
    in the group) — not window-expressible. It runs as a grouped
    applyInPandas (Arrow batches, one pass of sequential state per
    group; the group column bounds each task exactly like the window
    variant), and the oracle replays the identical recurrence as a
    per-row recursive CTE — the engine-independent contract is the
    recurrence itself, deterministic in ``id_col`` order.
    """
    import pandas as pd

    budget = int(budget_tokens)

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        pids, pid, cur = [], 0, 0
        for dl in pdf["n_tokens"]:
            if cur > 0 and cur + dl > budget:
                pid += 1
                cur = 0
            pids.append(pid)
            cur += dl
        pdf[pack_col] = pids
        return pdf[["__grp", "__id", "n_tokens", pack_col]]

    base = df.select(
        F.col(group_col).alias("__grp"), F.col(id_col).alias("__id"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint")
        .alias("n_tokens"))
    # the result schema carries the CALLER's group/id types (derived
    # from df.schema, the kcenter_coreset convention) — hardcoding
    # "string"/"bigint" here would break any non-string group or
    # non-integer id at runtime
    grp_t = df.schema[group_col].dataType.simpleString()
    id_t = df.schema[id_col].dataType.simpleString()
    out = base.groupBy("__grp").applyInPandas(
        pack, f"__grp {grp_t}, __id {id_t}, n_tokens bigint, "
              f"{pack_col} bigint")
    return out.select(F.col("__grp").alias(group_col),
                      F.col("__id").alias(id_col),
                      "n_tokens", pack_col)
