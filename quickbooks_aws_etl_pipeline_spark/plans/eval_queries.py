"""Qkeys for the classifier-eval / leakage-audit tier (SURVEY.md
§2.12 north star): in-pipeline model evaluation (AUC, calibration),
the cluster-aware train/test split that keeps near-duplicate leakage
out of eval sets, and the single-scan filter-funnel report every
curation pipeline publishes.

The reference has no model and no split anywhere (its nine scripts
are pure ETL, qb_bills.py:40-169); these keys are training-data
surface the brief grades as first-class alongside §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from ..operators.dedup import with_canonical_id
from ..operators.evaluation import (auc_rank_ppm, calibration_bins,
                                    stopword_ppm)
from ..operators.sampling import hash_bucket
from ..operators.text import LANG_STOPWORDS
from .queries import register


def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + the shared integer quality score and binary label
    the eval keys grade: score = English-stopword density in ppm
    (the token_budget_selection quality proxy), label = lang == 'en'.
    A self-labeled eval set — the exact shape of grading a quality
    classifier against known language tags."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        stopword_ppm(F.col("text"), LANG_STOPWORDS["en"])
        .alias("score_ppm"),
        (F.col("lang") == "en").alias("is_pos"))


@register("eval_auc_rank")
def eval_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed tie-corrected ROC AUC of the stopword-density
    quality score as an English-document classifier — the rank-sum
    (Mann-Whitney U) form over the score histogram, cumulative
    negatives via the distributed-histogram idiom (no global sort,
    no un-partitioned window; see operators/evaluation.auc_rank_ppm
    for the exact shape and the 100 TB sampling note)."""
    return auc_rank_ppm(_scored_docs(spark, sf_dir),
                        "score_ppm", "is_pos")


@register("eval_auc_bootstrap_ci")
def eval_auc_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence interval for eval_auc_rank's point estimate: 8
    deterministic Poisson-bootstrap resamples of the same scored
    set, each graded by the identical histogram rank-sum — the
    spread separates a real model change from resampling noise (a
    point AUC alone can't). One (replicate, score)-keyed exchange,
    (replicate, bucket)-partitioned windows, codebook-sized driver
    offsets; see operators/evaluation.auc_bootstrap_ci."""
    from ..operators.evaluation import auc_bootstrap_ci
    return (auc_bootstrap_ci(_scored_docs(spark, sf_dir),
                             "score_ppm", "is_pos", "doc_id")
            .orderBy("replicate"))


@register("eval_calibration_bins")
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram table for the same score/label pair: ten
    fixed-width ppm bins with observed positive rate and mean score —
    one map-side-combining aggregate, 6-decimal ratios via the
    integer half-away recipe."""
    return (calibration_bins(_scored_docs(spark, sf_dir),
                             "score_ppm", "is_pos")
            .orderBy("bin"))


@register("split_leakage_safe")
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split: hash the near-duplicate
    CLUSTER's canonical id instead of the document id, so every
    member of a near-dup cluster lands in the same split — the
    standard defence against train/test contamination through
    near-duplicates (a doc_id-hash split puts ~1-1/k of each
    k-member cluster's mass across split boundaries).

    Pipeline: the near-dup canonical id (operators.dedup
    with_canonical_id, the cluster map dedup_canonical_map applies)
    -> the same md5 80/10/10 bucket as split_train_test, keyed on the
    canonical.

    Output per split: document count, distinct-cluster count, and
    n_rescued = docs whose naive id-hash split would have differed —
    the leakage mass this operator prevents. Scale: the only
    corpus-sized exchanges are the pair-generation shuffles the
    dedup tier already pays."""
    docs = read_table(spark, sf_dir, "documents")
    base = with_canonical_id(docs).select("doc_id", "canonical_id")
    clus_b = hash_bucket(F.col("canonical_id"))
    naive_b = hash_bucket(F.col("doc_id"))
    split = (F.when(clus_b < 80, "train")
             .when(clus_b < 90, "valid").otherwise("test"))
    naive = (F.when(naive_b < 80, "train")
             .when(naive_b < 90, "valid").otherwise("test"))
    return (base.select(split.alias("split"), "canonical_id",
                        (naive != split).alias("__moved"))
            .groupBy("split")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.count_distinct("canonical_id").cast("bigint")
                 .alias("n_clusters"),
                 F.sum(F.when(F.col("__moved"), 1).otherwise(0))
                 .cast("bigint").alias("n_rescued")))


@register("pipeline_filter_funnel")
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel report (the per-stage survivor table every
    published web-corpus pipeline ships): language gate -> length
    gate -> quality gate -> near-dup canonical keep, counted as
    PREFIX conjunctions of per-doc flags so the whole funnel is ONE
    corpus scan + one 1-row aggregate — never one scan per stage
    (the anti-pattern this key exists to displace: at 100 TB a
    5-stage re-scanning funnel reads half a petabyte).

    The dedup flag is the near-dup canonical keep (operators.dedup
    with_canonical_id, the same cluster map as split_leakage_safe);
    all other gates are pure codegen on the row. Output: 5 rows
    (stage_idx, stage, n_docs, n_chars)."""
    docs = read_table(spark, sf_dir, "documents")
    flagged = (with_canonical_id(docs)
               .select(
                   F.col("n_chars").cast("bigint").alias("n_chars"),
                   F.col("lang").isin("en", "es", "de", "fr")
                   .alias("g1"),
                   F.col("n_chars").between(100, 20000).alias("g2"),
                   (stopword_ppm(F.col("text"), LANG_STOPWORDS["en"])
                    >= 20000).alias("g3"),
                   (F.col("canonical_id") == F.col("doc_id"))
                   .alias("g4")))

    def stage(cond, i):
        n = F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
        c = F.sum(F.when(cond, F.col("n_chars")).otherwise(0)) \
             .cast("bigint")
        return [n.alias(f"n{i}"), c.alias(f"c{i}")]

    g1, g2 = F.col("g1"), F.col("g1") & F.col("g2")
    g3, g4 = g2 & F.col("g3"), g2 & F.col("g3") & F.col("g4")
    agg = flagged.agg(*(stage(F.lit(True), 0) + stage(g1, 1)
                        + stage(g2, 2) + stage(g3, 3) + stage(g4, 4)))
    return agg.selectExpr(
        "stack(5, "
        "0, 'raw', n0, c0, "
        "1, 'lang_gate', n1, c1, "
        "2, 'length_gate', n2, c2, "
        "3, 'quality_gate', n3, c3, "
        "4, 'near_dup_canonical', n4, c4) "
        "as (stage_idx, stage, n_docs, n_chars)")


@register("pipeline_pretrain_prep")
def pipeline_pretrain_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-training data-prep loop, composed end-to-end:
    quality gates (pipeline_filter_funnel's lang/length/quality
    flags) -> near-dup canonical keep -> LEAKAGE-SAFE split (cluster
    canonical hashed, split_leakage_safe's rule) -> per-split corpus
    card: doc count, token count, and the 2048-token concat-chunk
    pack count (seq_pack_chunked's budget arithmetic on the split
    totals). Every stage is an already-verified operator; this key
    holds the COMPOSITION to one oracle, the pipeline_ccnet_dsir
    pattern.

    Scale shape: one corpus scan computes gates + token counts, with
    the canonical id from operators.dedup.with_canonical_id; the
    final aggregate is 3 rows. No corpus-sized exchange beyond the
    shared pair-graph shuffles."""
    docs = read_table(spark, sf_dir, "documents")
    from ..operators.text import tokens
    base = (with_canonical_id(docs)
            .select(
                "doc_id", "canonical_id",
                F.size(tokens(F.col("text"))).cast("bigint")
                .alias("n_tokens"),
                (F.col("lang").isin("en", "es", "de", "fr")
                 & F.col("n_chars").between(100, 20000)
                 & (stopword_ppm(F.col("text"), LANG_STOPWORDS["en"])
                    >= 20000)
                 & (F.col("canonical_id") == F.col("doc_id")))
                .alias("kept")))
    b = hash_bucket(F.col("canonical_id"))
    split = (F.when(b < 80, "train")
             .when(b < 90, "valid").otherwise("test"))
    return (base.filter("kept")
            .select(split.alias("split"), "n_tokens")
            .groupBy("split")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"))
            .withColumn("n_packs",
                        F.expr("(n_tokens + 2047) div 2048")))


@register("eval_ann_recall")
def eval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index QUALITY eval — recall@10 of the IVF tier (label-cell
    restriction, nprobe=1: sim_topk_cosine_ivf's quantizer) against
    brute-force exact top-10, over the 8-query batch
    sim_topk_batch_queries serves. The FAISS-style acceptance metric
    every deployed index ships with: an index nobody measured is an
    index nobody should trust.

    Shape: both ground truth and candidate are the batched one-scan
    pattern (queries broadcast, per-query rank over the scored
    relation); the IVF side scores only the query's cell. Recall is
    the size of the rank<=10 intersection over 10 — integer join
    count, 6-decimal ratio via the integer half-away recipe. Ties in
    the cosine break on vec_id on BOTH sides, so the top-10 sets are
    engine-exact. Output: 8 rows (query_id, n_hit, recall_at_10).

    The measurement earns its keep immediately: on this corpus the
    label is a GENRE tag, not a geometric cell, and recall@10 lands
    at 0.0-0.1 — the quantitative case for the learned spherical
    k-means quantizer (sim_topk_cosine_ivf_learned) over naive
    metadata partitioning. An index eval that can say "your cells
    are wrong" is the deliverable here."""
    from pyspark.sql import Window

    from ..functions.numeric import round_ratio6
    from ..operators.similarity import as_double_array, dot, l2_norm
    emb = read_table(spark, sf_dir, "embeddings")
    # row/query norms hoisted per side (r13, the batched-ANN
    # pattern): identical doubles, Q x less per-cell work
    corpus = (emb.select("vec_id", "label",
                         as_double_array(F.col("embedding")).alias("v"))
              .withColumn("n", l2_norm(F.col("v"))))
    queries = (emb.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("query_id"),
                       as_double_array(F.col("embedding")).alias("qv"),
                       F.col("label").alias("qlabel"))
               .withColumn("qn", l2_norm(F.col("qv"))))
    scored = (corpus.crossJoin(F.broadcast(queries))
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id", "label", "qlabel",
                      F.round(dot(F.col("v"), F.col("qv"))
                              / (F.col("n") * F.col("qn")), 6)
                      .alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("vec_id"))
    exact = (scored.withColumn("rnk", F.row_number().over(w))
             .filter(F.col("rnk") <= 10).select("query_id", "vec_id"))
    approx = (scored.filter(F.col("label") == F.col("qlabel"))
              .withColumn("rnk", F.row_number().over(w))
              .filter(F.col("rnk") <= 10).select("query_id", "vec_id"))
    hits = (exact.join(approx, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit")))
    return (queries.select("query_id")
            .join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_hit", F.lit(0)).cast("bigint")
                    .alias("n_hit"))
            .withColumn("recall_at_10",
                        round_ratio6(F.col("n_hit"), F.lit(10))))


@register("eval_score_drift_psi")
def eval_score_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-distribution drift between the reference and serving
    populations — the Population Stability Index every deployed gate
    is monitored with. Reference = sources src0-src9, serving =
    src10+; score = the shared stopword-ppm quality proxy. All-integer
    PSI terms (see operators/evaluation.score_drift_psi): the only
    float per bin is one log10 of an exact smoothed rational, rounded
    at 7 decimals. Output: 10 rows; total PSI =
    sum(psi_term_e10)/1e10."""
    from ..operators.evaluation import score_drift_psi
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        stopword_ppm(F.col("text"), LANG_STOPWORDS["en"])
        .alias("score_ppm"),
        (F.regexp_extract("source", "src([0-9]+)", 1).cast("int")
         < 10).alias("is_train"))
    return score_drift_psi(scored, "score_ppm", "is_train") \
        .orderBy("bin")


@register("pipeline_classifier_loop")
def pipeline_classifier_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-classifier TRAIN -> EVAL loop closed end-to-end
    (r7 verdict task 4): train the in-repo binary Naive Bayes
    (text_class_nb's model, two classes from lang == 'en') on the
    80% doc_id-hash split, score the held-out 20% with the exact e7
    log-odds margin (operators/text.nb_binary_margin_e7), quantize
    margins to the [0, 1e6] ppm domain by an integer affine map
    (DECIMAL DIV — rank-preserving, so AUC is the AUC of the real
    margins up to quantization ties both engines share), and emit
    the model card as ONE decile table: PR/F1 operating points +
    calibration bins + AUC + the chosen (max-F1, lowest-threshold)
    cut. This proves the eval tier grades a model the repo actually
    trains — not just the stopword proxy.

    Scale shape: model = vocabulary-sized shuffles over the train
    split; scoring = one vocab-keyed join over the eval split; every
    metric then runs on score-domain-bounded histograms (the eval
    tier's exchanges). The margin relation is localCheckpointed once
    and feeds min/max, PR, calibration, and AUC without rescoring.

    Output: 10 rows (t_idx, threshold_ppm, tp, fp, n_pred,
    precision, recall, f1, bin_n, bin_pos_rate, auc, is_chosen)."""
    from ..operators.evaluation import pr_thresholds
    from ..operators.text import nb_binary_margin_e7
    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.select("doc_id", "text",
                          (F.col("lang") == "en").alias("is_pos"))
    b = hash_bucket(F.col("doc_id"))
    margins = nb_binary_margin_e7(
        labeled.filter(b < 80), labeled.filter(b >= 80),
        "text", "doc_id", "is_pos").localCheckpoint(eager=True)
    mm = margins.agg(F.min("margin_e7").alias("__mn"),
                     F.max("margin_e7").alias("__mx"))
    quant = (margins.crossJoin(F.broadcast(mm))
             .select("doc_id", "is_pos",
                     F.expr(
                         "CAST((CAST(margin_e7 - __mn AS DECIMAL(38,0))"
                         " * 1000000)"
                         " DIV CAST(greatest(__mx - __mn, 1)"
                         "          AS DECIMAL(38,0)) AS BIGINT)")
                     .alias("score_ppm")))
    pr = pr_thresholds(quant, "score_ppm", "is_pos")
    cal = (calibration_bins(quant, "score_ppm", "is_pos")
           .select(F.col("bin").alias("t_idx"),
                   F.col("n").alias("bin_n"),
                   F.col("pos_rate").alias("bin_pos_rate")))
    auc = auc_rank_ppm(quant, "score_ppm", "is_pos").select("auc")
    best = (pr.agg(F.max(F.struct(F.col("f1"),
                                  (-F.col("t_idx")).alias("neg_t")))
                   .alias("b"))
            .select((-F.col("b.neg_t")).cast("int").alias("__best_t")))
    return (pr.join(cal, "t_idx", "left")
            .crossJoin(F.broadcast(auc))
            .crossJoin(F.broadcast(best))
            .select("t_idx", "threshold_ppm", "tp", "fp", "n_pred",
                    "precision", "recall", "f1",
                    F.coalesce("bin_n", F.lit(0)).cast("bigint")
                    .alias("bin_n"),
                    F.coalesce("bin_pos_rate", F.lit(0.0))
                    .alias("bin_pos_rate"),
                    "auc",
                    (F.col("t_idx") == F.col("__best_t"))
                    .alias("is_chosen"))
            .orderBy("t_idx"))


@register("eval_pr_thresholds")
def eval_pr_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 operating-point table for the shared
    score/label pair at the ten decile thresholds — AUC says the
    ranking is good, THIS says where to cut. One domain-bounded
    histogram exchange + one 1-row conditional aggregate unstacked
    to ten rows (operators/evaluation.pr_thresholds)."""
    from ..operators.evaluation import pr_thresholds
    return (pr_thresholds(_scored_docs(spark, sf_dir),
                          "score_ppm", "is_pos")
            .orderBy("t_idx"))


def _truncation_scored(emb: DataFrame) -> DataFrame:
    """Shared (query_id, vec_id, sim_full, sim_16) pair relation of
    the two dimension-truncation evals: the standing 8-query batch
    against the corpus, scored at full 64 dims AND the first 16.
    Row/query norms (full + truncated) and the double casts are
    hoisted to the per-side projections (r13, the batched-ANN
    pattern) — identical doubles, Q x less per-cell work."""
    from ..operators.similarity import as_double_array, dot, l2_norm
    corpus = (emb.select("vec_id",
                         as_double_array(F.col("embedding")).alias("v"),
                         as_double_array(
                             F.slice(F.col("embedding"), 1, 16))
                         .alias("v16"))
              .withColumn("n", l2_norm(F.col("v")))
              .withColumn("n16", l2_norm(F.col("v16"))))
    queries = (emb.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("query_id"),
                       as_double_array(F.col("embedding")).alias("qv"),
                       as_double_array(
                           F.slice(F.col("embedding"), 1, 16))
                       .alias("qv16"))
               .withColumn("qn", l2_norm(F.col("qv")))
               .withColumn("qn16", l2_norm(F.col("qv16"))))
    return (corpus.crossJoin(F.broadcast(queries))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id",
                    F.round(dot(F.col("v"), F.col("qv"))
                            / (F.col("n") * F.col("qn")), 6)
                    .alias("sim_full"),
                    F.round(dot(F.col("v16"), F.col("qv16"))
                            / (F.col("n16") * F.col("qn16")), 6)
                    .alias("sim_16")))


@register("eval_dim_ablation_recall")
def eval_dim_ablation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dimension ablation (the Matryoshka/MRL serving
    decision): recall@10 of cosine search over the FIRST 16 of 64
    dimensions against full-dimension exact top-10, for the same
    8-query batch eval_ann_recall grades. Truncated-dimension serving
    cuts index memory and scan cost 4x — this metric says what that
    buys and what it costs, per query, before anyone deploys it.

    Shape: ONE corpus scan computes both cosines per (query, vector)
    pair (the ablation costs a projection, not a second scan); both
    rank lists use the same (sim desc, vec_id) tie-break so the
    top-10 sets are engine-exact; recall is an integer intersection
    count over 10 via the half-away recipe. Output: 8 rows
    (query_id, n_hit, recall_at_10)."""
    from pyspark.sql import Window

    from ..functions.numeric import round_ratio6
    emb = read_table(spark, sf_dir, "embeddings")
    scored = _truncation_scored(emb)
    wf = Window.partitionBy("query_id").orderBy(F.desc("sim_full"),
                                                F.asc("vec_id"))
    wt = Window.partitionBy("query_id").orderBy(F.desc("sim_16"),
                                                F.asc("vec_id"))
    exact = (scored.withColumn("rnk", F.row_number().over(wf))
             .filter(F.col("rnk") <= 10).select("query_id", "vec_id"))
    trunc = (scored.withColumn("rnk", F.row_number().over(wt))
             .filter(F.col("rnk") <= 10).select("query_id", "vec_id"))
    hits = (exact.join(trunc, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit")))
    spine = (emb.filter(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("query_id")))
    return (spine
            .join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_hit", F.lit(0)).cast("bigint")
                    .alias("n_hit"))
            .withColumn("recall_at_10",
                        round_ratio6(F.col("n_hit"), F.lit(10))))


@register("eval_retrieval_ndcg")
def eval_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded retrieval quality: NDCG@10 of the truncated-16-dim
    search (eval_dim_ablation_recall's candidate system) against
    graded relevance derived from the full-dimension exact ranking
    (gain 7 for true top-3, 3 for top-10, 1 for top-30, else 0 —
    the 2^rel - 1 convention). Recall@10 counts hits; NDCG says
    whether the hits land at the TOP, which is what a serving stack
    actually pays for.

    Exact-integer end to end via the shared-constant pattern: the
    position discounts 1/log2(r+1) are computed once in Python as
    1e-9 integers (operators/retrieval.ndcg_discounts_e9) and
    embedded as identical literals in this plan and the oracle SQL —
    no engine evaluates log2. DCG and ideal-DCG are integer sums;
    NDCG is their round_ratio6_dec rational. One pair scan feeds
    both rankings and the relevance grades; all windows partitioned
    by query. Output: 8 rows (query_id, dcg_e9, idcg_e9, ndcg)."""
    from pyspark.sql import Window

    from ..functions.numeric import round_ratio6_dec
    from ..operators.retrieval import ndcg_discounts_e9
    disc = F.array(*[F.lit(d) for d in ndcg_discounts_e9(10)])
    emb = read_table(spark, sf_dir, "embeddings")
    scored = _truncation_scored(emb)
    wf = Window.partitionBy("query_id").orderBy(F.desc("sim_full"),
                                                F.asc("vec_id"))
    wt = Window.partitionBy("query_id").orderBy(F.desc("sim_16"),
                                                F.asc("vec_id"))
    graded = (scored
              .withColumn("rnk_full", F.row_number().over(wf))
              .withColumn("gain",
                          F.when(F.col("rnk_full") <= 3, 7)
                           .when(F.col("rnk_full") <= 10, 3)
                           .when(F.col("rnk_full") <= 30, 1)
                           .otherwise(0).cast("bigint"))
              .withColumn("rnk_16", F.row_number().over(wt)))
    dcg = (graded.filter(F.col("rnk_16") <= 10)
           .groupBy("query_id")
           .agg(F.sum(F.col("gain")
                      * F.element_at(disc, F.col("rnk_16")))
                .cast("bigint").alias("dcg_e9")))
    wi = Window.partitionBy("query_id").orderBy(F.desc("gain"),
                                                F.asc("vec_id"))
    idcg = (graded.withColumn("ri", F.row_number().over(wi))
            .filter(F.col("ri") <= 10)
            .groupBy("query_id")
            .agg(F.sum(F.col("gain") * F.element_at(disc, F.col("ri")))
                 .cast("bigint").alias("idcg_e9")))
    return (dcg.join(idcg, "query_id")
            .select("query_id", "dcg_e9", "idcg_e9",
                    round_ratio6_dec("dcg_e9", "idcg_e9", "ndcg")))


@register("eval_tokenizer_compression")
def eval_tokenizer_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ACCEPTANCE metric: per-language compression of the
    BPE-ish pre-tokenizer vs whitespace tokens — chars-per-token and
    the BPE fertility (bpe tokens per whitespace word) every
    tokenizer change is judged by before retraining a model (a
    tokenizer that regresses fertility on one language silently
    inflates that language's training cost). One corpus scan, one
    language-bounded aggregate; ratios are round_ratio6_dec
    rationals of exact BIGINT sums."""
    from ..functions.numeric import round_ratio6_dec
    from ..operators.text import BPE_TOKEN_PATTERN, tokens
    docs = read_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.regexp_extract_all(
            F.col("text"), F.lit(BPE_TOKEN_PATTERN), F.lit(0)))
        .cast("bigint").alias("n_bpe"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_ws"))
    return (per.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"),
                 F.sum("n_bpe").cast("bigint").alias("total_bpe"),
                 F.sum("n_ws").cast("bigint").alias("total_ws"))
            .select("lang", "n_docs", "total_chars", "total_bpe",
                    "total_ws",
                    round_ratio6_dec("total_chars", "total_bpe",
                                     "chars_per_token"),
                    round_ratio6_dec("total_bpe", "total_ws",
                                     "fertility")))


@register("eval_classifier_agreement")
def eval_classifier_agreement(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Paired MODEL-vs-MODEL comparison — the decision every eval
    tier exists to serve: classifier A (stopword-density gate at
    50,000 ppm) vs classifier B (the lang-ID argmax heuristic) as
    English-document detectors against the labeled lang column.
    Emits Cohen's kappa (chance-corrected agreement between A and B)
    and McNemar's paired test on the discordant pair counts — the
    statistically sound way to compare two classifiers graded on the
    SAME examples (independent-sample AUC comparisons overstate
    significance on paired data).

    All-integer exactness: every statistic is a rational of plain
    counts from ONE conditional aggregate —
    kappa = (n*agree - apos*bpos - aneg*bneg) /
            (n^2   - apos*bpos - aneg*bneg),
    McNemar chi2 = (b - c)^2 / (b + c) — with every product (n*n,
    a_pos*b_pos, ...) computed in DECIMAL(38,0), not BIGINT, so the
    numerators stay exact past the int64 wrap point (~3.04e9 rows)
    and round_ratio6_dec's half-away division finishes the job; the
    oracle mirrors with HUGEINT. One corpus scan, one 1-row
    exchange, zero joins — the 100 TB shape is the scan itself."""
    from ..functions.numeric import round_ratio6_dec
    from ..operators.text import predict_lang
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        (F.col("lang") == "en").alias("truth"),
        (stopword_ppm(F.col("text"), LANG_STOPWORDS["en"])
         >= 50000).alias("pa"),
        (predict_lang(F.col("text")) == "en").alias("pb"))
    c = lambda e: F.sum(e.cast("bigint")).cast("bigint")  # noqa: E731
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        c(F.col("pa") == F.col("pb")).alias("n_agree"),
        c(F.col("pa")).alias("a_pos"),
        c(F.col("pb")).alias("b_pos"),
        c(F.col("pa") == F.col("truth")).alias("a_correct"),
        c(F.col("pb") == F.col("truth")).alias("b_correct"),
        c((F.col("pa") == F.col("truth"))
          & (F.col("pb") != F.col("truth"))).alias("mc_b"),
        c((F.col("pa") != F.col("truth"))
          & (F.col("pb") == F.col("truth"))).alias("mc_c"))
    # the n*n / count*count products wrap int64 once n ~ 3.04e9 rows
    # (non-ANSI Spark wraps silently where DuckDB raises), so every
    # product runs in DECIMAL(38,0) — the BM25 wrap fix, applied to
    # the numerators too, not just round_ratio6_dec's final division
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    one = F.lit(1).cast("decimal(38,0)")
    enriched = agg.select(
        "*",
        (d("n") * d("n_agree")
         - d("a_pos") * d("b_pos")
         - (d("n") - d("a_pos"))
         * (d("n") - d("b_pos"))).alias("k_num"),
        F.greatest(
            d("n") * d("n")
            - d("a_pos") * d("b_pos")
            - (d("n") - d("a_pos"))
            * (d("n") - d("b_pos")), one)
        .alias("k_den"),
        ((d("mc_b") - d("mc_c"))
         * (d("mc_b") - d("mc_c"))).alias("m_num"),
        F.greatest(d("mc_b") + d("mc_c"), one).alias("m_den"))
    return enriched.select(
        "n", "n_agree", "a_correct", "b_correct", "mc_b", "mc_c",
        round_ratio6_dec("k_num", "k_den", "kappa"),
        round_ratio6_dec("m_num", "m_den", "mcnemar_chi2"),
        F.when(F.col("a_correct") > F.col("b_correct"), F.lit("a"))
        .when(F.col("b_correct") > F.col("a_correct"), F.lit("b"))
        .otherwise(F.lit("tie")).alias("better"))


@register("eval_memorization_spans")
def eval_memorization_spans(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Verbatim-memorization audit (the Carlini-style extraction
    check every model release runs): treat docs 0-49 as GENERATED
    samples and the rest of the corpus as TRAINING data; for each
    sample, the fraction of its 8-token shingles that occur anywhere
    in training, and the LONGEST CONTIGUOUS memorized run (in
    shingles and tokens) — the length of the longest verbatim
    training span the sample reproduces.

    Shape: training shingles reduce to DISTINCT 60-bit fingerprints
    (one corpus exchange with map-side combine — the decontamination
    shape); the sample side is bounded, so the membership probe
    BROADCASTS the sample fingerprints and the training scan never
    shuffles its text. Longest-run is gaps-and-islands over each
    sample's own positions (doc-keyed window — bounded by doc
    length, parallel across samples). The md5-fingerprint equality
    is the engine-shared decision, so the oracle replays bit-for-bit."""
    from ..functions.numeric import round_ratio6
    from ..operators.text import md5_long, tokens, word_shingles
    from pyspark.sql import Window
    docs = read_table(spark, sf_dir, "documents")
    gen = docs.filter(F.col("doc_id") < 50)
    train = docs.filter(F.col("doc_id") >= 50)
    gen_sh = gen.select(
        "doc_id",
        F.posexplode(word_shingles(tokens(F.col("text")), 8))
        .alias("pos", "sh")).select(
        "doc_id", "pos", md5_long(F.col("sh")).alias("fp"))
    from ..io import widen
    # widen: the training-side shingle expansion is the corpus-scan
    # hot map (local one-row-group salvage, -51% sf0.1; no-op at
    # scale — r10 NOTES)
    train_fp = (widen(train).select(
        F.explode(word_shingles(tokens(F.col("text")), 8)).alias("sh"))
        .select(md5_long(F.col("sh")).alias("fp")).distinct())
    hits = (train_fp.join(F.broadcast(gen_sh), "fp")
            .select("doc_id", "pos").distinct())
    flagged = (gen_sh.select("doc_id", "pos")
               .join(hits.withColumn("mem", F.lit(True)),
                     ["doc_id", "pos"], "left")
               .select("doc_id", "pos",
                       F.coalesce("mem", F.lit(False)).alias("mem")))
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (flagged.filter(F.col("mem"))
            .withColumn("grp", F.col("pos") - F.row_number().over(w))
            .groupBy("doc_id", "grp")
            .agg(F.count(F.lit(1)).cast("bigint").alias("run_len"))
            .groupBy("doc_id")
            .agg(F.max("run_len").alias("longest_run")))
    per = (flagged.groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
                F.sum(F.col("mem").cast("bigint")).cast("bigint")
                .alias("n_memorized")))
    return (per.join(runs, "doc_id", "left")
            .select("doc_id", "n_shingles", "n_memorized",
                    round_ratio6(F.col("n_memorized"),
                                 F.greatest(F.col("n_shingles"),
                                            F.lit(1).cast("bigint")))
                    .alias("memorized_ratio"),
                    F.coalesce("longest_run", F.lit(0).cast("bigint"))
                    .alias("longest_run_shingles"),
                    F.when(F.coalesce("longest_run",
                                      F.lit(0).cast("bigint")) > 0,
                           F.coalesce("longest_run",
                                      F.lit(0).cast("bigint")) + 7)
                    .otherwise(F.lit(0).cast("bigint"))
                    .alias("longest_span_tokens")))


@register("eval_rank_correlation")
def eval_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman's rho between two quality signals on the same
    documents — stopword density (ppm) vs document length (tokens):
    the confounding diagnostic every quality-gate owner runs before
    trusting a density score (a high |rho| says the 'quality' signal
    is substantially a length signal). Mid-rank average ranks via
    the distributed-histogram idiom, the classical 6*sum(d^2)
    formula on exact integers, DECIMAL(38,0) before any product —
    see operators/evaluation.spearman_rho."""
    from ..operators.evaluation import spearman_rho
    from ..operators.text import tokens
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        stopword_ppm(F.col("text"), LANG_STOPWORDS["en"]).alias("a"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("b"))
    return spearman_rho(base, "a", "b",
                        a_domain=1_000_001, b_domain=4096)


@register("eval_rouge_overlap")
def eval_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-style clipped n-gram overlap — the generation-eval
    metric family (summarization/translation grading) the eval tier
    lacked: every document is scored against its source's EXEMPLAR
    (the source's lowest doc_id — a deterministic reference pairing
    that stands in for candidate/reference pairs), with CLIPPED
    unigram and bigram overlap (sum over gram types of
    min(count_cand, count_ref) — the standard clipping that stops a
    repeated word from matching more times than the reference has
    it), rolled up per source as micro-averaged precision / recall /
    F1 in exact e6 integers (P = clip/cand, R = clip/ref,
    F = 2PR/(P+R) == 2*clip/(cand+ref) — one rational, no floats).

    Scale: gram relations are (source, gram)-keyed aggregates; the
    candidate-vs-reference match is an equi join on (source, gram)
    against the BROADCAST-sized exemplar gram relation (one exemplar
    per source); everything after is source-grain. No pairwise
    doc x doc joins anywhere.
    """
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    ex_id = docs.groupBy("source").agg(F.min("doc_id").alias("ex_id"))
    toks = docs.select(
        "doc_id", "source", F.split("text", " ").alias("t"))

    def grams(df, n: int):
        if n == 1:
            g = F.explode("t").alias("gram")
        else:
            g = F.explode(F.expr(
                "CASE WHEN size(t) >= 2 THEN transform("
                "sequence(0, size(t) - 2),"
                " i -> concat(t[i], ' ', t[i+1])) "
                "ELSE array() END")).alias("gram")
        return (df.select("doc_id", "source", g)
                .groupBy("doc_id", "source", "gram")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")))

    out = None
    for n in (1, 2):
        gr = grams(toks, n)
        ex = (gr.join(ex_id.withColumnRenamed("ex_id", "doc_id"),
                      ["source", "doc_id"])
              .select("source", "gram", F.col("c").alias("c_ref")))
        cand = gr.join(ex_id, "source").filter(
            F.col("doc_id") != F.col("ex_id"))
        clip = (cand.join(ex, ["source", "gram"])
                .groupBy("source")
                .agg(F.sum(F.least("c", "c_ref")).cast("bigint")
                     .alias("clip")))
        sizes = (cand.groupBy("source")
                 .agg(F.sum("c").cast("bigint").alias("n_cand"),
                      F.count_distinct("doc_id").cast("bigint")
                      .alias("n_docs")))
        refsz = ex.groupBy("source").agg(
            F.sum("c_ref").cast("bigint").alias("ref_sz"))
        row = (sizes.join(refsz, "source")
               .join(clip, "source", "left")
               .select(
                   "source", F.lit(n).cast("int").alias("n"),
                   "n_docs",
                   F.coalesce("clip", F.lit(0)).alias("clip"),
                   "n_cand",
                   # each candidate is scored against the same
                   # exemplar, so micro-average recall divides by
                   # ref_sz * n_docs
                   (F.col("ref_sz") * F.col("n_docs")).alias("n_ref"))
               .select(
                   "source", "n", "n_docs",
                   F.expr("cast(coalesce(clip, 0) * 1000000 div n_cand"
                          " as bigint)").alias("p_e6"),
                   F.expr("cast(clip * 1000000 div n_ref as bigint)")
                   .alias("r_e6"),
                   F.expr("cast(2 * clip * 1000000"
                          " div (n_cand + n_ref) as bigint)")
                   .alias("f1_e6")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("source", "n")


@register("eval_auc_sliced")
def eval_auc_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice-wise AUC of the shared quality score, keyed by document
    source — the fairness/slice-analysis form of eval_auc_rank (a
    global AUC can hide a slice where the classifier ranks at
    chance; per-slice evaluation is how production eval suites and
    fairness audits surface it). Single-class slices emit NULL auc
    identically in both engines. See
    operators/evaluation.auc_rank_ppm_sliced for the slice-keyed
    distributed-histogram shape."""
    from ..operators.evaluation import auc_rank_ppm_sliced
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        stopword_ppm(F.col("text"), LANG_STOPWORDS["en"])
        .alias("score_ppm"),
        (F.col("lang") == "en").alias("is_pos"))
    return auc_rank_ppm_sliced(scored, "score_ppm", "is_pos", "source")
