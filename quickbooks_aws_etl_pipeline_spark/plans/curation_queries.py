"""Qkeys for the domain-level curation tier (r7 verdict task 3 —
the RefinedWeb-style web-pipeline stage the repo lacked): per-domain
doc/token caps with deterministic within-domain quality ranking, and
the domain-mix report (rank, shares, Gini/entropy terms).

The reference has no domain concept (nine single-entity ETL
scripts); ``documents.source`` is the domain proxy. Both keys are
full-oracle (ANSI window functions in DuckDB mirror the ranked caps
exactly — integer quality + id tiebreak admits no float ties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from ..operators.curation import domain_caps, domain_mix_report
from ..operators.evaluation import stopword_ppm
from ..operators.text import LANG_STOPWORDS, tokens
from .queries import register

DOC_CAP = 15      # max docs a domain may contribute
TOKEN_CAP = 600   # max (whitespace) tokens a domain may contribute
TOKEN_BUDGET = 100_000  # global budget the mixture weights allocate


@register("curate_domain_caps")
def curate_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution caps: inside each domain (source),
    rank docs by (stopword-ppm quality desc, doc_id asc) and keep a
    doc iff rank <= 15 AND inclusive running tokens <= 600 — then
    report, per domain, total vs kept docs and tokens (the cap
    audit a curation run publishes). Both caps BIND on this corpus
    (25-250 docs and ~1350-13500 tokens per domain vs 15/600), so
    the key exercises doc-cap cuts, token-cap cuts, and the ordering
    that decides which docs survive.

    Scale: one hashpartitioning(source) exchange shared by the rank
    window, the running-sum window, and the final per-domain
    aggregate (see operators/curation.domain_caps)."""
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "source", "doc_id",
        stopword_ppm(F.col("text"), LANG_STOPWORDS["en"]).alias("q"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"))
    capped = domain_caps(base, "source", "doc_id", "q", "n_tokens",
                         doc_cap=DOC_CAP, token_cap=TOKEN_CAP)
    return (capped.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs_total"),
                 F.sum(F.when(F.col("kept"), 1).otherwise(0))
                 .cast("bigint").alias("n_docs_kept"),
                 F.sum("n_tokens").cast("bigint")
                 .alias("n_tokens_total"),
                 F.sum(F.when(F.col("kept"), F.col("n_tokens"))
                       .otherwise(0)).cast("bigint")
                 .alias("n_tokens_kept"))
            .orderBy("source"))


@register("mixture_domain_reweight")
def mixture_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain mixture weights (one-shot proportional
    form): per-domain mean per-token excess loss of the English-slice
    unigram LM over the all-corpus LM — the SAME two-LM model
    select_excess_loss ranks documents with, aggregated to domains —
    with mixture weight proportional to the positive excess (zero
    for domains the reference model doesn't prefer). Completes the
    domain tier: caps bound each domain (curate_domain_caps), the
    mix report measures the distribution (stats_domain_mix), THIS
    key decides the target mixture. One vocabulary exchange + one
    corpus rescore join; all outputs integer
    (operators/curation.domain_excess_reweight)."""
    from ..operators.curation import domain_excess_reweight
    docs = read_table(spark, sf_dir, "documents")
    return (domain_excess_reweight(docs, "text", "source",
                                   F.col("lang") == "en")
            .orderBy("source"))


@register("stats_domain_mix")
def stats_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The domain-mix report: per domain — global size rank
    (distributed-histogram idiom on the n_docs bit length, never an
    un-partitioned window), doc/token counts, integer ppm shares,
    and the Gini / entropy TERMS whose sums give the corpus
    concentration stats (see operators/curation.domain_mix_report
    for the exact integer recipes). The corpus-sized work is one
    map-side-combining aggregate keyed on the domain."""
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok"))
    return (domain_mix_report(base, "source", "n_tok")
            .orderBy("rnk"))


@register("pipeline_domain_curation")
def pipeline_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The domain tier composed end-to-end (the pipeline_ccnet_dsir
    pattern): quality gates (the funnel's lang/length/stopword
    rules) -> per-domain doc/token caps with quality ranking
    (curate_domain_caps' rule) -> DoReMi-style mixture weights from
    the two-LM excess loss over the SAME gated corpus -> the
    per-domain plan: gated/kept counts, kept tokens, excess, weight,
    and the token allocation of a 100k global budget
    (planned_tokens = budget * weight_ppm div 1e6). One oracle holds
    the whole composition.

    Scale shape: the corpus pays one gate scan feeding (a) the
    source-keyed cap exchange and (b) the vocabulary exchange +
    rescore join of the weight model; everything downstream is
    domain-cardinality-sized. Output: one row per gated domain."""
    from ..operators.curation import domain_caps, domain_excess_reweight
    docs = read_table(spark, sf_dir, "documents")
    gated = (docs.filter(
        F.col("lang").isin("en", "es", "de", "fr")
        & F.col("n_chars").between(100, 20000)
        & (stopword_ppm(F.col("text"), LANG_STOPWORDS["en"]) >= 20000)))
    base = gated.select(
        "source", "doc_id",
        stopword_ppm(F.col("text"), LANG_STOPWORDS["en"]).alias("q"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"))
    capped = (domain_caps(base, "source", "doc_id", "q", "n_tokens",
                          doc_cap=DOC_CAP, token_cap=TOKEN_CAP)
              .groupBy("source")
              .agg(F.count(F.lit(1)).cast("bigint")
                   .alias("n_docs_gated"),
                   F.sum(F.when(F.col("kept"), 1).otherwise(0))
                   .cast("bigint").alias("n_docs_kept"),
                   F.sum(F.when(F.col("kept"), F.col("n_tokens"))
                         .otherwise(0)).cast("bigint")
                   .alias("n_tokens_kept")))
    weights = domain_excess_reweight(gated, "text", "source",
                                     F.col("lang") == "en") \
        .select("source", "excess_e6", "weight_ppm")
    return (capped.join(weights, "source")
            .withColumn("planned_tokens",
                        F.expr(f"({TOKEN_BUDGET} * weight_ppm)"
                               " div 1000000").cast("bigint"))
            .orderBy("source"))


@register("curate_curriculum_order")
def curate_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering (the sequence-length curriculum of
    Shortformer / curriculum-learning practice): documents enter
    training easy-first — phase 0 = short docs (<= 40 whitespace
    tokens), phase 1 = medium (41-70), phase 2 = long (> 70) — and
    WITHIN a phase the order is a deterministic md5 shuffle split
    across 8 shards, so every epoch replays the identical curriculum
    with no RNG state anywhere (the shuffle_deterministic doctrine).

    Output: one row per doc (doc_id, n_tokens, phase, shard,
    position) — the materialized read order a training loader
    consumes shard-parallel.

    Scale: phase is a codegen band on the token count (integer
    cuts — no float boundary), shard = md5(doc_id) % 8, and position
    is a row_number over the (phase, shard) partition — the window
    key IS the parallelism unit, so no global sort and no
    SinglePartition window at any corpus size; the exchange is one
    hashpartitioning(phase, shard)."""
    from ..operators.text import md5_long
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        md5_long(F.concat(F.lit("cur:"), F.col("doc_id").cast("string")))
        .alias("__shuffle"))
    banded = base.select(
        "doc_id", "n_tokens", "__shuffle",
        F.when(F.col("n_tokens") <= 40, 0)
         .when(F.col("n_tokens") <= 70, 1)
         .otherwise(2).cast("int").alias("phase"),
        (md5_long(F.col("doc_id").cast("string")) % 8).cast("int")
        .alias("shard"))
    from pyspark.sql import Window
    w = (Window.partitionBy("phase", "shard")
         .orderBy(F.asc("__shuffle"), F.asc("doc_id")))
    return (banded
            .withColumn("position", F.row_number().over(w).cast("bigint"))
            .select("doc_id", "n_tokens", "phase", "shard", "position"))


@register("stats_corpus_datasheet")
def stats_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus DATA CARD (Datasheets for Datasets /
    model-card practice): size (docs, whitespace tokens, chars),
    diversity (distinct sources and languages, English share),
    quality (mean stopword-ppm via the exact decimal-mean recipe),
    and contamination (near-dup cluster mass — docs that belong to
    some verified n-gram cluster, the number a release note must
    disclose). One corpus scan + one 1-row aggregate, plus the
    dedup tier's pair graph for the cluster mass (the same exchanges
    split_leakage_safe already pays); every ratio is an integer
    half-away rational. This is the artifact a corpus RELEASE ships —
    the per-split and per-domain cards (pipeline_pretrain_prep,
    stats_domain_mix) drill into it."""
    from ..functions.numeric import round_ratio6_dec
    from ..operators.dedup import near_dup_cluster_map
    docs = read_table(spark, sf_dir, "documents")
    comp = near_dup_cluster_map(docs)
    n_clustered = comp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clustered_docs"),
        F.count_distinct("component_id").cast("bigint")
        .alias("n_clusters"))
    base = docs.select(
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_toks"),
        F.length("text").cast("bigint").alias("n_chars_t"),
        (F.col("lang") == "en").alias("is_en"),
        stopword_ppm(F.col("text"), LANG_STOPWORDS["en"])
        .alias("q_ppm"),
        "source", "lang")
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.sum("n_chars_t").cast("bigint").alias("total_chars"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.sum(F.when(F.col("is_en"), 1).otherwise(0)).cast("bigint")
        .alias("__n_en"),
        F.sum("q_ppm").cast("bigint").alias("__sum_q"))
    return (agg.crossJoin(F.broadcast(n_clustered))
            .select("n_docs", "total_tokens", "total_chars",
                    "n_sources", "n_langs",
                    round_ratio6_dec("__n_en", "n_docs", "en_share"),
                    round_ratio6_dec("__sum_q", "n_docs",
                                     "mean_quality_ppm"),
                    "n_clustered_docs", "n_clusters",
                    round_ratio6_dec("n_clustered_docs", "n_docs",
                                     "dup_cluster_share")))


@register("stats_corpus_diff")
def stats_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff — the report a crawl team
    reads before promoting refresh N+1: per (source, status) counts
    of ADDED / REMOVED / CHANGED / UNCHANGED documents plus the net
    token delta, where change detection is content-hash equality
    (md5 — the engine-shared decision). The two snapshots are
    deterministic views of the fixture corpus (v1 drops doc_id % 17
    == 3, v2 drops % 17 == 0 and revises the text of % 13 == 0), so
    every diff class is exercised and the oracle replays the exact
    same membership.

    Shape: ONE full-outer join on the document key (the only
    exchange that scales with the corpus — hash-partitioned both
    sides), classification and token deltas computed in codegen, and
    the report aggregate collapses to |source| x 4 rows map-side. At
    100 TB both snapshots would be read with partition pruning on
    the crawl-batch key; the join stays the single corpus exchange."""
    from ..operators.text import tokens
    docs = read_table(spark, sf_dir, "documents")
    v1 = (docs.filter(F.pmod(F.col("doc_id"), F.lit(17)) != 3)
          .select(F.col("doc_id"), F.col("source").alias("s1"),
                  F.md5(F.encode(F.col("text"), "UTF-8")).alias("h1"),
                  F.size(tokens(F.col("text"))).cast("bigint")
                  .alias("t1")))
    v2_text = F.when(F.pmod(F.col("doc_id"), F.lit(13)) == 0,
                     F.concat(F.col("text"), F.lit(" rev2"))) \
               .otherwise(F.col("text"))
    v2 = (docs.filter(F.pmod(F.col("doc_id"), F.lit(17)) != 0)
          .select(F.col("doc_id"), F.col("source").alias("s2"),
                  F.md5(F.encode(v2_text, "UTF-8")).alias("h2"),
                  F.size(tokens(v2_text)).cast("bigint").alias("t2")))
    j = v1.join(v2, "doc_id", "full_outer")
    status = (F.when(F.col("h1").isNull(), F.lit("added"))
              .when(F.col("h2").isNull(), F.lit("removed"))
              .when(F.col("h1") == F.col("h2"), F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return (j.select(F.coalesce("s1", "s2").alias("source"),
                     status.alias("status"),
                     (F.coalesce(F.col("t2"), F.lit(0).cast("bigint"))
                      - F.coalesce(F.col("t1"), F.lit(0).cast("bigint")))
                     .alias("tok_delta"))
            .groupBy("source", "status")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("tok_delta").cast("bigint").alias("token_delta"))
            .orderBy("source", "status"))


@register("mixture_unimax_budget")
def mixture_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023): given a total
    training-token budget, allocate UNIFORMLY across languages except
    that no language may exceed ``cap`` epochs of its available
    tokens — the language-balanced sampler that avoids both
    head-language domination (proportional) and tail-language
    over-epoching (plain uniform). Completes the mixture family
    (proportional = stats_domain_mix, temperature, epoch-cap
    upsample, DoReMi reweight, token-budget greedy).

    Exact-integer waterfilling, closed form: sort languages by
    usable = cap * available ascending (lang tiebreak); language i
    (0-based, n total, S_i = prefix-sum of usable) is EXHAUSTED iff
    usable_i * (n - i) <= B - S_i — a pure integer decision, and the
    exhausted set is a prefix of the sort. Exhausted languages get
    all their usable tokens; the rest split the remainder by integer
    DIV, the mod leftover granted one token each to the
    alphabetically-first unexhausted languages (a stated,
    deterministic rule both engines replay).

    Scale shape: the corpus-sized work is ONE map-side-combining
    token-count aggregate to |languages| rows; the waterfilling then
    runs entirely inside array expressions on a single collected row
    (sort_array + indexed transform — languages are a bounded
    dimension), so there is NO window anywhere and the registry
    no-single-partition-window gate holds by construction."""
    from ..functions.numeric import round_ratio6
    from ..operators.text import tokens
    budget, cap = 50_000, 2
    docs = read_table(spark, sf_dir, "documents")
    avail = (docs.groupBy("lang")
             .agg(F.sum(F.size(tokens(F.col("text"))).cast("bigint"))
                  .alias("available")))
    u = avail.select(
        F.struct((F.lit(cap) * F.col("available")).alias("usable"),
                 F.col("lang").alias("lang"),
                 F.col("available").alias("available")).alias("x"))
    row = u.agg(F.sort_array(F.collect_list("x")).alias("xs"))
    n = F.size("xs")
    B = F.lit(budget).cast("bigint")

    def prefix_sum(i):
        # sum of usable over xs[0 .. i-1]
        return F.aggregate(F.slice(F.col("xs"), 1, i),
                           F.lit(0).cast("bigint"),
                           lambda acc, x: acc + x["usable"])

    marked = row.select(
        "xs",
        F.transform(
            F.col("xs"),
            lambda x, i: (x["usable"] * (n.cast("bigint") - i.cast("bigint"))
                          <= B - prefix_sum(i))).alias("ex"))
    # waterline constants (all scalar expressions over the one row)
    k = F.aggregate(F.col("ex"), F.lit(0),
                    lambda acc, e: acc + F.when(e, 1).otherwise(0))
    s_k = F.aggregate(
        F.zip_with(F.col("xs"), F.col("ex"),
                   lambda x, e: F.when(e, x["usable"])
                   .otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"), lambda acc, v: acc + v)
    consts = marked.select(
        "xs", "ex", k.alias("k"), s_k.alias("s_k"),
        F.sort_array(F.zip_with(
            F.col("xs"), F.col("ex"),
            lambda x, e: F.when(~e, x["lang"]))).alias("unex_langs"))
    rem = B - F.col("s_k")
    den = F.greatest(n.cast("bigint") - F.col("k").cast("bigint"),
                     F.lit(1).cast("bigint"))
    base = F.expr("(CAST(50000 AS BIGINT) - s_k) DIV "
                  "greatest(CAST(size(xs) - k AS BIGINT), 1L)")
    leftover = rem % den
    # unex_langs sorts NULLs (exhausted slots) FIRST, so the rank of
    # an unexhausted lang among its peers is its position minus the
    # null count k
    enriched = consts.select(
        F.explode(F.zip_with(
            F.col("xs"), F.col("ex"),
            lambda x, e: F.struct(
                x["lang"].alias("lang"),
                x["available"].alias("available"),
                x["usable"].alias("usable"),
                e.alias("exhausted"),
                F.when(e, x["usable"]).otherwise(
                    base
                    + F.when(
                        (F.array_position(F.col("unex_langs"), x["lang"])
                         - 1 - F.col("k").cast("bigint")) < leftover,
                        F.lit(1)).otherwise(F.lit(0)).cast("bigint"))
                .alias("alloc")))).alias("o"))
    return (enriched.select(
        F.col("o.lang").alias("lang"),
        F.col("o.available").cast("bigint").alias("available_tokens"),
        F.col("o.usable").cast("bigint").alias("cap_tokens"),
        F.col("o.alloc").cast("bigint").alias("alloc_tokens"),
        F.col("o.exhausted").alias("exhausted"),
        round_ratio6(F.col("o.alloc"),
                     F.greatest(F.col("o.available"),
                                F.lit(1).cast("bigint")))
        .alias("epochs"))
        .orderBy("lang"))
