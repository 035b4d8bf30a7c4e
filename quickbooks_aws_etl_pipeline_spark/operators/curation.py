"""Domain-level curation operators (the RefinedWeb-style web-pipeline
stage: per-domain caps + the domain-mix report).

Published web-corpus pipelines (RefinedWeb, C4, Gopher/MassiveWeb)
cap how much any single domain may contribute — boilerplate-heavy
mega-domains otherwise dominate the token mix — and publish the
resulting domain distribution (top domains, shares, concentration
stats). The reference has no domain concept anywhere (its nine
scripts are single-entity ETL, qb_bills.py:40-169); ``documents
.source`` is the domain proxy the SURVEY testdata provides. r7
verdict task 3.

Exactness: ranks, caps, and Gini terms are pure integers; shares are
e6/e7 integer rationals via DECIMAL(38,0) DIV (DuckDB HUGEINT //);
the entropy term's only float is one log10 of an integer ratio,
rounded at 7 decimals — the repo-wide cross-engine log10 contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .windows import bit_length, bucketed_cumsum


def domain_caps(df: DataFrame, domain_col: str, id_col: str,
                quality_col: str, tokens_col: str,
                doc_cap: int = 15, token_cap: int = 600) -> DataFrame:
    """Per-domain document + token caps with deterministic
    within-domain ranking: rank docs inside each domain by
    (quality desc, id asc) and keep a doc iff its rank is within
    ``doc_cap`` AND its inclusive running token total is within
    ``token_cap`` — the RefinedWeb-style "no domain contributes more
    than X" rule, with the quality ordering deciding WHICH docs a
    capped domain keeps.

    Scale shape: ONE exchange, hashpartitioning(domain); both
    windows (rank + running token sum) share that partitioning and
    one within-partition sort, and the follow-up per-domain
    aggregate callers run reuses the same exchange. The per-domain
    sort is inherent to ranked caps (a total order within the
    domain IS the algorithm); for a pathological mega-domain,
    pre-prune with a coarse quality threshold before the exact
    window — the caps bound the OUTPUT regardless.

    Adds: rn (int), cum_tokens (bigint, inclusive), kept (bool).
    """
    w = (Window.partitionBy(domain_col)
         .orderBy(F.desc(quality_col), F.asc(id_col)))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (df.withColumn("rn", F.row_number().over(w))
            .withColumn("cum_tokens",
                        F.sum(tokens_col).over(wsum).cast("bigint"))
            .withColumn("kept", (F.col("rn") <= doc_cap)
                        & (F.col("cum_tokens") <= token_cap)))


def _share_ppm_expr(n_col: str, tot_col: str) -> Column:
    """Integer e6 share: round-half-up(n*1e6/tot) via DECIMAL(38,0)
    DIV — exact for any bigint counts (DuckDB mirror: HUGEINT //)."""
    return F.expr(
        f"(2 * CAST({n_col} AS DECIMAL(38,0)) * 1000000"
        f" + CAST({tot_col} AS DECIMAL(38,0)))"
        f" DIV (2 * CAST({tot_col} AS DECIMAL(38,0)))"
    ).cast("bigint")


def domain_excess_reweight(df: DataFrame, text_col: str,
                           domain_col: str, target_cond) -> DataFrame:
    """DoReMi-style domain reweighting, the one-shot proportional
    form (Xie et al. 2023 iterate this with a proxy model; the
    non-iterative core is "upweight domains where the reference
    model beats the base model"): per-domain mean per-token excess
    loss of the target-slice unigram LM over the all-corpus LM
    (two_lm_token_delta — the exact model select_excess_loss ranks
    docs with), then mixture weight proportional to the POSITIVE
    part:

        weight_ppm(d) = 1e6 * max(excess(d), 0) / sum_d' max(.., 0)

    Domains at or below zero excess (the reference model doesn't
    prefer them) get weight 0 — excluded from the target mixture.

    Exactness: the per-domain mean is the integer half-away recipe
    at e6 over the exact DECIMAL(28,7) delta sum (sign/abs DECIMAL
    DIV); positives and the weight normalization are pure-integer
    DIV rationals — every emitted column is a bigint.

    Scale shape: ONE vocabulary exchange carries both LMs (the
    ReusedExchange pattern); the corpus-sized rescore join
    aggregates straight to domain cardinality; everything after runs
    on the metadata-sized domain relation. Output: (source, n_docs,
    n_tokens, excess_e6, weight_ppm).
    """
    from .text import tokens
    from ..operators.sampling import two_lm_token_delta
    toke = df.select(F.col(domain_col).alias("source"),
                     target_cond.alias("__tgt"),
                     F.explode(tokens(F.col(text_col))).alias("token"))
    delta = two_lm_token_delta(toke)
    # explicit vocab-side broadcast (the NB scoring hazard, r9):
    # never let the underestimated exploded corpus side build
    per_dom = (toke.join(F.broadcast(delta), "token")
               .groupBy("source")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                    F.sum("__d").alias("__sum_delta")))
    docs = (df.groupBy(F.col(domain_col).alias("source"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    # integer e6 half-away mean of the scale-7 decimal sum: q_e6 =
    # sign(s) * ((2*|s_e7|*1e6 + n*1e7) DIV (2*n*1e7)) — the
    # round6_decimal_mean_expr integers, kept AS the integer
    scored = (per_dom.join(docs, "source")
              .withColumn("excess_e6", F.expr(
                  "CAST(sign(__sum_delta) AS BIGINT)"
                  " * ((2 * CAST(abs(__sum_delta) * 10000000"
                  "            AS DECIMAL(38,0)) * 1000000"
                  "     + CAST(n_tokens AS DECIMAL(38,0)) * 10000000)"
                  "    DIV (2 * CAST(n_tokens AS DECIMAL(38,0))"
                  "           * 10000000))").cast("bigint"))
              .withColumn("__pos_e6",
                          F.greatest(F.col("excess_e6"), F.lit(0))))
    tot = scored.agg(F.greatest(F.sum("__pos_e6"), F.lit(1))
                     .alias("__tot_pos"))
    return (scored.crossJoin(F.broadcast(tot))
            .select("source", "n_docs", "n_tokens", "excess_e6",
                    _share_ppm_expr("__pos_e6", "__tot_pos")
                    .alias("weight_ppm")))


def domain_mix_report(df: DataFrame, domain_col: str,
                      tokens_col: str) -> DataFrame:
    """The domain-mix report: one row per domain with its global
    size rank, doc/token counts, integer ppm shares, and the
    per-domain Gini and entropy TERMS whose plain sums give the
    corpus concentration stats:

        gini   = sum(gini_term) / (n_domains * n_docs_total)
        H_ln   = sum(entropy_term_e10) / 1e10 * ln(10)   (log10 terms)

    gini_term = (n_domains - 2*rank + 1) * n_docs (rank 1 = largest
    domain; the classic sorted-index Gini numerator with the index
    flipped to descending rank) — all integer. entropy_term_e10 =
    -p*log10(p) in the PSI emission recipe: p as an e7 integer
    rational (DECIMAL DIV), log10 rounded at e7, product emitted
    half-away at e10.

    Scale shape: the corpus-sized work is ONE map-side-combining
    aggregate keyed on the domain; everything after runs on the
    domain-cardinality relation (metadata-sized — ~1e6 rows for the
    whole web). The global rank is :func:`.windows.bucketed_cumsum` on
    bucket = -(BIT LENGTH of n_docs) (zipf_head's exact monotonic key,
    <= 64 driver offsets) — no un-partitioned window even over the
    domain relation.
    """
    agg = (df.groupBy(F.col(domain_col).alias("source"))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum(tokens_col).cast("bigint").alias("n_tokens")))
    ranked, (nd, ntk, ndom) = bucketed_cumsum(
        agg, -bit_length(F.col("n_docs")),
        [F.desc("n_docs"), F.asc("source")], values=["n_docs", "n_tokens"])
    ranked = ranked.withColumns({
        "rnk": F.col("cum_rows").cast("int"),
        "__nd": F.lit(nd).cast("bigint"), "__ntk": F.lit(ntk).cast("bigint"),
        "__ndom": F.lit(ndom).cast("bigint")})
    p7 = F.expr(
        "(2 * CAST(n_docs AS DECIMAL(38,0)) * 10000000"
        " + CAST(__nd AS DECIMAL(38,0)))"
        " DIV (2 * CAST(__nd AS DECIMAL(38,0)))").cast("bigint")
    ld7 = F.floor(
        F.log10(F.col("n_docs").cast("double")
                / F.col("__nd").cast("double")) * 10_000_000
        + 0.5).cast("bigint")
    t_e14 = -(p7 * ld7)
    ent_e10 = (F.signum(t_e14).cast("bigint")
               * ((F.abs(t_e14) * 2 + F.lit(10_000) - F.pmod(
                   F.abs(t_e14) * 2 + F.lit(10_000), F.lit(20_000)))
                  / F.lit(20_000)).cast("bigint"))
    return ranked.select(
        "source", "rnk", "n_docs", "n_tokens",
        _share_ppm_expr("n_docs", "__nd").alias("doc_share_ppm"),
        _share_ppm_expr("n_tokens", "__ntk").alias("tok_share_ppm"),
        ((F.col("__ndom") - 2 * F.col("rnk") + 1) * F.col("n_docs"))
        .cast("bigint").alias("gini_term"),
        ent_e10.alias("entropy_term_e10"))
