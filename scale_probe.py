#!/usr/bin/env python
"""Scale probe: registry keys timed on replicated copies of one SF.

``generate`` builds an N-replica copy of the base SF dir (fact tables
replicated, dimension tables symlinked). Each key in ``PROBES`` is
run once at the base SF to warm the JIT, then timed at every rung of
``LADDER`` up to its cap, each run ending in a ``noop`` write that
evaluates every output column. One JSON line per (key, scale):
``{"probe": "<key>_x<N>", "sec": ..., "shuffle_mb": ...}``.

Run: python scale_probe.py [--regen] [KEY ...]
  (no keys = the whole table; --regen rebuilds the replica dirs;
  the base dir comes from SPARK_GRAFT_SF_DIR, default sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench.spark_status import SparkStatus
from quickbooks_aws_etl_pipeline_spark.io import read_table
from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
from quickbooks_aws_etl_pipeline_spark.session import get_spark
from quickbooks_aws_etl_pipeline_spark.sinks import scratch_path, sf_tag

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LADDER = (1, 20, 80)

# key -> the largest replica count it runs at: the whole ladder,
# except keys whose work grows with replicas^2 under this recipe
PROBES: dict[str, int] = dict.fromkeys("""
    flagship_revenue_by_month_segment join_5way_regional_revenue
    join_salted_skew join_asof window_running_sum filter_date_range
    maintenance_sorted_rewrite sql_pricing_summary
    stream_jdbc_warehouse_live

    graph_pagerank_fixed graph_triangle_count graph_link_prediction
    graph_link_prediction_sampled graph_label_propagation
    graph_bfs_distances graph_weighted_sssp mining_basket_pairs
    query_pareto_skyline

    stream_session_window sessionize_inactivity_gap dq_rate_anomaly
    dq_higher_moments dq_cusum_drift events_markov_transitions
    events_sequence_patterns sketch_ams_f2 pipeline_user_features
    attribution_markov_removal dq_ks_drift dq_chi_square_assoc
    dq_wasserstein_drift stream_wasserstein_drift_live
    stats_seasonal_decompose maintenance_ivm_join_view
    stream_ivm_join_live stream_stream_join_outer stream_stream_join_full
    eval_bradley_terry eval_rao_kupper

    sketch_count_min sketch_heavy_hitters sketch_hll_merge
    sketch_hll_retention sketch_bloom_filter sketch_kmv_overlap
    sample_poisson_bootstrap sample_weighted_reservoir

    dedup_minhash_lsh dedup_ngram_verified dedup_segment_corpus
    dedup_containment dedup_incremental_minhash dedup_bloom_prefilter
    decontaminate_minhash_lsh dedup_duplicate_spans
    dedup_duplicate_spans_fp dedup_spans_rewrite dedup_spans_rewrite_fp
    tokenizer_bpe_train tokenizer_bpe_apply text_bigram_logprob
    text_quality_gopher text_cooccurrence_pmi text_hash_embedding
    text_zipf_curve text_class_nb text_heaps_law
    text_bm25_topk text_bm25_batch_queries text_bm25_index_serve
    maintenance_bm25_index_refresh select_token_budget
    select_importance_resample select_excess_loss
    mixture_perplexity_buckets mixture_unimax_budget
    multimodal_audio_windows seq_pack_atomic curate_domain_caps
    curate_winsorize_scores stats_domain_mix stats_corpus_diff
    split_leakage_safe pipeline_corpus_curation pipeline_crawl_refresh
    pipeline_filter_funnel pipeline_pretrain_prep
    pipeline_classifier_loop pipeline_rag_retrieval
    pipeline_index_serve_refresh udf_map_in_arrow eval_auc_rank
    eval_retrieval_ndcg eval_tokenizer_compression
    eval_classifier_agreement eval_memorization_spans
    eval_rank_correlation eval_blocking_quality pairs_hard_negatives
    pairs_hard_negatives_ivf

    sim_topk_cosine sim_topk_batch_queries sim_topk_cosine_ivf_learned
    sim_topk_cosine_ivf_trainsampled sim_topk_incremental
    sim_mmr_rerank sim_hamming_topk sim_range_search
    sim_range_search_ivf sim_margin_bitext_mine_ivf
    select_kcenter_coreset eval_ann_recall embedding_gram_matrix
    embedding_pca_project embedding_standardize_stats
""".split(), LADDER[-1]) | {
    # 7 s-shifted event replicas densify each user's 7-day window
    "attribution_time_decay": 20,
    # the exact miner materializes the full |X| x |Y| pair barrier
    "sim_margin_bitext_mine": 20,
    # jittered copies keep their original's label and nearly always its
    # cell, so within-block pairs grow with replicas^2 (sf0.001: 24 s
    # at 20x, 423 s at 80x for the cells; 34 s / 477 s for the graph)
    "dedup_semantic_cells": 20,
    "sim_knn_graph": 20,
    # reads only the customer dim, which replicas do not grow
    "privacy_t_closeness": 1,
}


def generate(spark: SparkSession, base_dir: str, replicas: int,
             out_dir: str) -> None:
    """Write ``replicas`` copies of the base fact tables to ``out_dir``
    and symlink every other base table (dimensions do not grow).

    - lineitem/orders: orderkey shifted per replica, so every join
      stays inside one replica;
    - documents: even replicas keep the text verbatim, odd ones get a
      suffix (half the corpus is exact duplicates);
    - events: same users, shifted 7 s per replica;
    - embeddings: a per-component hash(vec_id, rep, i) jitter of up to
      +-0.01, which spreads cosines while keeping neighbourhoods.
    """
    rep = F.col("rep")
    stride = (read_table(spark, base_dir, "orders")
              .agg(F.max("o_orderkey")).first()[0] + 1)
    facts = {
        "lineitem": {"l_orderkey": F.col("l_orderkey") + rep * stride},
        "orders": {"o_orderkey": F.col("o_orderkey") + rep * stride},
        "documents": {
            "doc_id": F.col("doc_id") + rep * 1_000_000,
            "text": F.when(rep % 2 == 0, F.col("text")).otherwise(
                F.concat("text", F.lit(" rep"), rep.cast("string")))},
        "events": {"event_id": F.col("event_id") + rep * 10_000_000,
                   "ts": F.col("ts") + F.make_interval(secs=rep * 7)},
        "embeddings": {
            "vec_id": F.col("vec_id") + rep * 10_000_000,
            "embedding": F.transform("embedding", lambda x, i: x + (
                F.pmod(F.hash(F.col("vec_id"), rep, i), F.lit(1000))
                .cast("float") - 500.0) / 50000.0)},
    }
    copies = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
    for table, cols in facts.items():
        (read_table(spark, base_dir, table)
         .select("*", copies.alias("rep")).withColumns(cols).drop("rep")
         .repartition(replicas)
         .write.mode("overwrite")
         .parquet(os.path.join(out_dir, f"{table}.parquet")))
    for name in os.listdir(base_dir):
        dst = os.path.join(out_dir, name)
        if (name.removesuffix(".parquet") not in facts
                and not os.path.lexists(dst)):
            os.symlink(os.path.join(os.path.abspath(base_dir), name), dst)


def run(spark: SparkSession, key: str, sf_dir: str) -> None:
    QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()


def timed(spark: SparkSession, status: SparkStatus, key: str, replicas: int,
          sf_dir: str) -> None:
    """Times one run; its shuffle is summed over the stages submitted
    since it started (the status store keeps only the newest
    ``spark.ui.retainedStages``, so a running total can't be diffed)."""
    since_ms = int(time.time() * 1e3)
    t0 = time.perf_counter()
    run(spark, key, sf_dir)
    sec = round(time.perf_counter() - t0, 2)
    status.drain()
    shuffle = sum(s["shuffleWriteBytes"] for s in status.stages(since_ms))
    print(json.dumps({"probe": f"{key}_x{replicas}", "sec": sec,
                      "shuffle_mb": round(shuffle / 1e6, 2)}), flush=True)


def main(argv: list[str]) -> None:
    keys = [a for a in argv if a != "--regen"] or list(PROBES)
    unknown = [k for k in keys if k not in PROBES]
    if unknown:
        sys.exit(f"not in scale_probe.PROBES: {' '.join(unknown)}")
    spark = get_spark("scale-probe", extra_conf={
        "spark.ui.enabled": "false", "spark.driver.memory": "48g"})
    top = max(PROBES[k] for k in keys)
    dirs = {1: SF_DIR}
    for n in LADDER[1:]:
        if n <= top:
            # named after the base and the count: keys key their scratch
            # state on the dir's basename (sinks.sf_tag)
            dirs[n] = scratch_path("scale", f"{sf_tag(SF_DIR)}_x{n}")
            if "--regen" in argv or not os.path.isdir(dirs[n]):
                generate(spark, SF_DIR, n, dirs[n])
    status = SparkStatus(spark)
    for key in keys:
        run(spark, key, SF_DIR)  # JIT warm-up, untimed
        for n in LADDER:
            if n <= PROBES[key]:
                timed(spark, status, key, n, dirs[n])


if __name__ == "__main__":
    main(sys.argv[1:])
