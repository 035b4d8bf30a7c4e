"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in ``quickbooks_aws_etl_pipeline_spark``; this
module only adapts the registry to the driver's calling convention
and puts the sweep window first.

Sweep window: the driver checks the first ``WINDOW_SIZE`` keys of
``queries()``. That window is ``ROTATION_HEAD`` (keys added or
implementation-changed since the last cut) followed by the stalest
other keys, ranked by (latest ``CORRECTNESS_r*.json`` round, key
name). A round flip moves the keys of ``NEXT_HEAD`` into
``ROTATION_HEAD``; everything else is derived from the artifacts
next to this file.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable, Collection

from pyspark.sql import DataFrame, SparkSession

from quickbooks_aws_etl_pipeline_spark.plans import ORACLE, QUERIES
from quickbooks_aws_etl_pipeline_spark.plans.queries import flagship
from quickbooks_aws_etl_pipeline_spark.session import apply_engine_conf

SMOKE_SF_DIR = "/root/testdata/sf0.001"
WINDOW_SIZE = 50
_ROOT = os.path.dirname(os.path.abspath(__file__))

# Head of the current window, in sweep order.
ROTATION_HEAD = [
    # two-phase (user, purchase) -> user attribution aggregate
    "stream_stream_join", "stream_stream_join_live",
    "stream_stream_join_outer", "stream_stream_join_outer_live",
    "stream_stream_join_full", "stream_stream_join_full_live",
    # presentation-order bias diagnostic
    "eval_order_bias",
    # rewritten query paths: lex_embed node encoding, basket-array
    # pairs, minhash_lsh_pairs distinct, link-prediction checkpoint
    "graph_label_propagation", "graph_pagerank_fixed",
    "graph_bfs_distances", "graph_weighted_sssp",
    "mining_basket_pairs", "pairs_hard_negatives",
    "pairs_hard_negatives_ivf", "sim_range_search",
    "sim_range_search_ivf", "dedup_minhash_lsh",
    "graph_link_prediction", "graph_link_prediction_sampled",
    "decontaminate_minhash_lsh", "eval_blocking_quality",
    "stream_dedup_incremental_live",
    # consumers of the fused spherical_kmeans fit
    "sim_topk_cosine_ivf_learned", "sim_topk_cosine_ivf_trainsampled",
    "sim_index_persist_serve", "pipeline_index_serve_refresh",
    # connected_components fold and k-core last-round trim
    "dedup_canonical_map", "graph_kcore_decompose",
]

# Keys changed after the current window was cut: the next head. Every
# one is held to the sf0.01 preflight (tests/test_window_preflight.py).
NEXT_HEAD = [
    # the other connected_components consumers
    "dedup_cluster_components", "dedup_quality_keep",
    "stats_corpus_datasheet", "split_leakage_safe",
    "pipeline_filter_funnel", "pipeline_pretrain_prep",
    # consumers of the one-call literal vector arrays
    "sim_topk_cosine", "sim_topk_cosine_ivf", "sim_topk_cosine_pq",
    "sim_topk_incremental", "sim_mmr_rerank", "sim_hybrid_rrf",
    "pipeline_rag_retrieval", "sim_topk_batch_queries",
    "eval_ann_recall", "eval_dim_ablation_recall",
    "eval_retrieval_ndcg", "sim_margin_bitext_mine",
    "sim_margin_bitext_mine_ivf", "select_kcenter_coreset",
    "embedding_pca_project",
]


def sweep_records(root: str = _ROOT) -> list[tuple[int, list[str]]]:
    """(round, keys in sweep order) per ``CORRECTNESS_rNN.json``,
    oldest round first."""
    records = []
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            with open(path) as f:
                records.append((int(m.group(1)), list(json.load(f))))
    return sorted(records)


def derive_window(head: list[str], records: list[tuple[int, list[str]]],
                  keys: Collection[str], size: int = WINDOW_SIZE,
                  ) -> tuple[list[str], set[str]]:
    """(ACTIVE window, PREVIOUS key set) for ``head`` over ``keys``.

    A latest record that opens with ``head`` is this window's own
    sweep: it is left out of the ranking, so the window stays put
    until the head changes, and PREVIOUS is the record before it.
    Keys no record names rank as round 0 (stalest)."""
    in_head = set(head)
    unknown = sorted(in_head.difference(keys))
    if unknown:
        raise ValueError(f"rotation head names unknown Qkeys: {unknown}")
    if records and records[-1][1][:len(head)] == head:
        records = records[:-1]
    latest: dict[str, int] = {}
    for rnd, swept in records:
        for k in swept:
            latest[k] = rnd
    stale = sorted((latest.get(k, 0), k) for k in keys if k not in in_head)
    active = head + [k for _, k in stale[:size - len(head)]]
    return active, set(records[-1][1]) if records else set()


def window() -> tuple[list[str], set[str]]:
    """(ACTIVE window, PREVIOUS key set) from the artifacts next to
    this file."""
    return derive_window(ROTATION_HEAD, sweep_records(), QUERIES)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    apply_engine_conf(spark)
    return flagship(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, the
    ACTIVE window first."""
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_engine_conf(spark)
            return fn(spark, sf_dir)
        return run
    active = window()[0]
    in_window = set(active)
    order = active + [k for k in QUERIES if k not in in_window]
    return {name: wrap(QUERIES[name]) for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable SQL per query key; keys absent here get the
    weaker rows-only check (non-SQL-expressible ops)."""
    return dict(ORACLE)
