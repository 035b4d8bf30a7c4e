"""Physical-plan audits: the scale claims in docstrings must be
visible in `.explain` output, not just asserted in prose.

Each test pins one property that matters at 100 TB:
- predicate pushdown reaches the parquet scan (PushedFilters)
- column pruning reaches the scan (ReadSchema excludes unused cols)
- small dims broadcast (BroadcastHashJoin), big facts don't
- top-k compiles to TakeOrderedAndProject (no global sort)
- bucketed co-located joins have no shuffle on either side
- no row-at-a-time Python (BatchEvalPython) in any hot path —
  vectorized ArrowEvalPython is the only Python allowed
"""

from __future__ import annotations

import io
import time
from contextlib import redirect_stdout

import pytest

from pyspark.sql import functions as F

from perfbench.spark_status import SparkStatus
from quickbooks_aws_etl_pipeline_spark.io import read_table
from quickbooks_aws_etl_pipeline_spark.plans import QUERIES


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def n_shuffles(df) -> int:
    """Count shuffle exchanges (not broadcasts) in the simple plan,
    where each node prints exactly once."""
    return plan_of(df, "simple").count("Exchange hashpartitioning")


def test_scan_pushdown_and_pruning(spark, sf_smoke):
    plan = plan_of(QUERIES["scan_parquet"](spark, sf_smoke))
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan, plan
    # projection pruning: untouched wide columns never reach the scan
    assert "l_tax" not in plan and "l_shipdate" not in plan, plan


def test_date_filter_pushdown(spark, sf_smoke):
    plan = plan_of(QUERIES["filter_date_range"](spark, sf_smoke))
    assert "PushedFilters" in plan and "o_orderdate" in plan.split("PushedFilters")[1].split("]")[0], plan


def test_flagship_pushes_shipdate(spark, sf_smoke):
    plan = plan_of(QUERIES["flagship_revenue_by_month_segment"](spark, sf_smoke))
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("l_shipdate" in p for p in pushed), plan


def test_dim_joins_broadcast(spark, sf_smoke):
    plan = plan_of(QUERIES["join_fact_dim_inner"](spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_5way_join_single_shuffle_join(spark, sf_smoke):
    """lineitem x orders is the only shuffle join; dims broadcast."""
    df = QUERIES["join_5way_regional_revenue"](spark, sf_smoke)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    # shuffles: at most lineitem-side + orders-side + final agg
    assert n_shuffles(df) <= 3, plan


def test_topk_is_take_ordered(spark, sf_smoke):
    plan = plan_of(QUERIES["sort_limit_topk"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan, plan


def test_bucketed_join_has_no_shuffle(spark, sf_smoke):
    # materialize the bucketed tables, then audit a fresh join plan
    QUERIES["join_bucketed_colocated"](spark, sf_smoke).collect()
    tag = "sf0_001"
    li, orders = spark.table(f"bkt_lineitem_{tag}"), spark.table(f"bkt_orders_{tag}")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # bucket-aligned: zero shuffle
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_asof_join_single_shuffle(spark, sf_smoke):
    """The union-window as-of join must shuffle once (on the key) —
    no range nested loop, no cartesian."""
    df = QUERIES["join_asof"](spark, sf_smoke)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert n_shuffles(df) <= 1, plan


HOT_PATH_KEYS = [
    "flagship_revenue_by_month_segment", "agg_group_sum",
    "join_5way_regional_revenue", "window_partition_sum",
    "dedup_minhash_lsh", "dedup_simhash", "text_tokenize_count",
    "text_lang_id", "doc_fingerprint", "sim_topk_cosine",
    "split_train_test", "join_asof",
    "eval_auc_rank", "eval_calibration_bins", "split_leakage_safe",
    "pipeline_filter_funnel", "sink_orc_roundtrip",
]


@pytest.mark.parametrize("name", HOT_PATH_KEYS)
def test_no_rowwise_python_in_hot_paths(spark, sf_smoke, name):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned from hot
    paths; only Arrow-vectorized Python (ArrowEvalPython) may appear,
    and only where registered deliberately (udf_pandas_scalar)."""
    plan = plan_of(QUERIES[name](spark, sf_smoke), "extended")
    assert "BatchEvalPython" not in plan, f"{name} has a row-wise Python UDF"


def test_monthly_spine_broadcasts(spark, sf_smoke):
    """The generated month spine is tiny — the fill join must be a
    broadcast, not a shuffle of the aggregate."""
    plan = plan_of(QUERIES["agg_monthly_spine"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["dedup_ngram_verified",
                                  "dedup_embedding_verified"])
def test_verified_dedup_tiers_no_cross_join(spark, sf_smoke, name):
    """The production dedup tiers must candidate-join on a hash key
    and verify by id — never a cartesian/cross product and never a
    block self-join keyed on a non-selective column."""
    plan = plan_of(QUERIES[name](spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_decontaminate_broadcasts_eval_shingles(spark, sf_smoke):
    """The eval set is benchmark-sized: its shingle table must
    broadcast so the corpus side is a map-side join — the corpus'
    text never rides a shuffle."""
    plan = plan_of(QUERIES["decontaminate_ngram_overlap"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_unpivot_adds_no_shuffle(spark, sf_smoke):
    """unpivot is a narrow expand on top of the pivot — same shuffle
    count as the pivot itself."""
    n_pivot = n_shuffles(QUERIES["pivot_segment_revenue"](spark, sf_smoke))
    n_melt = n_shuffles(QUERIES["unpivot_melt"](spark, sf_smoke))
    assert n_melt == n_pivot


def test_ngram_topk_partial_agg_and_take_ordered(spark, sf_smoke):
    """The corpus n-gram histogram partial-aggregates before its one
    exchange and takes the head via TakeOrderedAndProject (no global
    sort)."""
    df = QUERIES["text_ngram_topk"](spark, sf_smoke)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert n_shuffles(df) == 1, plan
    assert plan.index("HashAggregate") < plan.index("Exchange") or \
        plan.count("HashAggregate") >= 2, plan


def test_pq_adc_scan_is_pure_codegen(spark, sf_smoke):
    """The ADC scoring stage reads only (id, codes) and contains no
    Python evaluation: the lookup table is a literal array and the
    score is codegen adds. (Encoding is ArrowEvalPython by design —
    it runs once at index build, not per query.)"""
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        pq_adc_topk, pq_train, pq_encode)
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    books = pq_train(emb, "embedding", "vec_id", m=16, ksub=64)
    codes = pq_encode(emb, "embedding", "vec_id", books) \
        .localCheckpoint(eager=True)  # index build boundary
    qv = [float(i % 7 - 3) for i in range(64)]
    plan = plan_of(pq_adc_topk(codes, qv, books, k=10), "extended")
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_global_shuffle_never_single_partition_window(spark, sf_smoke):
    """shuffle_deterministic's rank must run as per-bucket windows —
    a plain row_number over a global ORDER BY would compile to a
    SinglePartition exchange (one task holds the corpus)."""
    plan = plan_of(QUERIES["shuffle_deterministic"](spark, sf_smoke))
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan, plan


def test_segment_dedup_no_cross_join_partial_agg(spark, sf_smoke):
    """Segment dedup is groupBy/join on the segment key: no cartesian
    pair-up, and the first-instance aggregate map-side combines."""
    df = QUERIES["dedup_segment_corpus"](spark, sf_smoke)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "partial_min" in plan or "HashAggregate" in plan, plan


def test_cms_sketch_shuffle_bounded_by_sketch(spark, sf_smoke):
    """The CMS build shuffles the (row, bucket) partial counts, never
    raw events: exactly one hash exchange, with partial aggregation
    below it (shuffle rows <= depth*width per task)."""
    df = QUERIES["sketch_count_min"](spark, sf_smoke)
    assert n_shuffles(df) == 1, plan_of(df, "simple")
    assert "partial_count" in plan_of(df) or "HashAggregate" in plan_of(df)


def test_unigram_logprob_no_rowwise_python(spark, sf_smoke):
    plan = plan_of(QUERIES["text_unigram_logprob"](spark, sf_smoke))
    assert "BatchEvalPython" not in plan, plan


def test_weighted_reservoir_take_ordered_no_shuffle(spark, sf_smoke):
    """The weighted draw is a narrow md5 map and the cut is top-k:
    TakeOrderedAndProject (per-partition heaps), zero exchanges, no
    global sort."""
    df = QUERIES["sample_weighted_reservoir"](spark, sf_smoke)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert n_shuffles(df) == 0, plan


def test_int8_quantize_single_shuffle_pure_codegen(spark, sf_smoke):
    """Per-vector quantization is array math inside codegen; the only
    exchange is the per-label partial-aggregated rollup."""
    df = QUERIES["embedding_int8_quantize"](spark, sf_smoke)
    plan = plan_of(df, "extended")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert n_shuffles(df) == 1, plan_of(df)


def test_hll_merge_is_sketch_side(spark, sf_smoke):
    """The ALL row merges per-bucket sketches (hll_union_agg over
    |buckets| rows) — no Python, no cartesian pair-up; raw rows are
    scanned only by the bucket aggregate."""
    plan = plan_of(QUERIES["sketch_hll_merge"](spark, sf_smoke), "extended")
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "hll_union_agg" in plan or "hll_sketch_agg" in plan, plan


def test_nb_classifier_sparse_no_rowwise_python(spark, sf_smoke):
    """NB scoring must stay sparse: the only per-row work is the
    token-level hash joins/aggregates; the dense completion term is a
    |classes|-row broadcast. No row-wise Python, no non-broadcast
    cartesian product."""
    plan = plan_of(QUERIES["text_class_nb"](spark, sf_smoke), "extended")
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_incremental_minhash_probe_shape(spark, sf_smoke):
    """The incremental tier's only data join is the band-bucket probe
    (new side x corpus index): hash join on (band, band_hash), never
    a cartesian/nested-loop pair-up."""
    df = QUERIES["dedup_incremental_minhash"](spark, sf_smoke)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_batch_topk_broadcasts_queries_one_rank_shuffle(spark, sf_smoke):
    """Batched ANN must broadcast the query set (never shuffle the
    corpus against it) and rank per query in one exchange of the
    narrow scored triples."""
    df = QUERIES["sim_topk_batch_queries"](spark, sf_smoke)
    plan = plan_of(df, "extended")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_outlier_zscore_broadcasts_stats(spark, sf_smoke):
    """The per-group moments table is dimension-sized: it must come
    back onto the events as a broadcast join, not a shuffle of the
    fact side."""
    plan = plan_of(QUERIES["dq_outlier_zscore"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, plan


def test_histogram_single_bounded_shuffle(spark, sf_smoke):
    """Histogram is a partial-aggregated groupBy of <= n_buckets
    groups — exactly one exchange, no sort."""
    df = QUERIES["dq_numeric_histogram"](spark, sf_smoke)
    assert n_shuffles(df) == 1, plan_of(df)
    assert "Sort" not in plan_of(df), plan_of(df)


def test_containment_no_cross_join(spark, sf_smoke):
    """The containment tier must candidate-join prefix -> inverted
    index on the shingle hash — never a cartesian/nested-loop
    pair-up of documents."""
    plan = plan_of(QUERIES["dedup_containment"](spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_per_source_sample_single_group_shuffle(spark, sf_smoke):
    """Per-group weighted sampling ranks inside group partitions —
    one exchange keyed on the group, never a SinglePartition
    window."""
    df = QUERIES["sample_weighted_per_source"](spark, sf_smoke)
    plan = plan_of(df)
    assert "SinglePartition" not in plan, plan
    assert n_shuffles(df) == 1, plan


def test_bloom_filter_broadcast_probe_bounded_build(spark, sf_smoke):
    """The bloom probe joins the (word, bits) filter table as a
    BROADCAST side — the filter moves to the probes, never the
    reverse — and nothing in the plan is a nested-loop pair-up."""
    plan = plan_of(QUERIES["sketch_bloom_filter"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kmv_sketch_take_ordered_not_global_sort(spark, sf_smoke):
    """KMV sketches take the k smallest hashes via
    TakeOrderedAndProject (k rows per partition move) — a global
    Sort of the hash relation must not appear."""
    plan = plan_of(QUERIES["sketch_kmv_overlap"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan, plan


def test_pagerank_jvm_side_message_passing(spark, sf_smoke):
    """Fixed-iteration PageRank stays entirely JVM-side (integer
    arithmetic in codegen, no Python) and pairs contributions via
    hash joins, never a cartesian."""
    plan = plan_of(QUERIES["graph_pagerank_fixed"](spark, sf_smoke))
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_grouping_sets_single_expand_pass(spark, sf_smoke):
    """GROUPING SETS compiles to ONE Expand + aggregate pass — never
    N scans unioned."""
    df = QUERIES["sql_grouping_sets"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert "Expand" in plan, plan
    # orders + customer each scanned exactly once (one Expand pass,
    # not one scan per grouping set)
    assert plan.count("FileScan parquet") == 2, plan


def test_lateral_topn_decorrelated_to_window(spark, sf_smoke):
    """The correlated LATERAL subquery must de-correlate into a
    ranked window join — no per-outer-row re-execution, no
    cartesian."""
    plan = plan_of(QUERIES["join_lateral_topn"](spark, sf_smoke))
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_exists_shape_is_semi_join(spark, sf_smoke):
    """The Q4 EXISTS compiles to a LeftSemi join with the non-equi
    residual at the probe — never a count-then-filter aggregate."""
    plan = plan_of(QUERIES["sql_order_priority_exists"](spark, sf_smoke))
    assert "LeftSemi" in plan, plan


def test_sql_udf_inlines_no_python(spark, sf_smoke):
    """The SQL-defined scalar function body must inline into the
    plan (pure codegen) — no Python evaluation node."""
    plan = plan_of(QUERIES["udf_sql_scalar"](spark, sf_smoke))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


# keys whose Python evaluation is the POINT of the key (the UDTF
# surface demo); everything else must stay JVM-side or Arrow-batched
_PYTHON_BY_DESIGN = {"udtf_sentence_split", "udtf_polymorphic_ngrams"}


def _single_partition_feeds_sort_or_window(plan: str) -> bool:
    """True when an Exchange SinglePartition's PARENT operator is a
    Sort/Window (the un-partitioned-window scale-killer). A
    SinglePartition exchange under a scalar aggregate (1-row result)
    is legitimate and must not flag."""
    lines = plan.splitlines()
    def indent(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-*"))
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        my = indent(ln)
        for j in range(i - 1, -1, -1):
            if lines[j].strip() and indent(lines[j]) < my:
                parent = lines[j]
                if "Sort" in parent or "Window" in parent:
                    return True
                break
    return False


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_registry_wide_no_scale_killers(spark, sf_smoke, name):
    """Every registered key's physical plan is free of the three
    classic scale-killers: cartesian products, row-at-a-time Python
    in the plan (except the explicit UDTF-surface key), and an
    un-partitioned window (Exchange SinglePartition feeding a
    Sort/Window; a SinglePartition exchange under a scalar 1-row
    aggregate is legitimate)."""
    plan = plan_of(QUERIES[name](spark, sf_smoke), "simple")
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in _PYTHON_BY_DESIGN:
        assert "BatchEvalPython" not in plan, f"{name}: row-wise Python"
    assert not _single_partition_feeds_sort_or_window(plan), \
        f"{name}: single-partition window\n{plan}"


def test_mixture_rates_broadcast_no_cartesian(spark, sf_smoke):
    """Temperature-mixture: the source-cardinality rate table must
    broadcast back onto the corpus (map-side membership test); the
    only nested-loop allowed is the 1-row global-min frame."""
    plan = plan_of(QUERIES["mixture_temperature_sampling"](spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_cdc_apply_is_aggregate_not_window(spark, sf_smoke):
    """CDC apply must compile to the map-side-combining max_by
    aggregate, never the row_number window (full task-partition sort);
    shuffles: latest-version pick + final rollup only."""
    df = QUERIES["cdc_apply_changes"](spark, sf_smoke)
    plan = plan_of(df)
    assert "Window" not in plan, plan
    assert n_shuffles(df) <= 2, plan


def test_triangle_count_no_cross_product(spark, sf_smoke):
    """Degree-ordered wedge join: every join is keyed (pivot node or
    (x, y) endpoint pair) — a cartesian anywhere means the orientation
    collapsed."""
    plan = plan_of(QUERIES["graph_triangle_count"](spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan


def test_sessionize_windows_are_user_partitioned(spark, sf_smoke):
    """Gaps-and-islands sessionization must never plan a global
    (SinglePartition) window — every window/aggregate is keyed on
    user_id."""
    plan = plan_of(QUERIES["sessionize_inactivity_gap"](spark, sf_smoke))
    assert "SinglePartition" not in plan, plan


def test_k_anonymity_single_partial_agg(spark, sf_smoke):
    """The QI audit is one partial-aggregated exchange on the QI key."""
    df = QUERIES["privacy_k_anonymity"](spark, sf_smoke)
    assert n_shuffles(df) == 1, plan_of(df, "simple")
    assert "partial_count" in plan_of(df) or "HashAggregate" in plan_of(df)


def test_bigram_logprob_no_rowwise_python(spark, sf_smoke):
    """Bigram rescore is explode + hash joins + decimal agg — all
    JVM-side; no Python anywhere."""
    plan = plan_of(QUERIES["text_bigram_logprob"](spark, sf_smoke), "extended")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rolling_regression_windows_are_segment_partitioned(spark, sf_smoke):
    """The OLS running sums ride ONE partitioned range-frame window
    over the daily pre-aggregate — never a SinglePartition exchange,
    never a per-row refit."""
    plan = plan_of(QUERIES["window_rolling_regression"](spark, sf_smoke))
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # customer dim broadcasts


def test_gopher_rules_zero_shuffle_no_python(spark, sf_smoke):
    """The rule gate is pure codegen array expressions — zero
    exchanges, zero Python."""
    df = QUERIES["text_quality_gopher"](spark, sf_smoke)
    assert n_shuffles(df) == 0, plan_of(df, "simple")
    plan = plan_of(df, "extended")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_knn_graph_blocked_join_and_partitioned_rank(spark, sf_smoke):
    """Candidates come from the equi-join on the block key (never a
    cartesian) and the top-k cut is a window partitioned by the
    source vector (never SinglePartition)."""
    plan = plan_of(QUERIES["sim_knn_graph"](spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_pca_project_no_python_single_data_shuffle(spark, sf_smoke):
    """The projection/verification plan is codegen folds over literal
    eigenvector arrays — no Python; the only exchanges are the gram
    partial-agg (inside the collected model) and the final 1-row agg."""
    plan = plan_of(QUERIES["embedding_pca_project"](spark, sf_smoke), "extended")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_asof_tolerance_single_shuffle(spark, sf_smoke):
    """The staleness bound is a post-carry null-out on the union-
    window as-of plan — still one keyed shuffle, no range nested
    loop."""
    df = QUERIES["join_asof_tolerance"](spark, sf_smoke)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert n_shuffles(df) <= 1, plan


def test_profit_q9_broadcasts_dims(spark, sf_smoke):
    """Q9 shape: part/supplier/nation broadcast; the only shuffle
    joins are fact-sized."""
    plan = plan_of(QUERIES["sql_profit_by_nation_year"](spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan


def test_snapshot_diff_keyed_join(spark, sf_smoke):
    """The diff is a keyed full-outer join — never a row-hash
    cartesian."""
    plan = plan_of(QUERIES["maintenance_snapshot_diff"](spark, sf_smoke))
    assert "FullOuter" in plan or "full_outer" in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan


def test_mad_outliers_broadcast_stats(spark, sf_smoke):
    """Median and MAD tables are stream-cardinality-sized and must
    broadcast back onto the events."""
    plan = plan_of(QUERIES["dq_outlier_mad"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_balanced_classes_partitioned_rank(spark, sf_smoke):
    """The per-label cut is a label-partitioned window; min-count is a
    1-row broadcast."""
    plan = plan_of(QUERIES["sample_balanced_classes"](spark, sf_smoke))
    assert "SinglePartition" not in plan.split("Window")[0], plan
    assert "CartesianProduct" not in plan


def test_nearest_event_keyed_join_no_rank_window(spark, sf_smoke):
    """Nearest-neighbor time join: user-keyed join + min_by aggregate
    — no cartesian, no ranking window."""
    plan = plan_of(QUERIES["join_nearest_event"](spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_canonical_map_broadcasts_sizes(spark, sf_smoke):
    """Cluster sizes are component-cardinality-sized and broadcast
    back onto the membership map."""
    plan = plan_of(QUERIES["dedup_canonical_map"](spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bitmap_distinct_two_level_partial_agg(spark, sf_smoke):
    """Bitmap exact-distinct: two aggregate levels (bucket bitmaps,
    then the OR/count rollup), both map-side combined; dim broadcast;
    no distinct shuffle of raw ids."""
    df = QUERIES["agg_bitmap_distinct"](spark, sf_smoke)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("HashAggregate") >= 2 or "ObjectHashAggregate" in plan, plan


def test_sliding_topk_window_partitioned(spark, sf_smoke):
    """The per-window rank must partition on the window struct —
    never SinglePartition."""
    plan = plan_of(QUERIES["stream_sliding_topk"](spark, sf_smoke))
    assert "SinglePartition" not in plan, plan


def test_apply_in_arrow_no_rowwise_python(spark, sf_smoke):
    """applyInArrow rides the Arrow grouped-map path — row-at-a-time
    Python must never appear."""
    plan = plan_of(QUERIES["udf_grouped_apply_in_arrow"](spark, sf_smoke),
                   "extended")
    assert "BatchEvalPython" not in plan, plan


def test_equidepth_histogram_partial_agg(spark, sf_smoke):
    """Bucket assignment is codegen CASEs; the rollup is one
    partial-aggregated exchange."""
    df = QUERIES["dq_equidepth_histogram"](spark, sf_smoke)
    assert n_shuffles(df) == 1, plan_of(df, "simple")


def test_rolling_median_segment_partitioned(spark, sf_smoke):
    """The exact-median window rides the segment partition over the
    bounded daily pre-aggregate — never SinglePartition."""
    plan = plan_of(QUERIES["window_rolling_median"](spark, sf_smoke))
    assert "SinglePartition" not in plan, plan


def test_attribution_windows_user_keyed(spark, sf_smoke):
    """Both attribution windows (session tag, entry carry) share the
    user-keyed shuffle; no global window."""
    plan = plan_of(QUERIES["attribution_first_touch"](spark, sf_smoke))
    assert "SinglePartition" not in plan, plan


def test_duplicate_spans_single_gram_exchange_no_distinct(spark, sf_smoke):
    """ExactSubstr span detection (round 5): the dup-set branch must
    stay ONE gram-keyed exchange — min(id)!=max(id), never
    count_distinct (which plans an extra corpus-sized (gram, id)
    dedup exchange: measured 2.3x the shuffle at 100k docs). Also no
    cartesian pair-up and no Python in the expansion."""
    df = QUERIES["dedup_duplicate_spans"](spark, sf_smoke)
    plan = plan_of(df)
    assert "count(distinct" not in plan.lower(), plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # gram exchange + doc_id window exchange + island-group exchange
    # are the ceiling; count_distinct regression would add a 4th
    assert n_shuffles(df) <= 3, plan_of(df, "simple")


def test_duplicate_spans_fp_hash_keyed_no_strings_in_exchange(spark, sf_smoke):
    """The 128-bit fingerprint tier (round 6): same single-exchange
    shape as the exact tier, but the dup-set aggregate and semi join
    must key on the two xxhash64 columns — the gram STRING (the
    array_join concat) must not exist anywhere in its plan, that's
    the whole point of the tier (16-byte fixed shuffle rows). Output
    equality with the exact tier is pinned separately
    (test_registry_oracle — shared oracle — and
    test_advanced_ops.py::test_span_fp_tier_equals_exact_tier)."""
    df = QUERIES["dedup_duplicate_spans_fp"](spark, sf_smoke)
    plan = plan_of(df)
    assert "xxhash64" in plan, plan
    # every exchange keys on the hash pair, never the gram string
    assert "hashpartitioning(gram" not in plan, plan
    assert "hashpartitioning(h1" in plan, plan
    assert "count(distinct" not in plan.lower(), plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert n_shuffles(df) <= 3, plan_of(df, "simple")


def test_lsh_calibration_signature_scan_behind_barrier(spark, sf_smoke):
    """Round-6 perf fix pin: the calibration's standalone signature
    scan must sit behind the localCheckpoint optimizer barrier —
    without it CollapseProject inlines the shingle+md5 map into each
    of the 16 minhash transforms (hs is referenced once lexically,
    so the merge guard admits it) and the map runs 16x: measured
    41 s -> 5.4 s at sf0.1. The pin: the text-split expression
    appears NOWHERE in the executed plan (every consumer reads the
    checkpointed RDDs), and the barrier nodes are present."""
    df = QUERIES["dedup_lsh_calibration"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(text") == 0, plan[:4000]
    assert "ExistingRDD" in plan, plan[:4000]


def test_importance_resample_broadcast_weights_topk(spark, sf_smoke):
    """DSIR importance resampling (round 6): bucket stats are a
    4096-bounded aggregate, the weight table must BROADCAST into the
    per-doc join (never shuffle the corpus against 4096 rows), the
    global cut must be TakeOrderedAndProject (never a full sort),
    and no Python anywhere. The 1-row totals crossJoin is the
    accepted broadcast-nested-loop-of-one-row pattern."""
    df = QUERIES["select_importance_resample"](spark, sf_smoke)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # the bucket-stats table must sit behind its checkpoint barrier
    # (one corpus pass for weights+totals, not one per consumer)
    assert "ExistingRDD" in plan, plan


def test_perplexity_buckets_no_global_window(spark, sf_smoke):
    """CCNet tiers (round 6): the global perplexity rank must run as
    bin-partitioned windows + driver offsets — a SinglePartition
    window over the scored corpus is the one-task scale killer the
    histogram idiom exists to avoid. Python-free plan."""
    df = QUERIES["mixture_perplexity_buckets"](spark, sf_smoke)
    plan = plan_of(df)
    assert "SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_index_serve_scan_partition_pruned(spark, sf_smoke):
    """The persisted-IVF serve path (round 6): the `cell IN (...)`
    probe must reach the index scan as PartitionFilters — the scan
    reads nprobe directories, never the corpus. (A regression that
    drops partitionBy or filters post-scan would show an empty
    PartitionFilters list.)"""
    import re
    df = QUERIES["sim_index_persist_serve"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[cell#\d+ IN \(", plan), plan[:4000]


def test_spans_rewrite_fp_hash_keyed(spark, sf_smoke):
    """The rewrite path's fingerprint tier (round 6): the firsts
    aggregate and removal join must key on the xxhash64 pair — no
    gram-string-keyed exchange, no SortAggregate (the bigint occ
    min must stay hash-aggregable), no Python."""
    df = QUERIES["dedup_spans_rewrite_fp"](spark, sf_smoke).select("n_kept")
    plan = plan_of(df)
    assert "xxhash64" in plan, plan
    assert "hashpartitioning(gram" not in plan, plan
    assert "hashpartitioning(h1" in plan, plan
    assert "SortAggregate" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_span_rewrite_join_survives_when_output_consumed(spark, sf_smoke):
    """Two pins for the rewrite: (1) when the rewrite OUTPUT is
    consumed, the doc_id left join (and thus the detection subtree)
    must be in the plan — a regression that lets join elimination in
    (e.g. dropping the n_kept projection) would silently return
    un-rewritten counts; (2) no cartesian, no Python, and the
    per-doc spans aggregate stays keyed (collect_list under
    hashpartitioning(doc_id), never a global collect)."""
    df = QUERIES["dedup_spans_rewrite"](spark, sf_smoke).select("n_kept")
    plan = plan_of(df)
    assert "Join" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "collect_list" in plan and "SinglePartition" not in plan, plan
    # the firsts aggregate must stay a HASH aggregate: min over the
    # encoded (id, pos) bigint, never min(struct) -> SortAggregate
    # (a per-task sort of the 8x-expanded grams)
    assert "SortAggregate" not in plan, plan


def test_hash_embedding_zero_exchange(spark, sf_smoke):
    """The hashing-trick featurizer must be a pure narrow map — a
    KEYED exchange means someone re-introduced a vocabulary pass.
    The one exchange allowed is widen()'s parallelism-only
    roundrobin (the local one-row-group salvage, a no-op at scale),
    which carries no key."""
    df = QUERIES["text_hash_embedding"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_token_budget_window_is_bucket_partitioned(spark, sf_smoke):
    """The budget cumsum must run as bucket-parallel windows over the
    joined offsets (buckets past the budget are left out of the
    offsets on the driver, so the join drops them BEFORE the window),
    never a global ORDER BY window."""
    df = QUERIES["select_token_budget"](spark, sf_smoke)
    plan = plan_of(df)
    assert "SinglePartition" not in plan, plan
    wspec = plan.split("windowspecdefinition")[1]
    assert "bucket" in wspec.split(",")[0], plan
    assert "__offset" in plan, plan


def test_poisson_bootstrap_single_group_exchange(spark, sf_smoke):
    """Bootstrap replicates must cost ONE map-side-combined R-group
    aggregate — the replicate explode stays narrow."""
    df = QUERIES["sample_poisson_bootstrap"](spark, sf_smoke)
    assert n_shuffles(df) == 1, plan_of(df, "simple")


def test_zipf_rank_no_global_sort(spark, sf_smoke):
    """Zipf head rank: bucket-partitioned windows only (the freq=1
    tail bucket is offset-pruned before any sort); slope rides a
    1-row broadcast, not a cartesian."""
    df = QUERIES["text_zipf_curve"](spark, sf_smoke)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    wspec = plan.split("windowspecdefinition")[1]
    assert "bucket" in wspec.split(",")[0], plan


def test_rate_anomaly_minute_bounded_exchange(spark, sf_smoke):
    """Rate anomaly: one minute-keyed aggregate exchange; the moments
    frame is a 1-row broadcast back onto the buckets."""
    df = QUERIES["dq_rate_anomaly"](spark, sf_smoke)
    assert n_shuffles(df) <= 2, plan_of(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan_of(df, "simple") or \
        "BroadcastExchange" in plan_of(df, "simple")


def test_user_features_single_user_exchange(spark, sf_smoke):
    """Sessionize -> session rollup -> user rollup must share ONE
    user-keyed exchange: HashPartitioning(user_id) satisfies the
    (user_id, session_id) clustering, so neither rollup re-shuffles."""
    df = QUERIES["pipeline_user_features"](spark, sf_smoke)
    assert n_shuffles(df) == 1, plan_of(df, "simple")


def test_link_prediction_sampled_filter_precedes_wedge(spark, sf_smoke):
    """The bounded link-prediction tier (r6 verdict task 5 pin): the
    deterministic l_partkey % 4 node sample must be a Filter ON THE
    SCAN — applied before the distinct/wedge exchanges, so every
    downstream sum(deg^2) term is computed on the subgraph, never
    the full projection. Since r14 the edge list is localCheckpointed
    (the subtree fed five downstream copies), which truncates the
    registry query's visible plan at the checkpoint — so the scan pin
    runs on the edge builder the query checkpoints,
    ``_copurchase_edges``: EVERY lineitem scan must carry the % 4
    sample predicate (a regression filtering after the distinct would
    show a bare scan). The production plan keeps the Python-free /
    no-cartesian asserts."""
    df = QUERIES["graph_link_prediction_sampled"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan

    from quickbooks_aws_etl_pipeline_spark.plans.olap_suite import (
        _copurchase_edges)
    full = plan_of(_copurchase_edges(spark, sf_smoke, sample_mod=4),
                   "simple")
    scans = [ln for ln in full.splitlines()
             if "FileScan parquet" in ln and "lineitem" in ln]
    assert scans, full
    assert all("% 4) = 0" in ln for ln in scans), (
        "a lineitem scan lost the sample predicate:\n" + full)


def test_ivf_trainsampled_trains_on_sample_deterministically(spark, sf_smoke):
    """The bounded-trainer IVF tier (r6 verdict task 5 pin): with
    train_mod set, Lloyd's must actually fit on the md5(id) % 4
    sample (different model than the full trainer — the filter is
    live, not optimized away) while staying fully deterministic
    (repeat call returns the identical model). The search side
    covering EVERY vector is pinned by the registry oracle
    (n_results == 10 at every sf)."""
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        spherical_kmeans)
    emb = read_table(spark, sf_smoke, "embeddings")
    full = spherical_kmeans(emb, "embedding", "vec_id", k=4, iters=2)
    samp = spherical_kmeans(emb, "embedding", "vec_id", k=4, iters=2,
                            train_mod=4)
    samp2 = spherical_kmeans(emb, "embedding", "vec_id", k=4, iters=2,
                             train_mod=4)
    assert samp == samp2, "sampled trainer is not deterministic"
    assert samp != full, "train_mod filter had no effect on the fit"


def test_semantic_cells_blocked_join_no_python(spark, sf_smoke):
    """SemDeDup manifest (round 7): the within-cell pairwise join
    must be an equi-join on the cell (cluster scope = the published
    quadratic bound) — never a cartesian — and the cosine kernel
    stays in codegen (no Python)."""
    df = QUERIES["dedup_semantic_cells"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_kcenter_coreset_takeordered_integer_no_shuffle(spark, sf_smoke):
    """Greedy k-center: each non-seed step must compile to
    TakeOrderedAndProject(limit=1) over a narrow integer distance
    map with the already-selected-ids exclusion pushed to the scan —
    no shuffle, no Python. Since the round-8 single-execution fix
    the OUTPUT frame is the collected rows (Scan ExistingRDD), so
    the step properties are audited on a faithfully-rebuilt step
    plan (the exact expressions kcenter_coreset runs: quantize ->
    least-of-distances -> orderBy desc, id asc -> limit 1), and the
    no-shuffle claim is additionally measured on the REAL run via
    the AppStatusStore shuffle-write counter."""
    from pyspark.sql import functions as F
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        quantize_vec)

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"),
                      quantize_vec(F.col("embedding")).alias("q"))
    seed_q = [int(x) for x in base.filter(F.col("id") == 0).first()["q"]]
    dist = F.aggregate(
        F.zip_with(F.col("q"), F.array(*[F.lit(x) for x in seed_q]),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"), lambda acc, v: acc + v)
    step = (base.filter(~F.col("id").isin([0]))
            .select("id", dist.alias("min_d2"), "q")
            .orderBy(F.desc("min_d2"), F.asc("id")).limit(1))
    plan = plan_of(step, "simple")
    assert "TakeOrderedAndProject(limit=1" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # step 1 excludes a single seed: Catalyst pushes it as
    # Not(EqualTo); later steps' multi-id exclusions push as Not(In)
    assert "Not(EqualTo(vec_id,0))" in plan \
        or "Not(In(vec_id" in plan, plan

    # the real run moves zero shuffle bytes end-to-end, summed over
    # the stages SUBMITTED during the probe: the status store retains
    # a bounded stage history, so in a long pytest session a
    # cumulative-total delta can go NEGATIVE as old entries evict
    status = SparkStatus(spark)
    since_ms = int(time.time() * 1e3)
    rows = QUERIES["select_kcenter_coreset"](spark, sf_smoke).collect()
    assert len(rows) == 8
    status.drain()
    stages = status.stages(since_ms)
    assert stages, "the status store saw no stage of the run"
    new_bytes = sum(s["shuffleWriteBytes"] for s in stages)
    assert new_bytes == 0, new_bytes


def test_repetition_filter_builds_shingles_once(spark, sf_smoke):
    """The shingle array must materialize ONCE in the optimized plan.
    As a single expression it re-expands into every reference
    (codegen subexpression elimination skips CASE WHEN branches) —
    measured 26.6 s vs 1.5 s at sf0.1. CollapseProject must keep the
    staged projections apart; ONE shingle chain in the whole plan is
    the witness — with the r10 zip_with shingle form that is exactly
    n-1 = 2 zip_with occurrences and 3 slices (a duplicated subtree
    would double both)."""
    df = QUERIES["text_repetition_filter"](spark, sf_smoke)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("zip_with") == 2, plan
    assert plan.count("slice(") == 3, plan


def test_component_map_broadcast_is_size_gated(spark, sf_smoke,
                                               monkeypatch):
    """r7 verdict task 2: the canonical-keep join broadcasts the
    near-dup cluster map at testdata scale (where the map is
    cluster-sized), but through a size GATE, not a forced hint — on
    a dup-heavy crawl corpus the map is corpus-fraction-sized and a
    forced F.broadcast would OOM executors (the hint bypasses
    autoBroadcastJoinThreshold). Above the gate the frame comes back
    un-hinted so the planner shuffle-joins it."""
    from quickbooks_aws_etl_pipeline_spark.operators import dedup
    docs = read_table(spark, sf_smoke, "documents")
    monkeypatch.setattr(dedup, "CLUSTER_MAP_BROADCAST_ROWS", 10 ** 12)
    below = dedup.with_canonical_id(docs).select("doc_id", "canonical_id")
    assert "BroadcastHashJoin" in plan_of(below, "simple")
    monkeypatch.setattr(dedup, "CLUSTER_MAP_BROADCAST_ROWS", 0)
    above = dedup.with_canonical_id(docs).select("doc_id", "canonical_id")
    assert "BroadcastHashJoin" not in plan_of(above, "simple")


def test_domain_caps_one_exchange(spark, sf_smoke):
    """Per-domain ranked caps: the rank window, the running token
    sum, and the per-domain aggregate must all share ONE
    hashpartitioning(source) exchange — the docstring's scale claim
    (a second exchange would re-shuffle the corpus per stage)."""
    df = QUERIES["curate_domain_caps"](spark, sf_smoke)
    assert n_shuffles(df) == 1, plan_of(df, "simple")


def test_domain_mix_no_global_window(spark, sf_smoke):
    """The domain-mix global rank must come from the bit-length
    bucket idiom: exactly one hashpartitioning exchange after the
    checkpointed domain aggregate, and no SinglePartition exchange
    feeding a Sort/Window."""
    df = QUERIES["stats_domain_mix"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert not _single_partition_feeds_sort_or_window(plan), plan


# --- retrieval / serving tier (round 8, plans/retrieval_queries.py) -------

def test_bm25_posting_filter_precedes_aggregate(spark, sf_smoke):
    """BM25's scale claims: (a) the candidate-sized posting relation
    sits behind a localCheckpoint barrier so BOTH consumers (per-doc
    score, per-term df) read the materialized postings instead of
    re-deriving from the corpus — the returned plan must contain
    EXACTLY ONE parquet scan (the 1-row stats aggregate) plus
    ExistingRDD reads of the barrier; (b) the query-term isin filter
    runs BEFORE the posting aggregate (pinned inside the barrier's
    own build plan); (c) the final cut is TakeOrderedAndProject, and
    nothing is Python-evaluated."""
    df = QUERIES["text_bm25_topk"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "ExistingRDD" in plan, plan
    # (b): rebuild the pre-barrier posting lineage and pin the filter
    # position relative to the aggregate exchange
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    from quickbooks_aws_etl_pipeline_spark.operators.text import tokens
    docs = read_table(spark, sf_smoke, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    posting = (toks.select("doc_id", F.size("toks").alias("dl"), "toks")
               .select("doc_id", "dl", F.explode("toks").alias("term"))
               .filter(F.col("term").isin("spark", "hash"))
               .groupBy("doc_id", "dl", "term").count())
    pplan = plan_of(posting, "simple")
    first_ex = pplan.index("Exchange hashpartitioning")
    assert "term#" in pplan[first_ex:] and " IN (spark,hash)" in pplan, pplan


def test_hybrid_rrf_legs_are_list_sized(spark, sf_smoke):
    """RRF fusion joins two ALREADY-CUT top-20 lists: both legs end
    in TakeOrderedAndProject before the full-outer join, so fusion
    cost never grows with the corpus."""
    df = QUERIES["sim_hybrid_rrf"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert plan.count("TakeOrderedAndProject") >= 3, plan  # 2 legs + fuse
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_margin_mine_broadcasts_batch_partitions_windows(spark, sf_smoke):
    """Bitext mining: the snapped pair relation sits behind a
    localCheckpoint barrier so its THREE consumers (forward k-NN,
    backward k-NN, the margin join) read materialized 24-byte rows —
    the returned plan must contain NO corpus scan and no join that
    recomputes cosines (pre-barrier it measured 3 nested-loop joins /
    6 scans); the windows stay partitioned. The broadcast-batch
    property itself is pinned on the pre-barrier lineage."""
    df = QUERIES["sim_margin_bitext_mine"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert not _single_partition_feeds_sort_or_window(plan), plan
    # pre-barrier lineage: the batch side broadcasts, never a
    # shuffled cartesian
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    emb = read_table(spark, sf_smoke, "embeddings")
    xs = emb.limit(5).select(F.col("vec_id").alias("xid"),
                             F.col("embedding").alias("xv"))
    pre = emb.crossJoin(F.broadcast(xs)).select("vec_id", "xid")
    pplan = plan_of(pre, "simple")
    assert "BroadcastNestedLoopJoin" in pplan, pplan
    assert "CartesianProduct" not in pplan, pplan


def test_record_linkage_join_is_block_keyed(spark, sf_smoke):
    """ER blocking: the pair join must be keyed on the compound
    blocking key (an equi-join — SortMerge or ShuffledHash), never a
    cartesian; Levenshtein runs only inside blocks."""
    df = QUERIES["dedup_record_linkage"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan


def test_conformal_threshold_no_global_sort(spark, sf_smoke):
    """The conformal order statistic comes from the bucketed score
    histogram: no SinglePartition exchange feeding a Sort/Window, and
    the eval pass is one aggregate against the broadcast threshold."""
    df = QUERIES["eval_conformal_threshold"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert not _single_partition_feeds_sort_or_window(plan), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_curriculum_order_window_is_shard_partitioned(spark, sf_smoke):
    """Curriculum positions come from a (phase, shard)-partitioned
    window — the parallelism unit — never a SinglePartition sort;
    one hashpartitioning exchange, all codegen."""
    df = QUERIES["curate_curriculum_order"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert not _single_partition_feeds_sort_or_window(plan), plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_dim_ablation_single_pair_scan(spark, sf_smoke):
    """The ablation computes BOTH cosines from one pair relation:
    exactly one scan of the embeddings corpus side (plus the
    broadcast 8-row query side) — a second corpus scan would double
    the cost the metric exists to predict. Windows partitioned by
    query."""
    df = QUERIES["eval_dim_ablation_recall"](spark, sf_smoke)
    plan = plan_of(df, "formatted")
    import re
    scans = len(re.findall(r"Scan parquet .*embeddings", plan))
    # corpus scan + broadcast query scan on each window branch: the
    # scored relation is built once per rank list (exact + trunc),
    # each pairing one corpus scan with one broadcast query scan
    assert scans <= 5, plan[:3000]
    simple = plan_of(df, "simple")
    assert not _single_partition_feeds_sort_or_window(simple), simple


def test_rag_retrieval_listsized_fusion_no_python(spark, sf_smoke):
    """The composed RAG path: chunking is zero-shuffle codegen, both
    rank legs are TakeOrderedAndProject cuts BEFORE fusion, the dense
    list broadcasts onto the 20-row sparse list, and nothing in the
    plan is Python-evaluated."""
    df = QUERIES["pipeline_rag_retrieval"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert plan.count("TakeOrderedAndProject") >= 3, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_ndcg_single_pair_scan_partitioned_windows(spark, sf_smoke):
    """NDCG grades from ONE pair relation (both cosines + relevance
    in a single scored build); every window is query-partitioned and
    nothing evaluates Python or log2 in-plan (discounts are shared
    literals)."""
    df = QUERIES["eval_retrieval_ndcg"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert not _single_partition_feeds_sort_or_window(plan), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "LOG" not in plan.upper() or "log2" not in plan, plan


def test_bm25_batch_one_posting_pass(spark, sf_smoke):
    """Batched BM25: one posting barrier serves every query — the
    returned plan has NO corpus parquet scan except the 1-row stats
    aggregate, the (query_id, term) map and df broadcast, and the
    per-query rank is a query-partitioned window (WindowGroupLimit
    pre-prunes), never a global sort."""
    df = QUERIES["text_bm25_batch_queries"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "ExistingRDD" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert not _single_partition_feeds_sort_or_window(plan), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_bm25_index_serve_scan_partition_pruned(spark, sf_smoke):
    """The lexical index lifecycle: the serve-side posting scan must
    carry the query's `term IN (...)` as PartitionFilters — it reads
    |query| directories of the persisted index, never the corpus
    (the sim_index_persist_serve contract on the lexical side)."""
    import re
    df = QUERIES["text_bm25_index_serve"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[.*term#\d+ IN \(", plan), \
        plan[:4000]


def test_hard_negatives_single_pass_partitioned(spark, sf_smoke):
    """Hard-negative mining: one broadcast-query pass over the
    corpus, both label-conditional bests as ONE map-side-combining
    max_by aggregate — NO window at all (the r8 verdict flagged the
    previous per-query rank windows as capping parallelism at Q
    tasks), no SinglePartition, no Python, no cartesian shuffle."""
    df = QUERIES["pairs_hard_negatives"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert "Window" not in plan, plan
    assert "partial_max_by" in plan, plan
    assert not _single_partition_feeds_sort_or_window(plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


@pytest.mark.parametrize("name", ["sim_range_search",
                                  "sim_range_search_ivf"])
def test_range_search_one_aggregate_no_window(spark, sf_smoke, name):
    """Radius search: nearest-id folds into the summary aggregate as
    min_by over (-sim, id) — the r9 verdict flagged the previous
    row_number window partitioned by query_id (Q=8 reduce tasks on a
    data-dependent hit relation; the pairs_hard_negatives class).
    Pin: no Window anywhere, the min_by partial-aggregates map-side,
    no cartesian shuffle, no Python."""
    df = QUERIES[name](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert "Window" not in plan, plan
    assert "partial_min_by" in plan, plan
    assert not _single_partition_feeds_sort_or_window(plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_range_search_ivf_prunes_candidates(spark, sf_smoke):
    """The IVF radius key must actually PRUNE: every query's n_cand
    (candidates scored in its nprobe cells) stays below the full
    corpus the exact key scans, and the candidate join builds the
    broadcast probe side."""
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    df = QUERIES["sim_range_search_ivf"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    corpus = read_table(spark, sf_smoke, "embeddings").count()
    rows = df.collect()
    assert rows, "range search returned no queries"
    assert all(r["n_cand"] < corpus for r in rows), \
        [(r["query_id"], r["n_cand"], corpus) for r in rows]


def test_bitext_ivf_pruned_candidates(spark, sf_smoke):
    """The IVF-pruned bitext miner: probe join builds the broadcast
    side, the scored pair relation sits behind its 3-consumer
    barrier (ExistingRDD), the two k-NN windows stay partitioned by
    x / by y (never SinglePartition), no cartesian, no Python — and
    it must actually PRUNE: fewer scored pairs than the exact
    |X| x |Y| pass."""
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    df = QUERIES["sim_margin_bitext_mine_ivf"](spark, sf_smoke)
    plan = plan_of(df)
    # the final plan starts at the pair barrier (the probe joins ran
    # during checkpoint materialization), so the join audit runs on
    # the candidate relation's own plan below
    assert "ExistingRDD" in plan, plan
    assert not _single_partition_feeds_sort_or_window(plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    from quickbooks_aws_etl_pipeline_spark.plans.retrieval_queries import \
        _ivf_probe_inputs
    celled, probe, queries = _ivf_probe_inputs(
        spark, sf_smoke,
        query_cond=(F.col("label") == 0)
        & (F.pmod(F.col("vec_id"), F.lit(5)) == 0))
    cand = (celled.filter(F.col("label") == 1)
            .join(F.broadcast(probe), celled["cell"] == probe["cid"])
            .join(F.broadcast(queries), "query_id"))
    cplan = plan_of(cand)
    assert "BroadcastHashJoin" in cplan, cplan
    assert "CartesianProduct" not in cplan, cplan
    emb = read_table(spark, sf_smoke, "embeddings")
    n_x = emb.filter("label = 0 AND vec_id % 5 = 0").count()
    n_y = emb.filter("label = 1").count()
    # nprobe=2 of 4 cells: the pruned pair relation must be smaller
    # than the exact |X| x |Y| pass
    assert cand.count() < n_x * n_y, (n_x, n_y)


def test_hard_negatives_ivf_pruned_no_window(spark, sf_smoke):
    """The composed IVF-pruned miner: cell assignment is a narrow
    codegen map (centroid literals — no join, no shuffle for the
    cell), the probe and query sides broadcast, the mining step the
    same max_by aggregate — no Window anywhere, no cartesian, no
    Python, and the candidate join is a broadcast hash join."""
    df = QUERIES["pairs_hard_negatives_ivf"](spark, sf_smoke)
    plan = plan_of(df, "simple")
    assert "Window" not in plan, plan
    assert "partial_max_by" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


@pytest.mark.parametrize("name", ["text_class_nb",
                                  "pipeline_classifier_loop",
                                  "select_excess_loss",
                                  "mixture_domain_reweight",
                                  "pipeline_domain_curation",
                                  "text_unigram_logprob",
                                  "tokenizer_bpe_apply",
                                  # r9 session-2: the candidate-join
                                  # tiers (shuffle_hash-hinted)
                                  "dedup_embedding_verified",
                                  "dedup_embedding_cosine",
                                  "dedup_ngram_verified",
                                  "dedup_containment"])
def test_nb_scoring_broadcasts_vocab_not_tokens(spark, sf_smoke, name):
    """The NB scoring join must build the VOCAB side: Catalyst keeps
    the child's sizeInBytes for Generate, so without the explicit
    hint it broadcasts the exploded corpus-token relation once real
    token volume passes the threshold — measured 426 MiB broadcast +
    driver OOM at sf8 (r9). Pin: no BroadcastExchange anywhere above
    a Generate(explode) in the executed plan."""
    df = QUERIES[name](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # walk each BroadcastExchange subtree: a Generate under it is
    # only legitimate if an Aggregate sits between them (a bounded
    # summary of the exploded relation is broadcast, not the
    # relation itself)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        depth = len(line) - len(line.lstrip(" :+-"))
        agg_depths: list[int] = []
        for nxt in lines[i + 1:]:
            nd = len(nxt) - len(nxt.lstrip(" :+-"))
            if nd <= depth:
                break
            if "Aggregate" in nxt:
                agg_depths.append(nd)
            if "Generate explode" in nxt:
                guarded = any(ad < nd for ad in agg_depths)
                assert guarded, (
                    f"{name}: corpus-side explode broadcast with no "
                    f"aggregate boundary\n" + line + "\n" + nxt)


def test_dpp_scan_has_dynamic_pruning_filter(spark, sf_smoke):
    """scan_dynamic_partition_pruning (round 10): the month dim is a
    RUNTIME query result, so the partitioned fact scan's
    PartitionFilters must carry the dynamicpruning subquery — the
    literal-filter form every other partitioned key already pins
    would silently read every month partition here."""
    df = QUERIES["scan_dynamic_partition_pruning"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:4000]
