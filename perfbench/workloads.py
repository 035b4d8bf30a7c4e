"""The benchmark's workloads: which registry keys run, on which inputs.

Each workload names its keys (``plans.QUERIES``, each checked against
``plans.ORACLE``), the scale factor of its generated inputs, and the
tables whose row order the seed shuffles. A pass runs every key once,
one at a time, in a seed-drawn order.

The workloads are small because every run pays a fixed set-up: on a
4-core host the JVM start, the cold warm-up pass (JIT and whole-stage
code generation for each new plan) and the oracle checks take 25-35 s
whatever the input size, and a run should end within about a minute.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    keys: tuple[str, ...]
    why: str
    shuffle: tuple[str, ...] = ()


WORKLOADS: dict[str, Workload] = {w.name: w for w in [
    Workload(
        name="etl_refresh",
        sf=0.01,
        shuffle=("orders", "lineitem", "events"),
        keys=(
            # relational spine
            "flagship_revenue_by_month_segment",
            "join_5way_regional_revenue",
            "window_running_sum",
            # load path
            "sink_table_overwrite",
            # live streaming
            "stream_tumbling_agg_live",
        ),
        why=("nightly star-schema refresh: scans, joins, shuffles, table "
             "writes and a live stream, so executor, io, shuffle, sinks "
             "and streaming do the work"),
    ),
    Workload(
        name="curation_rounds",
        sf=0.001,
        # documents and embeddings have 500 rows at sf0.001 and at sf0.01
        # between them the keys call every operator module the tracer
        # wraps: similarity, sketch, curation, text, retrieval, sampling,
        # dedup and graph
        keys=(
            # short LLM-data curation keys: plan build and driver work
            # are about half of their wall time
            "sim_topk_cosine",
            "sketch_count_min",
            "curate_domain_caps",
            "udf_map_in_arrow",
            "text_bm25_topk",
            "sample_stratified_hash",
            "dedup_exact",
            # fixed-round loop: per-round checkpoints and job launches
            "graph_pagerank_fixed",
        ),
        why=("short curation keys over every operator module and a "
             "fixed-round graph loop, where plan build, per-round "
             "checkpoints and job launches outweigh executor work"),
    ),
]}
