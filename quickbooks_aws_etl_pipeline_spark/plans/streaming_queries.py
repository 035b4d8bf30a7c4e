"""Qkeys for the streaming surface (SURVEY.md §2.10), batch-mode
checked: batch mode is what the DuckDB oracle can verify (tumbling ==
GROUP BY epoch bucket, session == gaps-and-islands), per SURVEY.md
§5.1.

The ``*_live`` keys are true Structured Streaming runs (file source
-> watermark -> stateful operator -> sink, availableNow trigger).
Each calls the exact same transform functions as its batch twin, so
one oracle holds both: the window aggregates run unchanged under
``readStream``; the six stream-stream join keys are one builder
(``_stream_join_report``) over ``windows.interval_pair_join`` and
its two reports; the CDC pair shares ``stateful.cdc_change_waves``,
``latest_change`` and ``cdc_rollup`` with ``cdc_apply_changes``.
Complete-mode output (or append-mode output that is final when
emitted) makes each live result equal to its batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..functions.numeric import exact_sum
from ..io import read_table, table_path
from ..streaming.stateful import (dedup_within_watermark,
                                  run_stream_foreach_batch_parquet,
                                  user_running_totals)
from ..streaming.windows import (run_stream_to_memory, session_agg,
                                 sliding_agg, static_enrich_agg,
                                 tumbling_agg)
from .queries import register


def _sanitize(sf_dir: str) -> str:
    import re
    return re.sub(r"[^A-Za-z0-9_]", "_", sf_dir)


@register("stream_tumbling_agg")
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_agg(read_table(spark, sf_dir, "events"), minutes=10)


@register("stream_sliding_agg")
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_agg(read_table(spark, sf_dir, "events"),
                       minutes=10, slide_minutes=5)


@register("stream_session_window")
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_agg(read_table(spark, sf_dir, "events"), gap_minutes=5)


@register("stream_tumbling_agg_live")
def stream_tumbling_agg_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real streaming execution of the same tumbling plan:
    file source -> 1h watermark -> window agg -> memory sink,
    availableNow trigger. Complete-mode output over availableNow
    emits every window, so the LIVE run equals the batch aggregate
    and is held to the full SQL oracle (same promotion the
    sliding/session twins earned in round 3)."""
    tag = _sanitize(sf_dir)
    return run_stream_to_memory(
        spark, table_path(sf_dir, "events"),
        lambda ev: tumbling_agg(ev, minutes=10),
        query_name=f"live_tumbling{tag}",
        watermark="1 hour", output_mode="complete")


@register("stream_dedup_watermark")
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stateful dedup: the stream is unioned with itself (every
    event arrives twice), dropDuplicatesWithinWatermark removes the
    copies. The post-run aggregate over the memory sink must equal the
    oracle's aggregate over the ORIGINAL events — i.e. perfect dedup
    is what makes the hashes match."""
    tag = _sanitize(sf_dir)
    out = run_stream_to_memory(
        spark, table_path(sf_dir, "events"),
        lambda ev: dedup_within_watermark(ev.unionByName(ev), ["event_id"]),
        query_name=f"live_dedup{tag}",
        watermark=None, output_mode="append")
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("id_sum"),
        F.countDistinct("user_id").alias("n_users"))


@register("stream_stateful_user_totals")
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live applyInPandasWithState run: per-user running (count, sum)
    kept as arbitrary state, decimal-quantized so the emitted totals
    are bit-identical to the batch oracle's GROUP BY user_id."""
    tag = _sanitize(sf_dir)
    return run_stream_to_memory(
        spark, table_path(sf_dir, "events"),
        user_running_totals,
        query_name=f"live_state{tag}",
        watermark=None, output_mode="update")


@register("stream_stateful_totals_tws")
def stream_stateful_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live ``transformWithStateInPandas`` run (the Spark-4 successor
    stateful API: StatefulProcessor + typed ValueState, RocksDB state
    store): same per-user (count, decimal-quantized sum) semantics as
    ``stream_stateful_user_totals``, so the two keys share one batch
    oracle and any drift between the legacy and new state APIs is
    oracle-visible. The TWS state protocol needs ``google.protobuf``,
    provisioned without installing anything by the vendor_protobuf
    shim (see that module for the no-install compatibility argument);
    where provisioning is impossible the query fails loudly rather
    than falling back — a silent applyInPandasWithState fallback
    would verify nothing about this API."""
    from ..streaming.stateful import user_running_totals_tws
    from ..vendor_protobuf import install
    if not install():
        raise RuntimeError(
            "google.protobuf unavailable and not provisionable; "
            "transformWithStateInPandas cannot run in this environment")
    tag = _sanitize(sf_dir)
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        return run_stream_to_memory(
            spark, table_path(sf_dir, "events"),
            user_running_totals_tws,
            query_name=f"live_tws{tag}",
            watermark=None, output_mode="update")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@register("stream_foreach_batch_sink")
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live foreachBatch parquet sink (epoch-keyed, idempotent on
    replay); the read-back aggregate must equal the oracle's aggregate
    over the source — the write/read round trip is lossless."""
    tag = _sanitize(sf_dir)
    written = run_stream_foreach_batch_parquet(
        spark, table_path(sf_dir, "events"), query_name=f"fb{tag}")
    return written.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("id_sum"),
        exact_sum(F.col("value")).alias("sum_value"))


@register("stream_sliding_agg_live")
def stream_sliding_agg_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming run of the sliding-window plan; result must
    equal the batch twin, so it shares stream_sliding_agg's oracle."""
    tag = _sanitize(sf_dir)
    return run_stream_to_memory(
        spark, table_path(sf_dir, "events"),
        lambda ev: sliding_agg(ev, minutes=10, slide_minutes=5),
        query_name=f"live_sliding{tag}",
        watermark="1 hour", output_mode="complete")


@register("stream_session_window_live")
def stream_session_window_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming session windows (watermark + session_window
    state); equal to the batch gaps-and-islands oracle."""
    tag = _sanitize(sf_dir)
    return run_stream_to_memory(
        spark, table_path(sf_dir, "events"),
        lambda ev: session_agg(ev, gap_minutes=5),
        query_name=f"live_session{tag}",
        watermark="1 hour", output_mode="complete")



@register("stream_join_static")
def stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (batch-mode twin): events x
    broadcast customer dim -> per-(segment, event_type) aggregate."""
    return static_enrich_agg(read_table(spark, sf_dir, "events"),
                             read_table(spark, sf_dir, "customer")
                             .select("c_custkey", "c_mktsegment"))


@register("stream_join_static_live")
def stream_join_static_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same enrichment under readStream: the static dim is read
    batch-side and re-broadcast per micro-batch; complete-mode output
    over availableNow equals the batch aggregate, so this LIVE run is
    held to the full SQL oracle, not a rows-only check."""
    tag = _sanitize(sf_dir)
    dim = (read_table(spark, sf_dir, "customer")
           .select("c_custkey", "c_mktsegment"))
    return run_stream_to_memory(
        spark, table_path(sf_dir, "events"),
        lambda ev: static_enrich_agg(ev, dim),
        query_name=f"live_join_static{tag}",
        watermark=None, output_mode="complete")


@register("stream_stateful_funnel")
def stream_stateful_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stateful funnel: the per-user state machine runs as a
    stream (four timestamps of state per user), and the per-stage
    distribution of its final emissions must hash-equal the batch
    funnel derivation — the order-independent state design is what
    makes the streaming result oracle-checkable."""
    from ..streaming.stateful import user_funnel_stages
    tag = _sanitize(sf_dir)
    per_user = run_stream_to_memory(
        spark, table_path(sf_dir, "events"),
        user_funnel_stages,
        query_name=f"live_funnel{tag}",
        watermark=None, output_mode="update")
    return (per_user.groupBy("funnel_stage")
            .agg(F.count(F.lit(1)).alias("n_users")))


# how -> (live query name, watermark). Inner matches are final when
# found, so its generous watermark only keeps state alive across
# micro-batches; the outer joins null-emit at watermark expiry and
# need the tight one that _outer_cutoff's horizon assumes.
_STREAM_JOINS = {"inner": ("live_ss_join", "30 days"),
                 "leftOuter": ("live_ss_outer", "10 minutes"),
                 "fullOuter": ("live_ss_full", "10 minutes")}


def _outer_cutoff(ev: DataFrame) -> DataFrame:
    """The closed-region horizon both modes agree on: rows whose
    horizon is older than max(ts) - 50 min (lookback 30 + watermark
    10 + margin) have FINAL outer-join results — the live run's
    no-data batch has evicted and null-emitted them; younger
    unmatched rows may still sit in state when availableNow stops."""
    return ev.agg((F.max("ts") - F.expr("INTERVAL 50 MINUTES"))
                  .alias("__cutoff"))


def _stream_join_report(spark: SparkSession, sf_dir: str, how: str,
                        live: bool) -> DataFrame:
    """The six stream_stream_join* keys: purchases attributed to the
    same user's views in the prior 30 minutes
    (streaming/windows.interval_pair_join with ``how``), reported per
    user. The batch key joins two filters of the events table; the
    live key joins two watermarked file-source streams into an
    append-mode memory sink (run_two_stream_join_to_memory). Both
    run the same join and the same report, so each live key is held
    to its batch twin's full SQL oracle.

    Inner pairs get attributed_purchase_agg. Outer pairs get
    attributed_outer_agg over the closed region (_outer_cutoff);
    the left-outer keys drop its n_orphan_views, which is 0 there."""
    from ..streaming.windows import (attributed_outer_agg,
                                     attributed_purchase_agg,
                                     interval_pair_join,
                                     run_two_stream_join_to_memory)
    ev = read_table(spark, sf_dir, "events")
    if live:
        name, watermark = _STREAM_JOINS[how]
        pairs = run_two_stream_join_to_memory(
            spark, table_path(sf_dir, "events"),
            query_name=f"{name}{_sanitize(sf_dir)}",
            watermark=watermark, how=how)
    else:
        pairs = interval_pair_join(
            ev.filter(F.col("event_type") == "view"),
            ev.filter(F.col("event_type") == "purchase"), how=how)
    if how == "inner":
        return attributed_purchase_agg(pairs)
    report = attributed_outer_agg(pairs, _outer_cutoff(ev))
    return report if how == "fullOuter" else report.drop("n_orphan_views")


@register("stream_stream_join")
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval INNER join."""
    return _stream_join_report(spark, sf_dir, "inner", live=False)


@register("stream_stream_join_live")
def stream_stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream inner join: matches are final when found,
    so the append-mode sink equals the batch join."""
    return _stream_join_report(spark, sf_dir, "inner", live=True)


@register("stream_stream_join_outer")
def stream_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked LEFT OUTER stream-stream
    interval join (r7 verdict task 5): every purchase appears in the
    per-user report — unmatched ones counted with zero pairs."""
    return _stream_join_report(spark, sf_dir, "leftOuter", live=False)


@register("stream_stream_join_outer_live")
def stream_stream_join_outer_live(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TRUE streaming LEFT OUTER join: null-padded non-matches emit in
    the no-data micro-batch once the 10-minute watermark passes the
    purchase's event time (state eviction == emission) — the
    append-mode outer-join finalization this key exists to pin."""
    return _stream_join_report(spark, sf_dir, "leftOuter", live=True)


@register("stream_stream_join_full")
def stream_stream_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked FULL OUTER stream-stream
    interval join — the last cell of the join matrix: purchases AND
    orphan views both emit, and the report adds n_orphan_views."""
    return _stream_join_report(spark, sf_dir, "fullOuter", live=False)


@register("stream_stream_join_full_live")
def stream_stream_join_full_live(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TRUE streaming FULL OUTER join: the no-data micro-batch
    null-emits unmatched purchases at purchase_ts expiry AND
    unmatched views at view_ts + lookback expiry."""
    return _stream_join_report(spark, sf_dir, "fullOuter", live=True)


@register("stream_sliding_topk")
def stream_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-items analytics: top-2 event types per 10-minute
    sliding window (5-min slide) — the windowed-leaderboard shape.
    Same transform runs under readStream; the per-window rank
    partitions on the window struct, so every task ranks one
    window's (bounded, |event-types|-sized) counts — never a global
    sort."""
    from pyspark.sql import Window
    ev = read_table(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes", "5 minutes")
    counts = (ev.groupBy(w.alias("w"), F.col("event_type"))
              .agg(F.count(F.lit(1)).alias("n_events")))
    rk = Window.partitionBy("w").orderBy(F.desc("n_events"),
                                         F.asc("event_type"))
    return (counts.withColumn("rn", F.row_number().over(rk))
            .filter(F.col("rn") <= 2)
            .select(F.col("w.start").cast("long")
                    .alias("bucket_start_epoch"),
                    "event_type", "n_events", "rn"))


@register("stream_dedup_incremental_live")
def stream_dedup_incremental_live(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Continuous-ingest near-dup detection, LIVE: the documents
    corpus streamed in 4 micro-batches (file source,
    maxFilesPerTrigger=1, availableNow); each foreachBatch epoch runs
    the within-batch banded-LSH tier plus the batch-vs-index
    incremental probe, then appends the batch to the index — the
    daily-crawl dedup loop as one streaming query. The union over
    epochs provably equals the full-corpus minhash tier for ANY
    batching (both tiers share the exact candidate predicate and
    verify — see streaming/stateful.py:run_stream_incremental_dedup),
    so this live key is held to dedup_minhash_lsh's full SQL oracle
    verbatim. Epoch-keyed overwrite writes make redelivery and
    re-runs idempotent."""
    from ..streaming.stateful import run_stream_incremental_dedup
    tag = _sanitize(sf_dir)
    docs = read_table(spark, sf_dir, "documents")
    return run_stream_incremental_dedup(spark, docs,
                                        query_name=f"incdd{tag}")


def _drift_histogram(stream: DataFrame) -> DataFrame:
    """The stateful half of the streaming drift monitor: conditional
    (bin, population) histogram over event values — reference =
    even user_ids, serving = odd. Complete-mode aggregate, so the
    memory-sink snapshot after availableNow equals the batch
    histogram (the oracle's CTE)."""
    b = F.least(F.floor(F.col("value") / 50).cast("int"), F.lit(9))
    return (stream
            .select(b.alias("bin"),
                    (F.col("user_id") % 2 == 0).alias("__ref"))
            .groupBy("bin")
            .agg(F.sum(F.when(F.col("__ref"), 1).otherwise(0))
                 .cast("bigint").alias("n_train"),
                 F.sum(F.when(F.col("__ref"), 0).otherwise(1))
                 .cast("bigint").alias("n_serve")))


@register("stream_drift_monitor_live")
def stream_drift_monitor_live(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Production monitoring AS a streaming query: the event-value
    drift monitor every deployed scoring gate runs — the stream
    maintains the (bin, population) histogram (the only stateful
    piece, <= 10 groups of state), and the PSI integer math
    (operators/evaluation.psi_from_histogram) scores the memory-sink
    snapshot. Reference population = even user_ids, serving = odd;
    complete-mode availableNow makes the final snapshot equal the
    batch histogram, so the WHOLE monitor is held to the full SQL
    oracle (the *_live contract). At 100 TB/day the stream's state is
    still 10 rows — the monitor costs one conditional aggregate per
    micro-batch."""
    from ..operators.evaluation import psi_from_histogram
    hist = run_stream_to_memory(
        spark, table_path(sf_dir, "events"), _drift_histogram,
        f"drift_monitor_{_sanitize(sf_dir)}", output_mode="complete")
    return psi_from_histogram(hist, n_bins=10).orderBy("bin")


@register("stream_jdbc_warehouse_live")
def stream_jdbc_warehouse_live(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The reference's END-TO-END flow as a live stream: source ->
    transform -> WAREHOUSE over the real JDBC wire (embedded Derby;
    the Redshift endpoint is a URL/driver swap). foreachBatch loads
    each epoch into its own staging table (overwrite = drop/create,
    so epoch redelivery is idempotent), the read-back unions the
    epoch tables discovered through the warehouse catalog, and the
    totals are held to the batch aggregate over the source — a lost
    epoch, duplicated epoch, or JDBC type-mapping drift is a red
    row."""
    from ..functions.numeric import exact_sum
    from ..sinks import scratch_path
    from ..streaming.stateful import run_stream_foreach_batch_jdbc
    tag = _sanitize(sf_dir)
    written = run_stream_foreach_batch_jdbc(
        spark, table_path(sf_dir, "events"),
        query_name=f"fbjdbc{tag}",
        db_dir=scratch_path("jdbc_derby_stream", tag))
    return written.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("id_sum"),
        exact_sum(F.col("value")).alias("sum_value"))


@register("stream_cdc_apply_live")
def stream_cdc_apply_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE twin of cdc_apply_changes: the same deterministic
    insert/update/tombstone feed (stateful.cdc_change_waves) arrives
    as a file-source stream
    (maxFilesPerTrigger=1, one file per seq wave, so the merge
    genuinely spans multiple micro-batches), and each epoch MERGES
    into an epoch-versioned parquet state table (max-seq per key —
    see streaming/stateful.run_stream_cdc_merge for the idempotent
    redelivery argument). The final state's tombstone-filtered
    rollup (stateful.cdc_rollup) is held to the batch key's oracle
    VERBATIM — a lost
    epoch, a double merge, or an ordering dependency is a red row."""
    import os
    from ..sinks import scratch_path
    from ..streaming.stateful import (cdc_change_waves, cdc_rollup,
                                      run_stream_cdc_merge)
    tag = _sanitize(sf_dir)
    feed_dir = scratch_path("cdc_live", tag, "feed")
    state_dir = scratch_path("cdc_live", tag, "state")
    if not os.path.isdir(feed_dir):
        orders = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice")
        for i, wave in enumerate(cdc_change_waves(orders)):
            (wave.coalesce(1).write.mode("overwrite")
             .parquet(os.path.join(feed_dir, f"wave{i}")))
    return cdc_rollup(run_stream_cdc_merge(
        spark, os.path.join(feed_dir, "wave*"),
        query_name=f"cdclive{tag}", state_root=state_dir))


@register("stream_ks_drift_live")
def stream_ks_drift_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-10 KS drift monitor AS a streaming query — the
    binning-free sibling of stream_drift_monitor_live's PSI: the
    stream maintains only the per-cent-value (v, c_ref, c_cur)
    histogram (mining_queries.ks_value_histogram — value-DOMAIN-
    bounded state, never row count), complete-mode availableNow makes
    the memory-sink snapshot equal the batch histogram, and the exact
    integer KS finisher scores the snapshot. Held verbatim to
    dq_ks_drift's full SQL oracle (the *_live contract)."""
    from .mining_queries import ks_from_value_hist, ks_value_histogram
    hist = run_stream_to_memory(
        spark, table_path(sf_dir, "events"), ks_value_histogram,
        f"ks_drift_{_sanitize(sf_dir)}", output_mode="complete")
    return ks_from_value_hist(spark, hist)


@register("stream_sliding_topk_live")
def stream_sliding_topk_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming run of the windowed leaderboard: the sliding
    COUNT runs inside the stream (complete-mode window state —
    |windows| x |event-types| bounded, the only stateful part), and
    the top-2 rank is applied to the availableNow SNAPSHOT (window
    functions aren't streamable; ranking the complete-mode sink is
    the standard serving split: state holds counts, the leaderboard
    materializes per refresh). Shares stream_sliding_topk's oracle
    verbatim — the *_live contract."""
    from pyspark.sql import Window
    tag = _sanitize(sf_dir)
    counts = run_stream_to_memory(
        spark, table_path(sf_dir, "events"),
        lambda ev: (ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"))),
        query_name=f"live_slidetopk{tag}",
        watermark="1 hour", output_mode="complete")
    rk = Window.partitionBy("w").orderBy(F.desc("n_events"),
                                         F.asc("event_type"))
    return (counts.withColumn("rn", F.row_number().over(rk))
            .filter(F.col("rn") <= 2)
            .select(F.col("w.start").cast("long")
                    .alias("bucket_start_epoch"),
                    "event_type", "n_events", "rn"))


@register("stream_wasserstein_drift_live")
def stream_wasserstein_drift_live(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The Wasserstein-1 drift monitor AS a streaming query — the
    magnitude-sensitive sibling of stream_ks_drift_live, sharing its
    exact state shape: the stream maintains only the per-cent-value
    (v, c_ref, c_cur) histogram (value-DOMAIN-bounded complete-mode
    state, never row count), and the dense-spine exact-integer W1
    finisher scores the availableNow snapshot. Held verbatim to
    dq_wasserstein_drift's full SQL oracle (the *_live contract)."""
    from .mining_queries import ks_value_histogram, w1_from_value_hist
    hist = run_stream_to_memory(
        spark, table_path(sf_dir, "events"), ks_value_histogram,
        f"w1_drift_{_sanitize(sf_dir)}", output_mode="complete")
    return w1_from_value_hist(spark, hist)


@register("stream_ivm_join_live")
def stream_ivm_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental maintenance of a join view — the
    materialized-view-over-a-stream shape (Delta Live Tables /
    Materialize): order batches arrive as a file stream, each
    foreachBatch epoch joins ONLY its delta against the customer
    dim, aggregates to (segment, month) partials, and
    OVERWRITES its own batch=b partition slice (dynamic partition
    overwrite — a redelivered epoch replaces itself, the
    idempotency doctrine every foreachBatch sink here follows); the
    served view is the additive roll-up of the persisted partials.
    Shares maintenance_ivm_join_view's full-recompute oracle
    verbatim: one lost, duplicated, or double-merged epoch and the
    driver row goes red.

    Scale: each epoch pays delta x dim + a partial-sized write —
    the O(delta) refresh; the roll-up is (segment x month)-bounded.
    The dim join carries NO broadcast hint (r12 verdict task 5):
    a dim under autoBroadcastJoinThreshold broadcasts anyway, a
    100-TB-class one flips to sort-merge instead of OOMing on a
    hard-coded hint. Revenue partials stay DECIMAL until
    the final cast (exact, order-independent merge). The input is
    staged as 4 orderkey-sliced files so the stream genuinely spans
    multiple micro-batches at every SF (maxFilesPerTrigger=1). The
    probe's own staging write (coalesce(1) slices) is NOT the view
    refresh — _ivm_live_stage and _ivm_live_serve are split so the
    scale probe times them separately (r12 verdict task 6)."""
    _ivm_live_stage(spark, sf_dir)
    return _ivm_live_serve(spark, sf_dir)


def _ivm_live_stage(spark: SparkSession, sf_dir: str) -> str:
    """Probe-input staging for stream_ivm_join_live: write the 4
    orderkey-sliced parquet files and the watched symlink dir. This
    is test harness cost (a real deployment's batches ARRIVE), so
    the scale probe times it apart from the epochs."""
    import os
    import shutil

    from ..sinks import scratch_path
    tag = _sanitize(sf_dir)
    orders = read_table(spark, sf_dir, "orders")
    stage = scratch_path("ivm_live", tag)
    watch = os.path.join(stage, "watch")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(watch)
    for b in range(4):
        sl = os.path.join(stage, f"slice{b}")
        (orders.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == b)
         .coalesce(1).write.mode("overwrite").parquet(sl))
        for f in sorted(os.listdir(sl)):
            if not f.startswith(("_", ".")):
                os.symlink(os.path.join(sl, f),
                           os.path.join(watch, f"{b}_{f}"))
    return stage


def _ivm_live_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured part: drain the staged stream through the
    foreachBatch IVM epochs (fresh checkpoint per call) and serve
    the additive roll-up."""
    import os

    from ..sinks import scratch_path
    from ..streaming.windows import _checkpoint_dir, run_available_now
    tag = _sanitize(sf_dir)
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    stage = scratch_path("ivm_live", tag)
    watch = os.path.join(stage, "watch")
    view_dir = os.path.join(stage, "view")

    def apply_batch(bdf: DataFrame, bid: int) -> None:
        (bdf.join(cust, bdf["o_custkey"] == cust["c_custkey"])
         .groupBy(F.col("c_mktsegment").alias("segment"),
                  F.date_format("o_orderdate", "yyyy-MM")
                  .alias("order_month"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
              F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
              .cast("decimal(38,4)").alias("rev_dec"))
         .withColumn("batch", F.lit(int(bid)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch").parquet(view_dir))

    run_available_now(
        spark,
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1).parquet(watch)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", _checkpoint_dir(f"ivm_live{tag}")),
        "stream_ivm_join_live", 180)
    return (spark.read.parquet(view_dir)
            .groupBy("segment", "order_month")
            .agg(F.sum("n_orders").cast("bigint").alias("n_orders"),
                 F.sum("rev_dec").cast("double").alias("revenue"))
            .orderBy("segment", "order_month"))
