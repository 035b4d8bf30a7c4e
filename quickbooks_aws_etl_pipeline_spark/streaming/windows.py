"""Structured Streaming surface (SURVEY.md §2.10).

The reference is batch-only; its monthly P&L loop
(qb_profit&loss.py:53-64) is time-partitioned batch. The engine adds
the streaming north star over the ``events`` table: tumbling /
sliding / session windows with watermarked late-data handling.

Every window aggregation is written as a plain DataFrame transform
usable in BOTH batch and streaming mode (same function, same plan) —
batch mode is what the DuckDB oracle checks; streaming mode is
exercised with file-source + availableNow + memory-sink round trips.

Output keys are epoch seconds (BIGINT) rather than window structs so
results are engine-portable.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..functions.numeric import exact_sum
from ..io import normalize_event_time, read_parquet


def tumbling_agg(events: DataFrame, minutes: int = 10) -> DataFrame:
    """Tumbling event-time windows, keyed by (window start, type)."""
    w = F.window("ts", f"{minutes} minutes")
    return (events
            .groupBy(w.alias("w"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 exact_sum(F.col("value")).alias("sum_value"))
            .select(F.col("w.start").cast("long").alias("bucket_start_epoch"),
                    "event_type", "n_events", "sum_value"))


def static_enrich_agg(events: DataFrame, dim: DataFrame,
                      key: str = "user_id", dim_key: str = "c_custkey",
                      seg_col: str = "c_mktsegment") -> DataFrame:
    """Stream-static enrichment: events joined to a static dimension
    (broadcast — in Structured Streaming the static side is re-read
    and broadcast per micro-batch, the canonical stateless stream
    enrichment), then aggregated per (segment, event_type)."""
    return (events
            .join(F.broadcast(dim), events[key] == dim[dim_key])
            .groupBy(F.col(seg_col).alias("segment"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 exact_sum(F.col("value")).alias("sum_value")))


def sliding_agg(events: DataFrame, minutes: int = 10, slide_minutes: int = 5) -> DataFrame:
    """Sliding windows — each event lands in size/slide windows."""
    w = F.window("ts", f"{minutes} minutes", f"{slide_minutes} minutes")
    return (events
            .groupBy(w.alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 exact_sum(F.col("value")).alias("sum_value"))
            .select(F.col("w.start").cast("long").alias("bucket_start_epoch"),
                    "n_events", "sum_value"))


def session_agg(events: DataFrame, gap_minutes: int = 5) -> DataFrame:
    """Session windows per user: a session closes after gap_minutes of
    inactivity; start == first event's timestamp (so the batch oracle
    is the classic gaps-and-islands rewrite)."""
    w = F.session_window("ts", f"{gap_minutes} minutes")
    return (events
            .groupBy(w.alias("w"), F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 exact_sum(F.col("value")).alias("sum_value"))
            .select("user_id",
                    F.col("w.start").cast("long").alias("session_start_epoch"),
                    "n_events", "sum_value"))


# --- true streaming runs ---------------------------------------------------

def _checkpoint_dir(name: str) -> str:
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    path = os.path.join(repo_root, ".scratch", "checkpoints", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def stage_stream_source(events_path: str, query_name: str) -> str:
    """Stage the (read-only) parquet input for the FILE STREAM source:
    a fresh watched directory under .scratch containing symlinks to
    the data. A single-file input links directly; a DIRECTORY input
    (Spark-written parquet with part files — every scale-probe
    dataset) links each data file FLAT into the watched dir, because
    the file stream source does NOT list files nested one level below
    the watched directory — found live when an sf2 probe stream read
    0 of 2,000,000 rows through a directory symlink while the batch
    reader saw all of them (round-10 session 2)."""
    src_dir = _checkpoint_dir(f"src_{query_name}")
    if os.path.isdir(events_path):
        for f in sorted(os.listdir(events_path)):
            if f.startswith(("_", ".")):
                continue  # _SUCCESS / hidden metadata
            entry = os.path.join(events_path, f)
            if os.path.isdir(entry):
                # A partition-structured input (ship_month=.../...)
                # would re-create the nested-listing 0-row bug this
                # staging exists to fix — fail loudly instead of
                # streaming nothing (r10 advice).
                raise ValueError(
                    f"stage_stream_source: {events_path!r} contains "
                    f"subdirectory {f!r}; the file stream source does "
                    "not list nested files — flatten (or read the "
                    "partitioned input in batch mode) instead")
            os.symlink(entry, os.path.join(src_dir, f))
    else:
        os.symlink(events_path,
                   os.path.join(src_dir, os.path.basename(events_path)))
    return src_dir


def run_available_now(spark: SparkSession, writer: DataStreamWriter,
                      name: str, timeout_sec: float) -> StreamingQuery:
    """Run ``writer`` once over everything available (availableNow),
    wait for it, stop it and return the stopped query, whose
    ``lastProgress`` stays readable. Every stream in the engine
    starts here.

    Spark turns AQE off for stateful micro-batches, so a stateful
    operator runs ``spark.sql.shuffle.partitions`` state-store tasks
    in every batch, most of them empty on a small input. The query
    starts with ``min(shuffle.partitions, defaultParallelism)``, which
    never raises the count. The session value is restored once
    ``start()`` returns or raises: the query runs on a clone of the
    session taken inside ``start()``, and the count is pinned in its
    offset log.

    On timeout the query is stopped and ``TimeoutError`` raised
    instead of handing back a silently partial sink.
    """
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(min(int(prev),
                                spark.sparkContext.defaultParallelism)))
    try:
        q = writer.trigger(availableNow=True).start()
    finally:
        spark.conf.set(key, prev)
    finished = q.awaitTermination(timeout_sec)
    q.stop()
    if not finished:
        raise TimeoutError(f"stream {name!r} did not finish in {timeout_sec}s")
    return q


def staged_stream_reader(spark: SparkSession, events_path: str,
                         query_name: str) -> Callable[[], DataFrame]:
    """Stage ``events_path`` once (:func:`stage_stream_source`) and
    return a reader: each call opens one more file stream over the
    staged directory, with the schema the batch reader infers (a
    stream cannot infer one) and the event time normalized
    (``io.normalize_event_time``). A stream-stream join calls it once
    per side."""
    schema = read_parquet(spark, events_path).schema
    src_dir = stage_stream_source(events_path, query_name)
    return lambda: normalize_event_time(
        spark.readStream.schema(schema).parquet(src_dir))


def run_stream_to_memory(spark: SparkSession, events_path: str,
                         transform, query_name: str,
                         watermark: str | None = None,
                         output_mode: str = "complete",
                         timeout_sec: int = 120) -> DataFrame:
    """File source -> transform -> memory sink with availableNow (one
    complete pass over the input, then stop). ``transform`` is the
    same batch function (tumbling_agg etc.) — identical plan in both
    modes."""
    stream = staged_stream_reader(spark, events_path, query_name)()
    if watermark:
        stream = stream.withWatermark("ts", watermark)
    return _drain_to_memory(spark, transform(stream), query_name,
                            output_mode, timeout_sec)


def _drain_to_memory(spark: SparkSession, out: DataFrame, query_name: str,
                     output_mode: str, timeout_sec: float) -> DataFrame:
    """Run the stream ``out`` into the memory table ``query_name``
    (fresh checkpoint, availableNow) and return that table."""
    run_available_now(
        spark,
        out.writeStream.format("memory").queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", _checkpoint_dir(query_name)),
        query_name, timeout_sec)
    return spark.table(query_name)


def streaming_dedup_within_watermark(events: DataFrame, keys: list[str],
                                     watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup: duplicates arriving within the
    watermark horizon are dropped, state is evicted beyond it —
    bounded memory at any throughput."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def interval_pair_join(views: DataFrame, purchases: DataFrame,
                       lookback_minutes: int = 30,
                       how: str = "inner") -> DataFrame:
    """Stream-stream (or batch-batch — same function, same plan)
    interval join: each purchase paired with the same user's view
    events in the preceding ``lookback_minutes``. Equi key on user_id
    with the event-time range as the residual condition — in
    streaming mode this is the canonical watermarked stream-stream
    join; in batch mode the identical plan is a join the oracle can
    check. The two-sided time condition bounds BOTH state stores
    (views to the lookback window, purchases to watermark expiry).

    ``how`` picks the preserved side; matched pairs are final the
    moment they are found in every mode:

    * ``"inner"`` — matched pairs only;
    * ``"leftOuter"`` — every PURCHASE emits: an unmatched one emits
      ONCE, null-padded, when the watermark passes its event time (no
      future view can have view_ts <= purchase_ts after that, so
      eviction and emission coincide);
    * ``"fullOuter"`` — unmatched VIEWS emit too, when the watermark
      passes view_ts + lookback (after that no future purchase can
      satisfy view_ts >= purchase_ts - lookback AND
      view_ts <= purchase_ts); their user_id comes from the view."""
    p = purchases.select(F.col("user_id"),
                         F.col("ts").alias("purchase_ts"),
                         F.col("event_id").alias("purchase_id"))
    v = views.select(F.col("user_id").alias("v_user"),
                     F.col("ts").alias("view_ts"),
                     F.col("value").alias("view_value"))
    cond = ((F.col("user_id") == F.col("v_user"))
            & (F.col("view_ts") <= F.col("purchase_ts"))
            & (F.col("view_ts")
               >= F.col("purchase_ts")
               - F.expr(f"INTERVAL {lookback_minutes} MINUTES")))
    user = (F.coalesce("user_id", "v_user").alias("user_id")
            if how == "fullOuter" else F.col("user_id"))
    return (p.join(v, cond, how)
            .select(user, "purchase_id", "purchase_ts",
                    "view_ts", "view_value"))


def attributed_outer_agg(pairs: DataFrame, cutoff: DataFrame,
                         lookback_minutes: int = 30) -> DataFrame:
    """Per-user attribution report over OUTER pairs (left or full),
    restricted to the CLOSED region (``cutoff`` is a 1-row broadcast
    frame with column ``__cutoff``): streaming outer results are only
    FINAL once the watermark passes a row's horizon,
    COALESCE(purchase_ts, view_ts + lookback) — the purchase's own
    time, or the last instant a future purchase could still match an
    orphan view — so the report is defined where batch and live modes
    provably agree, the horizon every production outer-join consumer
    must respect anyway. Unmatched purchases contribute zero pairs
    and a 0-decimal attributed value (COALESCE before the
    DECIMAL(18,4) exact sum, mirrored in the oracle);
    ``n_orphan_views`` counts the views no purchase attributed (the
    audience only a full outer join can see; 0 on left-outer pairs,
    whose purchase_id is never NULL, so those keys drop it).

    Two-phase aggregate instead of ``count_distinct`` (r14, same
    defect class as the ``sql_waiting_suppliers`` rewrite): the
    multi-count-distinct form compiles to a 3-way Expand that
    TRIPLES the pair rows before the first exchange; aggregating at
    (user, purchase) first then per user needs no Expand, and both
    phases' groupings are satisfied by a user_id hash partitioning —
    when the pair join shuffles on user_id at cluster scale, neither
    phase adds an exchange. A user's orphan views all land in its
    single NULL-purchase group, which ``F.count("purchase_id")`` then
    excludes from the purchase counts exactly as ``count_distinct``
    did. Decimal inner/outer sums keep ``exact_sum``'s bit-exact
    associativity, so the oracles are unchanged."""
    matched = (F.col("view_ts").isNotNull()
               & F.col("purchase_id").isNotNull())
    final_ts = F.coalesce(
        F.col("purchase_ts"),
        F.col("view_ts") + F.expr(f"INTERVAL {lookback_minutes} MINUTES"))
    per_purchase = (
        pairs.crossJoin(F.broadcast(cutoff))
        .filter(final_ts <= F.col("__cutoff"))
        .groupBy("user_id", "purchase_id")
        .agg(F.sum(F.when(matched, 1).otherwise(0)).cast("bigint")
             .alias("__pairs"),
             F.sum(F.when(F.col("purchase_id").isNull(), 1).otherwise(0))
             .cast("bigint").alias("__orphans"),
             F.sum(F.coalesce(F.when(matched, F.col("view_value")),
                              F.lit(0.0)).cast("decimal(18,4)"))
             .alias("__val")))
    return (per_purchase.groupBy("user_id")
            .agg(F.count("purchase_id").alias("n_purchases"),
                 F.count(F.when((F.col("__pairs") > 0)
                                & F.col("purchase_id").isNotNull(), 1))
                 .alias("n_matched_purchases"),
                 F.sum("__pairs").alias("n_view_pairs"),
                 F.sum("__orphans").alias("n_orphan_views"),
                 F.sum("__val").cast("double").alias("attributed_value")))


def attributed_purchase_agg(pairs: DataFrame) -> DataFrame:
    """Aggregate over the join pairs: per user, how many purchases
    had at least one attributable view and the total attributed view
    value. Runs BATCH-side in both modes (in the live key, on the
    memory-sink table the append-mode join produced) so the
    aggregation itself never depends on streaming output-mode
    finalization semantics. Two-phase (user, purchase) -> user
    aggregate instead of ``count_distinct`` — see
    :func:`attributed_outer_agg` for the Expand-avoidance rationale;
    inner pairs always carry a non-null purchase_id and view."""
    per_purchase = (pairs.groupBy("user_id", "purchase_id")
                    .agg(F.count(F.lit(1)).alias("__pairs"),
                         F.sum(F.col("view_value").cast("decimal(18,4)"))
                         .alias("__val")))
    return (per_purchase.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_attributed_purchases"),
                 F.sum("__pairs").alias("n_view_pairs"),
                 F.sum("__val").cast("double").alias("attributed_value")))


def run_two_stream_join_to_memory(spark: SparkSession, events_path: str,
                                  query_name: str,
                                  lookback_minutes: int = 30,
                                  watermark: str = "30 days",
                                  timeout_sec: int = 180,
                                  how: str = "inner") -> DataFrame:
    """TRUE stream-stream join execution: two file-source streams
    over the same staged events input (filtered to views /
    purchases), watermarked on both sides, joined by
    :func:`interval_pair_join` with ``how``, append-mode memory sink,
    availableNow trigger.

    Inner-join matches are emitted in the micro-batch that finds
    them (only state EVICTION waits on the watermark), so one
    availableNow pass over a single input file emits every pair and
    the sink table equals the batch join. The generous default
    watermark keeps state alive across micro-batch boundaries if the
    source ever splits the input; production deployments tighten it
    to the real lateness bound to cap state size.

    For ``how="leftOuter"``/``"fullOuter"`` the null-padded
    non-matches are emitted by the no-data micro-batch that advances
    the watermark after the last data batch, so callers must pass a
    TIGHT watermark (the default 30-day one would leave every
    unmatched row stuck in state at query end) and must consume only
    the closed region (attributed_outer_agg's cutoff)."""
    read = staged_stream_reader(spark, events_path, query_name)

    def side(event_type: str) -> DataFrame:
        return (read().filter(F.col("event_type") == event_type)
                .withWatermark("ts", watermark))

    pairs = interval_pair_join(side("view"), side("purchase"),
                               lookback_minutes, how)
    return _drain_to_memory(spark, pairs, query_name, "append", timeout_sec)
