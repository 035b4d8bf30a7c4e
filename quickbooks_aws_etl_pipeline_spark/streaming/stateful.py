"""Stateful Structured Streaming operators (SURVEY.md §2.10 north
star): watermarked stream dedup, arbitrary per-key state via
``applyInPandasWithState``, and the ``foreachBatch`` idempotent sink
pattern.

Scale stance: every operator here keeps bounded state. Dedup state
evicts beyond the watermark horizon; the per-user running aggregate
holds one tuple per key; foreachBatch writes are keyed by epoch so a
replayed batch overwrites its own output instead of duplicating it
(the exactly-once recipe for object-store sinks).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import exact_sum
from ..io import read_parquet
from .windows import _checkpoint_dir, run_available_now, staged_stream_reader


def dedup_within_watermark(events: DataFrame, keys: list[str],
                           watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup: duplicates arriving within the
    watermark horizon are dropped, state evicted beyond it — bounded
    memory at any throughput (the streaming tier of the dedup
    playbook in operators/dedup.py)."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys))


def user_running_totals(events: DataFrame) -> DataFrame:
    """Arbitrary stateful per-key aggregation via
    ``applyInPandasWithState``: one (count, decimal-sum) tuple of
    state per user, updated per micro-batch.

    The sum accumulates in DECIMAL(·,4) (as Python ``Decimal``) with
    HALF_UP rounding per element — the same quantization as
    ``functions.numeric.exact_sum`` — so the emitted total is
    bit-identical to the batch/oracle result regardless of
    micro-batch boundaries or arrival order.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdf_iter, state):
        from decimal import ROUND_HALF_UP, Decimal
        import pandas as pd
        q = Decimal("0.0001")
        if state.exists:
            n, s_str = state.get
            s = Decimal(s_str)
        else:
            n, s = 0, Decimal(0)
        for pdf in pdf_iter:
            n += len(pdf)
            for v in pdf["value"]:
                s += Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP)
        state.update((n, str(s)))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value": [float(s)]})

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, s string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)


def run_stream_foreach_batch_parquet(spark: SparkSession, events_path: str,
                                     query_name: str) -> DataFrame:
    """foreachBatch parquet sink, epoch-keyed for idempotent replay:
    batch b always (over)writes ``batch=b/`` — a redelivered epoch
    replaces its own files, never duplicates them. Returns the
    read-back of everything written."""
    out_dir = _checkpoint_dir(f"fb_out_{query_name}")

    stream = staged_stream_reader(spark, events_path, query_name)()

    def sink(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}"))

    run_available_now(
        spark,
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", _checkpoint_dir(query_name)),
        query_name, 120)
    return spark.read.parquet(out_dir)


def incdedup_epoch_pairs(spark: SparkSession, batch: DataFrame,
                         batch_id: int, idx_dir: str) -> DataFrame:
    """One epoch of the incremental-dedup loop, as a pure function of
    (batch contents, batch_id, index state below batch_id): the
    within-batch banded-LSH pairs unioned with the batch-vs-index
    probe against STRICTLY EARLIER epochs only. Reading the index
    through the ``batch=`` partition column and filtering
    ``batch < batch_id`` is what makes epoch redelivery idempotent —
    the foreachBatch sink writes the index contribution before the
    streaming checkpoint commits, so a retried epoch's index glob
    already contains its own prior write, and without the filter the
    cross probe would match the batch against itself (self-pairs,
    double-counted within-batch pairs). The ``id_new != id_corpus``
    guard additionally drops any same-doc pairing a corrupt index
    could induce. Pinned by
    tests/test_advanced_ops.py::test_incdedup_epoch_redelivery_idempotent.
    """
    import glob

    from ..operators.dedup import (incremental_minhash_matches,
                                   minhash_lsh_pairs)
    params = dict(num_hashes=16, bands=4, shingle_n=2,
                  jaccard_threshold=0.5)
    out = minhash_lsh_pairs(batch, "text", "doc_id", **params)
    if glob.glob(os.path.join(idx_dir, "batch=*")):
        # the base dir, with partition discovery: a glob path makes
        # Spark's sink-metadata probe log a FileNotFoundException
        index = (spark.read.parquet(idx_dir)
                 .filter(F.col("batch") < F.lit(batch_id))
                 .select("doc_id", "text"))
        both = (batch.withColumn("__new", F.lit(True))
                .unionByName(index.withColumn("__new", F.lit(False))))
        cross = (incremental_minhash_matches(
            both, "text", "doc_id", "__new", **params)
            .filter(F.col("id_new") != F.col("id_corpus"))
            .select(F.least("id_new", "id_corpus").alias("id_a"),
                    F.greatest("id_new", "id_corpus").alias("id_b"),
                    "jaccard"))
        out = out.unionByName(cross)
    return out


def run_stream_incremental_dedup(spark: SparkSession, docs: DataFrame,
                                 query_name: str,
                                 chunks: int = 4) -> DataFrame:
    """Continuous-ingest near-dup detection — the shape a crawl
    pipeline actually runs: the corpus arrives in micro-batches; each
    epoch finds (a) the near-dup pairs WITHIN the arriving batch
    (full banded-LSH tier) and (b) the pairs between the batch and
    everything already ingested (the batch-scaled
    ``incremental_minhash_matches`` probe against the accumulated
    index), then appends the batch to the index.

    Invariance theorem, and why this is oracle-checkable at all: a
    qualifying pair (i, j) is reported EXACTLY once — in the epoch
    where its later member arrives (cross tier) or in their shared
    epoch (within tier) — and both tiers compute the identical
    candidate predicate (same md5 shingle sets, same affine
    signatures, same band hashing) and the identical exact-Jaccard
    verify. So the union over epochs equals the FULL-CORPUS
    ``minhash_lsh_pairs`` result regardless of how the stream was
    batched, and the live run shares ``dedup_minhash_lsh``'s oracle
    SQL verbatim.

    Mechanics: the corpus is staged as ``chunks`` parquet files and
    streamed with maxFilesPerTrigger=1 (one epoch per file,
    availableNow). Both the per-epoch match output and the index
    contribution are written to ``batch=<epoch>/`` with
    mode=overwrite, so a redelivered epoch replaces its own files.
    Retry-idempotency needs one more guard: the index write lands
    BEFORE the streaming checkpoint commits, so a redelivered epoch's
    index glob already contains the epoch's own prior write — the
    cross probe would match the batch against itself (self-pairs at
    jaccard 1.0, within-batch pairs double-counted). The index read
    therefore surfaces the ``batch=`` path as a partition column
    (partition discovery on the index dir) and keeps only
    ``batch < batch_id`` — strictly earlier epochs — making the sink
    a pure function of (batch, batch_id) regardless of delivery count.
    """
    in_dir = _checkpoint_dir(f"incdedup_in_{query_name}")
    idx_dir = _checkpoint_dir(f"incdedup_idx_{query_name}")
    out_dir = _checkpoint_dir(f"incdedup_out_{query_name}")
    slim = docs.select("doc_id", "text")
    for c in range(chunks):
        (slim.filter(F.pmod(F.col("doc_id"), F.lit(chunks)) == c)
         .coalesce(1).write.mode("append").parquet(in_dir))

    schema = slim.schema

    def sink(batch_df, batch_id: int) -> None:
        batch = batch_df.localCheckpoint(eager=True)
        out = incdedup_epoch_pairs(spark, batch, batch_id, idx_dir)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}"))
        batch.write.mode("overwrite").parquet(
            os.path.join(idx_dir, f"batch={batch_id}"))

    run_available_now(
        spark,
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation",
                _checkpoint_dir(f"incdedup_ckpt_{query_name}")),
        query_name, 300)
    return (spark.read.parquet(out_dir)
            .select("id_a", "id_b", "jaccard"))


def _ensure_protobuf() -> bool:
    """Provision ``google.protobuf`` (no-install Cloud-SDK shim) in
    WHATEVER process calls this — driver, TWS driver worker, or
    executor python worker. See vendor_protobuf's docstring."""
    from ..vendor_protobuf import install
    return install()


def user_funnel_stages(events: DataFrame) -> DataFrame:
    """Per-user funnel STATE MACHINE via ``applyInPandasWithState``:
    state is the four unconditional per-type minimum timestamps
    (signup/view/click/purchase), and the strict-order stage is
    DERIVED from those mins at emission. Keeping raw mins (not the
    stage) makes the state update commutative and idempotent — events
    may arrive in any order across any micro-batch boundaries and the
    result still equals the batch derivation, which is what lets the
    streaming run share the batch oracle. State is four longs per
    user, bounded forever."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    _ORDER = {"signup": 0, "view": 1, "click": 2, "purchase": 3}

    def fn(key, pdf_iter, state):
        import pandas as pd
        mins = list(state.get) if state.exists else [-1, -1, -1, -1]
        for pdf in pdf_iter:
            for typ, ts in zip(pdf["event_type"], pdf["ts"]):
                i = _ORDER.get(typ)
                if i is None:
                    continue
                t = int(pd.Timestamp(ts).value)
                if mins[i] < 0 or t < mins[i]:
                    mins[i] = t
        state.update(tuple(mins))
        stage = 0
        if mins[0] >= 0:
            stage, prev = 1, mins[0]
            for i in (1, 2, 3):
                if mins[i] >= 0 and mins[i] > prev:
                    stage, prev = stage + 1, mins[i]
                else:
                    break
        yield pd.DataFrame({"user_id": [key[0]], "funnel_stage": [stage]})

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id bigint, funnel_stage int",
        stateStructType="t0 bigint, t1 bigint, t2 bigint, t3 bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)


def user_running_totals_tws(events: DataFrame) -> DataFrame:
    """The Spark-4 successor API for arbitrary stateful processing:
    ``transformWithStateInPandas`` with an explicit
    ``StatefulProcessor`` + typed ``ValueState`` — the same per-user
    (count, decimal-sum) semantics as :func:`user_running_totals`, so
    the two keys share one batch oracle and any drift between the
    legacy and new state APIs is oracle-visible.

    State is one (n, decimal-string) tuple per user (bounded); the
    sum quantizes per element with HALF_UP exactly like
    ``functions.numeric.exact_sum``, so emitted totals are
    bit-identical to the batch GROUP BY regardless of micro-batch
    slicing or arrival order.

    Protobuf provisioning: the TWS state protocol needs
    ``google.protobuf``, which this container lacks as an installed
    distribution; ``_ensure_protobuf`` shims it from the machine's
    relocated Cloud-SDK runtime. The shim must be live in THREE
    processes: this driver (call below), the TWS *driver worker*
    the JVM spawns for PRE_INIT/state-schema validation, and every
    executor python worker. The last two are covered by the
    processor's ``__setstate__`` — unpickling the UDF
    (worker.read_command) is the first Python that runs in both, and
    it happens before the API client's first lazy StateMessage_pb2
    import (PRE_INIT's ``set_handle_state`` fires BEFORE ``init``,
    so an init-time hook alone is too late — observed live).
    Where the shim cannot provision, callers see the same
    ImportError as before and the skip-gates keep the operator out.
    """
    _ensure_protobuf()
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class RunningTotals(StatefulProcessor):
        def __getstate__(self):
            # non-empty state dict => pickle always emits BUILD =>
            # __setstate__ runs in every unpickling process
            return {"__pb_shim__": True, **self.__dict__}

        def __setstate__(self, state):
            _ensure_protobuf()
            state.pop("__pb_shim__", None)
            self.__dict__.update(state)

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n bigint, s string")

        def handleInputRows(self, key, rows, timerValues):
            from decimal import ROUND_HALF_UP, Decimal
            import pandas as pd
            q = Decimal("0.0001")
            prev = self._totals.get()
            n, s = (prev[0], Decimal(prev[1])) if prev else (0, Decimal(0))
            for pdf in rows:
                n += len(pdf)
                for v in pdf["value"]:
                    s += Decimal(repr(float(v))).quantize(
                        q, rounding=ROUND_HALF_UP)
            self._totals.update((n, str(s)))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                                "sum_value": [float(s)]})

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        outputMode="Update",
        timeMode="None")


def run_stream_foreach_batch_jdbc(spark: SparkSession, events_path: str,
                                  query_name: str, db_dir: str) -> DataFrame:
    """foreachBatch WAREHOUSE load over the actual JDBC wire path
    (embedded Derby — see plans/sink_queries.sink_jdbc_roundtrip for
    why Derby stands in for the reference's Redshift endpoint):
    epoch b (over)writes its OWN staging table ``qb_stream_wh_b{b}``
    — mode("overwrite") drops and recreates it, so a redelivered
    epoch replaces its rows, never duplicates them (the
    staging-table-per-epoch exactly-once recipe; the parquet twin
    uses batch= directories the same way). Read-back discovers the
    epoch tables through the warehouse CATALOG
    (SYS.SYSTABLES — at deploy scale, the vendor's
    information_schema) and unions them. Stale epoch tables from a
    PRIOR run in the same db are dropped before the stream starts —
    a rerun that batches into fewer epochs would otherwise union the
    leftovers and inflate the result (r9 ADVICE)."""
    from ..sinks import derby_drop_tables_like, derby_jdbc_url
    url, drv = derby_jdbc_url(spark, db_dir)
    derby_drop_tables_like(spark, url, "QB_STREAM_WH_B%")

    stream = staged_stream_reader(spark, events_path, query_name)()

    def sink(batch_df, batch_id: int) -> None:
        (batch_df.select("event_id", "user_id", "value")
         .coalesce(2).write.mode("overwrite").format("jdbc")
         .option("url", url)
         .option("dbtable", f"qb_stream_wh_b{batch_id}")
         .option("driver", drv).save())

    run_available_now(
        spark,
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", _checkpoint_dir(query_name)),
        query_name, 120)
    tables = (spark.read.format("jdbc").option("url", url)
              .option("driver", drv)
              .option("query",
                      "SELECT TABLENAME FROM SYS.SYSTABLES "
                      "WHERE TABLENAME LIKE 'QB_STREAM_WH_B%'")
              .load().collect())
    if not tables:
        raise RuntimeError(
            f"stream {query_name!r} finished but wrote no epoch "
            f"staging tables into {db_dir!r} — empty events source "
            "or a foreachBatch sink failure")
    parts = [
        (spark.read.format("jdbc").option("url", url)
         .option("dbtable", r["TABLENAME"]).option("driver", drv).load()
         .select(F.col("EVENT_ID").alias("event_id"),
                 F.col("USER_ID").alias("user_id"),
                 F.col("VALUE").alias("value")))
        for r in tables]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def cdc_change_waves(orders: DataFrame) -> list[DataFrame]:
    """The deterministic three-wave change feed over ``orders``
    (o_orderkey, o_orderstatus, o_totalprice), one frame per seq:
    seq 1 inserts every key; seq 2 corrects the price of every 3rd
    key by +10%; seq 3 tombstones every 10th key. The oracle rebuilds
    the same feed in SQL."""
    ins = orders.select(
        "o_orderkey", F.lit(1).alias("seq"), F.lit("I").alias("op"),
        "o_orderstatus", "o_totalprice")
    upd = (orders.filter(F.col("o_orderkey") % 3 == 0)
           .select("o_orderkey", F.lit(2).alias("seq"),
                   F.lit("U").alias("op"), "o_orderstatus",
                   (F.col("o_totalprice") * 1.1).alias("o_totalprice")))
    dele = (orders.filter(F.col("o_orderkey") % 10 == 0)
            .select("o_orderkey", F.lit(3).alias("seq"),
                    F.lit("D").alias("op"), "o_orderstatus",
                    F.lit(None).cast("double").alias("o_totalprice")))
    return [ins, upd, dele]


def latest_change(v: Column | None = None) -> Column:
    """The per-key latest-version pick, ``v``: the (op, o_orderstatus,
    o_totalprice) struct of the max-seq change (or, when merging
    already-picked states, their ``v`` column). One map-side-combining
    ``max_by`` aggregate — never the row_number()-over-(key ORDER BY
    seq DESC) window a naive CDC materializer ships."""
    if v is None:
        v = F.struct("op", "o_orderstatus", "o_totalprice")
    return F.max_by(v, F.col("seq")).alias("v")


def cdc_rollup(state: DataFrame) -> DataFrame:
    """The surviving-state rollup per (o_orderstatus, op) of a
    per-key ``v`` state: tombstones drop AFTER the latest-version
    pick, so a delete genuinely erases earlier versions."""
    alive = (state.filter(F.col("v.op") != "D")
             .select("o_orderkey", F.col("v.op").alias("op"),
                     F.col("v.o_orderstatus").alias("o_orderstatus"),
                     F.col("v.o_totalprice").alias("o_totalprice")))
    return (alive.groupBy("o_orderstatus", "op")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 exact_sum(F.col("o_totalprice")).alias("sum_price")))


def run_stream_cdc_merge(spark: SparkSession, feed_path: str,
                         query_name: str, state_root: str) -> DataFrame:
    """Streaming CDC MERGE: each micro-batch of an (op, seq) change
    feed is merged into an epoch-VERSIONED state table — version b
    is computed from (latest version < b) UNION (batch b), keeping
    max-seq per key (:func:`latest_change`) — so a redelivered epoch
    overwrites its own version from the same parent and the merge is
    idempotent by construction (max_by over the same rows twice is a
    no-op). Versioned directories double as time travel; production
    systems call this the streaming upsert / CDC-merge pattern
    (Delta's MERGE INTO foreachBatch recipe, expressed on plain
    parquet). Returns the final state (latest version).
    Order-independent: max-seq wins regardless of micro-batch arrival
    order, so maxFilesPerTrigger-driven multi-epoch replay needs no
    ordering guarantee from the file source."""
    schema = read_parquet(spark, feed_path).schema
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", "1").parquet(feed_path)

    def versions() -> list[int]:
        if not os.path.isdir(state_root):
            return []
        return sorted(int(d.split("=")[1]) for d in os.listdir(state_root)
                      if d.startswith("v="))

    def sink(batch_df, batch_id: int) -> None:
        prior = [v for v in versions() if v < batch_id]
        merged = batch_df.groupBy("o_orderkey").agg(
            F.max("seq").alias("seq"), latest_change())
        if prior:
            prev = spark.read.parquet(
                os.path.join(state_root, f"v={prior[-1]}"))
            merged = (prev.select("o_orderkey", "seq", "v")
                      .unionByName(merged)
                      .groupBy("o_orderkey")
                      .agg(F.max("seq").alias("seq"),
                           latest_change(F.col("v"))))
        (merged.write.mode("overwrite")
         .parquet(os.path.join(state_root, f"v={batch_id}")))

    run_available_now(
        spark,
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", _checkpoint_dir(query_name)),
        query_name, 180)
    vs = versions()
    return spark.read.parquet(os.path.join(state_root, f"v={vs[-1]}"))
