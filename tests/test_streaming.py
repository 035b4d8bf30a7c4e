"""Streaming-mode tests (SURVEY.md §2.10): the same window transforms
must produce identical results under readStream as in batch, and the
watermarked stateful dedup must run as a real stream."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from quickbooks_aws_etl_pipeline_spark.io import read_table, table_path
from quickbooks_aws_etl_pipeline_spark.streaming.windows import (
    run_available_now, run_stream_to_memory, session_agg, sliding_agg,
    streaming_dedup_within_watermark, tumbling_agg)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, sf_smoke):
    batch = tumbling_agg(read_table(spark, sf_smoke, "events"), minutes=10)
    streamed = run_stream_to_memory(
        spark, table_path(sf_smoke, "events"),
        lambda ev: tumbling_agg(ev, minutes=10),
        query_name="t_tumbling_eq", output_mode="complete")
    assert _sorted_rows(streamed) == _sorted_rows(batch)


def test_session_stream_equals_batch(spark, sf_smoke):
    batch = session_agg(read_table(spark, sf_smoke, "events"), gap_minutes=5)
    streamed = run_stream_to_memory(
        spark, table_path(sf_smoke, "events"),
        lambda ev: session_agg(ev, gap_minutes=5),
        query_name="t_session_eq", watermark="1 hour",
        output_mode="complete")
    assert _sorted_rows(streamed) == _sorted_rows(batch)


def test_sliding_each_event_in_two_windows(spark, sf_smoke):
    ev = read_table(spark, sf_smoke, "events")
    agg = sliding_agg(ev, minutes=10, slide_minutes=5)
    total = agg.agg(F.sum("n_events")).first()[0]
    assert total == 2 * ev.count()


def test_streaming_dedup_within_watermark(spark, sf_smoke):
    """dropDuplicatesWithinWatermark as a live stream: duplicate
    user_id+event_type pairs within the horizon are dropped."""
    out = run_stream_to_memory(
        spark, table_path(sf_smoke, "events"),
        lambda ev: streaming_dedup_within_watermark(
            ev, ["user_id", "event_type"], "10 minutes"),
        query_name="t_dedup_wm", output_mode="append")
    ev = read_table(spark, sf_smoke, "events")
    distinct_pairs = ev.select("user_id", "event_type").distinct().count()
    n = out.count()
    # at least one survivor per distinct pair; dedup strictly shrinks
    assert distinct_pairs <= n < ev.count()


def test_transform_with_state_twin(spark, sf_smoke):
    """transformWithStateInPandas twin of the applyInPandasWithState
    operator — runs only where the TWS protobuf dependency exists."""
    import pytest
    from quickbooks_aws_etl_pipeline_spark.vendor_protobuf import install
    if not install():
        pytest.skip("google.protobuf unavailable and not provisionable: "
                    "TWS state server cannot start")
    from pyspark.sql import functions as F
    from quickbooks_aws_etl_pipeline_spark.io import table_path
    from quickbooks_aws_etl_pipeline_spark.streaming.stateful import \
        user_running_totals_tws
    from quickbooks_aws_etl_pipeline_spark.streaming.windows import \
        run_stream_to_memory
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try:
        out = run_stream_to_memory(
            spark, table_path(sf_smoke, "events"), user_running_totals_tws,
            query_name="tws_twin", watermark=None, output_mode="update")
        assert out.count() > 0
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_streaming_checkpoint_incremental_recovery(spark, sf_smoke, tmp_path):
    """Exactly-once source progress: a restarted query with the same
    checkpoint must process ONLY files that arrived since the last
    run — the property that makes incremental ingestion safe."""
    import os
    from pyspark.sql import functions as F
    from quickbooks_aws_etl_pipeline_spark.io import read_table

    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    ev = read_table(spark, sf_smoke, "events").select("event_id", "ts", "value")
    ev.filter(F.col("event_id") < 300).coalesce(1).write.parquet(src + "/batchA")

    seen: list[tuple[int, int]] = []

    def run_once():
        stream = (spark.readStream.schema(ev.schema)
                  .option("recursiveFileLookup", "true").parquet(src))
        run_available_now(
            spark,
            stream.writeStream
            .foreachBatch(lambda df, bid: seen.append((bid, df.count())))
            .option("checkpointLocation", ck),
            "t_incremental_recovery", 60)

    run_once()
    first_total = sum(n for _, n in seen)
    assert first_total == 300

    ev.filter((F.col("event_id") >= 300) & (F.col("event_id") < 450)) \
        .coalesce(1).write.parquet(src + "/batchB")
    run_once()
    second_total = sum(n for _, n in seen) - first_total
    assert second_total == 150  # only the new file, no reprocessing


def test_transform_with_state_totals_matches_batch(spark, sf_smoke):
    """Spark-4 transformWithStateInPandas twin of
    stream_stateful_user_totals: same decimal-quantized per-user
    totals, new StatefulProcessor + ValueState API. The TWS state
    server speaks protobuf between the JVM and the Python driver
    worker, so this can only run where google.protobuf is importable —
    including via the no-install Cloud-SDK shim
    (vendor_protobuf.install); see NOTES.md."""
    from quickbooks_aws_etl_pipeline_spark.vendor_protobuf import install
    if not install():
        pytest.skip("google.protobuf unavailable and not provisionable")
    from quickbooks_aws_etl_pipeline_spark.io import table_path
    from quickbooks_aws_etl_pipeline_spark.streaming.stateful import (
        user_running_totals_tws)
    from quickbooks_aws_etl_pipeline_spark.streaming.windows import (
        run_stream_to_memory)
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        out = run_stream_to_memory(
            spark, table_path(sf_smoke, "events"),
            user_running_totals_tws,
            query_name="tws_unit", watermark=None, output_mode="update")
        got = {r["user_id"]: (r["n_events"], r["sum_value"])
               for r in out.collect()}
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    from quickbooks_aws_etl_pipeline_spark.functions.numeric import exact_sum
    want = {r["user_id"]: (r["n"], r["s"])
            for r in read_table(spark, sf_smoke, "events").groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 exact_sum(F.col("value")).alias("s")).collect()}
    assert got == want


def test_protobuf_alias_future_imports_share_identity():
    """r7 advisory pin: google.protobuf submodules imported AFTER
    install() must be the SAME module objects as their cloudsdk
    twins (the meta-path finder, not just the install-time snapshot
    — a re-executed descriptor module under the canonical name is
    how isinstance checks silently break), and the runtime_version
    waiver must be scoped to pyspark-located gencode."""
    import sys

    from quickbooks_aws_etl_pipeline_spark.vendor_protobuf import install
    if not install():
        pytest.skip("google.protobuf unavailable and not provisionable")
    if "cloudsdk.google.protobuf" not in sys.modules:
        pytest.skip("real protobuf distribution installed; shim unused")

    # force a FUTURE import (not the install()-time snapshot path)
    sys.modules.pop("google.protobuf.text_format", None)
    import cloudsdk.google.protobuf.text_format as ctf
    import google.protobuf.text_format as tf
    assert tf is ctf
    # identity attributes survive the aliasing (no canonical rename)
    assert tf.__name__ == "cloudsdk.google.protobuf.text_format"

    rv = sys.modules["google.protobuf.runtime_version"]
    rv.ValidateProtobufRuntimeVersion(  # the audited TWS allowance
        rv.Domain.PUBLIC, 6, 33, 0, "",
        "org/apache/spark/sql/execution/streaming/StateMessage.proto")
    with pytest.raises(rv.VersionError):
        rv.ValidateProtobufRuntimeVersion(
            rv.Domain.PUBLIC, 6, 33, 0, "", "thirdparty/other_pb2.py")


def test_stream_stream_outer_join_emits_nulls_at_watermark(spark, sf_smoke):
    """The TRUE-streaming LEFT OUTER interval join must emit
    null-padded rows for unmatched purchases via the no-data
    watermark-advancing batch — if that finalization path broke, the
    sink would silently degrade to the inner join. On this corpus
    unmatched purchases dominate (views are sparse relative to the
    30-min lookback), so the sink must contain BOTH matched and
    null-padded rows, and the closed-region aggregate must equal the
    batch twin exactly."""
    from pyspark.sql import functions as F
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    from quickbooks_aws_etl_pipeline_spark.streaming.windows import (
        run_two_stream_join_to_memory)
    pairs = run_two_stream_join_to_memory(
        spark, table_path(sf_smoke, "events"),
        query_name="t_ss_outer_pin",
        watermark="10 minutes", how="leftOuter")
    n_null = pairs.filter(F.col("view_ts").isNull()).count()
    n_matched = pairs.filter(F.col("view_ts").isNotNull()).count()
    assert n_null > 0, "no null-padded rows: outer finalization broke"
    assert n_matched > 0, "no matched rows: join condition broke"
    live = _sorted_rows(
        QUERIES["stream_stream_join_outer_live"](spark, sf_smoke))
    batch = _sorted_rows(
        QUERIES["stream_stream_join_outer"](spark, sf_smoke))
    assert live == batch


# Registry keys that start a stream; each runs through run_available_now.
STREAM_KEYS = [
    "sink_python_stream_datasource", "source_qbo_stream_live",
    "stream_cdc_apply_live", "stream_dedup_incremental_live",
    "stream_dedup_watermark", "stream_drift_monitor_live",
    "stream_foreach_batch_sink", "stream_ivm_join_live",
    "stream_jdbc_warehouse_live", "stream_join_static_live",
    "stream_ks_drift_live", "stream_session_window_live",
    "stream_sliding_agg_live", "stream_sliding_topk_live",
    "stream_source_incremental_restart", "stream_stateful_funnel",
    "stream_stateful_totals_tws", "stream_stateful_user_totals",
    "stream_stream_join_full_live", "stream_stream_join_live",
    "stream_stream_join_outer_live", "stream_tumbling_agg_live",
    "stream_wasserstein_drift_live",
]

_PARTITIONS = "spark.sql.shuffle.partitions"


@pytest.fixture
def wide_shuffle(spark):
    """The session with shuffle.partitions=32, above the test
    master's 12 cores, so the runner's cap actually applies."""
    prev = spark.conf.get(_PARTITIONS)
    spark.conf.set(_PARTITIONS, "32")
    try:
        yield spark
    finally:
        spark.conf.set(_PARTITIONS, prev)


def test_available_now_caps_state_partitions_at_cores(
        wide_shuffle, sf_smoke, monkeypatch):
    """A stateful stream runs min(shuffle.partitions, cores) state
    partitions, matches its oracle, and leaves the session's value
    as it found it."""
    from quickbooks_aws_etl_pipeline_spark.plans import ORACLE, QUERIES
    from quickbooks_aws_etl_pipeline_spark.streaming import windows

    from .oracle_util import assert_matches_oracle

    spark = wide_shuffle
    started = []

    def recording(*args, **kwargs):
        started.append(run_available_now(*args, **kwargs))
        return started[-1]

    monkeypatch.setattr(windows, "run_available_now", recording)
    name = "stream_tumbling_agg_live"
    assert_matches_oracle(QUERIES[name](spark, sf_smoke), ORACLE[name],
                          sf_smoke, name)
    want = min(32, spark.sparkContext.defaultParallelism)
    assert want < 32
    [q] = started
    assert {op["numShufflePartitions"]
            for op in q.lastProgress["stateOperators"]} == {want}
    assert spark.conf.get(_PARTITIONS) == "32"


def test_available_now_restores_partitions_when_start_raises(
        wide_shuffle, tmp_path):
    """Complete mode over a stateless transform is rejected inside
    start(); the session's shuffle.partitions is restored anyway."""
    from pyspark.errors import AnalysisException

    spark = wide_shuffle
    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema("event_id bigint").parquet(str(src))
    writer = (stream.writeStream.format("memory")
              .queryName("t_complete_stateless").outputMode("complete")
              .option("checkpointLocation", str(tmp_path / "ck")))
    with pytest.raises(AnalysisException):
        run_available_now(spark, writer, "t_complete_stateless", 30)
    assert spark.conf.get(_PARTITIONS) == "32"


@pytest.mark.slow
@pytest.mark.parametrize(
    "name", [k for k in STREAM_KEYS if k != "stream_tumbling_agg_live"])
def test_stream_key_matches_oracle_with_capped_state_partitions(
        wide_shuffle, sf_smoke, name):
    """Every streaming key stays oracle-exact when the runner caps
    its state partitions (32 -> the master's cores)."""
    from quickbooks_aws_etl_pipeline_spark.plans import ORACLE, QUERIES

    from .oracle_util import assert_matches_oracle

    assert_matches_oracle(QUERIES[name](wide_shuffle, sf_smoke),
                          ORACLE[name], sf_smoke, name)
    assert wide_shuffle.conf.get(_PARTITIONS) == "32"


def test_every_stream_starts_through_run_available_now():
    """Spark-free code shape: the availableNow trigger and the await
    appear in the package only inside ``run_available_now``, so no
    stream can skip its state-partition cap or its timeout check;
    and no stream probes a parquet schema by inference."""
    import ast
    import pathlib
    import re

    import quickbooks_aws_etl_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    runner = root / "streaming" / "windows.py"
    fn = next(n for n in ast.parse(runner.read_text()).body
              if isinstance(n, ast.FunctionDef)
              and n.name == "run_available_now")
    hits = {"trigger(availableNow=True)": [], ".awaitTermination(": []}
    for path in sorted(root.rglob("*.py")):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for pattern, found in hits.items():
                if pattern in line:
                    found.append((path, lineno))
    for pattern, found in hits.items():
        assert len(found) == 1, (pattern, found)
        [(path, lineno)] = found
        assert path == runner and fn.lineno <= lineno <= fn.end_lineno, \
            (pattern, path, lineno)
    probe = re.compile(r"read\.parquet\([^)]*\)\s*\.schema")
    for path in sorted((root / "streaming").rglob("*.py")):
        assert not probe.search(path.read_text()), path
