"""Pins for the session's driver-cost settings (session.ENGINE_CONF):
the codegen cache holds a session's working set, PySpark's per-call
call-site capture is off, and apply_engine_conf skips static entries
and raises on any other failure."""

from __future__ import annotations

import pytest
from pyspark.errors.utils import is_debugging_enabled

from perfbench.workloads import WORKLOADS
from quickbooks_aws_etl_pipeline_spark import session
from quickbooks_aws_etl_pipeline_spark.plans import QUERIES

_STATIC = ("spark.sql.codegen.cache.maxEntries",
           "spark.python.sql.dataFrameDebugging.enabled")


def _runtime_snapshot(spark) -> dict[str, str | None]:
    keys = {**session.ENGINE_CONF, **session.LOCAL_TUNING}
    return {k: spark.conf.get(k, None) for k in keys
            if spark.conf.isModifiable(k)}


def _restore(spark, snap: dict[str, str | None]) -> None:
    for k, v in snap.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_static_entries_reach_a_get_spark_session(spark):
    for k in _STATIC:
        assert not spark.conf.isModifiable(k)
        assert spark.conf.get(k) == session.ENGINE_CONF[k]
    assert is_debugging_enabled() is False


def test_apply_engine_conf_skips_static_entries(spark):
    snap = _runtime_snapshot(spark)
    static = {k: spark.conf.get(k) for k in _STATIC}
    try:
        assert session.apply_engine_conf(spark) is spark
        assert {k: spark.conf.get(k) for k in _STATIC} == static
        assert (spark.conf.get("spark.sql.ansi.enabled")
                == session.ENGINE_CONF["spark.sql.ansi.enabled"])
    finally:
        _restore(spark, snap)


def test_apply_engine_conf_raises_on_a_bad_runtime_entry(spark,
                                                         monkeypatch):
    monkeypatch.setitem(session.ENGINE_CONF,
                        "spark.sql.shuffle.partitions", "not-a-number")
    snap = _runtime_snapshot(spark)
    try:
        with pytest.raises(Exception, match="shuffle.partitions"):
            session.apply_engine_conf(spark)
    finally:
        _restore(spark, snap)


def test_curation_keys_recompile_nothing_on_a_second_pass(spark, sf_smoke):
    # At the default 100-entry cap one pass of these keys (~121
    # generated classes) evicted every class before its reuse, so
    # each pass recompiled about 120 of them. (The first pass may
    # compile nothing new here: earlier tests can have built the same
    # plans in this session.)
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    counts = []
    for _ in range(2):
        before = compiles.getCount()
        for key in WORKLOADS["curation_rounds"].keys:
            (QUERIES[key](spark, sf_smoke)
             .write.format("noop").mode("overwrite").save())
        counts.append(compiles.getCount() - before)
    assert counts[1] == 0, counts
