"""SparkSession factory.

Engine-wide execution defaults (SURVEY.md §4, BASELINE.md):

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching replace any
  hand-tuned partition counts. At 100 TB on a real cluster the same
  plan re-partitions itself per-stage instead of inheriting a fixed
  ``shuffle.partitions``.
- ``spark.sql.ansi.enabled=false``: the reference's cast semantics are
  coerce-to-NULL (``pd.to_numeric(errors='coerce')``,
  qb_transactionlist.py:93) — non-ANSI Spark casts match that.
- UTC session timezone so timestamp values round-trip identically
  between Spark, Parquet, and the DuckDB oracle.
- Arrow enabled for every pandas-UDF / toPandas boundary.

Two entries cut the driver work that every plan build repeats:

- ``spark.sql.codegen.cache.maxEntries=4096``: the whole-stage codegen
  cache is JVM-wide and LRU, 100 classes by default. One pass of the
  perfbench ``curation_rounds`` keys generates about 121 distinct
  classes and the 60 ``bench.HEADLINE`` keys about 1,400, so at 100
  every class was evicted before its next use and recompiled (Janino,
  then the JIT again) on every pass: 119-122 compiles per steady-state
  ``curation_rounds`` pass, 0 with this cap. The cost is metaspace for
  the cached classes: 178 -> 189 MB after two headline sweeps at
  sf0.001. Entries hold no data.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark 4
  otherwise captures the Python call site on every DataFrame/Column
  API call — a stack walk plus about four py4j round trips each
  (``curate_domain_caps``'s build: 580 round trips with it, 240
  without). The cost: an error's DataFrame query context loses the
  Python call-site line. Errors still raise, with the same class and
  message. PySpark reads the switch once per process, from the session
  active at the first API call.

Both are static: they take effect only when :func:`get_spark` creates
the session (the first one in its JVM / Python process);
:func:`apply_engine_conf` cannot set them on a running session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # local-mode default; on a cluster AQE coalesces upward/downward.
    # Stateful streams are the exception: AQE is off for stateful
    # micro-batches, so streaming.windows.run_available_now starts
    # them with min(shuffle.partitions, cores) state partitions
    "spark.sql.shuffle.partitions": "32",
    # tiny dims (region=5, nation=25, supplier/part small) must
    # broadcast; 64MB leaves headroom for customer at larger SFs
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # events.ts is parquet TIMESTAMP(NANOS) which Spark cannot read as
    # a timestamp; read as long and convert in io.read_table
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # static: see the module docstring
    "spark.sql.codegen.cache.maxEntries": "4096",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# Local-mode-only tuning: the testdata tables are single ~1-10 MB
# parquet files, so the cluster default split size (128 MB) yields
# one-partition scans that serialize every map onto one core. 4 MB
# splits put all local cores to work. NOT applied on a real cluster
# master — at 100 TB you want the large default (fewer, fuller tasks);
# input parallelism there comes from thousands of natural file splits.
LOCAL_TUNING: dict[str, str] = {
    "spark.sql.files.maxPartitionBytes": "4m",
}


def get_spark(app_name: str = "quickbooks-aws-etl-pipeline-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    resolved_master = master or f"local[{cpus}]"
    builder = builder.master(resolved_master)
    conf = dict(ENGINE_CONF)
    if resolved_master.startswith("local"):
        conf.update(LOCAL_TUNING)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine defaults to an existing
    session (used when the driver hands us its own SparkSession).

    Static entries (``spark.conf.isModifiable`` is False) are skipped:
    the codegen cache cap and the call-site switch take effect only
    through :func:`get_spark`. Any other failure to set an entry
    raises."""
    conf = dict(ENGINE_CONF)
    if spark.sparkContext.master.startswith("local"):
        conf.update(LOCAL_TUNING)
    for k, v in conf.items():
        if spark.conf.isModifiable(k):
            spark.conf.set(k, v)
    return spark
