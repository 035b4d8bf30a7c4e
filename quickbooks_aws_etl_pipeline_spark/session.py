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
    """Apply runtime-settable engine defaults to an existing session
    (used when the driver hands us its own SparkSession)."""
    conf = dict(ENGINE_CONF)
    if spark.sparkContext.master.startswith("local"):
        conf.update(LOCAL_TUNING)
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep going
    return spark
