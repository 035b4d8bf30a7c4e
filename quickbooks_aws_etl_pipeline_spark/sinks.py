"""Sinks (SURVEY.md §2.1 S6-S9).

The reference's load path is Parquet-to-S3 (qb_bills.py:125-127) then
a 5-statement Redshift full refresh: CREATE temp -> COPY -> TRUNCATE
-> INSERT...SELECT -> DROP (qb_bills.py:130-169). In Spark the whole
sequence is one atomic-enough action:

- TRUNCATE + INSERT  ==  ``mode("overwrite").saveAsTable`` (S8)
- P&L append-without-truncate  ==  ``mode("append")`` (S9)
- the INSERT...SELECT cast layer runs in-plan *before* the write
  (functions.datetime_formats), not in the warehouse

Writes are distributed parquet (snappy); ``partition_by`` gives the
monthly-file layout of qb_profit&loss.py:129 as real partition
pruning on read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# scratch area inside the repo (nothing outside /root/repo is touched)
SCRATCH_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".scratch")


def scratch_path(*parts: str) -> str:
    return os.path.abspath(os.path.join(SCRATCH_DIR, *parts))


def sf_tag(sf_dir: str) -> str:
    """The SF dir's basename: keys that keep scratch state (written
    tables, indexes, snapshots) key it on this, so runs over
    differently named SF dirs never share state."""
    return os.path.basename(os.path.normpath(sf_dir)) or "sf"


def derby_jdbc_url(spark: SparkSession, db_dir: str) -> tuple[str, str]:
    """(url, driver) for an embedded Derby db under ``db_dir``, with
    ``derby.log`` routed into the scratch dir instead of the process
    CWD (repo-root hygiene). The system property must be set before
    Derby first boots in this JVM; every Derby-touching key goes
    through this helper, so the first boot always sees it (later
    calls are harmless no-ops)."""
    spark.sparkContext._jvm.java.lang.System.setProperty(  # type: ignore[union-attr]
        "derby.stream.error.file", scratch_path("derby.log"))
    return (f"jdbc:derby:{os.path.abspath(db_dir)};create=true",
            "org.apache.derby.jdbc.EmbeddedDriver")


def derby_drop_tables_like(spark: SparkSession, url: str,
                           pattern: str) -> list[str]:
    """DROP every table whose name matches the SQL LIKE ``pattern``
    (raw java.sql over the embedded driver — Spark's JDBC reader has
    no DDL path). Returns the dropped names. Used to clear STALE
    epoch staging tables before a streaming warehouse run: a rerun
    that batches into fewer epochs than a prior run in the same db
    would otherwise union the prior run's leftover tables into its
    read-back (the r9 ADVICE finding)."""
    jvm = spark.sparkContext._jvm  # type: ignore[union-attr]
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.createStatement().executeQuery(
            "SELECT TABLENAME FROM SYS.SYSTABLES "
            f"WHERE TABLENAME LIKE '{pattern}'")
        names = []
        while rs.next():
            names.append(rs.getString(1))
        for n in names:
            conn.createStatement().execute(f'DROP TABLE "{n}"')
        return names
    finally:
        conn.close()


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> str:
    """S6: parquet sink (s3a:// in prod, local path here)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return path


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> str:
    """S7: csv sink with header (qb_profit&loss.py:125)."""
    df.write.mode(mode).option("header", True).csv(path)
    return path


def overwrite_table(df: DataFrame, table: str, path: str | None = None) -> None:
    """S8: full-refresh load — the reference's TRUNCATE+INSERT pair as
    one atomic overwrite."""
    w = df.write.mode("overwrite")
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def append_table(df: DataFrame, table: str, path: str | None = None) -> None:
    """S9: append load (the P&L monthly append,
    qb_profit&loss.py:137-151 — no TRUNCATE between runs)."""
    w = df.write.mode("append")
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def merge_upsert(base: DataFrame, updates: DataFrame,
                 keys: list[str]) -> DataFrame:
    """SCD1 MERGE: rows from ``updates`` replace same-key rows in
    ``base``; everything else survives. ``updates UNION ALL (base
    ANTI JOIN updates)`` — the anti join is a broadcast when the delta
    is small (the common case), so at 100 TB the merge costs one scan
    of base plus a broadcast, never a full-table shuffle-and-rewrite.
    """
    untouched = base.join(updates.select(*keys).distinct(), keys, "left_anti")
    return updates.unionByName(untouched)


def read_back(spark: SparkSession, path: str, fmt: str = "parquet",
              schema=None) -> DataFrame:
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        return r.option("header", True).csv(path)
    return r.parquet(path)


def compact_parquet(spark: SparkSession, src: str, dst: str,
                    target_mb: int = 128) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~target_mb files. The operational fix for the classic 100 TB
    failure mode — millions of tiny files from over-parallel or
    incremental writes turn every scan into metadata churn. Returns
    the output file count."""
    import math
    total = sum(os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(src) for f in fs
                if f.endswith(".parquet"))
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    spark.read.parquet(src).repartition(n).write.mode("overwrite").parquet(dst)
    return n


def write_sorted_by(df: DataFrame, path: str, sort_cols: list[str],
                    partitions: int | None = None) -> str:
    """Layout-optimized write: range-partition + sort within files on
    the hot filter column(s), so parquet row-group min/max stats line
    up with query predicates and scans skip cold row groups. The
    cheap, portable cousin of Z-ordering for 1-2 filter columns."""
    out = df.repartitionByRange(*( [partitions] if partitions else [] ), *sort_cols) \
            .sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(path)
    return path


def merge_scd2(base: DataFrame, updates: DataFrame, keys: list[str],
               effective: str, valid_from_col: str = "valid_from",
               valid_to_col: str = "valid_to") -> DataFrame:
    """SCD2 history merge: changed keys get their *current* row
    (valid_to IS NULL) closed with valid_to = effective date and a new
    current row appended; untouched keys and already-closed history
    rows pass through byte-identical. Narrow branches of one base scan
    plus a semi/anti join on the (small) delta — no full-table rewrite
    of history, and repeated merges never touch rows closed by an
    earlier merge.
    """
    from pyspark.sql import functions as F
    key_only = updates.select(*keys).distinct()
    history = base.filter(F.col(valid_to_col).isNotNull())
    current = base.filter(F.col(valid_to_col).isNull())
    unchanged = current.join(key_only, keys, "left_anti")
    closed = (current.join(key_only, keys, "left_semi")
              .withColumn(valid_to_col, F.lit(effective)))
    opened = (updates
              .withColumn(valid_from_col, F.lit(effective))
              .withColumn(valid_to_col, F.lit(None).cast("string")))
    return history.unionByName(unchanged).unionByName(closed).unionByName(opened)
