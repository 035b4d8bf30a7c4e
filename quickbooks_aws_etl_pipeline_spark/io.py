"""Table readers over the driver-generated parquet testdata.

TESTDATA.md: one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``. Reading is a plain
parquet scan — Catalyst handles column pruning and filter
pushdown into the scan (SURVEY.md §4), which is the Spark-native
replacement for the reference's hand-rolled ``selected_columns``
projection (qb_bills.py:72-89) and server-side date-range params
(qb_transactionlist.py:54-57).

Each file's schema is inferred once per session and file stamp
(:func:`read_parquet`): inference is a Spark job per read, and a
refresh reads the same unchanged tables over and over.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# dimension tables small enough to broadcast at every scale factor
BROADCAST_DIMS = {"region", "nation", "supplier", "part"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# session -> absolute path -> (file stamp, inferred schema). Weak in
# the session, so a session's entries go with it; two threads racing
# on one path only infer its schema twice.
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple, StructType]]] = weakref.WeakKeyDictionary()


def _stamp(path: str) -> tuple:
    """(path, mtime_ns, size) of ``path`` and, for a directory, of
    every entry below it: any rewrite, added or removed part file
    changes the stamp."""
    paths = [path]
    if os.path.isdir(path):
        paths += sorted(os.path.join(root, n)
                        for root, dirs, files in os.walk(path)
                        for n in dirs + files)
    return tuple((p, st.st_mtime_ns, st.st_size)
                 for p, st in ((p, os.stat(p)) for p in paths))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    (session, absolute path) and file stamp, then passed back with
    ``.schema()``, which skips the inference job. The file index is
    still built on every call, so a rewritten table is never read
    stale. Paths that are not local files (object-store URIs) are
    read without the memo."""
    local = os.path.abspath(path)
    try:
        stamp = _stamp(local)
    except OSError:
        return spark.read.parquet(path)
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(local)
    if hit is None or hit[0] != stamp:
        hit = memo[local] = (stamp, spark.read.parquet(path).schema)
    return spark.read.schema(hit[1]).parquet(path)


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events ``ts`` column to session-TZ TIMESTAMP
    regardless of how the parquet encodes it. Generations of the
    testdata have shipped it as TIMESTAMP(NANOS) (readable only as
    long nanos via spark.sql.legacy.parquet.nanosAsLong — truncate to
    micros with integer division; double division would lose
    precision at 1e18-scale nanos) and as TIMESTAMP_NTZ (timestamp[us]
    without UTC adjustment — cast to TIMESTAMP, a no-op on values
    because the session timezone is pinned to UTC, matching DuckDB's
    naive-UTC reading). Watermarks/windows require TIMESTAMP, so every
    events read funnels through here."""
    from pyspark.sql import functions as F
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (SURVEY.md §2.1 S2 `scan_parquet`)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        df = normalize_event_time(df)
    return df


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition up to the session's core count when the scan
    produced fewer partitions — a single small parquet file otherwise
    serializes every downstream CPU-heavy map (md5 shingling, vector
    math) onto one core. At 100 TB this is a no-op: the scan already
    has thousands of splits, so no shuffle is added.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_table(spark, sf_dir, t) for t in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a SQL view so ``spark.sql`` queries can
    mirror the oracle SQL verbatim when convenient."""
    for t in TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
