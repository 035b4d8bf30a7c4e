"""Window-function operators (SURVEY.md §2.5).

Absent from the reference but required for capability parity with the
"detail rows + group context" report shape (A2). All orderings carry a
unique tie-break key so results are deterministic at any parallelism.

Scale: window partitioning shuffles once on the partition key; frames
evaluate within-partition with no further shuffle. Skewed partition
keys (one vendor with millions of rows) are the hazard — AQE skew
handling does not split window partitions, so partition keys must be
chosen with bounded cardinality per key.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def ordered_window(partition_by: list[str], order_by: list[Column | str]) -> WindowSpec:
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def with_row_number(df: DataFrame, partition_by: list[str],
                    order_by: list[Column | str], name: str = "rn") -> DataFrame:
    return df.withColumn(name, F.row_number().over(ordered_window(partition_by, order_by)))


def with_running_sum(df: DataFrame, value: Column, partition_by: list[str],
                     order_by: list[Column | str], name: str = "running_sum") -> DataFrame:
    """Cumulative sum; summand goes through DECIMAL so the prefix sums
    are exact and identical to any other engine's (see
    functions.numeric.exact_sum)."""
    w = (ordered_window(partition_by, order_by)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn(
        name, F.sum(value.cast("decimal(18,4)")).over(w).cast("double"))


def with_lag_lead(df: DataFrame, value: str, partition_by: list[str],
                  order_by: list[Column | str]) -> DataFrame:
    w = ordered_window(partition_by, order_by)
    return (df
            .withColumn(f"prev_{value}", F.lag(value, 1).over(w))
            .withColumn(f"next_{value}", F.lead(value, 1).over(w)))


def with_partition_sum(df: DataFrame, value: Column, partition_by: list[str],
                       name: str = "group_total") -> DataFrame:
    """A2's vendor-total-next-to-detail shape: unordered full-partition
    frame, decimal-exact."""
    w = Window.partitionBy(*partition_by)
    return df.withColumn(
        name, F.sum(value.cast("decimal(18,4)")).over(w).cast("double"))


def ewma_weights(alpha: float = 0.3, k: int = 8) -> list[float]:
    """Truncated-EWMA lag weights alpha*(1-alpha)^j, j = 0..k-1 —
    generated once in Python and embedded as identical literals in
    the Spark plan AND the oracle SQL (the shared-constant pattern),
    so the smoothing arithmetic is bit-identical across engines."""
    return [alpha * (1.0 - alpha) ** j for j in range(k)]


def bit_length(col: Column) -> Column:
    """Bit length of a positive integer: an exact bucket key, monotone
    in the value (no double log near an ordering decision), with at
    most 64 distinct buckets."""
    return F.length(F.conv(col.cast("string"), 10, 2)).cast("int")


def bucketed_cumsum(frame: DataFrame, bucket: Column,
                    order: Sequence[Column | str],
                    values: Sequence[str] = (),
                    partition_by: Sequence[str] = (),
                    stop_at: Callable[[tuple[int, ...]], int] | None = None
                    ) -> tuple[DataFrame, tuple[int, ...]]:
    """Global running totals without an un-partitioned window (which
    Spark runs on ONE task): the distributed-histogram cumulative.

    ``bucket`` must be monotone non-decreasing in ``order`` within
    each ``partition_by`` group, so bucket order == row order; a
    caller ranking descending negates its bucket. Then:

    1. the bucketed frame is localCheckpoint'ed, so the histogram
       pass and the window pass share one scan of the input;
    2. ONE collect brings the per-(partition, bucket) totals to the
       driver (histogram-sized, never data), which prefix-sums them
       over the buckets actually present, ascending, NULL first —
       every row's bucket gets an offset, so none is dropped;
    3. the offsets broadcast back through a NULL-safe join (key types
       taken from the frame's schema; a join, not a literal lookup,
       since ~10^4 inlined literals stop compiling) and (partition,
       bucket)-partitioned windows add them to the in-bucket running
       totals.

    Adds ``cum_rows`` (the 1-based global row position) and one
    ``cum_<v>`` per name in ``values`` (inclusive running sum of that
    integer column). ``order`` should be unique within a bucket; tied
    rows are ranked in an arbitrary order. ``stop_at`` maps the totals
    to a cut: every bucket whose offset on the first value (the row
    count when there is none) has reached it is pruned on the driver,
    so pruned buckets never reach a window.

    Returns the frame and the grand totals — one per value, then the
    row count — over every partition and bucket, pruned ones included.
    """
    keys = [*partition_by, "__bucket"]
    keyed = frame.withColumn("__bucket", bucket).localCheckpoint(eager=True)
    sums = ([F.sum(v).alias(f"__s{i}") for i, v in enumerate(values)]
            + [F.count(F.lit(1)).alias(f"__s{len(values)}")])
    hist = keyed.groupBy(*keys).agg(*sums)
    per_b = [(tuple(r[:len(keys)]), [s or 0 for s in r[len(keys):]])
             for r in hist.collect()]
    totals = tuple(sum(s[i] for _k, s in per_b) for i in range(len(sums)))
    stop = stop_at(totals) if stop_at else None
    rows, acc = [], {}
    for key, s in sorted(per_b, key=lambda t: [(v is not None, v)
                                               for v in t[0]]):
        run = acc.setdefault(key[:-1], [0] * len(sums))
        if stop is not None and run[0] >= stop:
            continue
        rows.append((*key, *run))
        acc[key[:-1]] = [a + x for a, x in zip(run, s)]
    off = frame.sparkSession.createDataFrame(rows, StructType(
        [StructField(f"__k{i}", keyed.schema[c].dataType)
         for i, c in enumerate(keys)]
        + [StructField(f"__offset{i}", hist.schema[f"__s{i}"].dataType)
           for i in range(len(sums))]))
    joined = keyed.join(F.broadcast(off), reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col(f"__k{i}")) for i, c in enumerate(keys)]))
    w = (Window.partitionBy(*keys).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    running = {f"cum_{v}": F.sum(v).over(w) + F.col(f"__offset{i}")
               for i, v in enumerate(values)}
    running["cum_rows"] = (F.row_number().over(w)
                           + F.col(f"__offset{len(values)}"))
    return joined.withColumns(running).drop("__bucket", *off.columns), totals
