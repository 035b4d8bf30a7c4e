"""Advanced-capability Qkeys: as-of / range / salted joins, skew-safe
two-phase aggregation, deterministic splits & samples, pivot,
grouping-sets closure, exact percentiles, SCD1 merge, bucketed
co-located joins, and the remaining window-function surface.

None of these exist in the reference (SURVEY.md §2.3 "no joins
locally"; §2.5 "no windows") — they are the capability closure a
100 TB analytics / training-data engine needs, built Spark-first and
oracle-checked like everything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import exact_sum
from ..io import read_table
from ..operators.advanced_joins import (asof_join, range_join, salted_join,
                                        two_phase_agg)
from ..operators.sampling import stratified_hash_sample, train_test_split
from ..sinks import merge_upsert, scratch_path, sf_tag
from .queries import register


# --- advanced joins --------------------------------------------------------

@register("join_asof")
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: each purchase event joined to the user's
    most recent prior-or-simultaneous view event. Union-window
    formulation — one shuffle on user_id, no range nested loop
    (operators/advanced_joins.py::asof_join)."""
    ev = read_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts", "value"))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "ts", "value"))
    return asof_join(purchases, views, key="user_id",
                     left_ts="ts", right_ts="ts", right_vals=["value"])


@register("join_range_bands")
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: orders against broadcast price bands [lo, hi) —
    BroadcastNestedLoopJoin over a k-row band table, zero shuffle
    before the final aggregate."""
    bands = spark.createDataFrame(
        [(f"band_{i}", float(i) * 100000.0, float(i + 1) * 100000.0)
         for i in range(6)],
        "band_name string, lo double, hi double")
    orders = read_table(spark, sf_dir, "orders")
    joined = range_join(orders, bands, F.col("o_totalprice"),
                        F.col("lo"), F.col("hi"))
    return (joined.groupBy("band_name")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 exact_sum(F.col("o_totalprice")).alias("band_total")))


@register("join_salted_skew")
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi join: lineitem's hot orderkeys split across
    8 deterministic salts, orders replicated 8x on the other side —
    result is identical to the plain join (the oracle computes the
    plain join), but no single reducer ever sees a whole hot key."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    orders = (read_table(spark, sf_dir, "orders")
              .select(F.col("o_orderkey").alias("l_orderkey"),
                      "o_orderpriority"))
    joined = salted_join(li, orders, "l_orderkey",
                         salts=8, salt_source="l_linenumber")
    return (joined.groupBy("o_orderpriority")
            .agg(exact_sum(F.col("l_extendedprice")
                           * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


@register("agg_two_phase_salted")
def agg_two_phase_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-key aggregation in two shuffles (partial by (key, salt),
    final by key) — exact because the partials are algebraic and the
    sums run in DECIMAL. Equal to the direct group-by, which is what
    the oracle runs."""
    li = read_table(spark, sf_dir, "lineitem")
    out = two_phase_agg(
        li, ["l_returnflag"], F.col("l_orderkey"),
        {
            "sum_qty_dec": F.sum(F.col("l_quantity").cast("decimal(18,4)")),
            "n_rows": F.count(F.lit(1)),
            "min_ship": F.min("l_shipdate"),
            "max_ship": F.max("l_shipdate"),
        },
        salts=16)
    return out.select(
        "l_returnflag",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        F.col("n_rows").alias("n_rows"),
        "min_ship", "max_ship")


@register("join_bucketed_colocated")
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables written bucketed on
    the join key (8 buckets), so the join reads bucket-aligned files
    and needs NO shuffle on either side — the 100 TB recipe for a
    repeatedly-joined fact pair. Oracle joins the originals (the
    bucketed round trip must be lossless)."""
    tag = sf_tag(sf_dir).replace(".", "_")
    li_tbl, ord_tbl = f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus")
    (li.write.mode("overwrite")
       .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .option("path", scratch_path("tables", li_tbl))
       .saveAsTable(li_tbl))
    (orders.write.mode("overwrite")
       .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .option("path", scratch_path("tables", ord_tbl))
       .saveAsTable(ord_tbl))
    joined = spark.table(li_tbl).join(
        spark.table(ord_tbl),
        F.col("l_orderkey") == F.col("o_orderkey"))
    return (joined.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 exact_sum(F.col("l_extendedprice")).alias("total_price")))


# --- deterministic splits / samples ---------------------------------------

@register("split_train_test")
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-stable 80/10/10 train/valid/test split of documents —
    membership is a pure function of doc_id (md5 bucket), so re-runs
    and retries never migrate a document across splits."""
    docs = read_table(spark, sf_dir, "documents")
    out = train_test_split(docs, "doc_id", train_pct=80, valid_pct=10)
    return (out.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars")))


@register("sample_stratified_hash")
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% per-language sample of documents; the hash
    mixes the stratum so each language draws independently."""
    docs = read_table(spark, sf_dir, "documents")
    return (stratified_hash_sample(docs, "doc_id", "lang", keep_1_in=4)
            .select("doc_id", "lang", "source"))


# --- reshaping / grouping-set closure -------------------------------------

PIVOT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE",
                  "HOUSEHOLD", "MACHINERY"]


@register("pivot_segment_revenue")
def pivot_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide reshape: revenue per order-year x market segment. Pivot
    values are declared (no extra distinct-scan job); one shuffle."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    return (orders
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy(F.year("o_orderdate").alias("order_year"))
            .pivot("c_mktsegment", PIVOT_SEGMENTS)
            .agg(exact_sum(F.col("o_totalprice"))))


@register("agg_cube_grouping")
def agg_cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping sets in one
    pass, null grouping slots relabelled '(All)' — the P&L Summary-row
    semantics (SURVEY.md A1) generalized to the full lattice."""
    orders = read_table(spark, sf_dir, "orders")
    return (orders
            .cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 exact_sum(F.col("o_totalprice")).alias("total_amount"))
            .select(
                F.coalesce("o_orderstatus", F.lit("(All)")).alias("order_status"),
                F.coalesce("o_orderpriority", F.lit("(All)")).alias("order_priority"),
                "n_orders", "total_amount"))


@register("agg_percentiles")
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``) per return flag; the approx companion
    (percentile_approx / HLL) stays rows-only like agg_approx_distinct."""
    li = read_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(
                F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("q25_qty"),
                F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
                F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("q75_qty"),
                F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price")))


@register("agg_approx_percentile")
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch closure, oracle-checked by construction (same pattern
    as agg_approx_distinct): emit the exact interpolated percentiles
    plus booleans asserting the KLL/GK approx_percentile value lands
    between the exact quantiles at q +/- 0.01 rank tolerance — a
    100x margin over the sketch's 1e-4 rank error at accuracy 10000.
    The oracle computes the exact values and literal TRUE."""
    li = read_table(spark, sf_dir, "lineitem")

    def within(q: float):
        lo = F.expr(f"percentile(l_extendedprice, {q - 0.01})")
        hi = F.expr(f"percentile(l_extendedprice, {q + 0.01})")
        ap = F.expr(f"approx_percentile(l_extendedprice, {q}, 10000)")
        return (ap >= lo) & (ap <= hi)

    return li.agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6)
        .alias("exact_p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6)
        .alias("exact_p95"),
        within(0.5).alias("p50_within_rank_tol"),
        within(0.95).alias("p95_within_rank_tol"))


@register("window_ntile_cume")
def window_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 closure: ntile / percent_rank / cume_dist per segment with
    a unique tie-break (c_custkey) for cross-engine determinism."""
    customer = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return customer.select(
        "c_mktsegment", "c_custkey", "c_acctbal",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"))


# --- SCD1 merge ------------------------------------------------------------

@register("merge_upsert_scd1")
def merge_upsert_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert (the engine-side replacement for the
    reference's TRUNCATE+INSERT full refresh, qb_bills.py:130-169,
    when only a delta arrives): updates win by key, untouched base
    rows survive via anti join — two shuffles, no full rewrite of
    unchanged partitions."""
    base = (read_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .withColumn("version", F.lit(1)))
    updates = (base.filter(F.col("o_orderkey") % 7 == 0)
               .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
               .withColumn("version", F.lit(2)))
    merged = merge_upsert(base, updates, ["o_orderkey"])
    return (merged.groupBy("version")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 exact_sum(F.col("o_totalprice")).alias("total_amount")))


@register("merge_upsert_scd2")
def merge_upsert_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history merge: price changes close the current row and
    open a dated new one; history row counts and sums are the check."""
    from ..sinks import merge_scd2
    base = (read_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice")
            .withColumn("valid_from", F.lit("2024-01-01"))
            .withColumn("valid_to", F.lit(None).cast("string")))
    updates = (read_table(spark, sf_dir, "orders")
               .filter(F.col("o_orderkey") % 11 == 0)
               .select("o_orderkey",
                       (F.col("o_totalprice") * 1.05).alias("o_totalprice")))
    hist = merge_scd2(base, updates, ["o_orderkey"], "2024-06-01")
    return (hist.groupBy("valid_from",
                         F.col("valid_to").isNull().alias("is_current"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 exact_sum(F.col("o_totalprice")).alias("total_amount")))


@register("unpivot_melt")
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long reshape (the inverse of pivot_segment_revenue):
    DataFrame.unpivot keeps the year x segment grid including empty
    cells — one narrow map, no shuffle beyond the pivot's own."""
    wide = pivot_segment_revenue(spark, sf_dir)
    return wide.unpivot("order_year", PIVOT_SEGMENTS,
                        "mktsegment", "revenue")


@register("transform_transpose")
def transform_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 DataFrame.transpose: flip a bounded metrics-by-segment
    summary so each metric becomes a row and each segment a column —
    the report-layout pivot (only ever applied to AGGREGATE-sized
    frames; transposing data-sized frames is definitionally
    driver-bound). Metrics are integer cents / counts so the
    transposed cells compare exactly."""
    cust = read_table(spark, sf_dir, "customer")
    summary = (cust.groupBy("c_mktsegment")
               .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
                    F.sum(F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
                          .cast("bigint")).alias("bal_cents"))
               .orderBy("c_mktsegment"))
    return summary.transpose(F.col("c_mktsegment"))


@register("udf_grouped_apply_in_arrow")
def udf_grouped_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 applyInArrow: per-group Python running directly on
    Arrow tables (no pandas materialization — the zero-copy grouped
    UDF path). Per market segment the batch computes count and an
    integer-cents balance total with pyarrow.compute, so the result
    is exact and the oracle is plain SQL. One shuffle on the group
    key, Arrow both ways."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cust = read_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint").alias("cents"))

    def seg_stats(table: pa.Table) -> pa.Table:
        seg = table.column("c_mktsegment")[0].as_py()
        cents = table.column("cents")
        return pa.table({
            "c_mktsegment": pa.array([seg], pa.string()),
            "n_customers": pa.array([table.num_rows], pa.int64()),
            "bal_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
        })

    return (cust.groupBy("c_mktsegment")
            .applyInArrow(seg_stats,
                          "c_mktsegment string, n_customers bigint, "
                          "bal_cents bigint"))
