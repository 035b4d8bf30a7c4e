"""Core relational Qkeys (SURVEY.md §2.1-2.8): scans, filters,
projection/rename/cast, scalar functions, set ops, sorts,
aggregations, joins, windows. Every query here has oracle SQL in
``plans.oracle``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.datetime_formats import to_char_rs, to_date_rs, to_timestamp_rs
from ..functions.numeric import exact_sum, null_fill, nullif_empty, safe_cast_numeric
from ..io import read_table
from ..operators.aggregates import (group_collect_sorted, group_sum,
                                    null_count_profile, rollup_summary)
from ..operators.joins import anti_join, dim, fact_dim_join, semi_join
from ..operators.setops import union_pages
from ..operators.transform import ColumnSpec, derive_literals, project_rename_cast
from ..operators.windows import (with_lag_lead, with_partition_sum,
                                 with_row_number, with_running_sum)
from .queries import register


# --- §2.1 scans ------------------------------------------------------------

@register("scan_parquet")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: plain column-pruned, predicate-pushed parquet scan. The
    filter and the 4-column projection both reach the scan node
    (PushedFilters / ReadSchema) — the Spark-native replacement for
    the reference's server-side `SELECT * FROM Bill` + client-side
    selected_columns (qb_bills.py:44, :72-89)."""
    return (read_table(spark, sf_dir, "lineitem")
            .filter(F.col("l_quantity") > 25)
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))


@register("scan_paged_union")
def scan_paged_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: pagination-accumulation semantics — union of homogeneous
    page tables (qb_billpayments.py:63-79). Pages simulated by
    disjoint key-range splits of orders; unionByName reassembles."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    pages = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    return union_pages(pages)


@register("filter_date_range")
def filter_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: the reference pushes start_date/end_date to the QBO server
    (qb_transactionlist.py:54-57); here Catalyst pushes the same
    predicate into the parquet scan."""
    return (read_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderdate").between("1997-01-01", "1997-12-31"))
            .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"))


# --- §2.2 projections / renames / casts / derives --------------------------

@register("project_rename_cast")
def project_rename_cast_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2-P6 as one Project node (reference: qb_bills.py:72-118)."""
    spec = [
        ColumnSpec("o_orderkey", "order_id", "bigint"),
        ColumnSpec("o_orderstatus", "order_status", "string"),
        ColumnSpec(F.col("o_totalprice").cast("decimal(12,2)"), "total_price", "double"),
        ColumnSpec(F.date_format("o_orderdate", "yyyy-MM-dd"), "order_date", "string"),
        ColumnSpec("o_orderpriority", "order_priority"),
    ]
    return project_rename_cast(read_table(spark, sf_dir, "orders"), spec)


@register("derive_literal_cols")
def derive_literal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: constant columns broadcast onto every row
    (qb_transactionlist.py:84-85) plus a derived column."""
    df = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    df = derive_literals(df, {"source_system": "qbo", "batch_month": "2024-01"})
    return df.withColumn("segment_lower", F.lower("c_mktsegment"))


# --- §2.8 scalar functions -------------------------------------------------

@register("safe_cast_numeric")
def safe_cast_numeric_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: coerce-to-NULL casts (pd.to_numeric(errors='coerce'),
    qb_transactionlist.py:93)."""
    return (read_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                safe_cast_numeric(F.substring("text", 1, 2), "int").alias("maybe_num"),
                safe_cast_numeric(F.col("n_chars").cast("string"), "double").alias("n_chars_d"),
            ))


@register("null_fill")
def null_fill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: fillna-with-constant (qb_billpayments.py:111-112). NULLs
    synthesized via NULLIF so the fill path is exercised on real rows."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        null_fill(F.nullif(F.col("l_linestatus"), F.lit("O")), "OPEN").alias("status_filled"),
        nullif_empty(F.col("l_returnflag")).alias("flag_not_empty"),
    )


@register("nullif_empty")
def nullif_empty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: empty-string -> NULL (qb_profit&loss.py:111), applied to a
    synthesized sparse column, then profiled."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_or_null"))
    return li


@register("date_parse")
def date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: TO_DATE with Redshift tokens (qb_bills.py:150) — engine
    translates 'YYYY-MM-DD' -> 'yyyy-MM-dd' and parses in-plan."""
    return (read_table(spark, sf_dir, "orders")
            .select(
                "o_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_str"))
            .select(
                "o_orderkey", "date_str",
                # output as string: DATE widens to midnight-timestamp in
                # pandas on the DuckDB side, breaking value compare
                to_date_rs(F.col("date_str"), "YYYY-MM-DD")
                .cast("string").alias("parsed_date")))


@register("timestamp_parse")
def timestamp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: TO_TIMESTAMP(.., 'YYYY-MM-DD HH24:MI:SS')
    (qb_billpayments.py:158)."""
    return (read_table(spark, sf_dir, "events")
            .select(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"))
            .select(
                "event_id", "ts_str",
                to_timestamp_rs(F.col("ts_str"), "YYYY-MM-DD HH24:MI:SS").alias("parsed_ts")))


@register("date_format_mon_yyyy")
def date_format_mon_yyyy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: TO_CHAR(TO_DATE(month,'YYYY-MM'),'Mon,YYYY')
    (qb_profit&loss.py:148) — 'Mon,YYYY' -> 'MMM,yyyy'."""
    return (read_table(spark, sf_dir, "orders")
            .groupBy(to_char_rs(F.col("o_orderdate"), "Mon,YYYY").alias("month_label"))
            .agg(F.count(F.lit(1)).alias("n_orders")))


# --- §2.6 / §2.7 sort-limit, set ops --------------------------------------

@register("sort_limit_topk")
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: orderBy desc + limit compiles to TakeOrderedAndProject —
    per-partition heaps + driver merge, no global sort at any scale.
    Unique tie-break key keeps the row set deterministic."""
    return (read_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(100))


@register("setop_union_all")
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: UNION ALL of two homogeneous selections (the pagination
    extend idiom, qb_billpayments.py:77)."""
    orders = read_table(spark, sf_dir, "orders")
    a = (orders.filter(F.col("o_orderstatus") == "F")
         .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    b = (orders.filter(F.col("o_totalprice") > 200000)
         .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    return a.unionByName(b)


# --- §2.4 aggregations -----------------------------------------------------

@register("setop_intersect_except")
def setop_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 capability closure: INTERSECT (distinct) and EXCEPT ALL,
    tagged and unioned."""
    orders = read_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_custkey") % 2 == 0).select("o_custkey")
    b = orders.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    inter = a.intersect(b).withColumn("tag", F.lit("both"))
    exc = a.exceptAll(b).withColumn("tag", F.lit("only_even"))
    return inter.unionByName(exc)


@register("scalar_string_funcs")
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 capability closure: upper/lower/substr/concat/like/length."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"))


@register("scalar_datetime_funcs")
def scalar_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 capability closure: year/month/quarter extraction, datediff,
    add_months."""
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month_num"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.datediff(F.lit("1998-01-01").cast("date"),
                   F.col("o_orderdate").cast("date")).alias("days_to_98"),
        F.date_format(F.add_months("o_orderdate", 1), "yyyy-MM-dd").alias("next_month_date"))


@register("window_range_frame")
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: RANGE frame — per-segment sum of balances within 100.0 of
    the current row's balance (value-based frame, not row-based)."""
    customer = read_table(spark, sf_dir, "customer")
    # PySpark's WindowSpec.rangeBetween only accepts integer offsets;
    # a float-valued RANGE frame needs the SQL expression form
    return customer.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.expr(
            "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) OVER ("
            " PARTITION BY c_mktsegment ORDER BY c_acctbal"
            " RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW) AS DOUBLE)"
        ).alias("nearby_bal_sum"))


@register("agg_approx_distinct")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 capability closure: HyperLogLog++ approx_count_distinct.
    Sketch values differ across engines, so the contract is a bounds
    check made oracle-verifiable by construction: emit the exact count
    plus ``approx_within_5pct`` (sketch run at rsd=0.01, so the 5%
    bound carries 5x headroom); the oracle computes the exact count
    and literal TRUE."""
    orders = read_table(spark, sf_dir, "orders")
    exact = F.countDistinct("o_custkey")
    approx = F.approx_count_distinct("o_custkey", 0.01)
    return orders.agg(
        exact.alias("exact_custkeys"),
        ((F.abs(approx - exact) / exact) <= F.lit(0.05))
        .alias("approx_within_5pct"))


@register("agg_group_sum")
def agg_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 capability closure: TPC-H Q1-shaped hash aggregate — sums via
    exact decimal, avgs rounded to a tolerance-safe 6 places on both
    engines."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-09-01")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                exact_sum(F.col("l_quantity")).alias("sum_qty"),
                exact_sum(F.col("l_extendedprice")).alias("sum_base_price"),
                exact_sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            ))


@register("agg_null_count")
def agg_null_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: the NaN-count data-quality check (qb_transactionlist.py:99-101)
    as a one-row profile over a synthesized-sparse column."""
    li = read_table(spark, sf_dir, "lineitem").withColumn(
        "maybe_status", F.nullif(F.col("l_linestatus"), F.lit("O")))
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("maybe_status").isNull(), 1)).alias("n_null"),
        F.count("maybe_status").alias("n_not_null"),
        F.countDistinct("l_suppkey").alias("n_distinct_supp"),
    )


@register("agg_monthly_bucket")
def agg_monthly_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/A1: the reference's request-per-month loop
    (qb_profit&loss.py:50-64) collapsed into one month-bucketed
    aggregate — one scan, one shuffle, any number of months."""
    return (read_table(spark, sf_dir, "orders")
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
            .agg(exact_sum(F.col("o_totalprice")).alias("total_amount"),
                 F.count(F.lit(1)).alias("n_orders")))


@register("agg_group_collect")
def agg_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: detail retained under group key, deterministic sorted-string
    form (qb_transactionlistbyvendordetail.py:86-99)."""
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    return group_collect_sorted(orders, "o_custkey", "o_orderkey")


@register("agg_rollup_summary")
def agg_rollup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the P&L subtree Summary rows (qb_profit&loss.py:94-98) as a
    rollup lattice with '(Total)' relabelling."""
    return rollup_summary(
        read_table(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        F.col("o_totalprice"))


# --- §2.3 joins ------------------------------------------------------------

@register("join_fact_dim_inner")
def join_fact_dim_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: the real dimension lookup QBO pre-joins for the reference
    (VendorRef.name, qb_bills.py:81-84): customer -> nation -> region
    broadcast chain, revenue per nation."""
    customer = read_table(spark, sf_dir, "customer")
    nation = dim(read_table(spark, sf_dir, "nation"), "nation")
    region = dim(read_table(spark, sf_dir, "region"), "region")
    orders = read_table(spark, sf_dir, "orders")
    return (orders
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
            .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
            .agg(exact_sum(F.col("o_totalprice")).alias("total_sales"),
                 F.count(F.lit(1)).alias("n_orders")))


@register("join_left_outer")
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving unmatched left rows; COUNT(col)
    gives 0 for order-less customers on both engines."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return (customer
            .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
            .groupBy("c_custkey", "c_mktsegment")
            .agg(F.count("o_orderkey").alias("n_orders"),
                 exact_sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))).alias("total_spent")))


@register("join_left_semi_anti")
def join_left_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 closure: EXISTS (left semi) and NOT EXISTS (left anti) over
    high-value orders, tagged and unioned."""
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    big_orders = (read_table(spark, sf_dir, "orders")
                  .filter(F.col("o_totalprice") > 150000).select("o_custkey"))
    on = F.col("c_custkey") == F.col("o_custkey")
    has = semi_join(customer, big_orders, on).withColumn("tag", F.lit("has_big_order"))
    not_has = anti_join(customer, big_orders, on).withColumn("tag", F.lit("no_big_order"))
    return has.unionByName(not_has)


@register("join_5way_regional_revenue")
def join_5way_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-way join: the two fact tables shuffle on the
    orderkey join; customer/nation/region broadcast — only one shuffle
    in the whole plan at any scale."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31"))
    customer = read_table(spark, sf_dir, "customer")
    nation = dim(read_table(spark, sf_dir, "nation"), "nation")
    region = dim(read_table(spark, sf_dir, "region"), "region")
    return (li
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
            .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy(F.col("r_name").alias("region_name"))
            .agg(exact_sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


# --- §2.5 windows ----------------------------------------------------------

@register("window_row_number")
def window_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per segment via row_number (unique
    tie-break on c_custkey)."""
    customer = read_table(spark, sf_dir, "customer")
    ranked = with_row_number(
        customer, ["c_mktsegment"],
        [F.desc("c_acctbal"), F.asc("c_custkey")], "rn")
    return ranked.filter(F.col("rn") <= 3).select(
        "c_mktsegment", "c_custkey", "c_acctbal", "rn")


@register("window_running_sum")
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative customer spend over order history (decimal-exact
    prefix sums)."""
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 7 == 0)
    out = with_running_sum(
        orders, F.col("o_totalprice"), ["o_custkey"],
        [F.asc("o_orderdate"), F.asc("o_orderkey")], "running_spent")
    return out.select("o_custkey", "o_orderkey", "o_totalprice", "running_spent")


@register("window_lag_lead")
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous/next order amount per customer (lag/lead, deterministic
    ordering)."""
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 7 == 0)
    out = with_lag_lead(orders, "o_totalprice", ["o_custkey"],
                        [F.asc("o_orderdate"), F.asc("o_orderkey")])
    return out.select("o_custkey", "o_orderkey", "o_totalprice",
                      "prev_o_totalprice", "next_o_totalprice")


@register("window_partition_sum")
def window_partition_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2's group-total-next-to-detail shape: per-order total alongside
    each line item (qb_transactionlistbyvendordetail.py:87 vendor
    headers)."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    out = with_partition_sum(li, F.col("l_extendedprice"), ["l_orderkey"], "order_total")
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice", "order_total")


@register("sql_shipping_priority")
def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's raw SQL surface: TPC-H Q3-shaped query submitted
    as text via spark.sql over registered views — identical Catalyst
    plan to the DataFrame form (one API, one optimizer)."""
    from ..io import register_temp_views
    register_temp_views(spark, sf_dir)
    return spark.sql("""
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               date_format(o_orderdate, 'yyyy-MM-dd') AS order_date
        FROM customer
        JOIN orders    ON c_custkey = o_custkey
        JOIN lineitem  ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < '1997-06-30'
          AND l_shipdate  > '1997-06-30'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """)


@register("agg_max_by")
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 closure: argmax/argmin aggregates — per-segment customer
    holding the highest/lowest balance (balances are unique at the
    extremes per segment, so the pick is deterministic)."""
    customer = read_table(spark, sf_dir, "customer")
    return (customer.groupBy("c_mktsegment")
            .agg(F.max_by("c_custkey", "c_acctbal").alias("richest_cust"),
                 F.min_by("c_custkey", "c_acctbal").alias("poorest_cust"),
                 F.max("c_acctbal").alias("max_bal"),
                 F.min("c_acctbal").alias("min_bal")))


@register("scalar_regexp_funcs")
def scalar_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 closure: regexp extraction/counting and split_part —
    patterns restricted to Java-regex/RE2-common syntax."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", "[0-9]+", 0).alias("first_num"),
        F.size(F.expr("regexp_extract_all(text, '[0-9]+', 0)")).alias("n_nums"),
        F.expr("split_part(text, ' ', 1)").alias("first_word"))


@register("array_functions")
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 closure: array surface over the embedding column — sort,
    slice, transform, join; floats are scaled to ints before
    stringification so the repr is engine-independent."""
    emb = read_table(spark, sf_dir, "embeddings")
    top3 = F.slice(F.reverse(F.array_sort("embedding")), 1, 3)
    as_int = F.transform(
        top3, lambda x: F.round(x.cast("double") * 10000).cast("int"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.array_join(as_int.cast("array<string>"), ",").alias("top3_scaled"))


@register("sort_nulls_ordering")
def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 closure: explicit null ordering — Spark's default null
    placement differs from other engines', so production sorts pin it
    (asc_nulls_last here, matching ANSI/DuckDB ASC default)."""
    li = (read_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_orderkey") % 50 == 0)
          .select("l_orderkey", "l_linenumber",
                  F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag")))
    return (li.orderBy(F.asc_nulls_last("flag"),
                       F.asc("l_orderkey"), F.asc("l_linenumber"))
            .limit(50))


@register("source_json_lines_permissive")
def source_json_lines_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust JSON-lines ingestion: PERMISSIVE mode routes malformed
    records into _corrupt_record instead of failing the job — the
    production posture for crawl/API feeds (the reference would
    KeyError, SURVEY.md §3 EP2's undefined-df bug)."""
    import os

    from ..sinks import scratch_path
    path = scratch_path("jsonl", "feed")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.jsonl"), "w", encoding="utf-8") as fh:
        fh.write('{"id": 1, "amount": 10.5, "status": "ok"}\n')
        fh.write('{"id": 2, "amount": 20.0, "status": "ok"}\n')
        fh.write('{"id": 3, "amount": "not-a-number", "status": "ok"}\n')
        fh.write('THIS IS NOT JSON\n')
        fh.write('{"id": 5, "status": "missing-amount"}\n')
    schema = ("id bigint, amount double, status string, "
              "_corrupt_record string")
    df = (spark.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(path))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("amount").alias("n_amount_ok"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.sum("amount").alias("amount_total"))


@register("sql_correlated_subquery")
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface closure: correlated scalar subquery (each
    customer's max-priced orders) — Catalyst rewrites it to an
    aggregate + join; equality on untouched doubles is exact on both
    engines."""
    from ..io import register_temp_views
    register_temp_views(spark, sf_dir)
    return spark.sql("""
        SELECT o.o_custkey, o.o_orderkey, o.o_totalprice AS max_price
        FROM orders o
        WHERE o.o_totalprice = (SELECT MAX(i.o_totalprice)
                                FROM orders i
                                WHERE i.o_custkey = o.o_custkey)
    """)


@register("agg_monthly_spine")
def agg_monthly_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 parity detail: the reference's month loop emits a row for
    EVERY month in range, data or not (qb_profit&loss.py:53-64) — a
    generated month spine left-joined to the aggregate reproduces
    that, including empty months as zero."""
    spine = spark.sql("""
        SELECT date_format(m, 'yyyy-MM') AS order_month
        FROM (SELECT explode(sequence(to_date('1995-01-01'),
                                      to_date('1998-12-01'),
                                      interval 1 month)) AS m)
    """)
    monthly = (read_table(spark, sf_dir, "orders")
               .groupBy(F.date_format("o_orderdate", "yyyy-MM")
                        .alias("order_month"))
               .agg(exact_sum(F.col("o_totalprice")).alias("m_total"),
                    F.count(F.lit(1)).alias("m_orders")))
    return (spine.join(monthly, "order_month", "left")
            .select("order_month",
                    F.coalesce("m_total", F.lit(0.0)).alias("total_amount"),
                    F.coalesce("m_orders", F.lit(0)).cast("bigint").alias("n_orders")))


@register("source_csv_permissive")
def source_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust CSV ingestion: PERMISSIVE mode with a corrupt-record
    column — the CSV twin of source_json_lines_permissive, but fed a
    DATA-DERIVED file so the oracle can reproduce the triage counts
    from the source table: every 50th order's price cell is replaced
    with a non-numeric token before the file is written. The feed is
    staged BY SPARK (concat_ws -> text sink), so nothing data-sized
    ever rides the driver; the permissive read then parses what it
    can, captures what it can't, and the rollup proves the split."""
    from ..sinks import scratch_path, sf_tag
    path = scratch_path("csv_feed", sf_tag(sf_dir))
    orders = read_table(spark, sf_dir, "orders")
    price_cell = F.when(F.col("o_orderkey") % 50 == 0, F.lit("oops")) \
        .otherwise(F.col("o_totalprice").cast("string"))
    (orders.select(F.concat_ws(
        ",", F.col("o_orderkey").cast("string"), F.col("o_orderstatus"),
        price_cell).alias("value"))
     .write.mode("overwrite").text(path))
    schema = ("o_orderkey bigint, o_orderstatus string, "
              "o_totalprice double, _corrupt_record string")
    df = (spark.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(path))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_totalprice").alias("n_price_ok"),
        F.count("_corrupt_record").alias("n_corrupt"),
        exact_sum(F.col("o_totalprice")).alias("price_total"))


@register("window_rolling_regression")
def window_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-28-day OLS revenue slope per market segment — the
    trend-feature window (is this segment accelerating?) computed in
    closed form from four running sums (n, Σx, Σy, Σxy, Σx²) over a
    RANGE frame keyed on an integer day index; never a per-row
    refit. The daily pre-aggregate bounds every window partition at
    |segments| x |days| rows no matter how many orders feed it; the
    sums are exact (bigint / decimal), cast to double only for the
    final slope division, identically ordered on both engines.
    Output: 1997 days only (the frame still sees its 27-day
    lookback)."""
    from pyspark.sql import Window
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    orders = read_table(spark, sf_dir, "orders")
    daily = (orders.join(F.broadcast(cust),
                         F.col("o_custkey") == F.col("c_custkey"))
             .groupBy("c_mktsegment",
                      F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                  .alias("rev_dec")))
    x = F.datediff(F.col("day"), F.lit("1992-01-01")).cast("long")
    d = daily.select("c_mktsegment", "day", x.alias("x"), "rev_dec")
    w = (Window.partitionBy("c_mktsegment").orderBy("x")
         .rangeBetween(-27, 0))
    # every running sum is exact integer/decimal arithmetic; doubles
    # appear only in the final slope ratio (same IEEE op order as the
    # oracle)
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("x").over(w)
    sy = F.sum("rev_dec").over(w)
    sxy = F.sum(F.col("x") * F.col("rev_dec")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    num = (n.cast("double") * sxy.cast("double")
           - sx.cast("double") * sy.cast("double"))
    den = (n.cast("double") * sxx.cast("double")
           - sx.cast("double") * sx.cast("double"))
    slope = F.when(den > 0, F.round(num / den, 4))
    return (d.select("c_mktsegment", "day",
                     F.col("rev_dec").cast("double").alias("rev"),
                     slope.alias("slope_28d"))
            .filter((F.col("day") >= "1997-01-01")
                    & (F.col("day") <= "1997-12-31"))
            .select("c_mktsegment",
                    F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "rev", "slope_28d"))


@register("join_asof_tolerance")
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store as-of join with a STALENESS BOUND: each purchase
    takes the user's latest prior view only if it is at most 30
    minutes old — the max-feature-age contract of point-in-time
    feature retrieval (an unboundedly stale feature is worse than a
    null). Same one-shuffle union-window plan as join_asof; the
    tolerance is a post-carry null-out, not a second join."""
    from ..operators.advanced_joins import asof_join
    ev = read_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts", "value"))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "ts", "value"))
    return asof_join(purchases, views, "user_id", "ts", "ts", ["value"],
                     tolerance=F.expr("INTERVAL 30 MINUTES"))


@register("join_nearest_event")
def join_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional nearest-neighbor time join: each purchase takes
    the CLOSEST view on either side (sensor/AB-test alignment — the
    as-of join answers "latest before", this answers "nearest"). One
    keyed shuffle: purchases join the same user's views, and a
    min_by over the (|Δt|, ts, event_id) struct picks the winner
    inside the aggregate — no ranking window, no second pass.
    Candidate fan-out is the per-user timeline (bounded like
    join_interval_overlap); at unbounded timelines the one-sided
    union-window form (join_asof) is the fallback. Ties prefer the
    earlier view, then the smaller event id — engine-deterministic."""
    ev = read_table(spark, sf_dir, "events")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("event_id", "user_id", "ts"))
    v = (ev.filter(F.col("event_type") == "view")
         .select(F.col("user_id"), F.col("ts").alias("v_ts"),
                 F.col("event_id").alias("v_eid")))
    diff_us = F.abs(F.unix_micros(F.col("v_ts"))
                    - F.unix_micros(F.col("ts")))
    best = (p.join(v, "user_id")
            .groupBy("event_id")
            .agg(F.min_by(F.struct(F.col("v_ts"), diff_us.alias("d")),
                          F.struct(diff_us.alias("d"), F.col("v_ts"),
                                   F.col("v_eid"))).alias("b")))
    return (p.join(best, "event_id", "left")
            .select("event_id", "user_id", "ts",
                    F.col("b.v_ts").alias("nearest_view_ts"),
                    F.col("b.d").alias("diff_us"),
                    F.when(F.col("b.v_ts").isNull(), F.lit(None))
                    .when(F.col("b.v_ts") <= F.col("ts"), F.lit("prev"))
                    .otherwise(F.lit("next")).alias("direction")))


@register("source_fixed_width")
def source_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width flat-file ingestion (the mainframe/legacy-feed
    source format): records staged BY SPARK as zero-padded
    10+1+12-char lines (key, status, price in integer cents — no
    float stringification anywhere, per the driver-contract gotchas),
    read back as text and sliced by substring into typed columns.
    Parse is pure codegen; the rollup proves the round trip
    lossless."""
    from ..sinks import scratch_path, sf_tag
    path = scratch_path("fixedw", sf_tag(sf_dir))
    orders = read_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    (orders.select(F.format_string(
        "%010d%1s%012d", F.col("o_orderkey"), F.col("o_orderstatus"),
        cents).alias("value"))
     .write.mode("overwrite").text(path))
    raw = spark.read.text(path)
    parsed = raw.select(
        F.substring("value", 1, 10).cast("bigint").alias("o_orderkey"),
        F.substring("value", 11, 1).alias("o_orderstatus"),
        F.substring("value", 12, 12).cast("bigint").alias("cents"))
    return (parsed.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("cents").alias("cents_total"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key")))


@register("window_rolling_median")
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day MEDIAN of daily revenue per market segment —
    the robust rolling trend line (window_rolling_regression's
    outlier-resistant sibling: one whale order skews a rolling mean,
    barely moves the rolling median). The exact interpolated
    percentile runs as a window aggregate over the daily
    pre-aggregate — the window partition is |segments| x |days|
    bounded, so the value-buffering cost of the exact median never
    touches raw orders (contrast dq_outlier_mad's honest label,
    where the groups ARE data-sized). Output: 1997 days."""
    from pyspark.sql import Window
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    orders = read_table(spark, sf_dir, "orders")
    daily = (orders.join(F.broadcast(cust),
                         F.col("o_custkey") == F.col("c_custkey"))
             .groupBy("c_mktsegment",
                      F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                  .cast("double").alias("rev")))
    x = F.datediff(F.col("day"), F.lit("1992-01-01")).cast("long")
    w = (Window.partitionBy("c_mktsegment").orderBy(x)
         .rangeBetween(-6, 0))
    return (daily.select("c_mktsegment", "day", "rev",
                         F.round(F.percentile("rev", F.lit(0.5)).over(w), 4)
                         .alias("med_7d"))
            .filter((F.col("day") >= "1997-01-01")
                    & (F.col("day") <= "1997-12-31"))
            .select("c_mktsegment",
                    F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "rev", "med_7d"))


@register("window_ewma_smoothing")
def window_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-EWMA smoothing of daily segment revenue (8 lags,
    alpha=0.3) — the streaming-friendly trend smoother next to
    window_rolling_regression's OLS slope. The same daily
    pre-aggregate bounds every window partition at |segments| x
    |days|; the smoothing itself is 8 lag() reads combined with
    SHARED literal weights (operators/windows.ewma_weights — embedded
    identically in the oracle SQL), normalized by the weight mass of
    the lags actually present, so warm-up rows are exact too.
    Doubles combine in one fixed operand order on both engines."""
    from pyspark.sql import Window

    from ..operators.windows import ewma_weights
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    orders = read_table(spark, sf_dir, "orders")
    daily = (orders.join(F.broadcast(cust),
                         F.col("o_custkey") == F.col("c_custkey"))
             .groupBy("c_mktsegment",
                      F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                  .alias("rev_dec")))
    w = Window.partitionBy("c_mktsegment").orderBy("day")
    v = F.col("rev_dec").cast("double")
    num, den = F.lit(0.0), F.lit(0.0)
    for j, wt in enumerate(ewma_weights(alpha=0.3, k=8)):
        lagged = F.lag(v, j).over(w) if j else v
        num = num + F.when(lagged.isNotNull(), F.lit(wt) * lagged
                           ).otherwise(F.lit(0.0))
        den = den + F.when(lagged.isNotNull(), F.lit(wt)
                           ).otherwise(F.lit(0.0))
    return (daily.select(
        "c_mktsegment",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        v.alias("rev"),
        F.round(num / den, 4).alias("rev_ewma")))
