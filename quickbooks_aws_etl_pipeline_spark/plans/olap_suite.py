"""Decision-support parity pack: the classic TPC-H query *shapes*
(Q1/Q4/Q7/Q8/Q10/Q11/Q13/Q14/Q15/Q17/Q18/Q19/Q22) adapted to the
driver's reduced star schema (no partsupp; no commitdate /
receiptdate / shipmode columns — predicates are re-targeted onto the
columns that exist).

Why these matter beyond "more coverage": each one pins a distinct
optimizer/execution capability a complete analytics engine must have
at 100 TB —

- Q1  full-scan partial aggregation (map-side combine carries ~6
  groups per task, the shuffle is group-count-sized, not data-sized)
- Q4  non-equi EXISTS -> left-semi join (never a count-then-filter)
- Q7/Q8  multi-dim dims broadcast; ONE fact shuffle for the join
  chain; conditional shares computed from decimal-exact sums
- Q10 top-k over a group-aggregate (TakeOrderedAndProject, not a
  global sort)
- Q11/Q15/Q22  scalar-subquery thresholds: the global aggregate is a
  1-row broadcast, never a second scan of the grouped frame
- Q13 left-outer + double aggregation (count-of-counts histogram)
- Q14 conditional-ratio aggregate in one pass
- Q17 correlated per-part average de-correlated into a broadcast
  stats join (the per-part aggregate is part-cardinality-sized)
- Q18 group-HAVING semi join against the fact
- Q19 disjunctive (OR-of-ANDs) predicate where the part-side
  conjuncts still prune the broadcast side
- Q22 anti join + scalar-subquery filter composed

Reference parity note: the reference has no local query engine at
all (SURVEY.md §2.3 "no joins locally" — everything is pandas
flatten + Redshift COPY; e.g. qb_invoices.py pushes raw rows and
leaves analytics to the warehouse). This module IS the warehouse
surface a reference user queries after loading, re-expressed
Spark-first and oracle-checked per key.

Every float aggregate goes through ``exact_sum`` (DECIMAL(18,4))
so results are partition-count- and engine-independent; averages
and ratios are derived as DOUBLE divisions of those exact sums,
which both engines evaluate identically (IEEE 754, same operand
order).

Rounding-tie audit (round 5). Casting a DOUBLE product to
DECIMAL(18,4) is engine-identical ONLY when the mathematically
exact product needs <= 4 decimal digits: then the double sits
within ~1e-9 of a scale-4-representable value, every engine's
round-to-nearest lands on it, and no tie exists. Prices,
discounts and taxes are 2-decimal-exact, so:

- two-factor money terms (``price * (1 - disc)``, true scale 4)
  are structurally safe under the scale-4 cast — not luck;
- THREE-factor terms (``price * (1-d) * (1+t)``, true scale 6)
  are NOT: the exact value can end in ...x5 at the 5th decimal, a
  genuine tie that Spark (HALF_UP on the exact binary expansion)
  and DuckDB (double-space round) resolve differently. sf0.001
  has no such tie rows; sf0.01 has dozens — which is exactly how
  ``sql_pricing_summary`` went red in CORRECTNESS_r04 while local
  tests stayed green. Both three-factor sites
  (``sql_pricing_summary``, ``udf_sql_scalar``) therefore compute
  the charge chain NATIVELY IN DECIMAL — cast each 2-decimal
  factor to decimal first, multiply as decimals (exact, no
  rounding step exists on either engine), sum the exact
  decimal(·,6). tests/test_money_ties.py pins this at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import exact_sum
from ..io import read_table, widen
from .queries import register


def _revenue(price="l_extendedprice", disc="l_discount") -> F.Column:
    """price * (1 - discount), the TPC-H revenue term. Double
    multiplication is deterministic for a fixed operand order; the
    oracle SQL writes the identical expression. Tie-safe under the
    downstream ``exact_sum`` DECIMAL(18,4) cast because the exact
    product of two 2-decimal factors has at most 4 decimals (see
    module docstring); three-factor charges must NOT use this
    pattern — use :func:`_charge_decimal`."""
    return F.col(price) * (F.lit(1.0) - F.col(disc))


def _charge_decimal(price="l_extendedprice", disc="l_discount",
                    tax="l_tax") -> F.Column:
    """price * (1-disc) * (1+tax) computed natively in DECIMAL.

    The true product has up to 6 decimal digits, so a double
    computation cast to a scale-4 decimal hits genuine rounding
    ties that engines resolve differently (the CORRECTNESS_r04
    ``sql_pricing_summary`` red row). Each factor is 2-decimal-
    exact, so casting the factors (not the product) to decimal and
    multiplying as decimals is EXACT — decimal(12,2) x decimal(4,2)
    x decimal(4,2) -> decimal(22,6) with no rounding step on either
    engine. The oracle SQL writes the identical factor casts."""
    return (F.col(price).cast("decimal(12,2)")
            * (F.lit(1.0) - F.col(disc)).cast("decimal(4,2)")
            * (F.lit(1.0) + F.col(tax)).cast("decimal(4,2)"))


# ---------------------------------------------------------------------------
# Q1 shape: pricing summary report.
# ---------------------------------------------------------------------------

@register("sql_pricing_summary")
def sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan aggregate over lineitem with a pushed shipdate
    predicate. Scale: the groupBy carries 6 groups — partial
    aggregation collapses everything map-side, the exchange moves
    tasks x 6 rows no matter how many billions of lines. Averages are
    DOUBLE divisions of the decimal-exact sums (never AVG(double),
    which is partition-order-dependent). The three-factor charge is
    computed natively in decimal (:func:`_charge_decimal`) — its true
    value has 6 decimals, so a double product cast to scale 4 has
    engine-divergent rounding ties (the CORRECTNESS_r04 red row)."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "2001-09-01")
    out = (li.groupBy("l_returnflag", "l_linestatus")
           .agg(exact_sum(F.col("l_quantity")).alias("sum_qty"),
                exact_sum(F.col("l_extendedprice")).alias("sum_base_price"),
                exact_sum(_revenue()).alias("sum_disc_price"),
                F.sum(_charge_decimal()).cast("double").alias("sum_charge"),
                F.count(F.lit(1)).alias("count_order")))
    return out.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
        "count_order")


# ---------------------------------------------------------------------------
# Q4 shape: order-priority checking via EXISTS.
# ---------------------------------------------------------------------------

@register("sql_order_priority_exists")
def sql_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS over the fact: orders (one 1996 window) having at least
    one line shipped >75 days after the order date, counted per
    priority. Expressed as a LEFT SEMI join with a non-equi residual
    condition on the orderkey equi-join — the engine never
    materializes per-order line counts, and a matching line
    short-circuits the probe. Scale: one shuffle on orderkey; the
    date window prunes the orders scan."""
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01"))
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    cond = ((F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr("INTERVAL 75 DAYS")))
    return (orders.join(li, cond, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


# ---------------------------------------------------------------------------
# Q7 shape: volume shipping between two nations.
# ---------------------------------------------------------------------------

@register("sql_volume_shipping")
def sql_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume: revenue on lines where the supplier
    sits in NATION_1 and the customer in NATION_2, or vice versa, by
    ship year. Scale: supplier/customer/nation are dims (broadcast);
    lineitem joins orders on orderkey — the single fact-sized
    shuffle. The nation-pair filter is applied to the broadcast dims
    BEFORE the fact join, so non-matching suppliers/customers prune
    fact rows at the hash-probe, not after."""
    n1, n2 = "NATION_1", "NATION_2"
    nation = read_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(n1, n2))
    supp = (read_table(spark, sf_dir, "supplier")
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (read_table(spark, sf_dir, "customer")
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01"))
    joined = (li.join(F.broadcast(supp),
                      F.col("l_suppkey") == F.col("s_suppkey"))
              .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(cust),
                    F.col("o_custkey") == F.col("c_custkey"))
              .filter(((F.col("supp_nation") == n1)
                       & (F.col("cust_nation") == n2))
                      | ((F.col("supp_nation") == n2)
                         & (F.col("cust_nation") == n1))))
    return (joined.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(exact_sum(_revenue()).alias("revenue")))


# ---------------------------------------------------------------------------
# Q8 shape: national market share within a region.
# ---------------------------------------------------------------------------

@register("sql_market_share")
def sql_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_2's share of supplier revenue to ASIA-region customers
    per order year. The share is a conditional-sum ratio computed in
    the SAME aggregate pass (sum IF supplier-is-N2 / sum all) — no
    second scan, no self-join. Both sums are decimal-exact; the
    division is a deterministic double op."""
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA")
    asia_nations = nation.join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey")).select("n_nationkey")
    cust = (read_table(spark, sf_dir, "customer")
            .join(F.broadcast(asia_nations),
                  F.col("c_nationkey") == F.col("n_nationkey"), "left_semi")
            .select("c_custkey"))
    supp = (read_table(spark, sf_dir, "supplier")
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01"))
    li = read_table(spark, sf_dir, "lineitem")
    rev = _revenue()
    joined = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(cust),
                    F.col("o_custkey") == F.col("c_custkey"), "left_semi")
              .join(F.broadcast(supp),
                    F.col("l_suppkey") == F.col("s_suppkey")))
    out = (joined.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(exact_sum(F.when(F.col("supp_nation") == "NATION_2", rev)
                       .otherwise(F.lit(0.0))).alias("nation_revenue"),
             exact_sum(rev).alias("total_revenue")))
    return out.select(
        "order_year", "nation_revenue", "total_revenue",
        (F.col("nation_revenue") / F.col("total_revenue"))
        .alias("market_share"))


# ---------------------------------------------------------------------------
# Q10 shape: returned-item reporting (top 20 lossy customers).
# ---------------------------------------------------------------------------

@register("sql_returned_items")
def sql_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue lost to returns ('R' lines) per customer over two
    quarters, top 20. Scale: the returnflag + date predicates prune
    the fact scan; customer/nation broadcast; ordering happens via
    TakeOrderedAndProject on the grouped frame (20 rows per
    partition move, never a global sort of all customers)."""
    nation = read_table(spark, sf_dir, "nation")
    cust = (read_table(spark, sf_dir, "customer")
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", "c_name", "c_acctbal", "n_name"))
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-07-01"))
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    out = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
           .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
           .agg(exact_sum(_revenue()).alias("revenue")))
    return out.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


# ---------------------------------------------------------------------------
# Q11 shape: groups exceeding a global-total fraction.
# ---------------------------------------------------------------------------

@register("sql_top_revenue_parts")
def sql_top_revenue_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose revenue exceeds 1.5x the mean per-part revenue
    (a multiple of the mean, not a fixed fraction of the total, so
    the selectivity is scale-invariant — a fixed fraction goes empty
    as part cardinality grows). The threshold is a scalar subquery:
    Spark computes the 1-row global aggregate FROM THE SAME grouped
    frame (re-aggregated, still group-cardinality-sized) and
    broadcast-joins it — the fact is scanned once. HAVING-vs-global
    is the capability; no second fact scan is the scale property."""
    li = read_table(spark, sf_dir, "lineitem")
    per_part = (li.groupBy("l_partkey")
                .agg(exact_sum(_revenue()).alias("part_revenue")))
    total = per_part.agg(
        (F.sum(F.col("part_revenue").cast("decimal(18,4)")).cast("double")
         / F.count(F.lit(1))).alias("mean_revenue"))
    return (per_part.join(F.broadcast(total))
            .filter(F.col("part_revenue")
                    > F.lit(1.5) * F.col("mean_revenue"))
            .select("l_partkey", "part_revenue"))


# ---------------------------------------------------------------------------
# Q13 shape: customer order-count distribution.
# ---------------------------------------------------------------------------

@register("sql_cust_order_distribution")
def sql_cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of orders-per-customer INCLUDING zero-order
    customers: left outer join then two stacked aggregations. The
    first agg is customer-cardinality-sized; the second collapses to
    ~tens of buckets. The left join keeps customers with no orders —
    an inner join would silently drop the c_count=0 bucket, which is
    the whole point of the query."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    per_cust = (cust.join(orders,
                          F.col("c_custkey") == F.col("o_custkey"), "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


# ---------------------------------------------------------------------------
# Q14 shape: promotion revenue ratio.
# ---------------------------------------------------------------------------

@register("sql_promo_revenue_ratio")
def sql_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of one quarter's revenue from PROMO-type parts — a
    conditional-ratio aggregate in ONE pass over the joined frame.
    part is a broadcast dim; the date predicate prunes the fact
    scan. Returns a single row (promo, total, pct)."""
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01"))
    rev = _revenue()
    out = (li.join(F.broadcast(part),
                   F.col("l_partkey") == F.col("p_partkey"))
           .agg(exact_sum(F.when(F.col("p_type") == "PROMO", rev)
                          .otherwise(F.lit(0.0))).alias("promo_revenue"),
                exact_sum(rev).alias("total_revenue")))
    return out.select(
        "promo_revenue", "total_revenue",
        (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"))
        .alias("promo_pct"))


# ---------------------------------------------------------------------------
# Q15 shape: top supplier(s) by quarterly revenue.
# ---------------------------------------------------------------------------

@register("sql_top_supplier")
def sql_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) whose quarter revenue equals the maximum — the
    view + scalar-subquery formulation. The max is a 1-row broadcast
    from the supplier-cardinality-sized aggregate (one fact scan
    total); decimal-exact revenue makes the equality comparison
    portable across engines (double == double on identical decimal
    provenance)."""
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01"))
    per_supp = (li.groupBy("l_suppkey")
                .agg(exact_sum(_revenue()).alias("total_revenue")))
    mx = per_supp.agg(F.max("total_revenue").alias("max_revenue"))
    return (per_supp.join(F.broadcast(mx))
            .filter(F.col("total_revenue") == F.col("max_revenue"))
            .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue"))


# ---------------------------------------------------------------------------
# Q17 shape: small-quantity-order revenue (correlated average).
# ---------------------------------------------------------------------------

@register("sql_small_qty_revenue")
def sql_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost if small-quantity orders (below
    20% of that part's mean order quantity) for one brand were not
    taken. The correlated per-part AVG de-correlates into a per-part
    stats aggregate joined back to the fact — the stats frame is
    part-cardinality-sized and broadcastable; the fact is scanned
    twice ONLY over the brand's partition (the brand predicate
    reaches both scans via the broadcast semi join)."""
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#7").select("p_partkey")
    li = read_table(spark, sf_dir, "lineitem")
    brand_lines = li.join(F.broadcast(part),
                          F.col("l_partkey") == F.col("p_partkey"),
                          "left_semi")
    stats = (brand_lines.groupBy("l_partkey")
             .agg((F.sum(F.col("l_quantity").cast("decimal(18,4)"))
                   .cast("double")
                   / F.count(F.lit(1))).alias("avg_qty")))
    out = (brand_lines
           .join(F.broadcast(stats.withColumnRenamed("l_partkey", "sp_key")),
                 F.col("l_partkey") == F.col("sp_key"))
           .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
           .agg(exact_sum(F.col("l_extendedprice")).alias("small_revenue"),
                F.count(F.lit(1)).alias("n_small_lines")))
    return out.select(
        (F.col("small_revenue") / F.lit(7.0)).alias("avg_yearly"),
        "small_revenue", "n_small_lines")


# ---------------------------------------------------------------------------
# Q18 shape: large-volume customers.
# ---------------------------------------------------------------------------

@register("sql_volume_customers")
def sql_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 250, with their customer.
    The HAVING subquery is a group-aggregate over the fact joined
    back as a (orderkey, sum_qty) frame — order-cardinality-bounded.
    Top-100 via TakeOrderedAndProject."""
    li = read_table(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(exact_sum(F.col("l_quantity")).alias("total_qty"))
           .filter(F.col("total_qty") > 250.0))
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name")
    out = (orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
           .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
           .select("c_custkey", "c_name", "o_orderkey",
                   F.date_format("o_orderdate", "yyyy-MM-dd")
                   .alias("order_date"),
                   "o_totalprice", "total_qty"))
    return out.orderBy(F.col("total_qty").desc(), F.col("o_orderkey")) \
              .limit(100)


# ---------------------------------------------------------------------------
# Q19 shape: disjunctive (OR-of-ANDs) predicate revenue.
# ---------------------------------------------------------------------------

@register("sql_disjunctive_revenue")
def sql_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under three OR'd brand/size/quantity bundles. The
    part-side conjuncts (brand, size) are extracted by Catalyst into
    a pushed disjunction on the broadcast part scan; the residual
    mixed conditions evaluate at the join. One row out."""
    part = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    b1 = ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 10)
          & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 15))
    b2 = ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 25)
          & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
    b3 = ((F.col("p_brand") == "Brand#21") & (F.col("p_size") <= 40)
          & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 45))
    return (j.filter(b1 | b2 | b3)
            .agg(exact_sum(_revenue()).alias("revenue"),
                 F.count(F.lit(1)).alias("n_lines")))


# ---------------------------------------------------------------------------
# Q22 shape: dormant high-balance customers.
# ---------------------------------------------------------------------------

@register("sql_dormant_customers")
def sql_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above the average positive balance with NO orders
    after 1999-01-01, per market segment. Composes the scalar
    subquery (1-row broadcast average) with an ANTI join against the
    date-pruned orders — the anti probe side carries only orderkeys
    from the pruned scan. Counts and balances are decimal-exact."""
    cust = read_table(spark, sf_dir, "customer")
    avg_bal = (cust.filter(F.col("c_acctbal") > 0.0)
               .agg((F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
                     .cast("double") / F.count(F.lit(1)))
                    .alias("avg_positive_bal")))
    recent = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-01-01").select("o_custkey")
    rich = (cust.join(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("avg_positive_bal")))
    dormant = rich.join(recent, F.col("c_custkey") == F.col("o_custkey"),
                        "left_anti")
    return (dormant.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_custs"),
                 exact_sum(F.col("c_acctbal")).alias("total_bal")))


# ---------------------------------------------------------------------------
# Graph analytics: fixed-iteration PageRank (operators/graph.py).
# ---------------------------------------------------------------------------

@register("graph_pagerank_fixed")
def graph_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Influence ranking over the undirected customer<->supplier
    trade graph (operators/graph.trade_graph_edges), 3 damped
    iterations, top 25. Integer micro-unit arithmetic makes the ranks
    bit-reproducible in any engine (the oracle unrolls the same 3
    steps as chained CTEs); per iteration the only shuffle is the
    groupBy(dst) message exchange, and the edge/routing tables are
    checkpointed once, not re-derived.
    Nodes travel as the order-preserving bigint embedding
    (operators/graph.cs_node_encode — r14: rank arithmetic never
    compares labels, and the top-25 tie-break ORDER BY node reads
    identically off the embedding's numeric order; the 25 output
    labels decode back to strings), so every iteration's join and
    message exchange moves longs instead of strings."""
    from ..operators.graph import (cs_node_decode, pagerank_fixed,
                                   trade_graph_edges)
    edges = trade_graph_edges(read_table(spark, sf_dir, "lineitem"),
                              read_table(spark, sf_dir, "orders"))
    ranks = pagerank_fixed(edges, iterations=3)
    return (ranks.orderBy(F.col("rank_units").desc(), F.col("node").asc())
            .limit(25)
            .select(cs_node_decode("node").alias("node"),
                    "rank_units"))


# ---------------------------------------------------------------------------
# Interval-overlap join (the two-sided generalization of
# join_range_bands' point-in-interval lookup).
# ---------------------------------------------------------------------------

@register("join_interval_overlap")
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user overlap join of two interval sets: 30-minute activity
    windows opened by view events vs purchase events; a pair matches
    when the intervals intersect. Expressed as an EQUI join on
    user_id with the overlap residual (a.start < b.end AND b.start <
    a.end) evaluated inside the sort-merge join — one shuffle keyed
    on user_id, never an interval cross product. Per-user interval
    counts bound the quadratic term the way blocking bounds a
    similarity join."""
    ev = read_table(spark, sf_dir, "events")
    half_hour = F.expr("INTERVAL 30 MINUTES")
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("user_id"),
                     F.col("ts").alias("v_start"),
                     (F.col("ts") + half_hour).alias("v_end")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_start"),
                         (F.col("ts") + half_hour).alias("p_end")))
    pairs = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("v_start") < F.col("p_end"))
        & (F.col("p_start") < F.col("v_end")))
    return (pairs.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_overlap_pairs")))


# ---------------------------------------------------------------------------
# Second wave: Q6/Q12/Q16 shapes, modal aggregate, GROUPING SETS.
# ---------------------------------------------------------------------------

@register("sql_forecast_revenue")
def sql_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: what-if revenue delta from eliminating a discount
    band — a pure filter-aggregate whose three predicates (date
    range, discount band, quantity cap) ALL push into the parquet
    scan; zero joins, one 1-row result. The floor capability for any
    engine: selective scan + exact arithmetic."""
    li = read_table(spark, sf_dir, "lineitem")
    sel = li.filter((F.col("l_shipdate") >= "1997-01-01")
                    & (F.col("l_shipdate") < "1998-01-01")
                    & (F.col("l_discount") >= 0.05)
                    & (F.col("l_discount") <= 0.07)
                    & (F.col("l_quantity") < 24.0))
    return sel.agg(
        exact_sum(F.col("l_extendedprice") * F.col("l_discount"))
        .alias("forecast_revenue"),
        F.count(F.lit(1)).alias("n_lines"))


@register("sql_lateness_priority_mix")
def sql_lateness_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional counts — per shipping-lateness bucket
    (line shipped within 30 days of the order vs later), how many
    high-priority vs other orders. The CASE sums ride the same
    single aggregate pass; lineitem joins orders on the one fact
    shuffle."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    late = (F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (j.groupBy(F.when(late, F.lit("late"))
                      .otherwise(F.lit("on_time")).alias("lateness"))
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count")))


@register("sql_supplier_part_counts")
def sql_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: supplier diversity per part family — DISTINCT
    supplier counts per (brand, size band), excluding two brands via
    NOT IN on the broadcast part dim. The distinct-agg shuffles
    (group, supplier) pairs once, then collapses to per-group
    counts — two exchanges, both bounded by group x supplier
    cardinality, never fact-sized twice."""
    part = (read_table(spark, sf_dir, "part")
            .filter(~F.col("p_brand").isin("Brand#5", "Brand#15"))
            .select("p_partkey", "p_brand",
                    (F.floor(F.col("p_size") / 10) * 10).cast("int")
                    .alias("size_band")))
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey")
    return (li.join(F.broadcast(part),
                    F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "size_band")
            .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"),
                 F.count(F.lit(1)).alias("n_lines")))


@register("agg_mode_per_group")
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal value per group (the categorical summary SQL lacks a
    built-in for): each segment's most common order priority.
    Two-level aggregate — (segment, priority) counts, then a rank-1
    pick inside each segment partition with a deterministic
    tie-break (highest count, then lexicographically smallest
    priority). Both exchanges are group-cardinality-sized."""
    from pyspark.sql import Window
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    counts = (orders.join(F.broadcast(cust),
                          F.col("o_custkey") == F.col("c_custkey"))
              .groupBy("c_mktsegment", "o_orderpriority")
              .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc())
    return (counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("c_mktsegment",
                    F.col("o_orderpriority").alias("modal_priority"),
                    F.col("cnt").alias("modal_count")))


@register("sql_grouping_sets")
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the general form behind the cube /
    rollup keys): per-segment totals, per-priority totals, and the
    grand total in ONE aggregate pass, disambiguated by
    grouping_id — Spark expands the sets into a single Expand +
    partial-agg plan, not three scans."""
    from ..io import register_temp_views
    register_temp_views(spark, sf_dir)
    return spark.sql("""
        SELECT c.c_mktsegment, o.o_orderpriority,
               CAST(grouping_id(c.c_mktsegment, o.o_orderpriority) AS INT)
                   AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS total_price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY GROUPING SETS ((c.c_mktsegment), (o.o_orderpriority), ())
    """)


# ---------------------------------------------------------------------------
# SCD2 point-in-time lookup + rolling distinct window.
# ---------------------------------------------------------------------------

@register("join_scd2_pointintime")
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The read side of SCD2 (merge_upsert_scd2 is the write side):
    each fact row joins the dimension VERSION that was valid at the
    fact's timestamp. History is derived deterministically from the
    data — every customer's segment reads 'PRE_<segment>' during
    their first year as a customer and '<segment>' afterward — and
    the lookup is the canonical equi-key + validity-range residual
    (valid_from <= ts AND (valid_to IS NULL OR ts < valid_to)),
    evaluated inside the broadcast hash join probe. Exactly one
    version matches per fact by construction. Scale: history is
    dim-sized x versions; the fact shuffles zero times (broadcast
    dim), same as any dim join."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    firsts = (orders.groupBy("o_custkey")
              .agg(F.min("o_orderdate").alias("first_dt")))
    joined = cust.join(firsts, F.col("c_custkey") == F.col("o_custkey"))
    cutoff = F.col("first_dt") + F.expr("INTERVAL 1 YEAR")
    v1 = joined.select(
        "c_custkey",
        F.concat(F.lit("PRE_"), F.col("c_mktsegment")).alias("segment_v"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        cutoff.alias("valid_to"))
    v2 = joined.select(
        "c_custkey", F.col("c_mktsegment").alias("segment_v"),
        cutoff.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"))
    hist = v1.unionByName(v2)
    cond = ((F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("valid_from") <= F.col("o_orderdate"))
            & (F.col("valid_to").isNull()
               | (F.col("o_orderdate") < F.col("valid_to"))))
    return (orders.join(F.broadcast(hist), cond)
            .groupBy(F.col("segment_v").alias("segment_at_order"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 exact_sum(F.col("o_totalprice")).alias("revenue")))


@register("window_rolling_distinct")
def window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct purchasers per active day — the
    rolling COUNT(DISTINCT) SQL window frames cannot express.
    Spark-shape: each (day, user) pair fans out to the 7 report days
    it contributes to (explode(sequence)) and a distinct-aggregate
    collapses — a constant 7x expansion then one bounded exchange,
    instead of the O(days x daily-rows) range self-join a naive
    formulation costs. Report days are restricted (semi join) to
    days with at least one purchase."""
    ev = read_table(spark, sf_dir, "events")
    daily = (ev.filter(F.col("event_type") == "purchase")
             .select(F.to_date("ts").alias("d"), "user_id")
             .distinct())
    days = daily.select("d").distinct()
    fan = daily.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
        .alias("report_d"), "user_id")
    return (fan.join(F.broadcast(days),
                     F.col("report_d") == F.col("d"), "left_semi")
            .groupBy(F.date_format("report_d", "yyyy-MM-dd").alias("day"))
            .agg(F.count_distinct(F.col("user_id")).alias("rolling_users")))


# ---------------------------------------------------------------------------
# Q21 shape: EXISTS + NOT EXISTS composed (suppliers who kept
# multi-supplier orders waiting).
# ---------------------------------------------------------------------------

@register("sql_waiting_suppliers")
def sql_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double correlated quantifiers: suppliers whose line shipped
    late (>60 days after the order) on orders that HAD other
    suppliers (EXISTS) but NO other late supplier (NOT EXISTS).
    De-correlated Spark-side into ONE single-pass two-phase
    aggregate (r13 rewrite; was stats + a separate late-line probe —
    two fact-join passes and three exchanges, 2.28 s at sf0.1):
    phase 1 groups to the (order, supplier) grain with max(is_late)
    — the "distinct" the quantifiers need, with map-side combine and
    NO count_distinct EXPAND (two distinct aggregates would
    triplicate every fact row through the exchange); phase 2 folds
    both quantifiers per order — n_supp >= 2 (EXISTS another
    supplier), n_late_supp == 1 (NOT EXISTS another late one) — and
    with exactly one late supplier max(when(late, suppkey)) IS that
    supplier, so the probe join and late-pair distinct fold away
    too. One fact scan, one fact-sized exchange (+ one
    order-supplier-grain one); 1.35 s at sf0.1 (-41%). The oracle
    keeps the textbook EXISTS/NOT EXISTS form to prove the rewrite
    is equivalent."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    li = (read_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
          .withColumn("is_late",
                      F.col("l_shipdate")
                      > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")))
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name")
    per_supp = (li.groupBy("l_orderkey", "l_suppkey")
                .agg(F.max("is_late").alias("supp_late")))
    hits = (per_supp.groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("n_supp"),
                 F.sum(F.col("supp_late").cast("int"))
                 .alias("n_late_supp"),
                 F.max(F.when(F.col("supp_late"), F.col("l_suppkey")))
                 .alias("l_suppkey"))
            .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)))
    out = (hits.join(F.broadcast(supp),
                     F.col("l_suppkey") == F.col("s_suppkey"))
           .groupBy("s_suppkey", "s_name")
           .agg(F.count(F.lit(1)).alias("numwait")))
    return out.orderBy(F.col("numwait").desc(), F.col("s_suppkey")).limit(20)


# ---------------------------------------------------------------------------
# Spark 4 SQL-surface closure: SQL-defined UDF, lateral join,
# parameterized SQL, observed metrics.
# ---------------------------------------------------------------------------

@register("udf_sql_scalar")
def udf_sql_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-defined scalar function (CREATE FUNCTION ...
    RETURN expr): the engine-native UDF tier — the body inlines into
    the plan as a plain expression (full codegen, no Python round
    trip), which is the right default before reaching for pandas
    UDFs. The oracle inlines the same expression. The charge chain
    runs natively in decimal — a three-factor double product cast to
    a scale-4 decimal has engine-divergent rounding ties (see module
    docstring / the CORRECTNESS_r04 ``sql_pricing_summary`` row)."""
    from ..io import register_temp_views
    register_temp_views(spark, sf_dir)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION discounted_charge(
            price DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS DECIMAL(22,6)
        RETURN CAST(price AS DECIMAL(12,2))
               * CAST(1.0 - disc AS DECIMAL(4,2))
               * CAST(1.0 + tax AS DECIMAL(4,2))
    """)
    return spark.sql("""
        SELECT l_returnflag,
               CAST(SUM(discounted_charge(l_extendedprice,
                                          l_discount, l_tax))
                    AS DOUBLE) AS total_charge,
               COUNT(*) AS n_lines
        FROM lineitem GROUP BY l_returnflag
    """)


@register("join_lateral_topn")
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: per nation, its top-3 customers
    by balance — the SQL-standard form of top-N-per-group. Catalyst
    de-correlates the lateral into a ranked window join (one plan,
    no per-nation re-execution); the oracle states the equivalent
    window formulation, proving the de-correlation."""
    from ..io import register_temp_views
    register_temp_views(spark, sf_dir)
    return spark.sql("""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n,
        LATERAL (
            SELECT c_name, c_acctbal FROM customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey ASC
            LIMIT 3
        ) t
    """)


@register("sql_parameterized_query")
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized spark.sql (named bind parameters, Spark 4) —
    the injection-safe query-template surface an engine's clients
    build on. Parameters bind as literals AFTER parsing, so the
    cached parse/plan is reusable across bindings."""
    from ..io import register_temp_views
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderdate >= :start AND o_orderdate < :end
          AND o_orderstatus = :status
        GROUP BY 1
        """,
        args={"start": "1997-01-01", "end": "1998-01-01", "status": "F"})


@register("sql_pipe_syntax")
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, |> operators — the GoogleSQL-style
    linear query form): a revenue rollup written as a scan |> WHERE
    |> AGGREGATE ... GROUP BY |> ORDER BY chain. Pipe operators
    lower to the exact same logical plan as the nested form (the
    parser is the only difference), so Catalyst's pushdown/partial
    aggregation apply unchanged — the key pins that the alternative
    SQL surface reaches the same plan quality and the same answers
    (oracle is the plain ANSI equivalent). Money discipline: decimal
    casts per the exact_sum recipe, identical in the oracle."""
    from ..io import register_temp_views
    register_temp_views(spark, sf_dir)
    return spark.sql("""
        FROM lineitem
        |> WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |> AGGREGATE
             COUNT(*) AS n_lines,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                 AS sum_qty,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
    """)


@register("dq_observe_metrics")
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality metrics via df.observe(): the metrics
    aggregate rides the SAME job as the main query (no second scan —
    at 100 TB a separate DQ pass doubles cost), and the collected
    observation is metrics-sized, not data-sized. The key returns
    the observed metrics as a 1-row frame; the oracle recomputes
    them as plain aggregates, proving observe == aggregate."""
    from pyspark.sql import Observation
    orders = read_table(spark, sf_dir, "orders")
    obs = Observation("dq")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double").alias("sum_price"),
        F.count(F.when(F.col("o_custkey").isNull(), 1))
        .alias("null_custkeys"))
    # drive the observed plan with a real downstream action shape
    observed.groupBy("o_orderstatus").count().collect()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_price"], m["null_custkeys"])],
        "n_rows bigint, sum_price double, null_custkeys bigint")


@register("graph_triangle_count")
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-supply graph (two suppliers
    adjacent when they ship the same part): exact n_triangles plus
    the global clustering coefficient in integer parts-per-million.
    The engine orients edges low-degree -> high-degree before the
    wedge self-join (Suri-Vassilvitskii), so a power-law hub
    generates O(deg) oriented edges instead of O(deg^2) wedges — the
    orientation is what survives skew at 100 TB; the oracle counts
    the same triangles with the naive id-ordered 3-clique join,
    proving the orientation is a pure optimization."""
    from ..operators.graph import triangle_stats
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey").distinct()
    a = li.withColumnRenamed("l_suppkey", "src")
    b = li.withColumnRenamed("l_suppkey", "dst")
    edges = (a.join(b, "l_partkey")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    return triangle_stats(edges)


@register("graph_triangle_count_sampled")
def graph_triangle_count_sampled(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Bounded node-sample tier of graph_triangle_count — the census
    you'd actually run on a 100 TB co-occurrence projection: the
    exact triangle statistics of the subgraph induced by the
    deterministic supplier sample l_suppkey % 4 == 0 (sampling rate
    p = 1/4; a uniform triangle estimate is census / p^3, the
    standard node-sampling estimator). Why it bounds cost: the
    testdata's co-supply projection is near-complete (~every
    supplier pair shares a part), so wedge work grows ~n^3 in
    supplier count — a 4x node sample is ~64x less join work, the
    quadratic projection fan-out (C(ns,2) pairs per part) drops
    ~16x, and the result stays oracle-EXACT because the sample
    predicate is deterministic and mirrored in the SQL. The
    exhaustive key remains the ground-truth tier; this is the
    documented scale path for dense projections (same
    bounded-coverage pattern as dedup_lsh_calibration_sampled)."""
    from ..operators.graph import triangle_stats
    li = (read_table(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey")
          .filter(F.col("l_suppkey") % 4 == 0)
          .distinct())
    a = li.withColumnRenamed("l_suppkey", "src")
    b = li.withColumnRenamed("l_suppkey", "dst")
    edges = (a.join(b, "l_partkey")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    return triangle_stats(edges)


@register("sql_profit_by_nation_year")
def sql_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (product-type profit by nation and year) on the
    reduced schema: the testdata has no partsupp, so supply cost is a
    deterministic function of the part key (both engines derive the
    identical value — documented deviation, same join/agg skeleton).
    Fact joins: lineitem x orders on the orderkey (the one fact
    shuffle); part, supplier, nation all broadcast; profit summed as
    decimal per (nation, year)."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")).select("p_partkey")
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    supplycost = ((F.col("l_partkey") % 1000) + 1).cast("double") * 0.1
    amount = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
              - F.col("l_quantity") * supplycost)
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").cast("int").alias("o_year"))
            .agg(exact_sum(amount).alias("profit")))


@register("graph_link_prediction")
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the part CO-PURCHASE
    graph (two parts adjacent when they appear in the same order) —
    the classic "bought together with the same partners but never
    together" recommender baseline. Candidates are exactly the
    distance-2 wedges: symmetrized edges self-joined on the pivot,
    existing edges removed with an anti join, scored by Jaccard
    cn / (deg_a + deg_b - cn) and ranked top-20 (ties on the pair).

    Scale: the wedge join's cost is sum(deg(z)^2) over pivots — the
    hub cap (pivots with degree > 100 are excluded, mirrored in the
    oracle) bounds the quadratic term the way real link-prediction
    pipelines do: a super-hub's wedges carry no signal and dominate
    the join. Degrees and counts are exact integers; the Jaccard is
    one shared-order double division."""
    return _link_prediction(spark, sf_dir)


@register("graph_link_prediction_sampled")
def graph_link_prediction_sampled(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Bounded node-sample tier of graph_link_prediction (the
    graph_triangle_count_sampled pattern): exact common-neighbor
    scores on the subgraph induced by the deterministic part sample
    l_partkey % 4 == 0. The wedge join's total cost is
    sum(deg(z)^2) over pivots (~1e8 candidate rows on the dense
    co-purchase projection at sf0.1 even under the hub cap); a p=1/4
    node sample cuts it ~64x (3.7 s vs 14.6 s warm at sf0.1 — the
    remainder is the fixed multi-join floor). The predicate is
    content-independent and mirrored in the oracle, so the bounded
    result is oracle-EXACT — the standard subgraph-evaluation move
    for link-prediction benchmarks."""
    return _link_prediction(spark, sf_dir, sample_mod=4)


def _copurchase_edges(spark: SparkSession, sf_dir: str,
                      sample_mod: int | None) -> DataFrame:
    """Undirected part co-purchase edges (pa < pb, distinct): two
    parts are adjacent when one order holds both. ``sample_mod``
    keeps only parts with l_partkey % sample_mod == 0, filtered on
    the lineitem scan so the sample bounds every later join."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    if sample_mod is not None:
        li = li.filter(F.col("l_partkey") % sample_mod == 0)
    li = li.distinct()
    a = li.withColumnRenamed("l_partkey", "pa")
    b = li.withColumnRenamed("l_partkey", "pb")
    return (a.join(b, "l_orderkey")
            .filter(F.col("pa") < F.col("pb"))
            .select("pa", "pb").distinct())


def _link_prediction(spark: SparkSession, sf_dir: str,
                     sample_mod: int | None = None) -> DataFrame:
    # checkpoint the co-purchase edge list (r14): edges feeds sym
    # twice, the anti-join once and — through sym — the pivot
    # relation twice more; without the barrier the lineitem
    # self-join + distinct re-ran per copy (back-to-back A/B at
    # sf0.1: 17.8 -> 9.0 s in the same window; the box swings 2x
    # between windows, so only same-window pairs are comparable)
    edges = _copurchase_edges(spark, sf_dir, sample_mod).localCheckpoint(
        eager=False)
    sym = edges.unionByName(
        edges.select(F.col("pb").alias("pa"), F.col("pa").alias("pb")))
    deg = sym.groupBy("pa").agg(F.count(F.lit(1)).alias("deg")) \
             .withColumnRenamed("pa", "node")
    piv = (sym.join(deg.withColumnRenamed("node", "pa")
                    .withColumnRenamed("deg", "deg_z"), "pa")
           .filter(F.col("deg_z") <= 100))
    x = piv.select(F.col("pa").alias("z"), F.col("pb").alias("x"))
    y = piv.select(F.col("pa").alias("z"), F.col("pb").alias("y"))
    cand = (x.join(y, "z")
            .filter(F.col("x") < F.col("y"))
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("cn")))
    non_edges = cand.join(
        edges, (F.col("x") == F.col("pa")) & (F.col("y") == F.col("pb")),
        "left_anti")
    scored = (non_edges
              .join(deg.withColumnRenamed("node", "x")
                    .withColumnRenamed("deg", "deg_x"), "x")
              .join(deg.withColumnRenamed("node", "y")
                    .withColumnRenamed("deg", "deg_y"), "y")
              .select("x", "y", "cn", "deg_x", "deg_y",
                      F.round(F.col("cn").cast("double")
                              / (F.col("deg_x") + F.col("deg_y")
                                 - F.col("cn")).cast("double"), 6)
                      .alias("jaccard")))
    return (scored.orderBy(F.desc("jaccard"), "x", "y").limit(20))


@register("graph_label_propagation")
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the undirected customer<->supplier
    trade graph: 3 synchronous label-propagation rounds
    (operators/graph.label_propagation_fixed — most-frequent
    neighbor label, smallest-label ties), then the 10 largest
    communities by (size desc, label asc). Completes the graph
    family (pagerank, connected components, triangles, kNN graph)
    with the community-structure axis. The oracle unrolls the
    identical 3 rounds as chained CTEs (the pagerank_fixed
    convention) over the STRING labels; the Spark plan runs the
    rounds on the order-preserving bigint embedding
    (operators/graph.cs_node_encode — r14: every exchange shuffles
    longs instead of strings and the per-round argmin hash-
    aggregates instead of sort-aggregating; numeric order == string
    order makes every count/tie decision identical) and decodes the
    10 output labels back to strings."""
    from ..operators.graph import (cs_node_decode, label_propagation_fixed,
                                   trade_graph_edges)
    # widen: the sf0.1 lineitem is one parquet row group (one scan
    # task); no-op at scale where the scan has thousands of splits
    edges = trade_graph_edges(widen(read_table(spark, sf_dir, "lineitem")),
                              read_table(spark, sf_dir, "orders"))
    lab = label_propagation_fixed(edges, iterations=3)
    comm = (lab.groupBy("lbl")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_members")))
    return (comm.orderBy(F.desc("n_members"), F.asc("lbl"))
            .limit(10)
            .select(cs_node_decode("lbl").alias("community_label"),
                    "n_members"))
