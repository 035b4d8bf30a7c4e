"""Pattern-mining / preference-query pack (round 10): five operator
classes a complete analytics engine needs that nothing in the
registry covered yet —

- ``graph_bfs_distances``    multi-source BFS reachability (unrolled
  frontier expansion — the Pregel shape, like pagerank/LPA)
- ``mining_basket_pairs``    association-rule mining (Apriori-pruned
  pairwise co-occurrence with support + lift)
- ``query_pareto_skyline``   2-D skyline / Pareto-dominance query via
  the bucket-prune + per-bucket-refine plan (never all-pairs)
- ``attribution_time_decay`` multi-touch attribution with exponential
  time decay (complements attribution_first_touch)
- ``curate_winsorize_scores`` per-group winsorization at exact
  rank-based percentile bounds (outlier clipping for curation)

Reference parity note: the reference is a per-entity extract tool
(SURVEY.md §2.3 — no local query engine), so these extend the
engine's coverage the way the OLAP/TPC-H pack does: each key pins a
distinct execution capability. Arithmetic is exact-integer
throughout (floor(x*scale+0.5) money units, integer div, bit-shift
decay weights) so the DuckDB oracles match bit for bit.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_table, widen
from ..operators.graph import (cs_node_encode, trade_graph_edges,
                               unrolled_rounds)
from ..operators.windows import bucketed_cumsum
from .queries import register

# ---------------------------------------------------------------------------
# Multi-source BFS over the customer<->supplier trade graph.
# ---------------------------------------------------------------------------


@register("graph_bfs_distances")
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: shortest-hop distance from a seed supplier
    cohort (s_suppkey % 16 == 7 — deterministic and non-empty at
    every SF) over the undirected trade graph, 3 unrolled rounds,
    reported as nodes-per-distance.

    Scale: the Pregel shape — per round ONE |frontier-edges| join
    shuffled on the node key plus a node-sized distinct + anti-join
    against the labeled set; no round ever materializes more than the
    node set. The trade_graph_edges list is lazily checkpointed once
    so the three rounds share it instead of re-deriving the fact
    join. Nodes travel as the bigint
    cs_node_encode embedding, not "C../S.." strings (r14): BFS's
    output is a distance histogram, so node identity only ever
    joins/dedups — an injective integer id gives the identical
    result while every per-round exchange, sort and hash runs on
    longs instead of strings.
    """
    # widen: the sf0.1 lineitem is one parquet row group (one scan
    # task); no-op at scale where the scan has thousands of splits
    edges = trade_graph_edges(
        widen(read_table(spark, sf_dir, "lineitem")),
        read_table(spark, sf_dir, "orders")).localCheckpoint(eager=False)
    seeds = (read_table(spark, sf_dir, "supplier")
             .filter(F.col("s_suppkey") % 16 == 7)
             .select(cs_node_encode("S", "s_suppkey").alias("node"))
             .distinct())

    def expand(frontiers: list[DataFrame]) -> DataFrame:
        labeled = reduce(DataFrame.unionByName, frontiers)
        return (edges.join(frontiers[-1],
                           edges["src"] == frontiers[-1]["node"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(labeled, "node", "left_anti"))

    frontiers = unrolled_rounds(seeds, expand, rounds=3)
    levels = reduce(DataFrame.unionByName, [
        fr.select(F.lit(dist).cast("int").alias("dist"), "node")
        for dist, fr in enumerate(frontiers)])
    return (levels.groupBy("dist")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
            .orderBy("dist"))


# ---------------------------------------------------------------------------
# Association-rule mining: Apriori-pruned brand pair co-occurrence.
# ---------------------------------------------------------------------------


@register("mining_basket_pairs")
def mining_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: orders are baskets, p_brand the item
    vocabulary; emit the 15 most frequent brand pairs with exact
    integer support_e6 and lift_e6.

    Scale: the Apriori prune comes first — item frequencies are a
    |vocab|-sized aggregate, broadcast back so infrequent items never
    reach pair generation (a no-op on the 25-brand fixture, the whole
    point at a 100 TB vocabulary). Pairs come from ONE basket-array
    aggregate + nested explode (r14, the graph_weighted_sssp edge
    recipe): collect_set per order — a single orderkey exchange whose
    partial aggregation dedups map-side — then every in-basket pair
    a < b, directly into the pair count. The equi self-join it
    replaces shuffled the frequent-item relation TWICE more (both
    SMJ sides re-exchanged on the basket key) and paid two sorts:
    same output rows with two fewer |basket|-sized exchanges
    (back-to-back A/B at sf0.1 is a wash — 2.66 vs 2.63 s, the
    fixture fits one exchange — the receipt is the plan:
    SortMergeJoin + 2 sorts -> ObjectHashAggregate + Generate).
    Per-row memory is the frequent-
    brand set (Apriori-bounded, <= vocabulary); counts/lift use
    DECIMAL(38,0) products so nothing wraps int64 at any scale
    (DuckDB mirrors with HUGEINT).
    """
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = widen(read_table(spark, sf_dir, "lineitem")).select(
        "l_partkey", "l_orderkey")
    basket = (li.join(F.broadcast(part),
                      F.col("l_partkey") == F.col("p_partkey"))
              .select(F.col("l_orderkey").alias("o"),
                      F.col("p_brand").alias("b"))
              .distinct()
              .localCheckpoint(eager=False))
    nb = basket.agg(F.count_distinct(F.col("o")).cast("bigint").alias("n"))
    freq = basket.groupBy("b").agg(F.count(F.lit(1)).cast("bigint")
                                   .alias("cnt"))
    # Apriori gate: items in <1% of baskets can't be in a >=1% pair.
    fitems = (freq.crossJoin(F.broadcast(nb))
              .filter(F.col("cnt") * 100 >= F.col("n"))
              .select("b", "cnt"))
    fb = basket.join(F.broadcast(fitems), "b").select("o", "b")
    sets = fb.groupBy("o").agg(F.collect_set("b").alias("bs"))
    pairs = (sets.select(F.explode("bs").alias("ba"), "bs")
             .select("ba", F.explode("bs").alias("bb"))
             .filter(F.col("ba") < F.col("bb"))
             .groupBy(F.col("ba").alias("brand_a"),
                      F.col("bb").alias("brand_b"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("pair_cnt")))
    dec = "decimal(38,0)"
    return (pairs
            .join(F.broadcast(fitems.select(F.col("b").alias("brand_a"),
                                            F.col("cnt").alias("cnt_a"))),
                  "brand_a")
            .join(F.broadcast(fitems.select(F.col("b").alias("brand_b"),
                                            F.col("cnt").alias("cnt_b"))),
                  "brand_b")
            .crossJoin(F.broadcast(nb))
            .select(
                "brand_a", "brand_b", "pair_cnt",
                F.expr(f"cast(cast(pair_cnt as {dec}) * 1000000 div n"
                       " as bigint)").alias("support_e6"),
                F.expr(f"cast(cast(pair_cnt as {dec}) * n * 1000000"
                       f" div (cast(cnt_a as {dec}) * cnt_b)"
                       " as bigint)").alias("lift_e6"))
            .orderBy(F.desc("pair_cnt"), "brand_a", "brand_b")
            .limit(15))


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto-dominance) query.
# ---------------------------------------------------------------------------


@register("query_pareto_skyline")
def query_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query: suppliers not Pareto-dominated on (revenue_e4,
    total_qty), both maximized — q dominates p iff q >= p on both
    metrics and > on at least one.

    Scale: NEVER the textbook all-pairs anti-join (that's the
    oracle's job) — operators/preference.skyline_2d is the
    bucket-prune + per-bucket-refine plan (<=1024-bucket broadcast
    suffix-max filter, then per-bucket windows; see its module
    docstring for the dominance-transitivity argument and the tie
    semantics, both pinned by tests/test_mining_pack.py against a
    brute-force reference). Here it runs on one fact-shuffle
    aggregate to supplier grain (exact e4 money units via
    floor(x*1e4+0.5)).
    """
    from ..operators.preference import skyline_2d
    li = widen(read_table(spark, sf_dir, "lineitem"))
    m = (li.groupBy(F.col("l_suppkey").alias("suppkey"))
         .agg(F.sum(F.floor(F.col("l_extendedprice")
                            * (F.lit(1.0) - F.col("l_discount"))
                            * 10000 + F.lit(0.5)).cast("bigint"))
              .cast("bigint").alias("revenue_e4"),
              F.sum(F.col("l_quantity").cast("bigint"))
              .cast("bigint").alias("total_qty")))
    return (skyline_2d(m, "suppkey", "revenue_e4", "total_qty")
            .orderBy(F.desc("revenue_e4"), "suppkey"))


# ---------------------------------------------------------------------------
# Multi-touch attribution with exponential time decay.
# ---------------------------------------------------------------------------


@register("attribution_time_decay")
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution: every purchase splits its revenue over
    the user's touch events in the prior 7 days, each touch weighted
    2^-(whole days before the purchase) — all in exact integers
    (weight = 64 >> days, credit = cents * w div total_w), so the
    floor-share credits are bit-identical in the oracle. Purchases
    with no touch in the window report as '(direct)'.

    Scale (the r10 verdict's quadratic, rewritten): the naive plan is
    purch JOIN touch ON user_id with the 7-day predicate as a
    post-filter — per-user pair fan-out, measured 415x shuffle growth
    at 20x event density. Pure day-grain pre-aggregation is NOT
    bit-exact (floor((p_us-t_us)/DAY) is not a function of the
    calendar-day delta: a touch 23h before a noon purchase and one 1h
    before are both delta 0 despite different calendar days), so this
    uses the exact sorted-rank idiom instead: each purchase emits 8
    day-aligned boundary probes per touch type (x_d = p_us - d*DAY,
    d=0..7), a single cumulative count over (user_id, t_type, time
    order) assigns every probe C(x) = #touches before it, and the
    per-day-bin touch count is the difference of adjacent probes
    (cnt_d = C_d - C_{d+1}).  All touches in a bin share the same
    weight 64>>d, so per-touch floor credits collapse exactly to
    cnt * ((value_e2 * w) div tot_w).  Cost is linear: |touch| +
    8*|types|*|purch| rows through one user-keyed sort — a bot user
    is a single sorted partition scan, never a pair blow-up.
    """
    day_us = 86_400_000_000
    ev = read_table(spark, sf_dir, "events")
    purch = (ev.filter(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("p_eid"), "user_id",
                     F.unix_micros("ts").alias("p_us"),
                     F.floor(F.col("value") * 100 + F.lit(0.5))
                     .cast("bigint").alias("value_e2")))
    touch = (ev.filter(F.col("event_type") != "purchase")
             .select("user_id", F.unix_micros("ts").alias("t_us"),
                     F.col("event_type").alias("t_type")))
    types = touch.select("t_type").distinct()
    # Boundary probes: d=0 counts strictly-before (ord 0 sorts the
    # probe before an equal-timestamp touch), d>=1 count <= (ord 2
    # sorts it after); touches carry ord 1. cnt_d = C_d - C_{d+1}
    # then reproduces the exact bin (p-(d+1)*DAY, p-d*DAY) ∩ t<p.
    probes = (purch.crossJoin(F.broadcast(types))
              .select("p_eid", "user_id", "value_e2", "t_type", "p_us",
                      F.explode(F.sequence(F.lit(0), F.lit(7)))
                      .alias("d"))
              .select("p_eid", "user_id", "value_e2", "t_type", "d",
                      (F.col("p_us") - F.col("d") * day_us).alias("x_us"),
                      F.when(F.col("d") == 0, F.lit(0)).otherwise(F.lit(2))
                      .alias("ord"), F.lit(0).alias("is_touch")))
    tagged = probes.unionByName(
        touch.select(F.lit(None).cast("long").alias("p_eid"), "user_id",
                     F.lit(None).cast("bigint").alias("value_e2"), "t_type",
                     F.lit(None).cast("int").alias("d"),
                     F.col("t_us").alias("x_us"), F.lit(1).alias("ord"),
                     F.lit(1).alias("is_touch")))
    wcum = (Window.partitionBy("user_id", "t_type").orderBy("x_us", "ord")
            .rowsBetween(Window.unboundedPreceding, 0))
    cums = (tagged.withColumn("cum", F.sum("is_touch").over(wcum))
            .filter(F.col("is_touch") == 0))
    wnext = Window.partitionBy("p_eid", "t_type").orderBy("d")
    bins = (cums.withColumn("next_cum", F.lead("cum").over(wnext))
            .filter(F.col("d") <= 6)
            .select("p_eid", "value_e2", "t_type",
                    (F.col("cum") - F.col("next_cum")).cast("bigint")
                    .alias("cnt"),
                    F.expr("shiftright(cast(64 as bigint), "
                           "cast(d as int))")
                    .cast("bigint").alias("w"))
            .filter(F.col("cnt") > 0))
    tot = (bins.groupBy("p_eid")
           .agg(F.sum(F.col("cnt") * F.col("w")).cast("bigint")
                .alias("tot_w")))
    credit = (bins.join(tot, "p_eid")
              .select("t_type", "cnt", "w",
                      (F.col("cnt")
                       * F.expr("(value_e2 * w) div tot_w"))
                      .alias("credit_e2")))
    attributed = (credit.groupBy(F.col("t_type").alias("entry_type"))
                  .agg(F.sum("cnt").cast("bigint").alias("n_credits"),
                       F.sum(F.col("cnt") * F.col("w")).cast("bigint")
                       .alias("weight_units"),
                       F.sum("credit_e2").cast("bigint")
                       .alias("credited_e2")))
    direct = (purch.join(bins.select("p_eid").distinct(), "p_eid",
                         "left_anti")
              .agg(F.lit("(direct)").alias("entry_type"),
                   F.count(F.lit(1)).cast("bigint").alias("n_credits"),
                   F.lit(0).cast("bigint").alias("weight_units"),
                   F.sum("value_e2").cast("bigint").alias("credited_e2"))
              .filter(F.col("n_credits") > 0))
    return (attributed.unionByName(direct)
            .orderBy(F.desc("credited_e2"), "entry_type"))


# ---------------------------------------------------------------------------
# Per-group winsorization at exact rank-based percentile bounds.
# ---------------------------------------------------------------------------


@register("curate_winsorize_scores")
def curate_winsorize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize the document-length signal per source: clip each
    source's n_chars to its exact [p10, p90] rank bounds (0-based
    index (n*10) div 100 from either end, deterministic (n_chars,
    doc_id) order — engine-agnostic, unlike percentile_disc whose
    index convention differs between Spark and DuckDB) and report
    per-source sums before/after. The outlier-clipping step a
    curation pipeline runs before averaging quality signals.

    Scale: one window pass partitioned by source (parallel across
    sources) for ranks, a source-grain bounds aggregate broadcast
    back, one final source-grain rollup. All-integer, no division.
    """
    docs = read_table(spark, sf_dir, "documents").select(
        "source", "n_chars", "doc_id")
    wsrc = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = (docs
              .withColumn("rn", F.row_number().over(wsrc))
              .withColumn("n", F.count(F.lit(1)).over(
                  Window.partitionBy("source")).cast("bigint")))
    bounds = (ranked.groupBy("source")
              .agg(F.max(F.when(F.expr("rn = (n*10) div 100 + 1"),
                                F.col("n_chars"))).alias("lo"),
                   F.max(F.when(F.expr("rn = n - (n*10) div 100"),
                                F.col("n_chars"))).alias("hi")))
    return (ranked.join(F.broadcast(bounds), "source")
            .groupBy("source", "lo", "hi")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("sum_raw"),
                 F.sum(F.least(F.greatest(F.col("n_chars"), F.col("lo")),
                               F.col("hi"))).cast("bigint")
                 .alias("sum_winsor"))
            .select("source", "n_docs", "lo", "hi", "sum_raw", "sum_winsor")
            .orderBy("source"))

# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test (distribution-level drift,
# next to eval_score_drift_psi's binned PSI).
# ---------------------------------------------------------------------------


@register("dq_ks_drift")
def dq_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic between the engagement-event value
    distribution (view/click = reference) and the purchase value
    distribution (current): D = max_v |ecdf_ref(v) - ecdf_cur(v)|,
    kept exact as the integer numerator max|cum_ref*n_cur -
    cum_cur*n_ref| over the common denominator n_ref*n_cur
    (DECIMAL(38,0) products — DuckDB mirrors with HUGEINT), plus the
    argmax value (smallest at ties). PSI needs bins chosen up front;
    KS is the binning-free complement a drift monitor runs next to it.

    Scale: the per-value histogram is one map-side-combining shuffle
    bounded by the VALUE DOMAIN (cents), never row count; the
    cumulative is operators.windows.bucketed_cumsum on the value key
    — no un-partitioned window. Like auc_rank_ppm, the integer ceiling is
    n_ref*n_cur <= int64 for the REPORTED numerator; past ~3e9 rows a
    side, run it on a deterministic hash sample (the metric's
    precision saturates far earlier).
    """
    ev = read_table(spark, sf_dir, "events")
    return ks_from_value_hist(spark, ks_value_histogram(ev))


def ks_value_histogram(events: DataFrame) -> DataFrame:
    """The stateful half of the KS monitor: the per-cent-value
    (v, c_ref, c_cur) histogram — reference = view/click values,
    current = purchase values. Value-DOMAIN-bounded regardless of row
    count, and a plain conditional aggregate, so it runs identically
    as a batch groupBy or as a complete-mode streaming aggregate
    (stream_ks_drift_live holds the availableNow snapshot to the same
    oracle)."""
    pop = (events
           .filter(F.col("event_type").isin("view", "click", "purchase"))
           .select(F.floor(F.col("value") * 100 + F.lit(0.5))
                   .cast("bigint").alias("v"),
                   F.when(F.col("event_type") == "purchase", F.lit(1))
                   .otherwise(F.lit(0)).alias("grp")))
    return (pop.groupBy("v")
            .agg(F.sum(1 - F.col("grp")).cast("bigint").alias("c_ref"),
                 F.sum("grp").cast("bigint").alias("c_cur")))


def _cdf_gap() -> Column:
    """|cum_ref*n_cur - cum_cur*n_ref| in DECIMAL(38,0): the exact
    integer numerator of the two ECDFs' gap at one value."""
    return F.expr("abs(cast(cum_c_ref as decimal(38,0)) * n_cur"
                  " - cast(cum_c_cur as decimal(38,0)) * n_ref)")


def ks_from_value_hist(spark: SparkSession, hist0: DataFrame) -> DataFrame:
    """KS finisher over a (v, c_ref, c_cur) histogram: the
    bucketed_cumsum cumulative over 256-cent buckets, then the exact
    integer max |cum_ref*n_cur - cum_cur*n_ref| with its argmax
    value (smallest at ties), both from one aggregate. n_ref/n_cur
    are the cumulative's grand totals, literals from its collect."""
    cum, (n_ref, n_cur, n_rows) = bucketed_cumsum(
        hist0, F.expr("cast(v div 256 as int)"), ["v"],
        values=["c_ref", "c_cur"])
    d = cum.withColumns({"n_ref": F.lit(n_ref).cast("bigint"),
                         "n_cur": F.lit(n_cur).cast("bigint")}) \
        .withColumn("num", _cdf_gap())
    # argmax key, unique per row: num first, then ascending v
    # (cum_rows is the row's position in v order; the NULL-v row
    # loses every tie), so max_by is deterministic. It stays below 10^38
    # under the int64 ceiling of n_ref*n_cur, and keeps the aggregate
    # hash-based (a max over a (num, -v) struct is a SortAggregate).
    rank = F.when(F.col("v").isNull(), F.lit(0)) \
        .otherwise(F.lit(n_rows + 1) - F.col("cum_rows"))
    key = F.col("num") * F.lit(n_rows + 1) + rank
    return (d.agg(F.max("n_ref").alias("n_ref"),
                  F.max("n_cur").alias("n_cur"),
                  F.max("num").alias("__num"),
                  F.max_by("v", key).cast("bigint").alias("at_value_e2"))
            .select("n_ref", "n_cur",
                    F.col("__num").cast("bigint").alias("ks_num"),
                    F.expr("cast(__num * 1000000 div"
                           " (cast(n_ref as decimal(38,0)) * n_cur)"
                           " as bigint)")
                    .alias("ks_e6"),
                    "at_value_e2"))


# ---------------------------------------------------------------------------
# Chi-square test of independence (categorical association).
# ---------------------------------------------------------------------------


@register("dq_chi_square_assoc")
def dq_chi_square_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between event_type and day-of-week
    (epoch-day mod 7 — engine-agnostic, unlike dayofweek() whose
    origin differs between Spark and DuckDB): chi2 = sum over cells of
    (o*N - r*c)^2 / (N*r*c), each term an exact DECIMAL(38,0) rational
    floored at 1e-6 — the seasonality-association screen next to
    dq_seasonal_anomaly's per-cell spike test.

    Scale: the contingency table is one map-side-combining aggregate
    bounded by |types| x 7; margins and N are broadcast joins on the
    cell relation. Decimal ceiling (r10 advice corrected the bound):
    the widest intermediate is dev^2 * 1e6 with |dev| <= N^2, so
    N^4 * 1e6 must fit 38 digits — counts to ~1e8, not 1e9; past
    that, a deterministic hash sample (the test saturates far
    earlier). Spark's non-ANSI decimal overflow NULLs while DuckDB
    HUGEINT errors, so staying under the bound is a correctness
    requirement, not a precision nicety.
    """
    ev = read_table(spark, sf_dir, "events")
    cell = (ev.groupBy(
        F.col("event_type").alias("et"),
        F.expr("cast((unix_micros(ts) div 86400000000 + 4) % 7 as int)")
        .alias("dow"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("o")))
    r = cell.groupBy("et").agg(F.sum("o").cast("bigint").alias("rt"))
    c = cell.groupBy("dow").agg(F.sum("o").cast("bigint").alias("ct"))
    nn = cell.agg(F.sum("o").cast("bigint").alias("n"))
    dims = (r.agg(F.count(F.lit(1)).alias("nr"))
            .crossJoin(c.agg(F.count(F.lit(1)).alias("nc"))))
    dec = "decimal(38,0)"
    terms = (cell.join(F.broadcast(r), "et")
             .join(F.broadcast(c), "dow")
             .crossJoin(F.broadcast(nn))
             .withColumn("dev", F.expr(
                 f"cast(o as {dec}) * n - cast(rt as {dec}) * ct"))
             .withColumn("den", F.expr(f"cast(rt as {dec}) * ct * n")))
    return (terms.agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"),
                      F.expr("cast(sum((dev * dev * 1000000) div den)"
                             " as bigint)").alias("chi2_e6"))
            .crossJoin(F.broadcast(dims))
            .select("n_cells",
                    F.expr("cast((nr - 1) * (nc - 1) as bigint)")
                    .alias("dof"),
                    "chi2_e6"))


# ---------------------------------------------------------------------------
# t-closeness audit (ordered-attribute EMD per QI group) — completes
# the k-anonymity / l-diversity privacy trio.
# ---------------------------------------------------------------------------


def _acctbal_bands(cust: DataFrame, qi_nation) -> DataFrame:
    """(qi_nation, qi_seg, band) projection shared by the t-closeness
    key and the composed release gate: 10 ordered $1100 account-
    balance bands from exact integer cents."""
    return cust.select(
        qi_nation.alias("qi_nation"),
        F.col("c_mktsegment").alias("qi_seg"),
        F.least(F.lit(9), F.greatest(F.lit(0), F.expr(
            "(cast(floor(c_acctbal * 100 + 0.5) as bigint) + 100000)"
            " div 110000"))).alias("band"))


def qi_band_emd(g: DataFrame) -> DataFrame:
    """Per-QI-group ordered-band EMD vs the GLOBAL band distribution
    over a (qi_nation, qi_seg, band, cg) count relation: EMD =
    (1/(m-1)) * sum_k |cumsum_k(p - q)| kept exact as integer
    cumulative counts over the common denominator n_g*N
    (DECIMAL(38,0); the oracles mirror with HUGEINT). The dense band
    spine (QI groups x 10 via the broadcast global distribution)
    means zero-count bands still shift the cumsum; the windows are
    QI-partitioned over 10 rows — parallel, never SinglePartition.
    Returns (qi_nation, qi_seg, ng, emd_e6), QI-domain-sized."""
    gt = g.groupBy("qi_nation", "qi_seg").agg(
        F.sum("cg").cast("bigint").alias("ng"))
    gl = g.groupBy("band").agg(F.sum("cg").cast("bigint").alias("cb"))
    nn = g.agg(F.sum("cg").cast("bigint").alias("n"))
    gk = g.select(F.col("qi_nation").alias("g_nation"),
                  F.col("qi_seg").alias("g_seg"),
                  F.col("band").alias("g_band"), "cg")
    spine = (gt.crossJoin(F.broadcast(gl))
             .join(gk, (F.col("qi_nation") == F.col("g_nation"))
                   & (F.col("qi_seg") == F.col("g_seg"))
                   & (F.col("band") == F.col("g_band")), "left")
             .select("qi_nation", "qi_seg", "ng", "band", "cb",
                     F.coalesce(F.col("cg"), F.lit(0)).alias("cgf")))
    w = (Window.partitionBy("qi_nation", "qi_seg").orderBy("band")
         .rowsBetween(Window.unboundedPreceding, 0))
    dec = "decimal(38,0)"
    cum = (spine
           .withColumn("cum_g", F.sum("cgf").over(w))
           .withColumn("cum_b", F.sum("cb").over(w))
           .crossJoin(F.broadcast(nn)))
    return (cum.filter(F.col("band") < 9)
            .groupBy("qi_nation", "qi_seg", "ng")
            .agg(F.expr(
                f"cast(sum(abs(cast(cum_g as {dec}) * n"
                f" - cast(cum_b as {dec}) * ng)) * 1000000"
                f" div (9 * cast(ng as {dec}) * max(n)) as bigint)")
                .alias("emd_e6")))


@register("privacy_t_closeness")
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness over customer: per QI group (nationkey%5,
    mktsegment), the earth-mover's distance between the group's
    account-balance band distribution (10 ordered bands) and the
    global one — for equally spaced ordered categories EMD =
    (1/(m-1)) * sum_k |cumsum_k(p - q)|, kept exact as integer
    cumulative counts over the common denominator n_g*N
    (DECIMAL(38,0)/HUGEINT products), reported in 1e-6 units with the
    t=0.15 violation flag. k-anonymity bounds group SIZE,
    l-diversity distinct sensitive VALUES; t-closeness is the
    remaining axis — distributional skew — and the trio is the
    standard release gate.

    Scale: one (qi, band) aggregate off the fact scan, the 10-row
    global band distribution broadcast onto the QI-group spine (a
    dense band spine per group, so zero-count bands still shift the
    cumsum), per-group windows over 10 rows (partitioned by QI —
    parallel), then a QI-grain rollup. Nothing exceeds
    |QI groups| x 10 after the first aggregate.
    """
    cust = read_table(spark, sf_dir, "customer")
    g = (_acctbal_bands(cust, F.col("c_nationkey") % 5)
         .groupBy("qi_nation", "qi_seg", "band")
         .agg(F.count(F.lit(1)).cast("bigint").alias("cg"))
         .localCheckpoint(eager=False))
    emd = qi_band_emd(g)
    return (emd.select(
        "qi_nation", "qi_seg", "ng", "emd_e6",
        F.when(F.col("emd_e6") > 150000, F.lit(1)).otherwise(F.lit(0))
        .cast("int").alias("t_violation"))
        .orderBy(F.desc("emd_e6"), "qi_nation", "qi_seg")
        .limit(20))

# ---------------------------------------------------------------------------
# Binary-code (hamming) ANN — completes the similarity family
# (brute / IVF / PQ / LSH) with the bit-packed index path.
# ---------------------------------------------------------------------------


@register("sim_hamming_topk")
def sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-code similarity search (the FAISS binary-index shape):
    every vector is compressed to a 64-bit per-dimension sign code
    (component >= the dimension's corpus mean, thresholds exact
    integer e6 means), packed into two 32-bit words, and the 4-query
    batch is served by XOR + popcount ranking — top-5 per query by
    (hamming, vec_id).

    Scale: the code build is one posexplode pass + a 64-row broadcast
    threshold join + one vec-keyed aggregate (64 bytes/vector of
    state, 16 bytes/vector of index); the serve is a broadcast-batch
    scan over the packed codes — 2 bigints per vector vs 64 floats,
    the 32x scan-density win that makes binary indexes the standard
    first-pass filter at corpus scale. Per-query ranking rides the
    WindowGroupLimit rank-filter (the text_bm25_batch_queries
    convention: map-side top-k pre-filter, reduce side carries only
    ~Q x 5 rows). Components are offset to non-negative e6 before the
    mean so Spark's truncating `div` and DuckDB's flooring `//`
    agree; the threshold compare is offset-invariant.
    """
    ex = (read_table(spark, sf_dir, "embeddings")
          .select("vec_id", F.posexplode("embedding").alias("j", "x"))
          .select("vec_id", "j",
                  (F.floor(F.col("x") * 1_000_000 + F.lit(0.5))
                   .cast("bigint") + F.lit(10_000_000)).alias("xe")))
    dec = "decimal(38,0)"
    mu = ex.groupBy("j").agg(
        F.expr(f"cast(cast(sum(cast(xe as {dec})) div count(1) as bigint)"
               " as bigint)").alias("m"))
    bits = (ex.join(F.broadcast(mu), "j")
            .select("vec_id", "j",
                    F.when(F.col("xe") >= F.col("m"), F.lit(1))
                    .otherwise(F.lit(0)).cast("bigint").alias("b")))
    codes = (bits.groupBy("vec_id")
             .agg(F.coalesce(F.sum(F.when(F.col("j") < 32, F.expr(
                 "b * shiftleft(cast(1 as bigint), cast(j % 32 as int))"))),
                 F.lit(0)).cast("bigint").alias("c1"),
                 F.coalesce(F.sum(F.when(F.col("j") >= 32, F.expr(
                     "b * shiftleft(cast(1 as bigint),"
                     " cast(j % 32 as int))"))),
                 F.lit(0)).cast("bigint").alias("c2"))
             .localCheckpoint(eager=False))
    q = (codes.filter(F.col("vec_id") < 4)
         .select(F.col("vec_id").alias("qid"),
                 F.col("c1").alias("q1"), F.col("c2").alias("q2")))
    h = (codes.crossJoin(F.broadcast(q))
         .filter(F.col("vec_id") != F.col("qid"))
         .select("qid", "vec_id",
                 (F.bit_count(F.expr("q1 ^ c1"))
                  + F.bit_count(F.expr("q2 ^ c2")))
                 .cast("bigint").alias("hd")))
    w = Window.partitionBy("qid").orderBy("hd", "vec_id")
    return (h.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= 5)
            .select("qid", "vec_id", "hd")
            .orderBy("qid", "hd", "vec_id"))


# ---------------------------------------------------------------------------
# Heaps-law type-token growth curve (corpus vocabulary scaling).
# ---------------------------------------------------------------------------


@register("text_heaps_law")
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law curve: distinct trigram-type count at four corpus
    prefix cuts (doc_id quartiles) against the cumulative gram count
    — the vocabulary-scaling estimate a tokenizer/corpus plan reads
    before committing vocab size (trigram types, because the
    synthetic unigram vocabulary saturates at ~31 tokens; the
    trigram curve shows real sublinear growth).

    Scale: first-occurrence-per-type is ONE gram-keyed aggregate
    (min doc_id — no per-cut rescan); the four cuts are then
    conditional counts over the type relation fanned out x4, and the
    token denominators come from a doc-grain relation the same way.
    Nothing rescans the corpus per cut.
    """
    from ..operators.text import word_shingles
    docs = (widen(read_table(spark, sf_dir, "documents"))
            .select("doc_id", F.split("text", " ").alias("toks")))
    tri = docs.select("doc_id", F.explode(word_shingles(F.col("toks"), 3))
                      .alias("g"))
    fo = tri.groupBy("g").agg(F.min("doc_id").alias("fd"))
    dt = docs.select("doc_id",
                     F.greatest(F.size("toks") - 2, F.lit(0))
                     .cast("bigint").alias("nt"))
    b = docs.agg((F.max("doc_id") + 1).cast("bigint").alias("m"))
    qs = F.explode(F.sequence(F.lit(1), F.lit(4))).alias("quartile")
    vocab = (fo.crossJoin(F.broadcast(b)).select("fd", "m", qs)
             .filter(F.expr("fd < quartile * m div 4"))
             .groupBy("quartile")
             .agg(F.count(F.lit(1)).cast("bigint").alias("vocab")))
    toks = (dt.crossJoin(F.broadcast(b)).select("doc_id", "nt", "m", qs)
            .filter(F.expr("doc_id < quartile * m div 4"))
            .groupBy("quartile")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("nt").cast("bigint").alias("n_grams")))
    return (toks.join(vocab, "quartile")
            .select("quartile", "n_docs", "n_grams", "vocab")
            .orderBy("quartile"))


# ---------------------------------------------------------------------------
# mapInArrow — the remaining §2.11 UDF API surface (vectorized
# non-grouped Arrow batches; mapInPandas/applyInPandas/applyInArrow
# and scalar pandas UDFs are already covered).
# ---------------------------------------------------------------------------


@register("udf_map_in_arrow")
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.mapInArrow: per-batch token counting with pyarrow
    compute kernels (count_substring + add — no Python per-row loop,
    no pandas conversion), rolled up per source. Pins the last
    uncovered §2.11 execution surface; the aggregate equals the
    engine-side split() count so any batch-boundary or kernel
    drift is a red row.

    Scale: ArrowEvalPython streams record batches through the worker
    (vectorized, zero-copy columns), the rollup partial-aggregates —
    the same shape as the mapInPandas multimodal keys but without
    the pandas materialization.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def count_tokens(batches):
        for batch in batches:
            n = pc.add(pc.count_substring(batch.column("text"),
                                          pattern=" "), 1)
            yield pa.RecordBatch.from_arrays(
                [batch.column("source"), n.cast(pa.int64())],
                names=["source", "n_tokens"])

    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    mapped = docs.mapInArrow(count_tokens, "source string, n_tokens long")
    return (mapped.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("sum_tokens"))
            .orderBy("source"))

# ---------------------------------------------------------------------------
# GROUPED_AGG pandas UDF — the custom-aggregate §2.11 surface
# (scalar pandas UDF, grouped-map, applyInArrow, mapInPandas,
# mapInArrow, and UDTFs are covered; Series->scalar aggregation
# was the remaining form).
# ---------------------------------------------------------------------------


@register("udf_pandas_grouped_agg")
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: an exact lower-median custom
    aggregate (sorted int64 numpy, element at 0-based (n-1)//2 —
    deterministic, no interpolation) over n_chars per source, used
    directly inside groupBy().agg() next to built-in aggregates.
    The oracle indexes the same order statistic via list_sort, so a
    batching or partial-aggregation drift is a red row.

    Scale: GROUPED_AGG ships each group's column to one Python
    worker as a single Arrow batch — fine for bounded groups like
    per-source stats, the wrong tool for billion-row groups (the
    docstring's honesty note: Spark cannot partially aggregate a
    black-box Python UDAF; unbounded groups belong to the built-in
    percentile machinery or the distributed-histogram idiom, e.g.
    window_rolling_median / dq_equidepth_histogram).
    """
    import numpy as np
    import pandas as pd

    def _lower_median(v):
        a = np.sort(v.to_numpy(np.int64))
        return int(a[(len(a) - 1) // 2])

    # real annotation OBJECTS, not strings: this module runs under
    # `from __future__ import annotations`, which would stringify a
    # `v: pd.Series -> int` hint and break pandas_udf's Series->scalar
    # (GROUPED_AGG) eval-type inference (pd isn't resolvable from the
    # module globals)
    _lower_median.__annotations__ = {"v": pd.Series, "return": int}
    exact_lower_median = F.pandas_udf(_lower_median, "long")

    docs = read_table(spark, sf_dir, "documents").select(
        "source", "n_chars")
    # Spark refuses to mix a group-agg pandas UDF with built-in
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT); the two
    # aggregates share the same hashpartitioning(source) exchange and
    # join on the group key
    med = (docs.groupBy("source")
           .agg(exact_lower_median(F.col("n_chars")).cast("bigint")
                .alias("median_chars")))
    stats = (docs.groupBy("source")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                  F.sum("n_chars").cast("bigint").alias("sum_chars")))
    return (stats.join(med, "source")
            .select("source", "n_docs", "median_chars", "sum_chars")
            .orderBy("source"))

# ---------------------------------------------------------------------------
# Weighted single-source shortest paths (Bellman-Ford relaxation) —
# the min-plus algebra next to graph_bfs_distances' hop counts.
# ---------------------------------------------------------------------------


@register("graph_weighted_sssp")
def graph_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round Bellman-Ford over the supplier co-purchase graph:
    edge weight = 1e6 div shared-order-count (frequent co-suppliers
    are close), seeds s_suppkey%16==7 at distance 0, per round
    dist(v) = min(dist(v), min over edges (u,v) of dist(u)+w) — the
    min-plus semiring the hop-count BFS can't express. Output: the
    10 closest non-seed suppliers, all-integer distances.

    Scale: the relaxation is the Pregel shape — per round ONE
    |frontier-edges| join shuffled on the node key plus a node-grain
    min; the co-purchase edge build is an equi self-join on the
    basket key over the DISTINCT (order, supplier) relation, with an
    explicit basket cap (r10 verdict task 7 skew-harden): orders
    with more than 64 distinct suppliers are excluded BEFORE
    pairing, so one mega-basket (a bot order with 10^6 lines) can
    contribute at most 64^2 = 4096 pairs to its task instead of
    10^12 — salting can't fix an inherently quadratic per-group
    output, a cap can, and the mined-graph semantics (drop
    promiscuous baskets) is the standard market-basket convention.
    The cap is mirrored verbatim in the oracle; TPC-H-shaped orders
    carry <= 7 suppliers so testdata output is unchanged.
    """
    # basket-array pair generation: collect_set per order (ONE
    # exchange, dedups suppliers for free), the cap as a size
    # filter that doubles as the per-row memory bound (<= 64
    # entries), then a nested explode — NO self-join anywhere, so
    # the capped plan beats even the original uncapped self-join
    # (A/B at sf0.1: self-join 3.28 s / window-cap 3.30 / this
    # form below; the window-cap form sorted the 48M-row distinct
    # relation at sf8 and lost 3.7x there)
    li = widen(read_table(spark, sf_dir, "lineitem")).select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
    baskets = (li.groupBy("o")
               .agg(F.collect_set("s").alias("ss"))
               .filter((F.size("ss") >= 2) & (F.size("ss") <= 64)))
    # count each unordered pair ONCE (u < v) and mirror the aggregated
    # output — shared(u,v) == shared(v,u), so this halves the pair
    # exchange feeding the count (r14; the mirror union runs over the
    # |distinct pairs| aggregate, not the per-basket fan-out)
    half = (baskets
            .select(F.explode("ss").alias("u"), "ss")
            .select("u", F.explode("ss").alias("v"))
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("shared")))
    edges = (half.unionByName(half.select(F.col("v").alias("u"),
                                          F.col("u").alias("v"), "shared"))
             .select("u", "v",
                     F.expr("cast(1000000 div shared as bigint)").alias("w"))
             .localCheckpoint(eager=False))
    seeds = (read_table(spark, sf_dir, "supplier")
             .filter(F.col("s_suppkey") % 16 == 7)
             .select(F.col("s_suppkey").alias("node"),
                     F.lit(0).cast("bigint").alias("dist")))

    def relax(states: list[DataFrame]) -> DataFrame:
        dist = states[-1]
        msgs = (edges.join(dist, edges["u"] == dist["node"])
                .select(F.col("v").alias("node"),
                        (F.col("dist") + F.col("w")).alias("dist")))
        return (dist.unionByName(msgs)
                .groupBy("node").agg(F.min("dist").alias("dist")))

    dist = unrolled_rounds(seeds, relax, rounds=3)[-1]
    return (dist.filter(F.col("dist") > 0)
            .select(F.col("node").cast("bigint").alias("suppkey"),
                    F.col("dist").cast("bigint").alias("dist_e6"))
            .orderBy("dist_e6", "suppkey").limit(10))


# ---------------------------------------------------------------------------
# Neyman allocation with largest-remainder apportionment — optimal
# stratified-sampling budgets, all-integer.
# ---------------------------------------------------------------------------


@register("sample_neyman_allocation")
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: a 100-row budget
    split across sources proportional to N_h * S_h, with the
    fractional quotas resolved by largest-remainder (Hamilton)
    apportionment so the allocations are integers that sum EXACTLY
    to the budget. The weight N_h*S_h = sqrt(N_h*sum(x^2) -
    sum(x)^2) is computed from exact integer moments, floored after
    one IEEE sqrt (identical in both engines on identical integer
    input); quotas, remainders, and the apportionment ranks are pure
    integer arithmetic — the rank is a count over the bounded
    stratum relation (a broadcast non-equi self-join), NOT an
    un-partitioned window.

    Scale: one fact-shuffle aggregate to stratum grain; everything
    after is |strata|-sized. The double-sqrt ceiling is the usual
    2^53 on the variance numerator — past that, scale the metric
    down a decade (the weights' RATIO is what allocates).
    """
    dec = "decimal(38,0)"
    s = (read_table(spark, sf_dir, "documents")
         .groupBy("source")
         .agg(F.count(F.lit(1)).cast("bigint").alias("nh"),
              F.expr(f"sum(cast(n_chars as {dec}) * n_chars)").alias("sx2"),
              F.expr(f"cast(sum(n_chars) as {dec})").alias("sx")))
    wgt = s.select(
        "source", "nh",
        F.expr("cast(floor(sqrt(cast(nh * sx2 - sx * sx as double)))"
               " as bigint)").alias("wh"))
    # greatest(.,1): if EVERY stratum is constant (all wh = 0) the
    # quota denominator would be 0 — DuckDB errors on //0 while
    # non-ANSI Spark nulls, a latent cross-engine divergence; the
    # guard degrades both to an all-remainder (uniform-tiebreak)
    # allocation instead. No-op whenever any stratum varies.
    tot = wgt.agg(F.expr("greatest(sum(wh), 1)")
                  .cast("bigint").alias("wt"))
    base = (wgt.crossJoin(F.broadcast(tot))
            .select("source", "nh", "wh",
                    F.expr("cast((100 * wh) div wt as bigint)")
                    .alias("base_h"),
                    F.expr("cast((100 * wh) % wt as bigint)")
                    .alias("rem_h"))
            .localCheckpoint(eager=False))
    leftover = base.agg((F.lit(100) - F.sum("base_h"))
                        .cast("bigint").alias("k"))
    other = base.select(F.col("source").alias("o_source"),
                        F.col("rem_h").alias("o_rem"))
    rnk = (base.join(F.broadcast(other),
                     (F.col("o_rem") > F.col("rem_h"))
                     | ((F.col("o_rem") == F.col("rem_h"))
                        & (F.col("o_source") < F.col("source"))), "left")
           .groupBy("source", "nh", "wh", "base_h")
           .agg(F.count("o_source").alias("rnk")))
    return (rnk.crossJoin(F.broadcast(leftover))
            .select("source", "nh", "wh",
                    (F.col("base_h")
                     + F.when(F.col("rnk") < F.col("k"), F.lit(1))
                     .otherwise(F.lit(0))).cast("bigint").alias("alloc"))
            .orderBy("source"))

# ---------------------------------------------------------------------------
# The privacy trio composed: the release gate a user-derived table
# passes before shipping.
# ---------------------------------------------------------------------------


@register("pipeline_release_gate")
def pipeline_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity AND l-diversity AND t-closeness as ONE release
    gate over one QI lineage — the composition the individual keys
    (privacy_k_anonymity, privacy_l_diversity, privacy_t_closeness)
    document separately: per (nationkey, mktsegment) group, group
    size >= k=10, >= l=3 distinct sensitive bands, AND ordered-band
    EMD vs the global distribution <= t=0.15 — a group must clear
    all three to release. Output is one row per QI group with each
    stage's verdict, so the report shows WHICH gate blocked a group
    (at sf0.01: 90/125 k-anonymous, 111 close, 81 released — every
    gate cuts).

    Scale: everything derives from ONE (qi, band) aggregate off the
    fact scan (group sizes and distinct-band counts are two
    aggregates of it; the EMD is the privacy_t_closeness spine +
    per-QI windows) — the whole gate is QI-domain-sized after the
    first exchange.
    """
    cust = read_table(spark, sf_dir, "customer")
    g = (_acctbal_bands(cust, F.col("c_nationkey"))
         .groupBy("qi_nation", "qi_seg", "band")
         .agg(F.count(F.lit(1)).cast("bigint").alias("cg"))
         .localCheckpoint(eager=False))
    gt = (g.groupBy("qi_nation", "qi_seg")
          .agg(F.sum("cg").cast("bigint").alias("n_rows"),
               F.count(F.lit(1)).cast("bigint").alias("n_distinct_bands")))
    emd = qi_band_emd(g).select("qi_nation", "qi_seg", "emd_e6")
    k_anon = (F.col("n_rows") >= 10).cast("int")
    diverse = (F.col("n_distinct_bands") >= 3).cast("int")
    close = (F.col("emd_e6") <= 150_000).cast("int")
    return (gt.join(emd, ["qi_nation", "qi_seg"])
            .select("qi_nation", "qi_seg", "n_rows", "n_distinct_bands",
                    "emd_e6",
                    k_anon.alias("k_anonymous"), diverse.alias("diverse"),
                    close.alias("close"),
                    (k_anon.cast("boolean") & diverse.cast("boolean")
                     & close.cast("boolean")).cast("int").alias("released"))
            .orderBy("qi_nation", "qi_seg"))

# ---------------------------------------------------------------------------
# Forecast-accuracy evaluation (MASE) — the metric the forecasting
# keys (sql_forecast_revenue's OLS trend) had no grader for.
# ---------------------------------------------------------------------------


@register("eval_forecast_mase")
def eval_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Absolute Scaled Error of a seasonal-naive forecast
    (predict each of the last 7 days with the same weekday's count
    one week earlier) per event type, scaled by the in-sample
    one-step naive MAE (Hyndman's MASE — the scale-free accuracy
    number that makes forecast quality comparable across series).
    Exact integers end-to-end: daily counts on a DENSE day spine
    (missing days count 0, so the lag arithmetic is calendar-true),
    absolute errors are integer sums, and mase_e6 is one
    DECIMAL(38,0) ratio (HUGEINT in the oracle).

    Scale: one (type, day) fact aggregate; the spine is |types| x
    |days| (tiny — a broadcast 1-row bounds crossJoin); lag windows
    partition by event type. MASE ~1.0 on this corpus: seasonal-
    naive roughly ties the random-walk scale on synthetic traffic —
    exactly the null result the metric exists to detect.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.col("event_type").alias("et"),
        F.expr("cast(unix_micros(ts) div 86400000000 as bigint)")
        .alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    b = daily.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    spine = (daily.select("et").distinct()
             .crossJoin(F.broadcast(b))
             .select("et", F.explode(F.expr("sequence(dmin, dmax)"))
                     .alias("d"),
                     F.col("dmax")))
    dk = daily.select(F.col("et").alias("d_et"), F.col("d").alias("d_d"),
                      "y")
    dense = (spine.join(dk, (F.col("et") == F.col("d_et"))
                        & (F.col("d") == F.col("d_d")), "left")
             .select("et", "d", "dmax",
                     F.coalesce(F.col("y"), F.lit(0)).alias("y")))
    w = Window.partitionBy("et").orderBy("d")
    lagd = (dense
            .withColumn("y1", F.lag("y", 1).over(w))
            .withColumn("y7", F.lag("y", 7).over(w))
            .withColumn("cut", F.col("dmax") - 6))
    tr = (lagd.filter((F.col("d") < F.col("cut"))
                      & F.col("y1").isNotNull())
          .groupBy("et")
          .agg(F.sum(F.abs(F.col("y") - F.col("y1"))).cast("bigint")
               .alias("train_naive_abs_err"),
               F.count(F.lit(1)).cast("bigint").alias("n_tr")))
    evl = (lagd.filter((F.col("d") >= F.col("cut"))
                       & F.col("y7").isNotNull())
           .groupBy("et")
           .agg(F.sum(F.abs(F.col("y") - F.col("y7"))).cast("bigint")
                .alias("eval_abs_err"),
                F.count(F.lit(1)).cast("bigint").alias("n_eval_days")))
    dec = "decimal(38,0)"
    return (evl.join(tr, "et")
            .select(F.col("et").alias("event_type"), "n_eval_days",
                    "eval_abs_err", "train_naive_abs_err",
                    F.expr(
                        f"cast(cast(eval_abs_err as {dec}) * n_tr * 1000000"
                        f" div (cast(n_eval_days as {dec})"
                        f" * greatest(train_naive_abs_err, 1)) as bigint)")
                    .alias("mase_e6"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Autocorrelation function — the seasonality screen next to MASE.
# ---------------------------------------------------------------------------


@register("stats_autocorrelation")
def stats_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of the daily event-count series per event type at lags
    1..7 (Box-Jenkins convention: full-series mean and variance in
    the denominator, so r_l = sum_{t<=n-l}(y_t-ybar)(y_{t+l}-ybar)
    / sum_t(y_t-ybar)^2) — the weekly-seasonality screen a drift
    monitor runs next to eval_forecast_mase; a 7-lag spike says the
    seasonal-naive forecaster is the right null model.

    Exact integers end-to-end: multiply num and den by n^2 so
    centered terms become (n*y - S) with S = sum(y) — no rational
    mean ever materializes — and emit sign(num) * (|num|*1e6 div
    den) in DECIMAL(38,0) (HUGEINT in the oracle; the sign/abs split
    keeps negative-division semantics engine-identical). The spine
    is DENSE (missing days are 0 counts) so lag arithmetic is
    calendar-true.

    Scale: one (type, day) fact aggregate, a |types| x |days| spine
    off a broadcast 1-row bounds, ONE lag-window pass per type
    (7 lag columns in the same window frame, partitioned by type —
    parallel across types), then a type-grain aggregate. No step
    touches more than the day-grain relation.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.col("event_type").alias("et"),
        F.expr("cast(unix_micros(ts) div 86400000000 as bigint)")
        .alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    b = daily.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    spine = (daily.select("et").distinct()
             .crossJoin(F.broadcast(b))
             .select("et", F.explode(F.expr("sequence(dmin, dmax)"))
                     .alias("d"),
                     (F.col("dmax") - F.col("dmin") + 1).alias("n")))
    dk = daily.select(F.col("et").alias("d_et"), F.col("d").alias("d_d"),
                      "y")
    dense = (spine.join(dk, (F.col("et") == F.col("d_et"))
                        & (F.col("d") == F.col("d_d")), "left")
             .select("et", "d", "n",
                     F.coalesce(F.col("y"), F.lit(0)).alias("y")))
    tot = dense.groupBy("et").agg(F.sum("y").cast("bigint").alias("s"))
    w = Window.partitionBy("et").orderBy("d")
    lagged = dense.join(tot, "et")
    for l in range(1, 8):
        lagged = lagged.withColumn(f"y{l}", F.lag("y", l).over(w))
    dec = "decimal(38,0)"
    cx = F.expr(f"cast(n * y - s as {dec})")
    aggs = [F.sum(cx * cx).alias("den")]
    for l in range(1, 8):
        aggs.append(F.sum(F.when(
            F.col(f"y{l}").isNotNull(),
            F.expr(f"cast(n * y{l} as {dec}) - s") * cx)).alias(f"num{l}"))
    per_type = (lagged.groupBy("et", "n").agg(*aggs))
    stacked = per_type.select(
        "et", "n", "den",
        F.expr("stack(7, " + ", ".join(
            f"{l}, num{l}" for l in range(1, 8)) + ") as (lag, num)"))
    # den = 0 (a zero-variance series) yields NULL acf_e6 — guarded
    # EXPLICITLY here and with NULLIF in the oracle, because the
    # engines disagree on bare division-by-zero (Spark's div -> NULL,
    # DuckDB's // -> error): the harness would error instead of
    # comparing rows without the identical guard.
    return (stacked.select(
        F.col("et").alias("event_type"),
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_days"),
        F.when(F.col("den") == 0, F.lit(None)).otherwise(
            F.signum(F.col("num")).cast("bigint")
            * F.expr(f"cast((abs(num) * 1000000) div den as bigint)"))
        .cast("bigint").alias("acf_e6"))
        .orderBy("event_type", "lag"))


# ---------------------------------------------------------------------------
# k-core decomposition — iterative subgraph refinement (peeling).
# ---------------------------------------------------------------------------

@register("graph_kcore_decompose")
def graph_kcore_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-round k-core peel (k=3) of the MUTUAL 5-NN embedding graph:
    nodes whose mutual-neighbor degree falls below 3 are removed,
    degrees recompute over the survivors, repeat — the iterative
    subgraph-refinement class (peeling) that BFS/SSSP/LPA/pagerank
    don't cover, and the robust-cluster-core selector a curation
    pipeline runs on a near-dup graph (a vector inside a dense
    mutual neighborhood survives; hubs-by-accident and fringe
    points peel off). Output: (peel_round, n_removed, n_alive) for
    rounds 0..8 — the removal cascade IS the receipt (multi-round
    at every SF; round counts are honest partial-peel semantics,
    not a fixpoint claim).

    Scale: the mutual graph is the kNN relation self-joined on the
    reversed pair — edges <= 5N, nothing quadratic (the kNN build
    itself is the blocked sum(block^2) plan pinned by
    sim_knn_graph). Each round is TWO node-keyed semi-joins + one
    degree aggregate over the shrinking edge relation; per-round
    EAGER checkpoints stop lineage growth (see below). The 9 count
    rows are 1-row aggregates, crossJoined broadcast.
    """
    from ..operators.similarity import knn_graph_blocked
    emb = read_table(spark, sf_dir, "embeddings")
    g = (knn_graph_blocked(emb, "embedding", "vec_id", "label", k=5)
         .select("src", "nbr"))
    rev = g.select(F.col("nbr").alias("r_src"), F.col("src").alias("r_nbr"))
    # EAGER checkpoints: 8 peel rounds of lazy lineage make the
    # optimizer re-analyze an exponentially deeper plan per round
    # (measured: lazy times out where eager finishes in seconds);
    # each round's relation is node-sized, so materializing is cheap
    mut = (g.join(rev, (F.col("src") == F.col("r_src"))
                  & (F.col("nbr") == F.col("r_nbr")))
           .select(F.col("src").alias("u"), F.col("nbr").alias("v"))
           .localCheckpoint(eager=True))
    alive = mut.select("u").distinct().localCheckpoint(eager=True)

    def peel(states: list[DataFrame]) -> DataFrame:
        au = states[-1].select(F.col("u"))
        av = states[-1].select(F.col("u").alias("v"))
        deg = (mut.join(au, "u", "left_semi")
               .join(av, "v", "left_semi")
               .groupBy("u").agg(F.count(F.lit(1)).alias("c")))
        return deg.filter(F.col("c") >= 3).select("u")

    counts = [a.agg(F.count(F.lit(1)).cast("bigint").alias(f"n{r}"))
              for r, a in enumerate(unrolled_rounds(
                  alive, peel, rounds=8, eager=True))]
    rows = [counts[0].select(F.lit(0).cast("int").alias("peel_round"),
                             F.lit(0).cast("bigint").alias("n_removed"),
                             F.col("n0").cast("bigint").alias("n_alive"))]
    rows += [counts[r - 1].crossJoin(F.broadcast(counts[r]))
             .select(F.lit(r).cast("int").alias("peel_round"),
                     (F.col(f"n{r-1}") - F.col(f"n{r}"))
                     .cast("bigint").alias("n_removed"),
                     F.col(f"n{r}").cast("bigint").alias("n_alive"))
             for r in range(1, len(counts))]
    return reduce(DataFrame.unionByName, rows).orderBy("peel_round")


# ---------------------------------------------------------------------------
# Z-order (Morton) layout model — the 2-D data-clustering lever.
# ---------------------------------------------------------------------------


@register("maintenance_zorder_layout")
def maintenance_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering receipt — the Delta/Iceberg OPTIMIZE ZORDER
    BY lever, modeled exactly: orders are bucketed into 256 'files'
    under two layouts — MORTON (16-bit bit-interleave of the
    256-normalized (custkey, order-day) pair: each bucket is a 16x16
    tile of key space) and LINEAR (custkey only: each bucket spans
    the full day range) — and a 2-D predicate box (the middle
    32x32 = 1/64 of key space) is pruned against per-bucket min/max
    bounding boxes, the same decision a scan makes from parquet
    footer stats. The receipt is the pruning asymmetry itself:
    n_buckets_hit and rows_scanned under Z-order must be a fraction
    of LINEAR's for any predicate selective in BOTH dimensions
    (~4 tiles vs ~32 slabs here) while rows_matching is identical —
    the reason a 100 TB table Z-orders its two hottest filter
    columns. maintenance_zorder_rewrite pins the PHYSICAL rewrite
    (repartitionByRange on the z-value + losslessness + interleave
    arithmetic); this key pins what that one can't oracle-check —
    the PRUNING ASYMMETRY vs the linear layout, fully SQL-checkable
    (the oracle verifies every min/max box and both scan fractions
    bit-for-bit).

    Scale: two narrow passes over orders (bucket assignment is pure
    codegen off a broadcast 1-row min/max; per-bucket stats are a
    256-row aggregate); the verdict join is bucket-relation-sized.
    """
    ords = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.expr("cast(datediff(cast(o_orderdate as date),"
               " date'1970-01-01') as bigint)").alias("d"))
    b = ords.agg(F.min("c").alias("minc"), F.max("c").alias("maxc"),
                 F.min("d").alias("mind"), F.max("d").alias("maxd"))
    norm = (ords.crossJoin(F.broadcast(b))
            .select(
                F.expr("cast((c - minc) * 256 div (maxc - minc + 1)"
                       " as bigint)").alias("cb"),
                F.expr("cast((d - mind) * 256 div (maxd - mind + 1)"
                       " as bigint)").alias("db")))
    interleave = " + ".join(
        f"(((cb >> {i}) & 1) << {2 * i})"
        f" + (((db >> {i}) & 1) << {2 * i + 1})" for i in range(8))
    coded = (norm.select("cb", "db",
                         F.expr(f"cast({interleave} as bigint)")
                         .alias("morton"))
             .select("cb", "db",
                     F.expr("morton div 256").alias("z_bucket"),
                     F.col("cb").alias("l_bucket"))
             .localCheckpoint(eager=False))
    lo, hi = 112, 143  # the middle 32x32 box of the 256x256 key space

    def verdict(bucket_col: str, variant: str):
        stats = (coded.groupBy(F.col(bucket_col).alias("bkt"))
                 .agg(F.min("cb").alias("min_cb"), F.max("cb").alias("max_cb"),
                      F.min("db").alias("min_db"), F.max("db").alias("max_db"),
                      F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                      F.sum(F.when((F.col("cb").between(lo, hi))
                                   & (F.col("db").between(lo, hi)), 1)
                            .otherwise(0)).cast("bigint").alias("n_match")))
        hit = ((F.col("min_cb") <= hi) & (F.col("max_cb") >= lo)
               & (F.col("min_db") <= hi) & (F.col("max_db") >= lo))
        return stats.agg(
            F.lit(variant).alias("layout"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(hit.cast("int")).cast("bigint").alias("n_buckets_hit"),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("rows_matching"))

    return (verdict("z_bucket", "zorder")
            .unionByName(verdict("l_bucket", "linear"))
            .orderBy("layout"))


# ---------------------------------------------------------------------------
# Classical seasonal decomposition — trend / seasonal split (round 12).
# ---------------------------------------------------------------------------


@register("stats_seasonal_decompose")
def stats_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical (moving-average) seasonal decomposition of the daily
    event-count series per event type: trend = centered 7-day moving
    sum, seasonal index per weekday = mean of the detrended series —
    the decomposition step BETWEEN stats_autocorrelation (which
    detects the weekly period) and eval_forecast_mase (which grades
    the seasonal-naive forecast the indexes justify).

    Exact integers end-to-end: the detrended value is kept scaled by
    7 (dt7 = 7*y - sum7, never a rational mean), weekday is epoch-day
    mod 7 (engine-agnostic — dayofweek() origins differ), and the
    seasonal index is sign/abs-split integer division
    (|sum(dt7)| * 1e6 div (7 * n_obs)) so negative indexes divide
    identically in both engines (Spark div truncates, DuckDB //
    floors).

    Scale: day-grain dense spine (same construction as
    stats_autocorrelation — missing days are true 0 counts), ONE
    7-row window pass partitioned by type, then a |types| x 7
    aggregate. Nothing touches more than the day-grain relation.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        F.col("event_type").alias("et"),
        F.expr("cast(unix_micros(ts) div 86400000000 as bigint)")
        .alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    b = daily.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    spine = (daily.select("et").distinct()
             .crossJoin(F.broadcast(b))
             .select("et", F.explode(F.expr("sequence(dmin, dmax)"))
                     .alias("d")))
    dk = daily.select(F.col("et").alias("d_et"), F.col("d").alias("d_d"),
                      "y")
    dense = (spine.join(dk, (F.col("et") == F.col("d_et"))
                        & (F.col("d") == F.col("d_d")), "left")
             .select("et", "d",
                     F.coalesce(F.col("y"), F.lit(0)).alias("y")))
    w = Window.partitionBy("et").orderBy("d").rowsBetween(-3, 3)
    trended = (dense
               .withColumn("sum7", F.sum("y").over(w))
               .withColumn("cnt7", F.count(F.lit(1)).over(w))
               .filter(F.col("cnt7") == 7)
               .withColumn("dt7", 7 * F.col("y") - F.col("sum7")))
    per_dow = (trended
               .groupBy("et", F.pmod(F.col("d"), F.lit(7)).cast("int")
                        .alias("dow"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"),
                    F.sum("dt7").cast("decimal(38,0)").alias("s")))
    return (per_dow.select(
        F.col("et").alias("event_type"), "dow", "n_obs",
        (F.signum(F.col("s")).cast("bigint")
         * F.expr("cast((abs(s) * 1000000) div (7 * n_obs) as bigint)"))
        .cast("bigint").alias("seasonal_e6"))
        .orderBy("event_type", "dow"))


# ---------------------------------------------------------------------------
# Wasserstein-1 drift — the magnitude-sensitive companion to KS (round 12).
# ---------------------------------------------------------------------------


@register("dq_wasserstein_drift")
def dq_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth-mover (Wasserstein-1) distance between the reference
    (view/click) and current (purchase) value distributions — the
    magnitude-sensitive member of the drift family (PSI bins, KS is
    the sup of the CDF gap, chi-square is categorical; W1 integrates
    the CDF gap, so a small-but-everywhere shift that KS underweights
    shows up proportionally).

    Exact integers on the cent grid: W1 = sum over the DENSE cent
    spine [vmin, vmax) of |F_ref - F_cur| — each term the exact
    cross-product |cum_ref*n_cur - cum_cur*n_ref| in DECIMAL(38,0),
    summed and divided once (1e4 = 1e6 scale / 100 cents-per-unit),
    so w1_e6 is in VALUE units. The dense spine makes every gap
    exactly one cent — no lead()/gap arithmetic, and the sum is
    SQL-identical via generate_series.

    Scale: the histogram is the shared value-DOMAIN-bounded
    conditional aggregate (ks_value_histogram); the spine is
    domain-bounded (~tens of thousands of rows regardless of event
    count); the cumulative is operators.windows.bucketed_cumsum,
    never a single-partition window.
    """
    ev = read_table(spark, sf_dir, "events")
    return w1_from_value_hist(spark, ks_value_histogram(ev))


def w1_from_value_hist(spark: SparkSession, hist0: DataFrame) -> DataFrame:
    """W1 finisher over a (v, c_ref, c_cur) histogram — split out so
    the live streaming twin (stream_wasserstein_drift_live) can score
    the complete-mode snapshot with the identical plan. The
    population totals come from the same aggregate as the spine's
    bounds and ride along the spine into the cumulative's
    checkpoint: the spine stops at vmax - 1, so totals taken from
    ``bucketed_cumsum`` would miss the vmax row."""
    b = hist0.agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"),
                  F.sum("c_ref").cast("bigint").alias("n_ref"),
                  F.sum("c_cur").cast("bigint").alias("n_cur"))
    # greatest() guard (r12 ADVICE): a single-distinct-value
    # histogram has vmax - 1 < vmin, where Spark's sequence()
    # defaults to step -1 and emits a DESCENDING 2-element spine
    # while DuckDB's generate_series is empty — pin both engines to
    # the one-point spine [vmin] (whose CDF gap is exactly 0).
    spine = (spark.range(1).crossJoin(F.broadcast(b))
             .select("vmin", "vmax", "n_ref", "n_cur",
                     F.explode(F.expr(
                         "sequence(vmin, greatest(vmin, vmax - 1))"))
                     .alias("v")))
    # null-safe key: no isnotnull(v) filter is inferred into the
    # histogram side, so it stays the same plan as the aggregate above
    # and the two share one exchange (one scan of the input)
    h = hist0.withColumnRenamed("v", "__hv")
    dense = (spine.join(h, F.col("v").eqNullSafe(F.col("__hv")), "left")
             .select("v", "vmin", "vmax", "n_ref", "n_cur",
                     F.coalesce(F.col("c_ref"), F.lit(0)).alias("c_ref"),
                     F.coalesce(F.col("c_cur"), F.lit(0)).alias("c_cur")))
    cum, _ = bucketed_cumsum(dense, F.expr("cast((v - vmin) div 256 as int)"),
                             ["v"], values=["c_ref", "c_cur"])
    dec = "decimal(38,0)"
    return (cum.withColumn("num", _cdf_gap())
            .agg(F.max("n_ref").alias("n_ref"),
                 F.max("n_cur").alias("n_cur"),
                 F.max(F.col("vmax") - F.col("vmin")).cast("bigint")
                 .alias("span_cents"),
                 F.sum("num").alias("__w1num"))
            .select("n_ref", "n_cur", "span_cents",
                    # nullif guard (r12 ADVICE): an empty ref or cur
                    # population yields NULL w1_e6 on both engines
                    # instead of a DuckDB division-by-zero error —
                    # the acf_e6 convention.
                    F.expr(f"cast(__w1num * 10000 div"
                           f" nullif(cast(n_ref as {dec}) * n_cur,"
                           f" cast(0 as {dec})) as bigint)")
                    .alias("w1_e6")))


# ---------------------------------------------------------------------------
# Join-view incremental maintenance — both-side delta propagation (round 12).
# ---------------------------------------------------------------------------


@register("maintenance_ivm_join_view")
def maintenance_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view with deltas on BOTH
    base relations — the algebra maintenance_incremental_rollup
    (aggregate-only IVM) doesn't cover: for V = A join B, the delta
    is dA join B_old UNION A_old join dB UNION dA join dB, aggregated
    and additively merged into the persisted view. The invariant the
    oracle enforces: merge == full recompute over A_all join B_all —
    one double-counted (or missed) cross term and the driver row goes
    red.

    The view: revenue and order count per (market segment, order
    month). Deltas: the o_orderkey % 4 == 0 orders (a late fact
    batch) and the c_custkey % 5 == 0 customers (a dimension
    backfill). Revenue partial sums are stored as DECIMAL so the
    additive merge is exact and order-independent (the exact_sum
    doctrine, kept in decimal until the final cast).

    Scale: every delta leg is delta x dim; the base FACT is scanned
    once at view build and never again — the O(delta) refresh that
    makes a 100 TB nightly feasible. The base view itself is the
    only O(history) pass, by definition. The dim join carries NO
    broadcast hint (r12 verdict task 5): customer is far under
    autoBroadcastJoinThreshold here so Spark broadcasts it anyway,
    and a 100-TB-class dimension flips to sort-merge automatically
    instead of OOMing the driver on a hard-coded hint.
    """
    from ..sinks import scratch_path, sf_tag
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    o_old = orders.filter(F.col("o_orderkey") % 4 != 0)
    o_new = orders.filter(F.col("o_orderkey") % 4 == 0)
    c_old = cust.filter(F.col("c_custkey") % 5 != 0)
    c_new = cust.filter(F.col("c_custkey") % 5 == 0)

    def agg(o: DataFrame, c: DataFrame) -> DataFrame:
        return (o.join(c, o["o_custkey"] == c["c_custkey"])
                .groupBy(F.col("c_mktsegment").alias("segment"),
                         F.date_format("o_orderdate", "yyyy-MM")
                         .alias("order_month"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                     F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                     .cast("decimal(38,4)").alias("rev_dec")))

    view_path = scratch_path("maintenance", f"ivm_join_{sf_tag(sf_dir)}")
    agg(o_old, c_old).write.mode("overwrite").parquet(view_path)
    delta = (agg(o_new, c_old)
             .unionByName(agg(o_old, c_new))
             .unionByName(agg(o_new, c_new)))
    base = spark.read.parquet(view_path)
    return (base.unionByName(delta)
            .groupBy("segment", "order_month")
            .agg(F.sum("n_orders").cast("bigint").alias("n_orders"),
                 F.sum("rev_dec").cast("double").alias("revenue"))
            .orderBy("segment", "order_month"))


# ---------------------------------------------------------------------------
# Bradley–Terry paired-preference strengths (round 12).
# ---------------------------------------------------------------------------


BT_ITERS = 8
BT_SCALE = 10 ** 6
BT_NUM = 10 ** 12


def bt_solve(matrix: list[tuple], wins: dict[str, int],
             iters: int = BT_ITERS) -> dict[str, int]:
    """Fixed-iteration integer MM solve of the Bradley–Terry model:
    p_i' = wins_i * 1e12 div D_i with D_i = sum_j n_ij * 1e12 div
    (p_i + p_j) — every step an exact integer both engines (and this
    Python mirror) compute identically; a zero denominator holds the
    previous strength (COALESCE in the oracle). The matrix is
    |types|^2-bounded (model-sized), so the solve runs driver-side on
    the SAME integers the unrolled-CTE oracle uses."""
    p = {i: BT_SCALE for i in wins}
    for _ in range(iters):
        d = {i: 0 for i in wins}
        for i, j, nij in matrix:
            d[i] += nij * BT_NUM // (p[i] + p[j])
        p = {i: (wins[i] * BT_NUM // d[i]) if d[i] else p[i]
             for i in wins}
    return p


@register("eval_bradley_terry")
def eval_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry strengths from pairwise preferences — the
    paired-comparison ranking model the eval tier lacked (the
    RLHF / human-preference-leaderboard shape: wins between item
    pairs in, latent strengths out). Preferences are derived
    deterministically from behavior: within each user, for every
    pair of event types the user triggered, the type with the higher
    per-user count wins one comparison (ties contribute nothing).

    The comparison-matrix build is the distributed part (fact scan
    -> per-(user,type) counts -> user-keyed pair expansion bounded by
    |types|^2 per user -> |types|^2 aggregate); the MM solve runs on
    the model-sized matrix via :func:`bt_solve`, 8 fixed iterations
    of exact integer arithmetic mirrored by the oracle's unrolled
    MATERIALIZED CTE chain (the graph_pagerank_fixed recipe; the
    kcore lesson — each iteration is referenced twice, so plain CTEs
    would re-inline 2^8 times).

    Scale: the pair expansion is per-user (a power user contributes
    at most |types|^2 = ~64 rows); the matrix and solve are
    domain-bounded. No step touches more than the (user, type)
    grain.
    """
    ev = read_table(spark, sf_dir, "events")
    counts = (ev.groupBy("user_id", "event_type")
              .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    a = counts.select(F.col("user_id").alias("u"),
                      F.col("event_type").alias("ta"),
                      F.col("c").alias("ca"))
    bb = counts.select(F.col("user_id").alias("u"),
                       F.col("event_type").alias("tb"),
                       F.col("c").alias("cb"))
    pairs = (a.join(bb, "u")
             .filter((F.col("ta") < F.col("tb"))
                     & (F.col("ca") != F.col("cb")))
             .select(F.when(F.col("ca") > F.col("cb"), F.col("ta"))
                     .otherwise(F.col("tb")).alias("winner"),
                     F.when(F.col("ca") > F.col("cb"), F.col("tb"))
                     .otherwise(F.col("ta")).alias("loser")))
    cells = (pairs.groupBy("winner", "loser")
             .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
             .collect())
    wins: dict[str, int] = {}
    n_sym: dict[tuple, int] = {}
    types = set()
    for r in cells:
        i, j, wv = r["winner"], r["loser"], int(r["w"])
        types.update((i, j))
        wins[i] = wins.get(i, 0) + wv
        n_sym[(i, j)] = n_sym.get((i, j), 0) + wv
        n_sym[(j, i)] = n_sym.get((j, i), 0) + wv
    wins = {t: wins.get(t, 0) for t in types}
    matrix = [(i, j, nv) for (i, j), nv in sorted(n_sym.items())]
    p = bt_solve(matrix, wins)
    comps = {t: sum(nv for (i, _j), nv in n_sym.items() if i == t)
             for t in types}
    out = sorted(types, key=lambda t: (-p[t], t))
    return spark.createDataFrame(
        [(t, wins[t], comps[t], p[t], r + 1)
         for r, t in enumerate(out)],
        "event_type string, n_wins long, n_comparisons long, "
        "strength_e6 long, rnk int")


# ---------------------------------------------------------------------------
# Rao–Kupper — Bradley–Terry with a tie parameter (round 13).
# ---------------------------------------------------------------------------


RK_THETA = 2  # tie threshold θ, fixed a priori: integer, so every
#               MM step stays exact integer arithmetic


def rk_solve(matrix: list[tuple], iters: int = BT_ITERS,
             theta: int = RK_THETA) -> dict[str, int]:
    """Fixed-iteration integer MM solve of the Rao–Kupper model —
    Bradley–Terry with a tie parameter (Rao & Kupper 1967; MM form
    per Hunter 2004, "MM algorithms for generalized Bradley-Terry
    models"): P(i beats j) = p_i / (p_i + θ p_j), ties absorb the
    remaining mass; θ defaults to RK_THETA and stays a fixed integer
    parameter, never estimated (estimating θ needs a square root,
    which would break the exact-integer mirror). The explicit
    ``theta`` argument exists so the θ=1 differential test against
    :func:`bt_solve` doesn't have to patch the module constant.

    ``matrix`` rows are DIRECTED cells (i, j, w_ij, t_ij): w_ij =
    comparisons i won over j, t_ij = ties between i and j
    (symmetric — the same count appears on both ordered cells).
    Update, all exact integer floor division:

        A_i  = sum_j (w_ij + t_ij)
        D_i += (w_ij + t_ij) * 1e12 div (p_i + θ p_j)   [cell (i,j)]
        D_j += θ (w_ij + t_ij) * 1e12 div (p_i + θ p_j) [same cell]
        p_i' = A_i * 1e12 div D_i    (D_i = 0 holds the previous p)

    With θ = 1 and zero ties this is exactly :func:`bt_solve` (each
    symmetric n_ij there is w_ij + w_ji here). Model-sized
    (|types|^2 cells), so the solve runs driver-side on the SAME
    integers the unrolled-CTE oracle computes."""
    th = theta
    types = sorted({i for i, _j, _w, _t in matrix}
                   | {j for _i, j, _w, _t in matrix})
    a = {i: 0 for i in types}
    for i, _j, w, t in matrix:
        a[i] += w + t
    p = {i: BT_SCALE for i in types}
    for _ in range(iters):
        d = {i: 0 for i in types}
        for i, j, w, t in matrix:
            # max(den, 1): two strengths can both floor to 0 only in
            # pathological matrices, but the guard is mirrored as
            # greatest(..., 1) in the oracle so both engines stay
            # defined (and identical) even there
            den = max(p[i] + th * p[j], 1)
            d[i] += (w + t) * BT_NUM // den
            d[j] += (th * (w + t) * BT_NUM) // den
        p = {i: (a[i] * BT_NUM // d[i]) if d[i] else p[i]
             for i in types}
    return p


@register("eval_rao_kupper")
def eval_rao_kupper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rao–Kupper preference strengths — the tie-aware leaderboard
    (r12 verdict task 8): eval_bradley_terry DISCARDS the user pairs
    with equal per-type counts, which on preference data is throwing
    away the "both equally good" judgments that regularize the
    strengths; Rao–Kupper models them explicitly with a tie
    parameter θ. Same distributed build as the BT key — fact scan ->
    per-(user, type) counts -> user-keyed pair expansion bounded by
    |types|^2 per user -> ONE (i, j, is_tie) aggregate (ties kept as
    their own outcome instead of filtered out) -> model-sized
    collect -> :func:`rk_solve`'s fixed-iteration exact-integer MM,
    mirrored by the oracle's unrolled MATERIALIZED CTE chain.

    Scale: identical envelope to eval_bradley_terry — the pair
    expansion is per-user (≤ |types|^2 rows each), the matrix and
    solve are domain-bounded, no step touches more than the
    (user, type) grain.
    """
    ev = read_table(spark, sf_dir, "events")
    counts = (ev.groupBy("user_id", "event_type")
              .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    a = counts.select(F.col("user_id").alias("u"),
                      F.col("event_type").alias("ta"),
                      F.col("c").alias("ca"))
    bb = counts.select(F.col("user_id").alias("u"),
                       F.col("event_type").alias("tb"),
                       F.col("c").alias("cb"))
    cells = (a.join(bb, "u")
             .filter(F.col("ta") < F.col("tb"))
             .select(F.when(F.col("ca") >= F.col("cb"), F.col("ta"))
                     .otherwise(F.col("tb")).alias("i"),
                     F.when(F.col("ca") >= F.col("cb"), F.col("tb"))
                     .otherwise(F.col("ta")).alias("j"),
                     (F.col("ca") == F.col("cb")).alias("is_tie"))
             .groupBy("i", "j", "is_tie")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
             .collect())
    cell: dict[tuple, list] = {}

    def _cell(i: str, j: str) -> list:
        return cell.setdefault((i, j), [0, 0])

    for r in cells:
        i, j, nv = r["i"], r["j"], int(r["n"])
        if r["is_tie"]:
            _cell(i, j)[1] += nv
            _cell(j, i)[1] += nv
        else:
            _cell(i, j)[0] += nv
    matrix = [(i, j, w, t) for (i, j), (w, t) in sorted(cell.items())]
    p = rk_solve(matrix)
    types = sorted(p)
    n_wins = {ty: sum(w for (i, _j), (w, _t) in cell.items() if i == ty)
              for ty in types}
    n_ties = {ty: sum(t for (i, _j), (_w, t) in cell.items() if i == ty)
              for ty in types}
    n_loss = {ty: sum(w for (_i, j), (w, _t) in cell.items() if j == ty)
              for ty in types}
    out = sorted(types, key=lambda t: (-p[t], t))
    return spark.createDataFrame(
        [(t, n_wins[t], n_ties[t],
          n_wins[t] + n_loss[t] + n_ties[t], p[t], r + 1)
         for r, t in enumerate(out)],
        "event_type string, n_wins long, n_ties long, "
        "n_comparisons long, strength_e6 long, rnk int")


@register("eval_order_bias")
def eval_order_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presentation-order bias diagnostic for the preference tier
    (r13 verdict task 6): Bradley–Terry and Rao–Kupper both assume
    the comparison outcome is independent of which item was shown
    first, but human preference data has a measured first-position
    bias — so a leaderboard built on those models needs this check
    next to it. Reuses the BT/RK per-user cell build (fact scan ->
    per-(user, type) counts -> user-keyed pair expansion bounded by
    |types|^2 per user); the presentation-order bit is the user's
    md5 parity — the deterministic, content-independent cohort split
    the sampled tiers already use, mirrored verbatim in the oracle
    (on real preference logs it would be the logged slot order).

    Per unordered pair (i < j): decisive-comparison counts and
    first-slot win rates split by cohort, all integer ppm (the
    boundary-decision exactness pattern — ``x * 1e6 DIV n``, no
    float touches a reported number; empty cohorts emit NULL via the
    guarded CASE both engines share). ``order_delta_ppm`` =
    win rate of i shown first − win rate of i shown second: 0 under
    the symmetric-presentation assumption, systematically positive
    under first-slot bias.

    Scale: the pair expansion is per-user (≤ |types|^2 rows each),
    the result is |types|^2-bounded, and the only exchanges are the
    (user, type) count and the final (i, j) aggregate — the same
    envelope as eval_bradley_terry."""
    from ..operators.text import md5_long

    ev = read_table(spark, sf_dir, "events")
    counts = (ev.groupBy("user_id", "event_type")
              .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    a = counts.select(F.col("user_id").alias("u"),
                      F.col("event_type").alias("ta"),
                      F.col("c").alias("ca"))
    bb = counts.select(F.col("user_id").alias("u"),
                       F.col("event_type").alias("tb"),
                       F.col("c").alias("cb"))
    first_i = F.pmod(md5_long(F.col("u").cast("string")), F.lit(2)) == 0
    decisive = F.col("ca") != F.col("cb")
    i_wins = F.col("ca") > F.col("cb")
    cells = (a.join(bb, "u")
             .filter(F.col("ta") < F.col("tb"))
             .select(F.col("ta").alias("i"), F.col("tb").alias("j"),
                     first_i.alias("__fi"), decisive.alias("__dec"),
                     i_wins.alias("__iw"))
             .groupBy("i", "j")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_comparisons"),
                  F.sum(F.when(F.col("__dec"), 1).otherwise(0))
                  .cast("bigint").alias("n_decisive"),
                  F.sum(F.when(F.col("__dec")
                               & (F.col("__fi") == F.col("__iw")), 1)
                        .otherwise(0)).cast("bigint")
                  .alias("n_first_slot_wins"),
                  F.sum(F.when(F.col("__dec") & F.col("__fi"), 1)
                        .otherwise(0)).cast("bigint").alias("__dec_if"),
                  F.sum(F.when(F.col("__dec") & F.col("__fi")
                               & F.col("__iw"), 1).otherwise(0))
                  .cast("bigint").alias("__win_if"),
                  F.sum(F.when(F.col("__dec") & ~F.col("__fi"), 1)
                        .otherwise(0)).cast("bigint").alias("__dec_is"),
                  F.sum(F.when(F.col("__dec") & ~F.col("__fi")
                               & F.col("__iw"), 1).otherwise(0))
                  .cast("bigint").alias("__win_is")))
    return (cells
            .select("i", "j", "n_comparisons", "n_decisive",
                    "n_first_slot_wins",
                    F.when(F.col("n_decisive") > 0,
                           F.expr("n_first_slot_wins * 1000000"
                                  " DIV n_decisive"))
                    .alias("first_slot_win_ppm"),
                    F.when(F.col("__dec_if") > 0,
                           F.expr("__win_if * 1000000 DIV __dec_if"))
                    .alias("win_ppm_i_first"),
                    F.when(F.col("__dec_is") > 0,
                           F.expr("__win_is * 1000000 DIV __dec_is"))
                    .alias("win_ppm_i_second"),
                    F.when((F.col("__dec_if") > 0) & (F.col("__dec_is") > 0),
                           F.expr("__win_if * 1000000 DIV __dec_if")
                           - F.expr("__win_is * 1000000 DIV __dec_is"))
                    .alias("order_delta_ppm"))
            .orderBy("i", "j"))


# ---------------------------------------------------------------------------
# Blocking quality — grading the LSH candidate generator (round 12).
# ---------------------------------------------------------------------------


# Truth-tier doc sample: md5(doc_id) % BQ_SAMPLE_MOD == 0. The
# modulus IS the scale knob (r13 verdict): truth-pair work falls by
# m^2 per m-fold increase, and the completeness estimator stays
# unbiased at any m (both-endpoints-in-sample pairs are an unbiased
# pair sample under the content-independent hash predicate). m = 4 is
# sized for the sf0.01-sf8 probe range — at 100-TB corpus scale raise
# m so |sampled docs| stays roughly constant (m ~ n_docs / 10^6);
# it is a module constant rather than derived from n_docs so the
# oracle (which imports it) and the Spark plan can never disagree on
# the predicate within one run.
BQ_SAMPLE_MOD = 4


@register("eval_blocking_quality")
def eval_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs completeness + reduction ratio of the banded-MinHash
    BLOCKING stage against exact ground truth — the standard entity-
    resolution/dedup-eval pair of numbers (how many true near-dup
    pairs do the LSH buckets surface, at what fraction of the n^2
    comparison space), closing the eval loop the dedup tier itself
    can't grade: dedup_lsh_calibration predicts the collision curve
    from (bands, rows); THIS key measures what the blocking actually
    did on the corpus.

    Ground truth runs on a BOUNDED DOCUMENT SAMPLE (r12 verdict
    task 3): documents with md5(doc_id) % BQ_SAMPLE_MOD == 0 — the
    deterministic content-independent predicate the sampled LSH
    calibration tier already uses, mirrored verbatim in the oracle,
    so the result is oracle-EXACT; only truth coverage is sampled.
    A production blocking grader samples precisely so ground truth
    stays computable: truth-pair count grows with the square of the
    per-entity duplicate multiplicity (a corpus where each base doc
    has r near-dup variants carries ~C(r,2) true pairs per doc), and
    a 1/m doc sample cuts that by m^2 regardless of the corpus's
    duplicate topology. Completeness estimated on the sample is the
    standard estimator: truth = exact pairs AMONG sampled docs; hits
    = blocking candidates restricted to those same pairs — numerator
    and denominator shrink together, so the ratio estimates the
    full-corpus completeness. n_sampled is emitted so the coverage
    is legible. Reduction stays FULL-corpus (candidates are the
    already-bounded LSH output): 1 - |cand| / C(n,2).

    Truth tier = the prefix-filter EXACT tier at Jaccard >= 0.8 on
    2-shingles (complete, never quadratic — dedup_ngram_verified's
    machinery; 0.8 is both the "true near-dup" bar the corpus plants
    and the threshold whose ~n/5 prefix keeps the candidate join
    scale-shaped — the t=0.5 prefix is ~n/2 of every document and
    measurably hangs on replica corpora); candidates = the SAME
    banding the production LSH tier uses, with the verify threshold
    disabled (jaccard_threshold=0.0 keeps every band collision).
    Completeness and reduction are exact e6 integers, C(n,2) in
    DECIMAL(38,0) (n^2 wraps int64 past ~4e9 docs); a 0-pair truth
    sample yields NULL completeness identically in both engines.

    Scale: both tiers are the already-audited bucket-joined plans
    (no cross join anywhere); the intersect is an id-pair semi-join;
    the five counts are 1-row aggregates cross-joined broadcast.
    """
    from ..operators.dedup import (minhash_lsh_pairs,
                                   ngram_jaccard_prefix_pairs)
    from ..operators.text import md5_long
    docs = read_table(spark, sf_dir, "documents")
    sampled = docs.filter(
        F.pmod(md5_long(F.col("doc_id").cast("string")),
               F.lit(BQ_SAMPLE_MOD)) == 0)
    truth = ngram_jaccard_prefix_pairs(
        sampled, "text", "doc_id", shingle_n=2,
        threshold=0.8).select("id_a", "id_b")
    cand = minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=16, bands=4, shingle_n=2,
        jaccard_threshold=0.0).select("id_a", "id_b")
    hits = cand.join(truth, ["id_a", "id_b"], "left_semi")
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    ns = sampled.agg(F.count(F.lit(1)).cast("bigint")
                     .alias("n_sampled"))
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).cast("bigint")
                  .alias("n_candidates"))
    nh = hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    dec = "decimal(38,0)"
    return (nd.crossJoin(F.broadcast(ns)).crossJoin(F.broadcast(nt))
            .crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(nh))
            .withColumn("__allp", F.expr(
                f"cast(n_docs as {dec}) * (n_docs - 1) div 2"))
            .select("n_docs", "n_sampled", "n_truth", "n_candidates",
                    "n_hits",
                    F.expr("cast(n_hits * 1000000"
                           " div nullif(n_truth, 0) as bigint)")
                    .alias("completeness_e6"),
                    F.expr(f"cast((__allp - n_candidates) * 1000000"
                           f" div nullif(__allp, cast(0 as {dec}))"
                           f" as bigint)").alias("reduction_e6")))


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (round 12) — completing the family.
# ---------------------------------------------------------------------------


MK_ITERS = 12
MK_SCALE = 10 ** 6
MK_START, MK_CONV, MK_NULL = "__start__", "__conv__", "__null__"


def markov_removal_solve(edges: list[tuple], iters: int = MK_ITERS,
                         ) -> tuple[dict, int]:
    """Fixed-iteration integer value iteration on the journey chain:
    v(s) = sum_j n(s,j) * v(j) // n_out(s) with v(CONV) = 1e6 and
    v(NULL) = 0, iterated ``iters`` times from zero — P(convert from
    s) in e6 fixed point; for the removal variant of channel c the
    state c is pinned to 0 (its traffic falls through to NULL, the
    standard removal-effect convention). Every step is integer floor
    division on non-negative values, so this Python mirror, the
    Spark plan (which calls it on the collected domain-bounded
    matrix) and the oracle's unrolled grid CTEs produce identical
    digits. Returns ({channel: p_removed_e6}, p_base_e6)."""
    out: dict[str, int] = {}
    nmap: dict[str, dict[str, int]] = {}
    for s, d, nv in edges:
        nmap.setdefault(s, {})[d] = nmap.setdefault(s, {}).get(d, 0) + nv
        out[s] = out.get(s, 0) + nv
    states = set(out) | {d for m in nmap.values() for d in m}
    channels = sorted(s for s in states
                      if s not in (MK_START, MK_CONV, MK_NULL))

    def run(removed: str | None) -> int:
        v = {s: 0 for s in states}
        v[MK_CONV] = MK_SCALE
        for _ in range(iters):
            nv_ = {}
            for s in states:
                if s == MK_CONV:
                    nv_[s] = MK_SCALE
                elif s == MK_NULL or s == removed or s not in nmap:
                    nv_[s] = 0
                else:
                    nv_[s] = (sum(n * v[d] for d, n in nmap[s].items())
                              // out[s])
            v = nv_
        return v.get(MK_START, 0)

    return {c: run(c) for c in channels}, run(None)


@register("attribution_markov_removal")
def attribution_markov_removal(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution — the data-driven
    member of the attribution family (first-touch assigns all credit
    to one touch, time-decay weights by recency, Markov asks the
    counterfactual: how much does P(conversion) DROP if channel c is
    removed from the journey graph?). The canonical marketing-
    analytics operator over the event timelines.

    Journey chain: per user, events ordered by (ts, event_id);
    a purchase absorbs into CONV and the journey restarts (the next
    event's source is START, as is each user's first event); a user's
    last non-purchase event falls through to NULL. The transition
    counts are a |types|^2-bounded aggregate after ONE user-keyed lag
    window — the same exchange sessionization pays. The value
    iteration (12 fixed integer steps, e6 fixed point) runs on the
    collected model-sized matrix via :func:`markov_removal_solve`,
    mirrored exactly by the oracle's unrolled (removal x state) grid
    CTEs — the bt_solve/graph_pagerank_fixed recipe.

    Output per channel: outgoing-transition visits, P(conv) base and
    removed (e6), and the removal effect (p_base - p_rem) * 1e6 div
    p_base, ranked descending.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (ev.select("user_id", "ts", "event_id", "event_type")
           .withColumn("prev", F.lag("event_type").over(w))
           .withColumn("nxt", F.lead("event_type").over(w)))
    step = seq.select(
        F.when(F.col("prev").isNull() | (F.col("prev") == "purchase"),
               F.lit(MK_START)).otherwise(F.col("prev")).alias("src"),
        F.when(F.col("event_type") == "purchase",
               F.lit(MK_CONV)).otherwise(F.col("event_type"))
        .alias("dst"))
    term = (seq.filter(F.col("nxt").isNull()
                       & (F.col("event_type") != "purchase"))
            .select(F.col("event_type").alias("src"),
                    F.lit(MK_NULL).alias("dst")))
    cells = (step.unionByName(term)
             .groupBy("src", "dst")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
             .collect())
    edges = [(r["src"], r["dst"], int(r["n"])) for r in cells]
    removed, p_base = markov_removal_solve(edges)
    visits: dict[str, int] = {}
    for s, _d, nv in edges:
        visits[s] = visits.get(s, 0) + nv
    rows = sorted(removed.items(),
                  key=lambda kv: (-(p_base - kv[1]), kv[0]))
    return spark.createDataFrame(
        [(c, visits.get(c, 0), p_base, p_rem,
          ((p_base - p_rem) * MK_SCALE // p_base) if p_base else None,
          i + 1)
         for i, (c, p_rem) in enumerate(rows)],
        "channel string, n_visits long, p_conv_base_e6 long, "
        "p_conv_removed_e6 long, removal_e6 long, rnk int")
