"""Graph analytics on relational edge lists (round 4).

Fixed-iteration PageRank over the customer<->supplier trade graph.
Two design decisions make this Spark-shaped AND oracle-checkable:

1. **Unrolled, not driver-looped state**: the iteration count is a
   small constant, so the whole computation is ONE declarative plan
   (joins + aggregates); the edge list is localCheckpoint'd once and
   re-used by every iteration instead of re-deriving the fact join
   per step. Per iteration the only shuffle is the groupBy(dst) on
   the edge-sized contribution frame — exactly the message-passing
   exchange a Pregel step costs, with map-side partial sums.

2. **Integer micro-unit arithmetic**: ranks live in units of 1e-12
   (BIGINT), contributions use floor division, and the damping step
   is ``150_000_000_000 + (17 * sum) div 20`` (0.85 = 17/20). Every
   operation is exact int64 — no float summation order, no decimal
   division scale rules — so DuckDB reproduces the ranks BIT FOR BIT
   via chained CTEs. (A double formulation would drift in the last
   ulps across partitionings; a decimal one hits engine-specific
   division scale derivation.)

Sums of contributions stay far inside int64: total mass is about
n_nodes * 1e12 and 17x that is < 2^63 for graphs up to ~5e5 nodes at
these unit sizes; callers scaling past that drop RANK_UNIT a decade.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import _ident

RANK_UNIT = 1_000_000_000_000  # 1.0 of rank, in integer micro-units
_TELEPORT = 150_000_000_000    # 0.15 * RANK_UNIT

# --- string-order-preserving integer node encoding (r14) -------------------
#
# The "C<custkey>" / "S<suppkey>" node labels made every graph exchange
# shuffle strings, and any min/min_by over them fell back to
# SortAggregate (string aggregation buffers are not UnsafeRow-mutable,
# so HashAggregate is ineligible — measured: the 3-round LPA plan
# carried 12 SortAggregate nodes). The encoding below maps each label
# to a BIGINT whose numeric order EQUALS the label's binary string
# order, so joins/shuffles/aggregates run on narrow longs while every
# comparison-dependent decision (LPA smallest-label tie-breaks,
# ORDER BY node) stays bit-identical to the string form; the handful
# of output rows decode back to the original strings at the end.
#
# ``lex_embed(n)``: the decimal digit string of n (0 <= n < 1e10) with
# each digit d mapped to base-11 digit d+1, left-aligned in a 10-slot
# base-11 numeral (slot value 0 = end-of-string padding). Lexicographic
# order of decimal digit strings == numeric order of the embedding
# (end-of-string sorts below every real digit, exactly like a shorter
# string sorting before its extensions), and numerals with digits in
# {1..10} padded by 0s are unique, so the map is injective and
# order-preserving into [11^9, 11^10). A "C"-prefixed label embeds at
# +0 and an "S"-prefixed one at +LEX_SPAN ('C' < 'S' decides every
# C-vs-S comparison at the first character). Pure integer codegen —
# no string ops, no shuffle, no extra pass.
#
# Each encoder is built as SQL text and parsed by ONE ``F.expr`` (the
# ``similarity._assign_cell_sql`` idiom): the Column-object form made
# ~40 Column API calls, each with its own py4j round trips, and spent
# ~0.1 s of driver time per use; the string form makes one call and
# takes under 1 ms, for the same expression tree.

LEX_SPAN = 11 ** 10  # 25_937_424_601: the range of one key space
_POW11 = [11 ** (10 - k) for k in range(11)]          # _POW11[k] = 11^(10-k)
_REP11 = [(11 ** k - 1) // 10 for k in range(11)]     # 0b...0111 in base 11


def _lex_embed_sql(key: str) -> str:
    """:func:`lex_embed` as SQL text over the SQL expression ``key``."""
    n = f"cast({key} as bigint)"
    conv = "cast(0 as bigint)"  # decimal digits read in base 11
    for i in range(9, -1, -1):
        conv = f"({conv} * 11 + cast({n} / {10 ** i} as bigint) % 10)"
    k1 = f"length(cast({n} as string)) + 1"  # 1 + number of digits
    val = (f"(({conv} + element_at(array({', '.join(map(str, _REP11))}), "
           f"{k1})) * element_at(array({', '.join(map(str, _POW11))}), "
           f"{k1}))")
    return (f"CASE WHEN ({n} >= 0 AND {n} < 10000000000) THEN {val} "
            f"ELSE cast(raise_error(concat("
            f"'lex_embed: key outside [0, 1e10): ', cast({n} as string)))"
            f" as bigint) END")


def _lex_decode_sql(code: str) -> str:
    """:func:`lex_decode` as SQL text over the SQL expression ``code``."""
    parts = []
    for j in range(9, -1, -1):
        e = f"(cast({code} / {11 ** j} as bigint) % 11)"
        parts.append(f"CASE WHEN {e} > 0 THEN cast({e} - 1 as string) "
                     f"ELSE '' END")
    return f"concat({', '.join(parts)})"


def lex_embed(col: str) -> Column:
    """Order-preserving embedding of ``str(n)`` for the non-negative
    bigint column ``col`` (n < 1e10) into [11**9, LEX_SPAN): numeric
    order of the result == lexicographic order of the decimal string.
    See module note.

    Out-of-range keys FAIL LOUDLY (r14 verdict item 5): an 11-digit
    key would make ``element_at`` read past the 11-slot literal
    arrays, which under ansi=false yields NULL — the node would
    silently vanish from every downstream join instead of erroring.
    At the 100 TB design point TPC-H custkey (150k * SF) crosses 1e10
    near SF ~67k, so the contract must be enforced, not assumed. The
    guard is one integer range check per row feeding a conditional
    ``raise_error`` — no join, no shuffle, branch never taken in
    range."""
    return F.expr(_lex_embed_sql(_ident(col)))


def lex_decode(col: str) -> Column:
    """Inverse of :func:`lex_embed`: the original decimal string of
    the code in column ``col``. Base-11 digit e > 0 decodes to
    character e-1; padding 0s vanish (real 0 digits inside the number
    are encoded as 1, so nothing collides with the padding)."""
    return F.expr(_lex_decode_sql(_ident(col)))


def cs_node_encode(prefix: str, key: str) -> Column:
    """Encode a "C<key>"/"S<key>" trade-graph node label, ``key`` the
    name of its bigint key column, as a bigint in [0, 2*LEX_SPAN)
    preserving the label's string order."""
    off = 0 if prefix == "C" else LEX_SPAN
    return F.expr(f"cast({off} as bigint) + {_lex_embed_sql(_ident(key))}")


def cs_node_decode(col: str) -> Column:
    """Inverse of :func:`cs_node_encode` on column ``col``: the
    original string label."""
    c = _ident(col)
    is_s = f"{c} >= {LEX_SPAN}"
    code = f"CASE WHEN {is_s} THEN {c} - {LEX_SPAN} ELSE {c} END"
    return F.expr(f"concat(CASE WHEN {is_s} THEN 'S' ELSE 'C' END, "
                  f"{_lex_decode_sql(code)})")


def trade_graph_edges(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """The undirected customer<->supplier trade graph as a SYMMETRIC
    (src, dst) edge list: one distinct (customer, supplier) pair per
    lineitem><orders match, emitted in both directions, nodes as
    :func:`cs_node_encode` bigints. Callers choose how the two tables
    are scanned (e.g. ``widen``) and whether to checkpoint."""
    orders = orders.select("o_orderkey", "o_custkey")
    lineitem = lineitem.select("l_orderkey", "l_suppkey")
    pairs = (lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
             .select(cs_node_encode("C", "o_custkey").alias("c_node"),
                     cs_node_encode("S", "l_suppkey").alias("s_node"))
             .distinct())
    return (pairs.select(F.col("c_node").alias("src"),
                         F.col("s_node").alias("dst"))
            .unionByName(pairs.select(F.col("s_node").alias("src"),
                                      F.col("c_node").alias("dst"))))


def unrolled_rounds(state: DataFrame,
                    step: Callable[[list[DataFrame]], DataFrame],
                    rounds: int, *, eager: bool = False) -> list[DataFrame]:
    """Run ``rounds`` driver-unrolled rounds and return every state,
    ``[state, s_1, ..., s_rounds]``. ``step`` receives the states so
    far (the last one is current) and returns the next.

    Each intermediate state is localCheckpointed: it feeds the next
    round and the caller's closing aggregate, so the barrier stops the
    subtree doubling per round. The LAST state feeds only the closing
    aggregate, so it stays inline and the two fuse instead of paying
    one more materialization. ``eager=True`` materializes each
    checkpoint at once, for lineage too deep to re-analyze per round.
    """
    states = [state]
    for rnd in range(rounds):
        nxt = step(states)
        if rnd < rounds - 1:
            nxt = nxt.localCheckpoint(eager=eager)
        states.append(nxt)
    return states


# NOTE (r15, measured — do not re-try blind): pre-partitioning the
# checkpointed edge lists on the per-round join key ("partition the
# static relation once", the Pregel standard) DOES eliminate every
# edge-keyed per-round exchange here (LPA executed plan: 9 -> 6
# exchanges, 0 edge-keyed; requires materializing the layout exchange
# with AQE off, because under AQE Dataset.checkpoint captures
# UnknownPartitioning and downstream joins re-exchange anyway). It is
# NOT shipped: at the bench's sf0.1 the saved exchanges are tiny
# while the extra staged materialization + layout exchange cost
# +0.3-1.0 s per graph key (in-session alternating A/B, min-of-3:
# LPA 5.81 -> 6.79, BFS 4.21 -> 4.74, SSSP 4.16 -> 4.64, sampled
# triangles 1.93 -> 2.18). At a true 100 TB edge relation the trade
# reverses — OPTIMIZATION_r15.md carries the full writeup.


def pagerank_fixed(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """``edges``: directed (src, dst) pairs, already deduplicated.
    Returns (node, rank_units) after ``iterations`` damped rounds
    from a uniform start. Dangling nodes (no out-edges) keep only
    teleport mass — callers wanting undirected semantics pass both
    edge directions.
    """
    edges = edges.localCheckpoint(eager=False)
    # nodes is referenced by every iteration's left join — checkpoint
    # it too, or each unrolled step re-runs the union+distinct.
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=False))
    degree = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # (src, dst, out_deg) — the static message-routing table.
    routing = edges.join(degree, "src").localCheckpoint(eager=False)

    ranks = nodes.select("node", F.lit(RANK_UNIT).alias("rank_units"))
    for _ in range(iterations):
        contribs = (routing
                    .join(ranks, routing["src"] == ranks["node"])
                    .select(F.col("dst"),
                            F.expr("rank_units div out_deg")
                            .alias("contrib")))
        inflow = (contribs.groupBy("dst")
                  .agg(F.sum("contrib").alias("in_sum")))
        ranks = (nodes.join(inflow, nodes["node"] == inflow["dst"], "left")
                 .select("node",
                         (F.lit(_TELEPORT)
                          + F.expr("(17 * coalesce(in_sum, 0L)) div 20"))
                         .alias("rank_units")))
    return ranks


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle census of an undirected graph — one summary row
    (n_nodes, n_edges, n_wedges, n_triangles, clustering_ppm).

    ``edges``: undirected edge list given ONCE per edge with
    src < dst (canonical orientation), already deduplicated.

    Algorithm is the degree-ordered wedge join (the MapReduce
    triangle-counting shape of Suri & Vassilvitskii's "Counting
    triangles and the curse of the last reducer", WWW'11): orient
    every edge from the lower-(degree, id) endpoint to the higher
    one, build wedges by self-joining on the pivot (each wedge is
    generated at its MINIMUM-degree vertex, so a degree-d hub costs
    O(d) per neighbor edge orientation instead of O(d^2) wedges —
    this is what survives power-law skew at 100 TB), then count
    wedges closed by an edge via an inner join on the canonical
    (lo, hi) endpoint pair. Shuffles: degree aggregate, two wedge
    joins — all keyed, never a cross product.

    Everything is integer arithmetic; the global clustering
    coefficient is reported in exact parts-per-million
    (1e6 * 3 * triangles div wedges) so engines agree bit-for-bit.
    """
    edges = edges.localCheckpoint(eager=False)
    deg = (edges.select(F.col("src").alias("node"))
           .unionByName(edges.select(F.col("dst").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    # Orient each edge low-(deg, id) -> high-(deg, id).
    e = (edges
         .join(deg.withColumnRenamed("node", "src")
                  .withColumnRenamed("deg", "deg_src"), "src")
         .join(deg.withColumnRenamed("node", "dst")
                  .withColumnRenamed("deg", "deg_dst"), "dst"))
    lo_first = (F.col("deg_src") < F.col("deg_dst")) | (
        (F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst")))
    oriented = e.select(
        F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("b"))
    oriented = oriented.localCheckpoint(eager=False)
    # Wedges pivoting at a (the min-degree endpoint of both legs).
    w1 = oriented.select(F.col("a").alias("p"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a").alias("p"), F.col("b").alias("y"))
    wedges = (w1.join(w2, "p").filter(F.col("x") < F.col("y"))
              .select("p", "x", "y"))
    closing = edges.select(
        F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).agg(
        F.count(F.lit(1)).alias("n_triangles"))
    # Wedge total for the clustering coefficient: sum_v C(deg_v, 2).
    wedge_total = deg.agg(
        F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges"))
    summary = (edges.agg(F.count(F.lit(1)).alias("n_edges"))
               .crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
               .crossJoin(wedge_total).crossJoin(tri))
    return summary.select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles",
        F.expr("CASE WHEN n_wedges > 0 THEN (1000000 * 3 * n_triangles)"
               " div n_wedges ELSE 0 END").alias("clustering_ppm"))


def label_propagation_fixed(edges: DataFrame,
                            iterations: int = 3) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for a
    FIXED number of rounds: every node starts as its own label; each
    round it adopts the most frequent label among its neighbors,
    ties broken by the smallest label — so every decision is an
    exact (count, label) comparison and the rounds
    unroll into the oracle as chained CTEs (the pagerank_fixed
    convention; free-running LPA is nondeterministic under
    asynchronous update order, which is exactly why the fixed
    synchronous form is the cross-engine contract).

    CONTRACT: ``edges`` must be SYMMETRIC (each undirected edge
    present in both directions — how graph_label_propagation builds
    it). Then the dst set equals the node set, every node receives
    >= 1 message every round, and two plan savings follow (r10,
    measured): no per-round left join against a node list (the old
    form spent 3 |nodes| exchanges re-attaching nodes that were all
    already present), and round 1's message join against the
    identity labeling folds to ``edges.select(dst, src)`` — so a
    3-round run needs 2 joins, not 6.

    CONTRACT (r14): node ids / labels are BIGINTs in [0, 2^36) —
    callers with string labels embed them order-preservingly first
    (:func:`cs_node_encode`) and decode the output. Numeric label
    order stands in for the string order, so "smallest label" means
    the same winner.

    Scale shape: per round, ONE groupBy(dst, lbl) message exchange
    over the edge list and one per-node argmin — message volume is
    |edges| regardless of iteration count; edges are checkpointed
    once, not re-derived per unrolled step. The argmin ordering is
    the single-long pack ``lbl - cnt * 2^36`` (min ⇔ count DESC then
    label ASC: distinct counts differ by >= 2^36 > any label, equal
    counts compare labels directly). A packed LONG ordering keeps
    both aggregate phases in HashAggregate with map-side combine —
    the struct((-cnt), lbl) form it replaces has an UnsafeRow-
    immutable buffer and compiled to SortAggregate, paying a full
    sort of the message-count relation per phase per round (r14,
    measured: 12 SortAggregate nodes -> 0). Exact while
    cnt < 2^27 (a 134M-degree hub — far past any tested scale; the
    string form's sort cost would dominate long before the pack
    saturates).
    """
    edges = edges.localCheckpoint(eager=False)
    if iterations < 1:
        return (edges.select(F.col("dst").alias("node"))
                .distinct().select("node", F.col("node").alias("lbl")))

    def one_round(msgs: DataFrame) -> DataFrame:
        counts = (msgs.groupBy("dst", "lbl")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
        # saturation guard (r14 advice): a count >= 2^27 would wrap
        # the packed ordering into a WRONG community instead of an
        # error. One integer compare per (dst, lbl) row — the counts
        # relation, already tiny next to the message exchange.
        cnt = (F.when(F.col("cnt") < F.lit(1 << 27), F.col("cnt"))
               .otherwise(F.raise_error(F.concat(
                   F.lit("label_propagation_fixed: message count "
                         "saturates the packed argmin (>= 2^27): "),
                   F.col("cnt").cast("string"))).cast("bigint")))
        best = (counts.groupBy("dst")
                .agg(F.min_by(
                    F.col("lbl"),
                    F.col("lbl") - cnt * F.lit(1 << 36))
                    .alias("lbl")))
        return best.select(F.col("dst").alias("node"), "lbl")

    lab = one_round(edges.select("dst", F.col("src").alias("lbl")))
    for _ in range(iterations - 1):
        lab = one_round(edges.join(lab, edges["src"] == lab["node"])
                        .select(edges["dst"], F.col("lbl")))
    return lab
