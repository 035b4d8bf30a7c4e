"""Round-10 mining-pack unit tests.

The skyline operator's tie semantics are the subtlest logic in the
pack (q dominates p iff q >= p on BOTH metrics and > on at least
one), and the bucket-prune plan has three hand-proved skip rules
(cross-bucket suffix-max, within-bucket prefix-max, group-max) whose
interaction with ties is easy to get wrong. These tests pin the
operator against a brute-force O(n^2) Python reference on
handcrafted tie shapes and on randomized point sets (hypothesis) —
all through ONE Spark job per case, tiny inputs.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from quickbooks_aws_etl_pipeline_spark.operators.preference import skyline_2d


def _brute(points):
    """O(n^2) reference: keep p unless some q dominates it."""
    out = []
    for i, (pid, p1, p2) in enumerate(points):
        dominated = any(
            q1 >= p1 and q2 >= p2 and (q1 > p1 or q2 > p2)
            for j, (qid, q1, q2) in enumerate(points) if j != i)
        if not dominated:
            out.append((pid, p1, p2))
    return sorted(out)


def _run(spark, points):
    df = spark.createDataFrame(points, "id long, m1 long, m2 long")
    got = sorted(tuple(r) for r in
                 skyline_2d(df, "id", "m1", "m2").collect())
    return got


EDGE_CASES = [
    # single point
    [(1, 5, 5)],
    # exact (m1, m2) duplicates: neither dominates, both survive
    [(1, 5, 5), (2, 5, 5)],
    # equal m1, different m2: higher m2 dominates
    [(1, 5, 5), (2, 5, 9)],
    # equal m2, different m1: higher m1 dominates
    [(1, 5, 5), (2, 9, 5)],
    # strict chain: only the top survives
    [(1, 1, 1), (2, 2, 2), (3, 3, 3)],
    # anti-chain: everyone survives
    [(1, 1, 3), (2, 2, 2), (3, 3, 1)],
    # duplicate skyline corner plus dominated interior
    [(1, 9, 9), (2, 9, 9), (3, 5, 5), (4, 9, 1), (5, 1, 9)],
    # all same m1 (single bucket, pure m2 refinement)
    [(1, 4, 1), (2, 4, 2), (3, 4, 3), (4, 4, 3)],
    # all same m2 (pure m1 refinement across buckets)
    [(1, 1, 4), (2, 2, 4), (3, 3, 4), (4, 3, 4)],
    # negative metrics (bucket arithmetic over a negative min)
    [(1, -10, -1), (2, -5, -7), (3, -1, -10), (4, -20, -20)],
    # wide m1 spread (forces real multi-bucket layout) with a
    # cross-bucket weak beat (equal m2 at strictly greater m1)
    [(1, 0, 7), (2, 1_000_000, 7), (3, 2_000_000, 3), (4, 500_000, 9)],
]


@pytest.mark.parametrize("points", EDGE_CASES)
def test_skyline_edge_cases(spark, points):
    assert _run(spark, points) == _brute(points)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.integers(0, 2**31 - 1))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_skyline_matches_brute_force_random(spark, seed):
    """Randomized differential: clustered integer points (small value
    domain, so ties on both axes are FREQUENT) plus a wide-domain
    sprinkle (so bucketing is non-trivial), vs the quadratic
    reference."""
    rng = random.Random(seed)
    n = rng.randint(1, 40)
    pts = [(i,
            rng.choice([rng.randint(0, 6), rng.randint(0, 10**6)]),
            rng.randint(0, 6))
           for i in range(n)]
    assert _run(spark, pts) == _brute(pts)


def test_skyline_small_bucket_count(spark):
    """buckets=2 forces heavy within-bucket refinement — the prefix-
    max path does the work instead of the cross-bucket filter."""
    rng = random.Random(7)
    pts = [(i, rng.randint(0, 50), rng.randint(0, 50)) for i in range(60)]
    df = spark.createDataFrame(pts, "id long, m1 long, m2 long")
    got = sorted(tuple(r) for r in
                 skyline_2d(df, "id", "m1", "m2", buckets=2).collect())
    assert got == _brute(pts)


def test_neyman_allocation_sums_to_budget(spark, sf_oracle):
    """Hamilton apportionment invariant: integer allocations sum to
    EXACTLY the 100-row budget (the property fractional rounding
    schemes violate), every allocation non-negative."""
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    rows = QUERIES["sample_neyman_allocation"](spark, sf_oracle).collect()
    assert sum(r.alloc for r in rows) == 100
    assert all(r.alloc >= 0 for r in rows)


def test_ks_statistic_within_bounds(spark, sf_oracle):
    """KS is a probability distance: 0 <= D <= 1, numerator <= the
    common denominator n_ref*n_cur."""
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    r = QUERIES["dq_ks_drift"](spark, sf_oracle).collect()[0]
    assert 0 <= r.ks_e6 <= 1_000_000
    assert 0 <= r.ks_num <= r.n_ref * r.n_cur


@pytest.mark.parametrize("hist", [
    [(1, 1, 0), (2, 0, 1), (3, 1, 0), (4, 0, 1)],           # tie at 1, 3
    [(None, 1, 0), (1, 1, 0), (2, 0, 1), (3, 1, 0), (4, 0, 1)],
    [(None, 2, 0), (5, 0, 2)],                             # max at NULL v
])
def test_ks_argmax_is_smallest_value_at_max_gap(spark, hist):
    """ks_from_value_hist against a pure-Python cumulative: NULL
    values rank first, the argmax is the smallest non-NULL v at the
    max numerator (NULL when only the NULL row attains it)."""
    from quickbooks_aws_etl_pipeline_spark.plans.mining_queries import (
        ks_from_value_hist)
    n_ref = sum(r for _v, r, _c in hist)
    n_cur = sum(c for _v, _r, c in hist)
    cum_r = cum_c = 0
    nums = []
    for v, r, c in sorted(hist, key=lambda t: (t[0] is not None, t[0])):
        cum_r, cum_c = cum_r + r, cum_c + c
        nums.append((abs(cum_r * n_cur - cum_c * n_ref), v))
    mx = max(n for n, _v in nums)
    at = min((v for n, v in nums if n == mx and v is not None),
             default=None)
    df = spark.createDataFrame(hist, "v bigint, c_ref bigint, c_cur bigint")
    got = ks_from_value_hist(spark, df).collect()[0]
    assert (got.n_ref, got.n_cur, got.ks_num, got.at_value_e2) == \
        (n_ref, n_cur, mx, at)


def test_attribution_credits_conserve_value(spark, sf_oracle):
    """Floor-share conservation: total credited cents can never
    exceed the attributed purchases' total value, and the floor loss
    is bounded by one cent per credit row (sum(floor(v*w/W)) over a
    purchase loses < n_touches cents). '(direct)' rows pass value
    through exactly."""
    from pyspark.sql import functions as F

    from quickbooks_aws_etl_pipeline_spark.io import read_table
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES

    rows = QUERIES["attribution_time_decay"](spark, sf_oracle).collect()
    credited = sum(r.credited_e2 for r in rows)
    n_credits = sum(r.n_credits for r in rows
                    if r.entry_type != "(direct)")
    total_value_e2 = (read_table(spark, sf_oracle, "events")
                      .filter(F.col("event_type") == "purchase")
                      .agg(F.sum(F.floor(F.col("value") * 100
                                         + F.lit(0.5)).cast("bigint")))
                      .collect()[0][0])
    assert credited <= total_value_e2
    assert credited > total_value_e2 - n_credits  # floor loss bound


def test_bfs_levels_partition_reachable_set(spark, sf_oracle):
    """BFS frontiers are disjoint by construction (anti-join against
    the labeled set); the per-distance counts must therefore sum to
    the distinct reachable node count within 3 hops — recomputed
    independently here via an undirected pair expansion in pandas."""
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES

    rows = QUERIES["graph_bfs_distances"](spark, sf_oracle).collect()
    got_total = sum(r.n_nodes for r in rows)

    li = read_table(spark, sf_oracle, "lineitem").select(
        "l_orderkey", "l_suppkey").toPandas()
    orders = read_table(spark, sf_oracle, "orders").select(
        "o_orderkey", "o_custkey").toPandas()
    sup = read_table(spark, sf_oracle, "supplier").select(
        "s_suppkey").toPandas()
    merged = li.merge(orders, left_on="l_orderkey",
                      right_on="o_orderkey")
    adj: dict[str, set[str]] = {}
    for c, s in zip(merged["o_custkey"], merged["l_suppkey"]):
        cn, sn = f"C{c}", f"S{s}"
        adj.setdefault(cn, set()).add(sn)
        adj.setdefault(sn, set()).add(cn)
    frontier = {f"S{k}" for k in sup["s_suppkey"] if k % 16 == 7}
    seen = set(frontier)
    for _ in range(3):
        frontier = {v for u in frontier for v in adj.get(u, ())} - seen
        seen |= frontier
    assert got_total == len(seen)


# ---------------------------------------------------------------------------
# attribution_time_decay: the r11 boundary-probe rewrite vs the
# naive pair semantics, on adversarial timestamps.
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000


def _attr_brute(events):
    """Reference implementation of the ORIGINAL pair semantics:
    purch x touch on user, strict (t < p, t > p - 7d), weight
    64 >> ((p - t) // DAY), per-pair floor credit."""
    purch = [(e, u, t, round(v * 100)) for (e, u, t, ty, v) in events
             if ty == "purchase"]
    touch = [(u, t, ty) for (e, u, t, ty, v) in events
             if ty != "purchase"]
    per_type = {}
    direct = [0, 0]
    for (pe, pu, pt, pv) in purch:
        pairs = [(ty, 64 >> ((pt - t) // _DAY_US))
                 for (u, t, ty) in touch
                 if u == pu and t < pt and t > pt - 7 * _DAY_US]
        if not pairs:
            direct[0] += 1
            direct[1] += pv
            continue
        tot_w = sum(w for _, w in pairs)
        for ty, w in pairs:
            n, wu, c = per_type.get(ty, (0, 0, 0))
            per_type[ty] = (n + 1, wu + w, c + (pv * w) // tot_w)
    rows = [(ty, n, wu, c) for ty, (n, wu, c) in per_type.items()]
    if direct[0]:
        rows.append(("(direct)", direct[0], 0, direct[1]))
    return sorted(rows, key=lambda r: (-r[3], r[0]))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.integers(0, 2**31 - 1))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_attribution_boundary_probe_matches_naive_pairs(
        spark, tmp_path_factory, seed):
    """Randomized differential for the r11 rewrite: timestamps are
    drawn CLUSTERED ON EXACT DAY MULTIPLES (offset k*DAY + jitter in
    {-1, 0, +1} us) so the strict/inclusive boundary cases of the
    cumulative-count probes (t == p, t == p - 7d, t == p - k*d
    exactly) occur constantly — any off-by-one in the probe ordering
    keys diverges from the quadratic reference immediately."""
    import pandas as pd

    rng = random.Random(seed)
    base = 1_600_000_000_000_000
    n = rng.randint(4, 60)
    events = []
    for i in range(n):
        user = rng.randint(1, 4)
        kind = rng.choice(["purchase", "view", "click", "signup"])
        t = (base + rng.randint(0, 10) * _DAY_US
             + rng.choice([0, 0, 0, rng.randint(1, _DAY_US - 1)])
             + rng.choice([-1, 0, 1]))
        events.append((i, user, t, kind, rng.randint(1, 500) / 100.0))
    d = tmp_path_factory.mktemp(f"attr{seed % 10**6}")
    pdf = pd.DataFrame(events, columns=[
        "event_id", "user_id", "t_us", "event_type", "value"])
    pdf["ts"] = pd.to_datetime(pdf["t_us"], unit="us")
    sdf = spark.createDataFrame(
        pdf[["event_id", "ts", "user_id", "event_type", "value"]])
    sdf = sdf.withColumn("props", F.lit("{}"))
    sdf.write.mode("overwrite").parquet(str(d / "events.parquet"))

    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    got = [(r.entry_type, r.n_credits, r.weight_units, r.credited_e2)
           for r in QUERIES["attribution_time_decay"](
               spark, str(d)).collect()]
    want = _attr_brute(
        [(e, u, t, ty, v) for (e, u, t, ty, v) in events])
    assert got == want, f"seed={seed}\ngot={got}\nwant={want}"


# --- round 12: Bradley-Terry / Markov-removal solver semantics ------------


def test_bt_solve_orders_by_dominance():
    """A beats B every time -> strength(A) > strength(B); a perfectly
    symmetric matrix keeps strengths equal at every iteration."""
    from quickbooks_aws_etl_pipeline_spark.plans.mining_queries import \
        bt_solve
    p = bt_solve([("A", "B", 6), ("B", "A", 6)], {"A": 6, "B": 0})
    assert p["A"] > p["B"]
    q = bt_solve([("A", "B", 8), ("B", "A", 8)], {"A": 4, "B": 4})
    assert q["A"] == q["B"]


def test_bt_solve_transitive_chain():
    """A>B>C pairwise dominance must come out monotone in strength."""
    from quickbooks_aws_etl_pipeline_spark.plans.mining_queries import \
        bt_solve
    m = [("A", "B", 4), ("B", "A", 4), ("B", "C", 4), ("C", "B", 4),
         ("A", "C", 4), ("C", "A", 4)]
    p = bt_solve(m, {"A": 7, "B": 4, "C": 1})
    assert p["A"] > p["B"] > p["C"]


def test_markov_removal_sole_path_is_total():
    """START -> a -> CONV is the only converting path: removing 'a'
    must zero P(conv); an unrelated channel's removal must not."""
    from quickbooks_aws_etl_pipeline_spark.plans.mining_queries import (
        MK_CONV, MK_NULL, MK_SCALE, MK_START, markov_removal_solve)
    edges = [(MK_START, "a", 10), ("a", MK_CONV, 10),
             (MK_START, "b", 10), ("b", MK_NULL, 10)]
    removed, p_base = markov_removal_solve(edges)
    assert p_base == MK_SCALE // 2
    assert removed["a"] == 0          # sole converting path gone
    assert removed["b"] == p_base     # b never converted anyway


def test_markov_removal_two_parallel_paths():
    """Two equal independent converting channels: removing one halves
    P(conv) (exact halving in integer arithmetic on this matrix)."""
    from quickbooks_aws_etl_pipeline_spark.plans.mining_queries import (
        MK_CONV, MK_START, markov_removal_solve)
    edges = [(MK_START, "a", 5), (MK_START, "b", 5),
             ("a", MK_CONV, 5), ("b", MK_CONV, 5)]
    removed, p_base = markov_removal_solve(edges)
    assert p_base == 1_000_000
    assert removed["a"] == 500_000 and removed["b"] == 500_000


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.integers(-50, 50),
                          st.integers(0, 5), st.integers(0, 5)),
                min_size=1, max_size=30))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_w1_finisher_matches_numpy_reference(spark, hist):
    """The dense-spine integer W1 must equal the straightforward
    float reference sum(|F_ref - F_cur|) * grid_step over the dense
    cent grid (floored at e6) for ANY histogram, including negative
    values and empty-side buckets."""
    from quickbooks_aws_etl_pipeline_spark.plans.mining_queries import \
        w1_from_value_hist
    agg = {}
    for v, cr, cc in hist:
        a, b = agg.get(v, (0, 0))
        agg[v] = (a + cr, b + cc)
    rows = [(v, cr, cc) for v, (cr, cc) in sorted(agg.items())]
    n_ref = sum(r[1] for r in rows)
    n_cur = sum(r[2] for r in rows)
    if n_ref == 0 or n_cur == 0:
        return  # W1 undefined without both sides; the events corpus
        # always has both (ref = view/click, cur = purchase)
    df = spark.createDataFrame(rows, "v long, c_ref long, c_cur long")
    got = w1_from_value_hist(spark, df).collect()[0]
    # reference: dense integer grid, exact rational per strip
    vmin, vmax = rows[0][0], rows[-1][0]
    cm = {v: (cr, cc) for v, cr, cc in rows}
    cum_r = cum_c = 0
    num = 0  # sum over strips of |cum_ref*n_cur - cum_cur*n_ref|
    for v in range(vmin, vmax):
        cr, cc = cm.get(v, (0, 0))
        cum_r += cr
        cum_c += cc
        num += abs(cum_r * n_cur - cum_c * n_ref)
    want = num * 10000 // (n_ref * n_cur)
    assert got["n_ref"] == n_ref and got["n_cur"] == n_cur
    assert got["w1_e6"] == want, (rows, got["w1_e6"], want)


@settings(max_examples=20, deadline=None)
@given(st.data())
def test_markov_removal_matches_exact_absorption_on_dags(data):
    """On an ACYCLIC journey chain the integer value iteration
    reaches its fixpoint within depth steps, and each floor division
    contributes < 1 e6-unit of error per level — so the solve must
    land within `depth` units of the exact rational absorption
    probability (computed independently with fractions), for the
    base chain and for every removal."""
    from fractions import Fraction

    from quickbooks_aws_etl_pipeline_spark.plans.mining_queries import (
        MK_CONV, MK_NULL, MK_SCALE, MK_START, markov_removal_solve)
    layers = [["a1", "a2"], ["b1", "b2"], ["c1"]]
    nodes = [MK_START] + [n for l in layers for n in l]
    nexts = {MK_START: layers[0] + [MK_CONV, MK_NULL]}
    for i, layer in enumerate(layers):
        for n in layer:
            nxt = (layers[i + 1] if i + 1 < len(layers) else [])
            nexts[n] = nxt + [MK_CONV, MK_NULL]
    edges = []
    for s in nodes:
        for d in nexts[s]:
            w = data.draw(st.integers(0, 4), label=f"{s}->{d}")
            if w:
                edges.append((s, d, w))
    out = {}
    for s, _d, w in edges:
        out[s] = out.get(s, 0) + w
    if out.get(MK_START, 0) == 0:
        return

    def exact(removed):
        memo = {}

        def v(s):
            if s == MK_CONV:
                return Fraction(1)
            if s == MK_NULL or s == removed or s not in out:
                return Fraction(0)
            if s not in memo:
                memo[s] = sum(Fraction(w, out[s]) * v(d)
                              for ss, d, w in edges if ss == s)
            return memo[s]
        return v(MK_START)

    depth = len(layers) + 2
    removed, p_base = markov_removal_solve(edges)
    assert abs(p_base - int(exact(None) * MK_SCALE)) <= depth
    for c, p_rem in removed.items():
        assert abs(p_rem - int(exact(c) * MK_SCALE)) <= depth, (c, edges)


def test_rk_solve_reduces_to_bt_at_theta_one_no_ties():
    """With θ forced to 1 and zero ties, rk_solve's directed-cell MM
    is ALGEBRAICALLY bt_solve's symmetric-matrix MM; the integer
    emissions differ only by floor-division grouping (bt sums
    w_ij + w_ji before the div, rk divides per directed cell), so
    pin agreement to a few e6-units — far below any rank-affecting
    gap — plus identical ordering."""
    from quickbooks_aws_etl_pipeline_spark.plans import mining_queries as M
    wdir = [("A", "B", 4), ("B", "A", 2), ("B", "C", 5), ("C", "A", 1),
            ("A", "C", 3)]
    sym: dict[tuple, int] = {}
    wins: dict[str, int] = {}
    for i, j, w in wdir:
        sym[(i, j)] = sym.get((i, j), 0) + w
        sym[(j, i)] = sym.get((j, i), 0) + w
        wins[i] = wins.get(i, 0) + w
    wins.setdefault("C", 0)
    bt = M.bt_solve(sorted((i, j, n) for (i, j), n in sym.items()), wins)
    rk = M.rk_solve([(i, j, w, 0) for i, j, w in wdir], theta=1)
    assert set(rk) == set(bt)
    assert all(abs(rk[t] - bt[t]) <= 8 for t in bt), (rk, bt)
    assert (sorted(rk, key=lambda t: (-rk[t], t))
            == sorted(bt, key=lambda t: (-bt[t], t)))


def test_rk_solve_dominance_and_tie_regularization():
    """A beats B every time -> strength(A) > strength(B); adding ties
    between them PULLS the strengths together (the regularization the
    tie parameter exists for) without reordering them."""
    from quickbooks_aws_etl_pipeline_spark.plans.mining_queries import (
        rk_solve)
    no_ties = rk_solve([("A", "B", 6, 0)])
    assert no_ties["A"] > no_ties["B"]
    with_ties = rk_solve([("A", "B", 6, 12), ("B", "A", 0, 12)])
    assert with_ties["A"] > with_ties["B"]
    assert (with_ties["A"] - with_ties["B"]
            < no_ties["A"] - no_ties["B"])
    # all-tie matrix: perfectly symmetric -> equal strengths
    even = rk_solve([("A", "B", 0, 9), ("B", "A", 0, 9)])
    assert even["A"] == even["B"]


@given(st.lists(st.tuples(st.sampled_from("ABCD"), st.sampled_from("ABCD"),
                          st.integers(0, 9), st.integers(0, 9)),
                min_size=1, max_size=10))
@settings(max_examples=40, deadline=None)
def test_rk_solve_monotone_likelihood(cells):
    """MM algorithms ascend the likelihood monotonically — the
    mathematical invariant that catches a wrong minorizer derivation
    (a bug no output oracle can see, since the oracle mirrors the
    same update). Random directed matrices; ties symmetrized the way
    eval_rao_kupper builds them; likelihood evaluated in floats on
    the integer-quantized strengths, tolerance for the e6 grid."""
    import math

    from quickbooks_aws_etl_pipeline_spark.plans.mining_queries import (
        RK_THETA, rk_solve)
    m: dict[tuple, list] = {}
    for i, j, w, t in cells:
        if i == j:
            continue
        m.setdefault((i, j), [0, 0])[0] += w
        if t:
            m.setdefault((i, j), [0, 0])[1] += t
            m.setdefault((j, i), [0, 0])[1] += t
    matrix = [(i, j, w, t) for (i, j), (w, t) in sorted(m.items())
              if w or t]
    if not matrix:
        return
    th = RK_THETA

    def loglik(p: dict) -> float:
        ll = 0.0
        for i, j, w, t in matrix:
            pi, pj = max(p[i], 1e-9), max(p[j], 1e-9)
            if w:
                ll += w * math.log(pi / (pi + th * pj))
            if t:  # symmetric cells carry the tie twice -> half each
                ll += 0.5 * t * math.log(
                    (th * th - 1) * pi * pj
                    / ((pi + th * pj) * (pj + th * pi)))
        return ll

    prev = None
    for k in range(1, 9):
        ll = loglik(rk_solve(matrix, iters=k))
        if prev is not None:
            # e6 quantization can wobble the float likelihood in the
            # last digits; genuine MM violations are orders larger
            assert ll >= prev - 1e-3 * (abs(prev) + 1), (matrix, k)
        prev = ll


def test_eval_order_bias_internal_consistency(spark, sf_smoke):
    """The order-bias report's columns must be mutually consistent:
    rates in [0, 1e6], the delta exactly the difference of the two
    cohort rates, first-slot wins bounded by decisive comparisons,
    and the pair grid the |types|^2 upper triangle (i < j)."""
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    rows = QUERIES["eval_order_bias"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r["i"] < r["j"]
        assert 0 <= r["n_decisive"] <= r["n_comparisons"]
        assert 0 <= r["n_first_slot_wins"] <= r["n_decisive"]
        for c in ("first_slot_win_ppm", "win_ppm_i_first",
                  "win_ppm_i_second"):
            if r[c] is not None:
                assert 0 <= r[c] <= 1_000_000, (c, r)
        if r["win_ppm_i_first"] is not None \
                and r["win_ppm_i_second"] is not None:
            assert r["order_delta_ppm"] == (r["win_ppm_i_first"]
                                            - r["win_ppm_i_second"])
        else:
            assert r["order_delta_ppm"] is None
