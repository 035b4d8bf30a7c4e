"""Invariant tests for the classifier-eval / leakage-audit tier
(plans/eval_queries.py). The registry oracle test already proves each
key equals its DuckDB SQL; these pin the MATHEMATICAL invariants the
SQL mirror cannot express — the pure-Python AUC differential, the
complement identity, cluster-atomic split membership, and funnel
monotonicity."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from quickbooks_aws_etl_pipeline_spark.operators.evaluation import (
    auc_rank_ppm, calibration_bins, stopword_ppm)
from quickbooks_aws_etl_pipeline_spark.operators.text import LANG_STOPWORDS
from quickbooks_aws_etl_pipeline_spark.plans import QUERIES


def _scored(spark, sf):
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return docs.select(
        "doc_id",
        stopword_ppm(F.col("text"), LANG_STOPWORDS["en"])
        .alias("score_ppm"),
        (F.col("lang") == "en").alias("is_pos"))


def _python_auc2(rows):
    """Reference tie-corrected 2*W + T by brute-force pair counting —
    O(n^2) on the smoke corpus, the ground truth the distributed
    rank-sum must equal exactly."""
    pos = [s for s, p in rows if p]
    neg = [s for s, p in rows if not p]
    n2 = 0
    for sp in pos:
        for sn in neg:
            if sp > sn:
                n2 += 2
            elif sp == sn:
                n2 += 1
    return len(pos), len(neg), n2


def test_auc_equals_bruteforce_pairs(spark, sf_smoke):
    scored = _scored(spark, sf_smoke)
    rows = [(r["score_ppm"], r["is_pos"]) for r in scored.collect()]
    n_pos, n_neg, n2 = _python_auc2(rows)
    got = auc_rank_ppm(scored, "score_ppm", "is_pos").collect()[0]
    assert got["n_pos"] == n_pos
    assert got["n_neg"] == n_neg
    assert got["auc_num2"] == n2
    assert 0.0 <= got["auc"] <= 1.0


def test_auc_keeps_scores_outside_the_ppm_domain(spark):
    """A score above PPM_DOMAIN lands in a bucket past ``buckets``; it
    must still be counted, not dropped by the offset join."""
    from quickbooks_aws_etl_pipeline_spark.operators.evaluation import (
        PPM_DOMAIN)
    rows = [(10, False), (10, True), (400_000, True), (700_000, False),
            (1_500_000, True), (999_999, False)]
    assert rows[4][0] > PPM_DOMAIN
    df = spark.createDataFrame(rows, "score_ppm long, is_pos boolean")
    n_pos, n_neg, n2 = _python_auc2(rows)
    got = auc_rank_ppm(df, "score_ppm", "is_pos", buckets=64).collect()[0]
    assert (got["n_pos"], got["n_neg"], got["auc_num2"]) == (n_pos, n_neg, n2)


def test_auc_complement_identity(spark, sf_smoke):
    """Swapping the label polarity must give auc_num2' such that
    num2 + num2' = 2*n_pos*n_neg exactly (wins swap sides, ties stay
    ties) — a pure-integer identity no float wobble can satisfy by
    luck."""
    scored = _scored(spark, sf_smoke)
    a = auc_rank_ppm(scored, "score_ppm", "is_pos").collect()[0]
    flipped = scored.withColumn("is_pos", ~F.col("is_pos"))
    b = auc_rank_ppm(flipped, "score_ppm", "is_pos").collect()[0]
    assert a["n_pos"] == b["n_neg"] and a["n_neg"] == b["n_pos"]
    assert a["auc_num2"] + b["auc_num2"] == 2 * a["n_pos"] * a["n_neg"]


def test_auc_bucket_count_invariant(spark, sf_smoke):
    """The distributed-histogram cumulative must be independent of the
    bucket count (the deterministic_global_shuffle contract)."""
    scored = _scored(spark, sf_smoke)
    outs = [auc_rank_ppm(scored, "score_ppm", "is_pos", buckets=b)
            .collect()[0] for b in (1, 7, 256)]
    assert len({(o["auc_num2"], o["auc"]) for o in outs}) == 1


def test_calibration_bins_partition_corpus(spark, sf_smoke):
    scored = _scored(spark, sf_smoke)
    bins = calibration_bins(scored, "score_ppm", "is_pos").collect()
    n_docs = scored.count()
    n_pos = scored.filter("is_pos").count()
    assert sum(r["n"] for r in bins) == n_docs
    assert sum(r["n_pos"] for r in bins) == n_pos
    for r in bins:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["pos_rate"] <= 1.0
        # mean score must lie inside the bin's ppm range (cap bin 9)
        lo = r["bin"] * 100_000
        hi = 1_000_000 if r["bin"] == 9 else lo + 100_000
        assert lo <= r["mean_score_ppm"] < hi + 1


def test_split_leakage_safe_clusters_atomic(spark, sf_smoke):
    """THE invariant: no near-dup cluster spans a split boundary.
    Recompute the cluster map independently and check every
    component's docs share one split under the canonical-id hash."""
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        connected_components, ngram_jaccard_prefix_pairs)
    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        hash_bucket)
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    pairs = ngram_jaccard_prefix_pairs(docs, "text", "doc_id",
                                       shingle_n=3, threshold=0.8)
    comp = connected_components(pairs, "id_a", "id_b")
    assigned = (docs.select("doc_id")
                .join(comp, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("component_id", "doc_id")
                        .alias("canonical_id"))
                .withColumn("b", hash_bucket(F.col("canonical_id")))
                .withColumn("split",
                            F.when(F.col("b") < 80, "train")
                            .when(F.col("b") < 90, "valid")
                            .otherwise("test")))
    spans = (assigned.groupBy("canonical_id")
             .agg(F.count_distinct("split").alias("k"))
             .filter(F.col("k") > 1).count())
    assert spans == 0
    # and the registered key's totals cover the corpus exactly once
    out = QUERIES["split_leakage_safe"](spark, sf_smoke).collect()
    assert sum(r["n_docs"] for r in out) == docs.count()
    assert sum(r["n_rescued"] for r in out) > 0  # the gate does work


@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_filter_funnel_monotone(spark, sf_smoke):
    rows = {r["stage_idx"]: r for r in
            QUERIES["pipeline_filter_funnel"](spark, sf_smoke).collect()}
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    assert rows[0]["n_docs"] == docs.count()
    assert rows[0]["n_chars"] == docs.agg(F.sum("n_chars")).collect()[0][0]
    for i in range(1, 5):
        assert rows[i]["n_docs"] <= rows[i - 1]["n_docs"]
        assert rows[i]["n_chars"] <= rows[i - 1]["n_chars"]
    assert rows[4]["n_docs"] > 0  # funnel never empties the corpus
    # every stage actually gates something on the smoke corpus
    assert rows[4]["n_docs"] < rows[0]["n_docs"]


# --- hypothesis differentials ----------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402
from pyspark.sql import Row  # noqa: E402


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 6), st.booleans()),
                min_size=2, max_size=40).filter(
                    lambda rows: any(p for _, p in rows)
                    and any(not p for _, p in rows)))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_auc_hypothesis_tie_heavy(spark, rows):
    """Random tie-HEAVY score/label sets (score domain {0..6} forces
    massive tie groups, the case the 0.5-credit correction exists
    for): the distributed rank-sum must equal brute-force pair
    counting exactly. Scores scale by 142857 to ppm so the bucket map
    exercises multiple buckets."""
    scaled = [(s * 142_857, p) for s, p in rows]
    df = spark.createDataFrame(
        [Row(score_ppm=s, is_pos=p) for s, p in scaled])
    n_pos, n_neg, n2 = _python_auc2(scaled)
    got = auc_rank_ppm(df, "score_ppm", "is_pos", buckets=5).collect()[0]
    assert (got["n_pos"], got["n_neg"], got["auc_num2"]) == (n_pos, n_neg, n2)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 1_000_000), st.booleans()),
                min_size=1, max_size=40))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_calibration_hypothesis_partition(spark, rows):
    """Random ppm scores across the full domain: bins must partition
    the input exactly (counts and positives both), the boundary score
    1_000_000 landing in bin 9 by the cap."""
    df = spark.createDataFrame(
        [Row(score_ppm=s, is_pos=p) for s, p in rows])
    bins = calibration_bins(df, "score_ppm", "is_pos").collect()
    assert sum(r["n"] for r in bins) == len(rows)
    assert sum(r["n_pos"] for r in bins) == sum(1 for _, p in rows if p)
    expect_bins = {min(s // 100_000, 9) for s, _ in rows}
    assert {r["bin"] for r in bins} == expect_bins


def test_excess_loss_degenerate_target_is_zero(spark, sf_smoke):
    """If the reference slice IS the whole corpus, both LMs are
    identical and every document's excess score must be exactly 0
    (the decimal deltas cancel token-for-token)."""
    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        excess_loss_select)
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    out = excess_loss_select(docs, "text", "doc_id",
                             F.lit(True), k=10).collect()
    assert len(out) == 10
    assert all(r["excess_score"] == 0.0 for r in out)
    # zero-tie ranking must fall back to ascending doc_id
    assert [r["doc_id"] for r in out] == sorted(r["doc_id"] for r in out)


def test_excess_loss_prefers_target_enriched_docs(spark):
    """Synthetic corpus where target docs are pure 'aa' and the rest
    pure 'bb': every target-vocabulary doc must outrank every
    off-target doc."""
    from pyspark.sql import Row
    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        excess_loss_select)
    rows = [Row(doc_id=i, text="aa aa aa", tgt=True) for i in range(5)]
    rows += [Row(doc_id=i + 5, text="bb bb bb", tgt=False)
             for i in range(5)]
    df = spark.createDataFrame(rows)
    out = excess_loss_select(df, "text", "doc_id",
                             F.col("tgt"), k=10).collect()
    ranks = {r["doc_id"]: i for i, r in enumerate(out)}
    assert max(ranks[d] for d in range(5)) < min(
        ranks[d] for d in range(5, 10))


@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_pretrain_prep_consistent_with_parts(spark, sf_smoke):
    """The composition must agree with its parts: per-split doc
    totals equal the funnel's final stage count, and every kept doc's
    split matches split_leakage_safe's cluster rule (packs =
    ceil(tokens/2048) per split)."""
    prep = {r["split"]: r for r in
            QUERIES["pipeline_pretrain_prep"](spark, sf_smoke).collect()}
    funnel = {r["stage_idx"]: r for r in
              QUERIES["pipeline_filter_funnel"](spark, sf_smoke).collect()}
    assert sum(r["n_docs"] for r in prep.values()) == funnel[4]["n_docs"]
    for r in prep.values():
        assert r["n_packs"] == (r["n_tokens"] + 2047) // 2048
        assert r["n_docs"] > 0


def test_ann_recall_self_consistency(spark, sf_smoke):
    """Recall must be 10/10 when the candidate tier IS the exact tier:
    rebuild the metric with approx == exact and check every query
    scores 1.0; and the registered key's n_hit matches a driver-side
    set intersection of the two top-10 lists."""
    from pyspark.sql import Window
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        as_double_array, cosine)
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qv"),
                       F.col("label").alias("qlabel")))
    scored = (emb.crossJoin(F.broadcast(queries))
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id", "label", "qlabel",
                      F.round(cosine(as_double_array(F.col("embedding")),
                                     as_double_array(F.col("qv"))), 6)
                      .alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("vec_id"))
    ranked = scored.withColumn("rnk", F.row_number().over(w)) \
                   .filter(F.col("rnk") <= 10)
    exact = {(r["query_id"], r["vec_id"]) for r in
             ranked.select("query_id", "vec_id").collect()}
    approx = {(r["query_id"], r["vec_id"]) for r in
              ranked.filter(F.col("label") == F.col("qlabel"))
              .select("query_id", "vec_id").collect()}
    want = {q: len({v for qq, v in exact if qq == q}
                   & {v for qq, v in approx if qq == q})
            for q in range(8)}
    # NB approx here is exact-top-10 RESTRICTED to the cell (a subset
    # of the key's cell-ranked list) — so want[q] is a LOWER bound
    got = {r["query_id"]: r["n_hit"] for r in
           QUERIES["eval_ann_recall"](spark, sf_smoke).collect()}
    assert set(got) == set(range(8))
    for q in range(8):
        assert got[q] >= want[q]
        assert 0 <= got[q] <= 10


def test_psi_population_symmetry_and_nonnegativity(spark, sf_smoke):
    """PSI is symmetric in its populations ((p-q)ln(p/q) ==
    (q-p)ln(q/p)) and every term is non-negative up to one e10 unit
    of integer rounding; identical populations give ~0 total."""
    from quickbooks_aws_etl_pipeline_spark.operators.evaluation import (
        score_drift_psi, stopword_ppm)
    from quickbooks_aws_etl_pipeline_spark.operators.text import (
        LANG_STOPWORDS)
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    scored = docs.select(
        stopword_ppm(F.col("text"), LANG_STOPWORDS["en"])
        .alias("s"),
        (F.col("doc_id") % 2 == 0).alias("p"))
    a = {r["bin"]: r["psi_term_e10"] for r in
         score_drift_psi(scored, "s", "p").collect()}
    flipped = scored.withColumn("p", ~F.col("p"))
    b = {r["bin"]: r["psi_term_e10"] for r in
         score_drift_psi(flipped, "s", "p").collect()}
    assert set(a) == set(range(10)) == set(b)
    for i in range(10):
        assert abs(a[i] - b[i]) <= 1, (i, a[i], b[i])
        assert a[i] >= -1
    # self-drift: population == itself duplicated -> exactly 0 terms
    dup = scored.withColumn("p", F.lit(True)).unionByName(
        scored.withColumn("p", F.lit(False)))
    c = score_drift_psi(dup, "s", "p").collect()
    assert all(r["psi_term_e10"] == 0 for r in c)


def test_pr_thresholds_invariants(spark, sf_smoke):
    """Threshold-0 predicts everything (recall 1, precision = base
    rate); recall is monotone non-increasing in the threshold; tp+fp
    never exceeds the corpus; F1 is the exact harmonic combination
    of the integer counts."""
    rows = {r["t_idx"]: r for r in
            QUERIES["eval_pr_thresholds"](spark, sf_smoke).collect()}
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    n = docs.count()
    n_pos = docs.filter("lang = 'en'").count()
    assert rows[0]["n_pred"] == n
    assert rows[0]["tp"] == n_pos
    assert rows[0]["recall"] == 1.0
    last = None
    for i in range(10):
        r = rows[i]
        assert 0 <= r["tp"] <= n_pos and 0 <= r["n_pred"] <= n
        if last is not None:
            assert r["recall"] <= last["recall"]
            assert r["n_pred"] <= last["n_pred"]
        # F1 from the integer counts, replicated in python
        denom = r["tp"] + r["fp"] + n_pos
        want = ((2 * (2 * r["tp"]) * 1_000_000 + denom)
                // (2 * denom)) / 1_000_000 if denom else 0.0
        assert r["f1"] == want
        last = r


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 999_999), st.booleans()),
                min_size=4, max_size=60).filter(
                    lambda rows: any(p for _, p in rows)
                    and any(not p for _, p in rows)))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_psi_integer_recipe_tracks_float_psi(spark, rows):
    """The all-integer PSI must track the straightforward float PSI
    (same Laplace smoothing) within the rounding budget: each term
    carries <= ~1e-7 of proportion rounding times <= ~18 of log
    range plus 1e-7 log rounding — bound the per-bin gap at 5e-6."""
    import math
    from quickbooks_aws_etl_pipeline_spark.operators.evaluation import (
        score_drift_psi)
    from pyspark.sql import Row
    df = spark.createDataFrame(
        [Row(s=s, p=p) for s, p in rows])
    got = {r["bin"]: r["psi_term_e10"] / 1e10 for r in
           score_drift_psi(df, "s", "p").collect()}
    nt = sum(1 for _, p in rows if p)
    ns = sum(1 for _, p in rows if not p)
    hist = {}
    for s, p in rows:
        b = min(s // 100_000, 9)
        h = hist.setdefault(b, [0, 0])
        h[0 if p else 1] += 1
    for b in range(10):
        n_t, n_s = hist.get(b, (0, 0))
        pi = (n_t + 1) / (nt + 10)
        qi = (n_s + 1) / (ns + 10)
        want = (pi - qi) * math.log10(pi / qi)
        assert abs(got[b] - want) < 5e-6, (b, got[b], want)


def test_auc_bootstrap_ci_brackets_point_and_is_deterministic(spark, sf_smoke):
    """The bootstrap replicate AUCs must (a) be bit-identical on a
    repeat run (md5-seeded weights, no RNG), (b) all live in (0, 1),
    and (c) bracket the point estimate on this corpus — a CI that
    excludes its own point estimate means the resampling or the
    rank-sum drifted."""
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    a = QUERIES["eval_auc_bootstrap_ci"](spark, sf_smoke).collect()
    b = QUERIES["eval_auc_bootstrap_ci"](spark, sf_smoke).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    aucs = [r["auc"] for r in a if r["auc"] is not None]
    assert len(aucs) == 8
    assert all(0.0 < x < 1.0 for x in aucs)
    point = QUERIES["eval_auc_rank"](spark, sf_smoke).first()["auc"]
    assert min(aucs) <= point <= max(aucs)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(["en", "es", "de", "fr", "zh"]),
                          st.integers(1, 2000)),
                min_size=2, max_size=5,
                unique_by=lambda t: t[0]))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_unimax_waterfilling_hypothesis(spark, langs):
    """Random language availabilities: the UniMax allocation must
    (a) equal a plain-Python waterfilling reference exactly,
    (b) sum to min(budget, total usable),
    (c) never exceed any language's cap."""
    from quickbooks_aws_etl_pipeline_spark.plans.curation_queries import (
        mixture_unimax_budget)
    import quickbooks_aws_etl_pipeline_spark.plans.curation_queries as cq
    # build a tiny documents-shaped frame whose per-lang token totals
    # equal the drawn availabilities (one doc of n single-char tokens)
    rows = [(i, lang, " ".join("x" * 1 for _ in range(n)))
            for i, (lang, n) in enumerate(langs)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    # run the same algebra the key uses, against this frame
    import types
    fake = types.SimpleNamespace()
    real_read = cq.read_table
    try:
        cq.read_table = lambda s, d, t: df
        out = {r["lang"]: r for r in
               mixture_unimax_budget(spark, "unused").collect()}
    finally:
        cq.read_table = real_read

    budget, cap = 50_000, 2
    avail = {lang: n for lang, n in langs}
    usable = {k: cap * v for k, v in avail.items()}
    # python reference: exhausted-prefix waterfilling
    order = sorted(usable, key=lambda k: (usable[k], k))
    n_l = len(order)
    s_i, alloc = 0, {}
    k_exh, s_k = 0, 0
    for i, lang in enumerate(order):
        if usable[lang] * (n_l - i) <= budget - s_i:
            alloc[lang] = usable[lang]
            k_exh += 1
            s_k += usable[lang]
        s_i += usable[lang]
    rem = budget - s_k
    den = max(n_l - k_exh, 1)
    base, leftover = rem // den, rem % den
    unex = sorted(k for k in usable if k not in alloc)
    for j, lang in enumerate(unex):
        alloc[lang] = base + (1 if j < leftover else 0)

    got_total = 0
    for lang in avail:
        a = int(out[lang]["alloc_tokens"])
        assert a == alloc[lang], (lang, a, alloc[lang], langs)
        assert a <= usable[lang]
        got_total += a
    assert got_total == min(budget, sum(usable.values())), langs


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 50)),
                min_size=3, max_size=60))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_spearman_rho_hypothesis(spark, pairs):
    """Random tied integer pairs: spearman_rho must equal a plain
    Python mid-rank 6*sum(d^2) reference to the 1e-6 emission grid,
    and hit the exact +1.0 on a perfectly concordant copy."""
    from quickbooks_aws_etl_pipeline_spark.operators.evaluation import (
        spearman_rho)

    def ref_rho(xs, ys):
        def r2(vals):
            out = []
            for v in vals:
                less = sum(1 for w in vals if w < v)
                ties = sum(1 for w in vals if w == v)
                out.append(2 * less + ties + 1)
            return out
        ra, rb = r2(xs), r2(ys)
        n = len(xs)
        sum_d2_x4 = sum((a - b) ** 2 for a, b in zip(ra, rb))
        num = 4 * n * (n * n - 1) - 6 * sum_d2_x4
        den = max(4 * n * (n * n - 1), 1)
        import math as m
        q = (2 * abs(num) * 10**6 + den) // (2 * den)
        return (1 if num >= 0 else -1) * q / 1e6

    df = spark.createDataFrame(pairs, "a long, b long")
    row = spearman_rho(df, "a", "b", a_domain=31, b_domain=51).collect()[0]
    xs = [p[0] for p in pairs]; ys = [p[1] for p in pairs]
    assert row["rho"] == ref_rho(xs, ys), (pairs, row["rho"], ref_rho(xs, ys))
    # perfectly concordant: rho exactly 1
    df2 = spark.createDataFrame([(x, x) for x in range(10)], "a long, b long")
    assert spearman_rho(df2, "a", "b", 10, 10).collect()[0]["rho"] == 1.0


def test_sliced_auc_null_and_nonstring_slices(spark):
    """r12 ADVICE: auc_rank_ppm_sliced's contract is generic over
    slice columns — a NULL slice must form its own group (not crash
    the driver offset sort, not vanish in the equi-join) and a
    non-string slice key must survive the offset broadcast join."""
    from quickbooks_aws_etl_pipeline_spark.operators.evaluation import (
        PPM_DOMAIN, auc_rank_ppm_sliced)
    rows = [
        # slice 7: perfect separation -> auc 1.0
        (7, 900_000, True), (7, 100_000, False),
        # slice NULL: at-chance (same score) -> auc 0.5
        (None, 500_000, True), (None, 500_000, False),
        # slice 3: single-class -> NULL auc
        (3, 700_000, True), (3, 600_000, True),
    ]
    df = spark.createDataFrame(rows, "src int, score long, is_pos boolean")
    assert PPM_DOMAIN >= 10**6
    got = {r["slice"]: r for r in
           auc_rank_ppm_sliced(df, "score", "is_pos", "src").collect()}
    assert set(got) == {7, None, 3}
    assert got[7]["auc"] == 1.0
    assert got[None]["auc"] == 0.5
    assert got[3]["auc"] is None and got[3]["n_neg"] == 0


def test_w1_degenerate_histograms(spark):
    """r12 ADVICE: w1_from_value_hist on a single-distinct-value
    histogram pins the one-point spine (one output row, w1_e6 = 0 —
    identical distributions on a point), and an empty ref or cur
    population yields NULL w1_e6 instead of an engine-divergent
    division by zero."""
    from quickbooks_aws_etl_pipeline_spark.plans.mining_queries import (
        w1_from_value_hist)
    one = spark.createDataFrame([(42, 3, 5)],
                                "v long, c_ref long, c_cur long")
    row = w1_from_value_hist(spark, one).collect()
    assert len(row) == 1
    assert (row[0]["n_ref"], row[0]["n_cur"]) == (3, 5)
    assert row[0]["span_cents"] == 0 and row[0]["w1_e6"] == 0
    empty_ref = spark.createDataFrame(
        [(10, 0, 4), (11, 0, 2)], "v long, c_ref long, c_cur long")
    assert w1_from_value_hist(spark, empty_ref).collect()[0]["w1_e6"] is None
