"""Unit tests for the advanced operators' edge cases — the paths the
registry queries don't reach: as-of tolerance and empty-right
behavior, salted-join equivalence on crafted skew, merge semantics on
disjoint/overlapping deltas, split/sample invariants, pack budgets.
"""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from quickbooks_aws_etl_pipeline_spark.operators.advanced_joins import (
    asof_join, salted_join, two_phase_agg)
from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
    hash_sample, sequence_pack_chunked, stratified_hash_sample,
    train_test_split)
from quickbooks_aws_etl_pipeline_spark.sinks import merge_upsert


def ts(s: str):
    import datetime
    return datetime.datetime.fromisoformat(s)


@pytest.fixture()
def trades_quotes(spark):
    trades = spark.createDataFrame([
        Row(trade_id=1, sym="A", t=ts("2024-01-01 10:00:05"), qty=10),
        Row(trade_id=2, sym="A", t=ts("2024-01-01 10:00:20"), qty=20),
        Row(trade_id=3, sym="B", t=ts("2024-01-01 10:00:10"), qty=30),
        Row(trade_id=4, sym="C", t=ts("2024-01-01 10:00:10"), qty=40),
    ])
    quotes = spark.createDataFrame([
        Row(sym="A", t=ts("2024-01-01 10:00:00"), px=1.0),
        Row(sym="A", t=ts("2024-01-01 10:00:10"), px=2.0),
        Row(sym="A", t=ts("2024-01-01 10:00:20"), px=3.0),  # tie with trade 2
        Row(sym="B", t=ts("2024-01-01 10:00:30"), px=9.0),  # after trade 3
    ])
    return trades, quotes


@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_asof_join_basic(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = {r.trade_id: r for r in
           asof_join(trades, quotes, "sym", "t", "t", ["px"]).collect()}
    assert out[1].asof_px == 1.0          # latest quote at-or-before 10:00:05
    assert out[2].asof_px == 3.0          # tie: at-or-before includes equal ts
    assert out[3].asof_px is None         # only later quotes exist
    assert out[4].asof_px is None         # no quotes for sym C at all
    assert len(out) == 4                  # every left row survives


def test_asof_join_tolerance(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = {r.trade_id: r for r in
           asof_join(trades, quotes, "sym", "t", "t", ["px"],
                     tolerance=F.expr("INTERVAL 7 SECONDS")).collect()}
    assert out[1].asof_px == 1.0          # 5s back: inside tolerance
    assert out[2].asof_px == 3.0          # exact match: inside
    # trade at 10:00:05 for sym A matched the 10:00:00 quote (5s);
    # shrink tolerance below that and the match must drop
    tight = {r.trade_id: r for r in
             asof_join(trades, quotes, "sym", "t", "t", ["px"],
                       tolerance=F.expr("INTERVAL 3 SECONDS")).collect()}
    assert tight[1].asof_px is None


def test_asof_join_empty_right(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes.filter(F.lit(False)),
                    "sym", "t", "t", ["px"]).collect()
    assert len(out) == 4 and all(r.asof_px is None for r in out)


@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_salted_join_equals_plain_join(spark):
    # one hot key (90% of rows) — the exact shape salting exists for
    left = spark.createDataFrame(
        [Row(k=1 if i % 10 else 2, line=i, v=float(i)) for i in range(200)])
    right = spark.createDataFrame([Row(k=1, name="hot"), Row(k=2, name="cold")])
    plain = left.join(right, "k").groupBy("name").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    salted = salted_join(left, right, "k", salts=4, salt_source="line") \
        .groupBy("name").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    assert sorted(map(str, plain.collect())) == sorted(map(str, salted.collect()))


def test_two_phase_agg_equals_direct(spark):
    df = spark.createDataFrame(
        [Row(g="x" if i % 3 else "y", salt_src=i, v=i) for i in range(100)])
    out = two_phase_agg(df, ["g"], F.col("salt_src"),
                        {"n": F.count(F.lit(1)),
                         "min_v": F.min("v"), "max_v": F.max("v")},
                        salts=8)
    direct = df.groupBy("g").agg(F.count(F.lit(1)).alias("n"),
                                 F.min("v").alias("min_v"),
                                 F.max("v").alias("max_v"))
    assert sorted(map(str, out.collect())) == sorted(map(str, direct.collect()))


def test_merge_upsert_semantics(spark):
    base = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")])
    updates = spark.createDataFrame([Row(k=2, v="B2"), Row(k=9, v="new")])
    got = {r.k: r.v for r in merge_upsert(base, updates, ["k"]).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 9: "new"}


def test_merge_scd2_repeated_merge_preserves_closed_history(spark):
    """A second merge must NOT touch rows closed by the first one —
    only the current (valid_to IS NULL) row of a changed key closes."""
    from quickbooks_aws_etl_pipeline_spark.sinks import merge_scd2

    base = spark.createDataFrame(
        [(1, "a", "2024-01-01", None), (2, "b", "2024-01-01", None)],
        "k int, v string, valid_from string, valid_to string")
    m1 = merge_scd2(base, spark.createDataFrame([Row(k=1, v="a2")]),
                    ["k"], effective="2024-02-01")
    m2 = merge_scd2(m1, spark.createDataFrame([Row(k=1, v="a3")]),
                    ["k"], effective="2024-03-01")
    rows = {(r.k, r.v): (r.valid_from, r.valid_to) for r in m2.collect()}
    assert rows == {
        (1, "a"): ("2024-01-01", "2024-02-01"),   # closed by merge 1, untouched by merge 2
        (1, "a2"): ("2024-02-01", "2024-03-01"),  # closed by merge 2
        (1, "a3"): ("2024-03-01", None),          # current
        (2, "b"): ("2024-01-01", None),           # never changed
    }


def test_salted_join_non_numeric_salt_source_keeps_rows(spark):
    """A string salt_source that casts to NULL as bigint must degrade
    to one salt bucket, not silently drop rows from the inner join."""
    left = spark.createDataFrame([Row(k=1, name="alpha"), Row(k=2, name="beta")])
    right = spark.createDataFrame([Row(k=1, d="x"), Row(k=2, d="y")])
    got = sorted((r.k, r.d) for r in
                 salted_join(left, right, "k", salts=4, salt_source="name").collect())
    assert got == [(1, "x"), (2, "y")]


def test_split_is_stable_and_partitions(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    a = train_test_split(docs, "doc_id")
    b = train_test_split(docs.repartition(7), "doc_id")  # layout-independent
    ga = {r.doc_id: r.split for r in a.select("doc_id", "split").collect()}
    gb = {r.doc_id: r.split for r in b.select("doc_id", "split").collect()}
    assert ga == gb
    assert set(ga.values()) == {"train", "valid", "test"}
    # every doc in exactly one split; ratios loosely near 80/10/10
    n = len(ga)
    n_train = sum(1 for s in ga.values() if s == "train")
    assert 0.6 * n < n_train < 0.95 * n


@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_global_shuffle_bucket_count_invariant(spark, sf_smoke):
    """The two-phase rank must equal the naive ORDER BY hash for ANY
    bucket count — including buckets < 256, where the old
    first-byte-modulo bucketing interleaved hash ranges and broke the
    global order (range-mapping the 16-bit prefix is monotonic, so
    order survives). Also pins the bounds check."""
    import pytest as _pytest

    from pyspark.sql import Window

    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        deterministic_global_shuffle)
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    naive = [(r.position, r.doc_id) for r in
             docs.select(
                 F.row_number().over(
                     Window.orderBy(
                         F.md5(F.concat(F.lit("epoch0:"),
                                        F.col("doc_id").cast("string"))),
                         "doc_id")).cast("bigint").alias("position"),
                 "doc_id").collect()]
    for buckets in (100, 256, 1024, None):
        got = [(r.position, r.doc_id) for r in
               deterministic_global_shuffle(docs, "doc_id", buckets=buckets)
               .select("position", "doc_id").orderBy("position").collect()]
        assert got == naive, f"buckets={buckets} broke the order"
    for bad in (0, 65537):
        with _pytest.raises(ValueError):
            deterministic_global_shuffle(docs, "doc_id", buckets=bad)


def test_hash_sample_subset_and_stratified_independence(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    plain = {r.doc_id for r in hash_sample(docs, "doc_id", 5).collect()}
    again = {r.doc_id for r in hash_sample(docs, "doc_id", 5).collect()}
    assert plain == again and 0 < len(plain) < docs.count()
    strat = stratified_hash_sample(docs, "doc_id", "lang", 5)
    langs_all = {r.lang for r in docs.select("lang").distinct().collect()}
    langs_sampled = {r.lang for r in strat.select("lang").distinct().collect()}
    assert langs_sampled == langs_all  # every stratum represented


def test_sequence_pack_budget(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    packed = sequence_pack_chunked(docs, "text", "doc_id", "source",
                                   budget_tokens=500)
    # each doc's pack is its start offset div budget -> pack starts
    # are monotone within a source and a pack never *starts* beyond
    # one doc over budget
    per_pack = (packed.groupBy("source", "pack_id")
                .agg(F.sum("n_tokens").alias("tok"),
                     F.max("n_tokens").alias("max_doc"))
                .collect())
    for r in per_pack:
        assert r.tok < 500 + r.max_doc  # overflow bounded by one doc


# --- property tests: differential against independent references -----------

from hypothesis import given, settings, strategies as st


@st.composite
def asof_case(draw):
    """Random trades/quotes over a handful of keys and a small
    integer-second timeline (collisions and gaps likely)."""
    keys = ["A", "B", "C"]
    trades = draw(st.lists(
        st.tuples(st.sampled_from(keys), st.integers(0, 50)),
        min_size=1, max_size=25))
    quotes = draw(st.lists(
        st.tuples(st.sampled_from(keys), st.integers(0, 50),
                  st.integers(1, 100)),
        min_size=0, max_size=25, unique_by=lambda q: (q[0], q[1])))
    return trades, quotes


@settings(max_examples=12, deadline=None)
@given(asof_case())
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_asof_join_matches_pandas_merge_asof(spark, case):
    import datetime
    import pandas as pd

    trades, quotes = case
    epoch = datetime.datetime(2024, 1, 1)
    t_rows = [Row(tid=i, k=k, t=epoch + datetime.timedelta(seconds=s))
              for i, (k, s) in enumerate(trades)]
    q_rows = [Row(k=k, t=epoch + datetime.timedelta(seconds=s), px=float(p))
              for (k, s, p) in quotes]
    tdf = spark.createDataFrame(t_rows)
    qdf = (spark.createDataFrame(q_rows) if q_rows else
           spark.createDataFrame([], "k string, t timestamp, px double"))

    got = {r.tid: r.asof_px
           for r in asof_join(tdf, qdf, "k", "t", "t", ["px"]).collect()}

    tp = pd.DataFrame([(i, k, epoch + pd.Timedelta(seconds=s))
                       for i, (k, s) in enumerate(trades)],
                      columns=["tid", "k", "t"]).sort_values("t", kind="mergesort")
    if quotes:
        qp = pd.DataFrame([(k, epoch + pd.Timedelta(seconds=s), float(p))
                           for (k, s, p) in quotes],
                          columns=["k", "t", "px"]).sort_values("t", kind="mergesort")
        want_df = pd.merge_asof(tp, qp, on="t", by="k", direction="backward")
        want = {int(r.tid): (None if pd.isna(r.px) else float(r.px))
                for r in want_df.itertuples()}
    else:
        want = {int(r.tid): None for r in tp.itertuples()}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(1, 4), st.integers(0, 1000)),
                min_size=1, max_size=60))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_salted_join_property(spark, rows):
    left = spark.createDataFrame(
        [Row(k=k, line=i, v=v) for i, (k, v) in enumerate(rows)])
    right = spark.createDataFrame([Row(k=k, tag=f"t{k}") for k in {k for k, _ in rows}])
    plain = sorted(map(str, left.join(right, "k").collect()))
    salted = sorted(map(str, salted_join(left, right, "k", salts=3,
                                         salt_source="line").collect()))
    assert plain == salted


@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_minhash_viral_doc_member_cap(spark):
    """A doc with thousands of identical copies must not concentrate
    its member list into one collect_list array: sub-groups stay
    bounded by members_cap, and the pair output is still exactly
    C(n,2) at jaccard 1.0 plus the unrelated docs' pairs."""
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        capped_set_groups, minhash_lsh_pairs)
    from quickbooks_aws_etl_pipeline_spark.operators.text import tokens, word_shingles
    n_copies, cap = 2000, 100
    viral = "the same viral document text repeated all over the corpus"
    rows = [(i, viral) for i in range(n_copies)]
    rows += [(90001, "a completely different first document about spark"),
             (90002, "a completely different second document about ducks")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # grouping stage directly: no member array exceeds ~cap
    from pyspark.sql import functions as F2
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import base_hashes
    shingled = df.select(
        F2.col("doc_id"),
        F2.md5(F2.encode(F2.col("text"), "UTF-8")).alias("tkey"),
        F2.array_distinct(base_hashes(
            word_shingles(tokens(F2.col("text")), 3))).alias("hs"),
    ).filter(F2.size("hs") > 0)
    groups = capped_set_groups(shingled, "doc_id", cap)
    max_members = groups.agg(F2.max(F2.size("members"))).collect()[0][0]
    # salting is hash-random; allow 3x concentration headroom
    assert max_members <= 3 * cap, max_members
    assert groups.count() >= n_copies // cap

    pairs = minhash_lsh_pairs(df, "text", "doc_id", members_cap=cap)
    got = pairs.filter((F2.col("id_a") < 90000) & (F2.col("id_b") < 90000))
    n = got.count()
    assert n == n_copies * (n_copies - 1) // 2, n
    assert got.filter(F2.col("jaccard") != 1.0).count() == 0


@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_ngram_prefix_pairs_equal_quadratic_ground_truth(spark, sf_smoke):
    """Prefix filtering is complete for J >= t: the production tier
    must return EXACTLY the quadratic all-pairs result, pair for pair,
    value for value."""
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_prefix_pairs)
    from quickbooks_aws_etl_pipeline_spark.operators.text import (
        tokens, word_shingles)
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    got = {(r.id_a, r.id_b): r.jaccard for r in
           ngram_jaccard_prefix_pairs(docs, "text", "doc_id",
                                      shingle_n=3, threshold=0.8).collect()}
    # quadratic ground truth over the same md5-hashed shingle sets
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import base_hashes
    sh = docs.select(
        F.col("doc_id"),
        F.array_sort(F.array_distinct(
            base_hashes(word_shingles(tokens(F.col("text")), 3)))).alias("h")
    ).filter(F.size("h") > 0)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("h").alias("h_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("h").alias("h_b"))
    want = {(r.id_a, r.id_b): r.jaccard for r in
            (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.round(F.size(F.array_intersect("h_a", "h_b"))
                             / (F.size("h_a") + F.size("h_b")
                                - F.size(F.array_intersect("h_a", "h_b"))), 6)
                     .alias("jaccard"))
             .filter(F.col("jaccard") >= 0.8)).collect()}
    assert got == want and len(want) > 0


@pytest.mark.parametrize("n_words_a, n_words_b", [
    # (words_a, words_b) -> shingle sizes (a-2, b-2) with B a prefix
    # subset of A and jaccard exactly 0.8. Size sums 63, 117, 126 are
    # the FP-hazard cases: 0.8/1.8*(na+nb) computes to just ABOVE the
    # exact integer (28.000000000000004, ...), so an unguarded
    # ceil() yields overlap bound alpha = 29 while the positional
    # room 1+least(na-1-pa, nb-1-pb) <= nb = 28 for EVERY hash
    # order — the at-threshold pair was unconditionally dropped
    # before the 1e-9 epsilon guard.
    (37, 30),   # shingles 35/28, sum 63
    (67, 54),   # shingles 65/52, sum 117
    (72, 58),   # shingles 70/56, sum 126
])
def test_ngram_prefix_pairs_keep_exact_threshold_pair(
        spark, n_words_a, n_words_b):
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_prefix_pairs)
    words = [f"w{i:03d}x" for i in range(n_words_a)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(words[:n_words_b]))],
        "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard for r in
           ngram_jaccard_prefix_pairs(docs, "text", "doc_id",
                                      shingle_n=3, threshold=0.8).collect()}
    assert got == {(1, 2): 0.8}


@pytest.mark.parametrize("fn, kw, bad", [
    ("ngram_jaccard_prefix_pairs", "threshold", 1.01),
    ("ngram_jaccard_prefix_pairs", "threshold", 0.0),
    ("containment_prefix_pairs", "threshold", 1.01),
    ("containment_prefix_pairs", "threshold", 0.0),
    ("minhash_lsh_pairs", "jaccard_threshold", 1.01),
    ("minhash_lsh_pairs", "jaccard_threshold", -0.1),
])
def test_set_joins_reject_out_of_range_thresholds(spark, fn, kw, bad):
    """An out-of-range threshold fails before any job runs. Past 1.0
    the Jaccard prefix tier returned two identical docs at 1.0 (below
    its own threshold), both prefix tiers failed inside a task on a
    long doc (negative prefix length into slice), and MinHash
    returned no rows. The prefix tiers take (0, 1]; MinHash takes
    [0, 1], since 0.0 keeps every band collision."""
    from quickbooks_aws_etl_pipeline_spark.operators import dedup
    text = " ".join(f"w{i}" for i in range(300))
    df = spark.createDataFrame([(1, text), (2, text)],
                               "doc_id long, text string")
    sc = spark.sparkContext
    group = f"threshold-guard-{fn}-{bad}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="threshold"):
            getattr(dedup, fn)(df, "text", "doc_id", **{kw: bad})
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_connected_components_raises_on_iteration_cap(spark):
    """A chain longer than max_iters must fail loudly, not return
    unconverged labels."""
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        connected_components)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 16)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=2)


@pytest.mark.parametrize("max_iters", [0, -1])
def test_connected_components_rejects_nonpositive_cap(spark, max_iters):
    """Zero rounds never propagate a label nor test convergence, so a
    non-positive cap must raise instead of returning identity labels."""
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        connected_components)
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="max_iters"):
        connected_components(edges, max_iters=max_iters)


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation must traverse multi-hop chains (label
    travels one hop per round) and keep disjoint clusters apart."""
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        connected_components)
    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40),      # chain: all -> 10
         (7, 8), (8, 9), (7, 9),            # triangle: all -> 7
         (100, 200)],                       # pair: both -> 100
        "id_a long, id_b long")
    got = {r.doc_id: r.component_id for r in
           connected_components(edges).collect()}
    assert got == {10: 10, 20: 10, 30: 10, 40: 10,
                   7: 7, 8: 7, 9: 7, 100: 100, 200: 100}


def test_hyperplane_lsh_finds_planted_near_dups(spark, sf_smoke):
    """The synthetic embeddings have no high-cosine pairs, so the
    registry key is honestly empty — this test plants real near-dups
    (tiny perturbations, cos > 0.99) among the corpus and requires
    the LSH tier to surface every planted pair with its exact cosine,
    and nothing below threshold."""
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        hyperplane_lsh_pairs)
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet") \
        .filter(F.col("vec_id") < 200)
    planted = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: (x * 1.0001).cast("float")).alias("embedding"),
        "label")
    corpus = emb.select("vec_id", "embedding", "label").unionByName(planted)
    got = {(r.id_a, r.id_b): r.cos_sim for r in
           hyperplane_lsh_pairs(corpus, "embedding", "vec_id",
                                threshold=0.8).collect()}
    for i in range(5):
        assert (i, i + 100000) in got, f"planted pair {i} missed"
        assert got[(i, i + 100000)] > 0.99
    assert all(v >= 0.8 for v in got.values())


def test_ivf_learned_recall_beats_random_pruning(spark, sf_smoke):
    """IVF with the learned spherical-kmeans quantizer must recall
    clearly more of the true top-10 than its pruning ratio would by
    chance (nprobe/k = 0.25 on structure-less synthetic vectors)."""
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        cosine_topk, fetch_query_vector, ivf_topk, spherical_kmeans)
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    cents = spherical_kmeans(emb, "embedding", "vec_id", k=8, iters=4)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)
    recalls = []
    for qid in [7, 42, 123]:
        qv = fetch_query_vector(emb, "embedding", "vec_id", qid)
        others = emb.filter(F.col("vec_id") != qid)
        brute = {r.vec_id for r in cosine_topk(others, "embedding", "vec_id", qv, 10).collect()}
        ivf = {r.vec_id for r in ivf_topk(others, "embedding", "vec_id", qv,
                                          cents, 10, nprobe=2).collect()}
        assert len(ivf) == 10
        recalls.append(len(brute & ivf) / 10)
    assert sum(recalls) / len(recalls) >= 0.25

def test_pq_rerank_recall_and_determinism(spark, sf_smoke):
    """PQ (m=16, ksub=64) ADC-shortlist -> exact re-rank must recall
    >= 6/10 of the brute-force top-10 on structure-less vectors, and
    the full train -> encode -> search path must be run-to-run
    deterministic (hash-seeded sample, lowest-index argmin ties)."""
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        cosine_topk, fetch_query_vector, pq_encode, pq_rerank_topk, pq_train)
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    books = pq_train(emb, "embedding", "vec_id", m=16, ksub=64)
    assert len(books) == 16 and len(books[0]) == 64 and len(books[0][0]) == 4
    books2 = pq_train(emb, "embedding", "vec_id", m=16, ksub=64)
    assert books == books2, "pq_train is not deterministic"
    qv = fetch_query_vector(emb, "embedding", "vec_id", 7)
    others = emb.filter(F.col("vec_id") != 7)
    codes = pq_encode(others, "embedding", "vec_id", books)
    got = pq_rerank_topk(others, codes, "embedding", "vec_id", qv,
                         books, k=10, shortlist=100).collect()
    assert len(got) == 10
    brute = {r.vec_id for r in cosine_topk(others, "embedding", "vec_id", qv, 10).collect()}
    assert len(brute & {r.vec_id for r in got}) >= 6


def test_ngram_topk_matches_pandas(spark, sf_smoke):
    """ngram_topk equals a pandas recount of the same trigrams, with
    the (count desc, ngram asc) total order making the k-boundary
    deterministic."""
    from collections import Counter
    from quickbooks_aws_etl_pipeline_spark.operators.text import ngram_topk
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    got = [(r.ngram, r.n_occurrences)
           for r in ngram_topk(docs, "text", n=3, k=15).collect()]
    c = Counter()
    for r in docs.select("text").collect():
        toks = r.text.split(" ")
        for i in range(len(toks) - 2):
            c[" ".join(toks[i:i + 3])] += 1
    want = sorted(c.items(), key=lambda t: (-t[1], t[0]))[:15]
    assert got == want


def test_weighted_reservoir_deterministic_and_weighted(spark, sf_smoke):
    """A-Res sample: deterministic under re-run, reshuffled by seed,
    and biased toward heavy rows (mean sampled weight above the
    corpus mean — the point of weighting by n_chars)."""
    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        weighted_sample_topk)
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    s1 = weighted_sample_topk(docs, "doc_id", "n_chars", k=50, seed="s0")
    s2 = weighted_sample_topk(docs, "doc_id", "n_chars", k=50, seed="s0")
    ids1 = [r.doc_id for r in s1.collect()]
    assert ids1 == [r.doc_id for r in s2.collect()]
    assert len(ids1) == 50 and len(set(ids1)) == 50
    s3 = {r.doc_id for r in
          weighted_sample_topk(docs, "doc_id", "n_chars",
                               k=50, seed="s1").collect()}
    assert set(ids1) != s3, "seed change must redraw"
    mean_all = docs.agg(F.avg("n_chars")).first()[0]
    mean_sample = s1.agg(F.avg("n_chars")).first()[0]
    assert mean_sample > mean_all


def test_hll_rollup_merge_equals_exact_within_bound(spark, sf_smoke):
    """Every bucket row and the sketch-union ALL row carry a passing
    in-query bound check, and the ALL exact count matches a direct
    countDistinct."""
    from quickbooks_aws_etl_pipeline_spark.operators.sketch import (
        hll_unique_rollup)
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    out = hll_unique_rollup(orders, "o_custkey",
                            F.date_format("o_orderdate", "yyyy"),
                            rel_err=0.05).collect()
    assert all(r.hll_ok for r in out)
    all_row = [r for r in out if r.scope == "ALL"]
    assert len(all_row) == 1
    assert all_row[0].n_exact == \
        orders.select("o_custkey").distinct().count()


def test_int8_quantize_error_bounded(spark, sf_smoke):
    """Reconstruction error never exceeds half a quantization step —
    the arithmetic pin that makes the audit engine-exact."""
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        int8_quantize_report)
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    out = int8_quantize_report(emb, "embedding", "label").collect()
    assert out and all(r.max_err_ratio <= 0.5 for r in out)
    assert sum(r.n_vecs for r in out) == emb.count()


def test_nb_classifier_beats_majority_prior(spark, sf_smoke):
    """Training-set NB must at least beat always-predict-the-
    majority-class, and per-class counts must partition the corpus."""
    from quickbooks_aws_etl_pipeline_spark.operators.text import (
        nb_classifier_eval)
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    out = nb_classifier_eval(docs, "text", "doc_id", "lang").collect()
    n_total = docs.count()
    assert sum(r.n_docs for r in out) == n_total
    majority = max(r.n_docs for r in out)
    assert sum(r.n_correct for r in out) > majority


def test_incremental_minhash_subset_of_full_tier(spark, sf_smoke):
    """Every (new, corpus) match the incremental probe finds must be
    exactly the cross-boundary subset of the full-corpus tier's pairs
    (same signatures, same verification)."""
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        incremental_minhash_matches, minhash_lsh_pairs)
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    flagged = docs.withColumn("is_new", F.col("doc_id") % 5 == 0)
    inc = {(r.id_new, r.id_corpus) for r in incremental_minhash_matches(
        flagged, "text", "doc_id", "is_new", num_hashes=16, bands=4,
        shingle_n=2, jaccard_threshold=0.5).collect()}
    full = minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=16,
                             bands=4, shingle_n=2,
                             jaccard_threshold=0.5).collect()
    cross = {(a, b) for r in full
             for a, b in ((r.id_a, r.id_b), (r.id_b, r.id_a))
             if a % 5 == 0 and b % 5 != 0}
    assert inc == cross


def test_containment_matches_quadratic_and_catches_excerpts(spark):
    """A short doc fully quoted inside a long one must surface with
    containment 1.0 even though its Jaccard is tiny; and the
    prefix-filtered result must equal the quadratic ground truth on
    a corpus slice."""
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        containment_prefix_pairs)
    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        "doc_id long, text string")
    got = containment_prefix_pairs(df, "text", "doc_id",
                                   shingle_n=3, threshold=0.8).collect()
    pairs = {(r.id_a, r.id_b): r.containment for r in got}
    assert pairs.get((1, 2)) == 1.0       # A fully inside B
    assert (2, 1) not in pairs            # B not inside A


def test_per_source_weighted_sample_quota_and_determinism(spark, sf_smoke):
    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        weighted_sample_per_group)
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    s = weighted_sample_per_group(docs, "doc_id", "n_chars", "source",
                                  k=10, seed="s0")
    rows = s.collect()
    per = {}
    for r in rows:
        per.setdefault(r.source, []).append(r.doc_id)
    assert all(len(v) <= 10 for v in per.values())
    again = weighted_sample_per_group(docs, "doc_id", "n_chars", "source",
                                      k=10, seed="s0").collect()
    assert sorted((r.source, r.doc_id) for r in rows) == \
        sorted((r.source, r.doc_id) for r in again)


def test_pii_scrub_masks_and_counts(spark):
    from quickbooks_aws_etl_pipeline_spark.operators.text import pii_scrub
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org or call +1 (555) 123-4567"),
         (2, "server at 10.0.255.3 fine"),
         (3, "no pii here at all")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in pii_scrub(df, "text", "doc_id").collect()}
    assert rows[1].n_email == 1 and rows[1].n_phone == 1
    assert "<EMAIL>" in rows[1].scrubbed_text
    assert "<PHONE>" in rows[1].scrubbed_text
    assert "bob.smith" not in rows[1].scrubbed_text
    assert rows[2].n_ipv4 == 1 and "<IP>" in rows[2].scrubbed_text
    assert rows[3].scrubbed_text == "no pii here at all"
    assert (rows[3].n_email, rows[3].n_ipv4, rows[3].n_phone) == (0, 0, 0)


def test_hll_retention_bounds_hold(spark, sf_smoke):
    from quickbooks_aws_etl_pipeline_spark.operators.sketch import (
        hll_month_retention)
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    out = hll_month_retention(orders, "o_custkey", "o_orderdate").collect()
    assert out and all(r.hll_ok for r in out)
    # consecutive-month pairs only
    for r in out:
        y, m = map(int, r.month_from.split("-"))
        y2, m2 = map(int, r.month_to.split("-"))
        assert (y2, m2) == (y, m + 1) if m < 12 else (y2, m2) == (y + 1, 1)


def test_pii_scrub_cross_engine_on_matching_text(spark):
    """The corpus has no PII, so the registry oracle exercises only
    the no-match path; this pins the MATCHING path across engines —
    Java regex and DuckDB RE2 must mask and count identically on text
    that actually contains PII."""
    import duckdb
    import pandas as pd
    from quickbooks_aws_etl_pipeline_spark.operators.text import pii_scrub
    rows = [
        (1, "mail bob.smith+x@corp.example.org or call +1 (555) 123-4567"),
        (2, "two mails a@b.co and c.d@e-f.org, host 192.168.0.1"),
        (3, "dates 1997-03-01 12345678 and code (08) 9012 3456 ok"),
        (4, "no pii"),
    ]
    sdf = pii_scrub(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "text", "doc_id").toPandas().sort_values("doc_id")
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    ddf = con.execute("""
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+',
                   '<EMAIL>', 'g'),
                   '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
                   '<IP>', 'g'),
                   '\\+?[0-9][0-9()\\- ]{7,}[0-9]',
                   '<PHONE>', 'g') AS scrubbed_text,
               CAST(len(regexp_extract_all(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+'))
                   AS INTEGER) AS n_email,
               CAST(len(regexp_extract_all(text,
                   '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'))
                   AS INTEGER) AS n_ipv4,
               CAST(len(regexp_extract_all(text,
                   '\\+?[0-9][0-9()\\- ]{7,}[0-9]'))
                   AS INTEGER) AS n_phone
        FROM docs ORDER BY doc_id
    """).fetchdf()
    assert sdf.reset_index(drop=True).equals(ddf.reset_index(drop=True)), \
        f"\nspark:\n{sdf}\nduckdb:\n{ddf}"


# --- round-4 session-2 operator properties ---------------------------------

def test_bloom_no_false_negatives_random_sets(spark):
    """Bloom law: every member key must probe positive, for arbitrary
    member/probe sets (the registry key checks one dataset; this
    pins the law on adversarial overlap patterns)."""
    from pyspark.sql import functions as F

    from quickbooks_aws_etl_pipeline_spark.operators.sketch import (
        bloom_build, bloom_probe)
    members = spark.range(0, 400).select(
        (F.col("id") * 7 + 3).alias("k"))
    probes = spark.range(0, 1200).select(F.col("id").alias("k"))
    bloom = bloom_build(members, "k", m_bits=6000, k=4)
    res = bloom_probe(bloom, probes, "k", m_bits=6000, k=4)
    joined = (probes.join(members.withColumn("is_m", F.lit(True)),
                          "k", "left")
              .join(res, "k"))
    false_negs = joined.filter(
        F.col("is_m") & ~F.col("bloom_member")).count()
    assert false_negs == 0


def test_pagerank_mass_and_uniform_regular_graph(spark):
    """On a regular graph (a 4-cycle: every node out-degree 2 with
    symmetric edges) PageRank's fixed point is uniform — after any
    number of exact integer iterations every node must hold the same
    rank, and total mass stays within the floor-division loss bound
    (< 1 unit per node per iteration)."""
    from quickbooks_aws_etl_pipeline_spark.operators.graph import (
        RANK_UNIT, pagerank_fixed)
    nodes = ["a", "b", "c", "d"]
    edges = []
    for i, n in enumerate(nodes):
        edges.append((n, nodes[(i + 1) % 4]))
        edges.append((n, nodes[(i - 1) % 4]))
    df = spark.createDataFrame(edges, "src string, dst string")
    out = pagerank_fixed(df, iterations=3).collect()
    ranks = {r.node: r.rank_units for r in out}
    assert len(set(ranks.values())) == 1, ranks
    total = sum(ranks.values())
    assert 4 * RANK_UNIT - 4 * 3 * 2 <= total <= 4 * RANK_UNIT


def test_kmv_exact_when_set_smaller_than_k(spark):
    """KMV degenerates to exact counting when |set| < k — the CASE
    both engines mirror; estimates and exacts must agree exactly."""
    from pyspark.sql import functions as F

    from quickbooks_aws_etl_pipeline_spark.operators.sketch import (
        kmv_overlap)
    a = spark.range(0, 30).select(F.col("id").alias("k"))
    b = spark.range(20, 45).select(F.col("id").alias("k"))
    row = kmv_overlap(a, b, "k", k=64).collect()[0]
    assert row.est_a == float(row.exact_a) == 30.0
    assert row.est_b == float(row.exact_b) == 25.0
    assert row.est_intersection == float(row.exact_intersection) == 10.0
    assert bool(row.kmv_ok)


def test_gram_matrix_equals_numpy(spark):
    """X^T X upper triangle must equal the dense numpy product on a
    random-but-fixed matrix (decimal quantization tolerance)."""
    import numpy as np
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        gram_matrix)
    rng = np.random.default_rng(7)
    X = rng.normal(size=(50, 6)).astype("float32")
    df = spark.createDataFrame(
        [(row.tolist(),) for row in X], "v array<float>")
    got = {(r.i, r.j): r.gram for r in gram_matrix(df, "v").collect()}
    want = X.astype("float64").T @ X.astype("float64")
    for i in range(6):
        for j in range(i, 6):
            assert abs(got[(i, j)] - want[i, j]) < 1e-4, (i, j)


def test_bpe_train_known_merges(spark):
    """Pin BPE merge semantics on the textbook corpus: counts weight
    by word frequency, ties break lexicographically, replacement is
    non-overlapping left-to-right."""
    from quickbooks_aws_etl_pipeline_spark.operators.text import (
        bpe_train_merges)
    docs = spark.createDataFrame(
        [("low low low lower lowest",), ("low newest newest",)],
        "text string")
    out = bpe_train_merges(docs, "text", n_merges=3).collect()
    # 'low' x4, 'lower' x1, 'lowest' x1, 'newest' x2
    # step 1: pair counts -> ('l o', 6) ('o w', 6) ('e s', 3) ('s t', 3)
    #   ('w </w>', 4) ('t </w>', 3) ... tie 'l o' vs 'o w' -> 'l o'
    assert (out[0]["step"], out[0]["pair"], out[0]["new_symbol"],
            out[0]["pair_count"]) == (1, "l o", "lo", 6)
    # step 2: 'lo w' now counts 6 -> merges next
    assert (out[1]["pair"], out[1]["pair_count"]) == ("lo w", 6)
    # step 3: 'low </w>' x4 beats 'e s'/'s t' x3
    assert (out[2]["pair"], out[2]["pair_count"]) == ("low </w>", 4)


def test_temperature_mixture_rate_laws(spark, sf_smoke):
    """Temperature mixing invariants: the rarest-by-mass source keeps
    everything (rate 1.0, all docs sampled); every rate is in (0, 1];
    no source over-samples."""
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        temperature_mixture)
    docs = read_table(spark, sf_smoke, "documents")
    rows = temperature_mixture(docs, "source", "n_chars", "doc_id").collect()
    assert all(0 < r["rate"] <= 1.0 for r in rows)
    assert all(r["n_sampled"] <= r["n_docs"] for r in rows)
    top = max(rows, key=lambda r: r["rate"])
    assert top["rate"] == 1.0 and top["n_sampled"] == top["n_docs"]


def test_bpe_best_pair_counts_non_increasing(spark, sf_smoke):
    """BPE law: the winning pair count never increases across merge
    steps (a post-merge pair occurs at most as often as the pair it
    contains did)."""
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    from quickbooks_aws_etl_pipeline_spark.operators.text import (
        bpe_train_merges)
    docs = read_table(spark, sf_smoke, "documents")
    counts = [r["pair_count"]
              for r in bpe_train_merges(docs, "text", n_merges=6)
              .orderBy("step").collect()]
    assert counts == sorted(counts, reverse=True), counts


def test_knn_graph_edge_laws(spark, sf_smoke):
    """kNN graph invariants: no self edges, ranks are 1..k dense per
    source, similarity within [-1, 1]."""
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    rows = QUERIES["sim_knn_graph"](spark, sf_smoke).collect()
    assert all(r["src"] != r["nbr"] for r in rows)
    assert all(-1.0 <= r["sim"] <= 1.0 for r in rows)
    by_src = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append(r["rn"])
    for src, rns in by_src.items():
        assert sorted(rns) == list(range(1, len(rns) + 1)), (src, rns)


@pytest.mark.parametrize("name", [
    "sink_python_datasource", "maintenance_snapshot_diff",
    "source_csv_permissive", "source_fixed_width",
    "maintenance_analyze_stats"])
def test_writing_keys_idempotent(spark, sf_smoke, name):
    """Every key that writes scratch/warehouse state must be
    rerunnable: two in-session runs produce identical results (the
    cross-session variant of this bit maintenance_analyze_stats once
    — leftover managed-table locations)."""
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    a = sorted(map(str, QUERIES[name](spark, sf_smoke).collect()))
    b = sorted(map(str, QUERIES[name](spark, sf_smoke).collect()))
    assert a == b


def test_duplicate_spans_known_corpus(spark):
    """Hand-verifiable ExactSubstr semantics on a 3-doc corpus with
    n=3: docs A and B share the run 'a b c d' (two overlapping
    duplicated 3-grams 'a b c' / 'b c d' at A positions 2 and 3 ->
    one merged island [2, 3+3) = [2, 6), covering exactly the 4
    shared tokens); doc C shares nothing. Checks island merging, cross-doc-only
    detection (C's internal repeat 'x x x' is within one doc), and
    exact span coordinates."""
    from pyspark.sql import Row

    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        duplicate_span_islands)
    docs = spark.createDataFrame([
        Row(doc_id=1, text="p q a b c d r s"),
        Row(doc_id=2, text="a b c d z"),
        Row(doc_id=3, text="x x x x x"),  # within-doc repeat only... but
    ])
    # NOTE doc 3: 'x x x' appears at 3 positions of doc 3 ONLY — the
    # cross-doc rule (min(doc)!=max(doc)) must NOT flag it.
    out = {(r.doc_id, r.span_start, r.span_end, r.n_tokens)
           for r in duplicate_span_islands(docs, "text", "doc_id", n=3)
           .collect()}
    assert out == {(1, 2, 6, 4), (2, 0, 4, 4)}, out


def test_duplicate_span_rewrite_known_corpus(spark):
    """APPLY semantics: the corpus-first occurrence of each duplicated
    gram survives. doc 1 holds the first (smallest (doc_id, pos))
    occurrences of both shared grams, so doc 1 is untouched and doc 2
    loses its copy of the run; doc 3 (no cross-doc dup) passes
    through whole."""
    from pyspark.sql import Row

    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        duplicate_span_rewrite)
    docs = spark.createDataFrame([
        Row(doc_id=1, text="p q a b c d r s"),
        Row(doc_id=2, text="a b c d z"),
        Row(doc_id=3, text="x x x x x"),
    ])
    rows = {r.doc_id: r for r in
            duplicate_span_rewrite(docs, "text", "doc_id", n=3).collect()}
    assert rows[1].text_kept == "p q a b c d r s"
    assert (rows[1].n_orig, rows[1].n_kept) == (8, 8)
    assert rows[2].text_kept == "z"
    assert (rows[2].n_orig, rows[2].n_kept) == (5, 1)
    assert rows[3].text_kept == "x x x x x"
    assert (rows[3].n_orig, rows[3].n_kept) == (5, 5)


def test_span_fp_tier_equals_exact_tier(spark, sf_smoke):
    """The 128-bit fingerprint tier must return EXACTLY the exact
    tier's islands on the real documents table — the only way they
    can differ is a double-xxhash64 collision between two distinct
    8-grams (~g^2/2^129), which the test corpus cannot produce."""
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        duplicate_span_islands)
    docs = read_table(spark, sf_smoke, "documents")
    exact = {tuple(r) for r in
             duplicate_span_islands(docs, "text", "doc_id", n=8).collect()}
    fp = {tuple(r) for r in
          duplicate_span_islands(docs, "text", "doc_id", n=8,
                                 fingerprint=True).collect()}
    assert fp == exact


def test_span_rewrite_consistent_with_islands(spark, sf_smoke):
    """Corpus-level laws tying DETECT to APPLY on real data:
    every doc's removed-token count is <= the total island span
    length for that doc (removal spans exclude the corpus-first
    occurrence, islands include it), docs without islands are
    untouched, and every island is >= n tokens long."""
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        duplicate_span_islands, duplicate_span_rewrite)
    docs = read_table(spark, sf_smoke, "documents")
    islands = duplicate_span_islands(docs, "text", "doc_id", n=8).collect()
    rewrite = {r.doc_id: r for r in
               duplicate_span_rewrite(docs, "text", "doc_id", n=8).collect()}
    span_tokens: dict[int, int] = {}
    for r in islands:
        assert r.n_tokens >= 8
        assert r.span_end - r.span_start == r.n_tokens
        span_tokens[r.doc_id] = span_tokens.get(r.doc_id, 0) + r.n_tokens
    for doc_id, r in rewrite.items():
        removed = r.n_orig - r.n_kept
        assert removed <= span_tokens.get(doc_id, 0)
        if doc_id not in span_tokens:
            assert removed == 0


def test_token_budget_bucket_count_invariance(spark, sf_smoke):
    """The two-phase budget selection must return the same set for
    ANY bucket count (the bucket map is monotonic, offsets absorb
    the granularity) — including buckets=1, the degenerate
    single-window case the idiom replaces."""
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        token_budget_selection)
    docs = read_table(spark, sf_smoke, "documents")
    base = sorted(map(tuple, token_budget_selection(
        docs, "text", "doc_id", buckets=256).collect()))
    for b in (1, 7, 4096):
        got = sorted(map(tuple, token_budget_selection(
            docs, "text", "doc_id", buckets=b).collect()))
        assert got == base, f"buckets={b} changed the selection"


def test_hash_embedding_partition_invariance(spark, sf_smoke):
    """Hashing-trick weights are per-row facts — any partitioning
    must produce identical sparse rows."""
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    from quickbooks_aws_etl_pipeline_spark.operators.text import (
        hash_embedding_rows)
    docs = read_table(spark, sf_smoke, "documents")
    a = sorted(map(tuple, hash_embedding_rows(
        docs, "text", "doc_id").collect()))
    b = sorted(map(tuple, hash_embedding_rows(
        docs.repartition(7), "text", "doc_id").collect()))
    assert a == b


def test_poisson_bootstrap_partition_invariance(spark, sf_smoke):
    """Bootstrap weights derive from content hashes and the sums ride
    decimals — replicate estimates must not depend on partitioning."""
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        poisson_bootstrap_means)
    orders = read_table(spark, sf_smoke, "orders")
    a = sorted(map(tuple, poisson_bootstrap_means(
        orders, "o_totalprice", "o_orderkey").collect()))
    b = sorted(map(tuple, poisson_bootstrap_means(
        orders.repartition(13), "o_totalprice", "o_orderkey").collect()))
    assert a == b
    # Poisson(1) weights average ~1: effective sample within 3 sigma
    # of n for every replicate (sigma ~ sqrt(n))
    n = orders.count()
    for _, n_eff, _mean in a:
        assert abs(n_eff - n) < 4 * (n ** 0.5) + 10


def test_cusum_closed_form_equals_recurrence(spark, sf_smoke):
    """The two-window closed form C_t - min(0, prefix-min C) must
    equal the textbook recurrence S_t = max(0, S_{t-1} + x_t) replayed
    directly over the same daily series."""
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    rows = QUERIES["dq_cusum_drift"](spark, sf_smoke).collect()
    by_type = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.day)):
        by_type.setdefault(r.event_type, []).append(r)
    # recover x_t from consecutive cusum values is ambiguous after a
    # reset, so recompute x from the same inputs instead
    import pyspark.sql.functions as F
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    ev = (read_table(spark, sf_smoke, "events")
          .filter(F.col("value").isNotNull()))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg((F.sum(F.col("value").cast("decimal(18,4)"))
                   * F.lit(10000)).cast("bigint").alias("v"))
             .collect())
    series = {}
    for r in sorted(daily, key=lambda r: (r.event_type, r.day)):
        series.setdefault(r.event_type, []).append(r.v)
    for et, got in by_type.items():
        vs = series[et]
        k = sum(vs) // len(vs)
        s, expect = 0, []
        for v in vs:
            s = max(0, s + (v - k))
            expect.append(s)
        assert [g.cusum_e4 for g in got] == expect, et


def test_ewma_matches_direct_replay(spark, sf_smoke):
    """The 8-lag windowed EWMA must equal a direct per-series Python
    replay with the same weights (warm-up normalization included)."""
    from quickbooks_aws_etl_pipeline_spark.operators.windows import (
        ewma_weights)
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    rows = QUERIES["window_ewma_smoothing"](spark, sf_smoke).collect()
    series = {}
    for r in sorted(rows, key=lambda r: (r.c_mktsegment, r.day)):
        series.setdefault(r.c_mktsegment, []).append(r)
    wts = ewma_weights(alpha=0.3, k=8)
    for seg, rs in series.items():
        vals = [r.rev for r in rs]
        for t, r in enumerate(rs):
            num = 0.0
            den = 0.0
            for j, wt in enumerate(wts):
                if t - j >= 0:
                    num = num + wt * vals[t - j]
                    den = den + wt
            assert abs(r.rev_ewma - round(num / den, 4)) < 1e-9, (seg, t)


@st.composite
def span_corpus(draw):
    """Tiny corpora from a 4-letter alphabet so 3-gram collisions and
    cross-doc repeats are common; docs long enough to hold islands."""
    words = ["aa", "bb", "cc", "dd"]
    docs = draw(st.lists(
        st.lists(st.sampled_from(words), min_size=1, max_size=12)
        .map(" ".join),
        min_size=2, max_size=6))
    return docs


def _spans_reference(docs, n):
    """Quadratic reference for duplicate_span_islands: a token
    position is duplicated iff it lies in some n-window whose text
    appears (at a different doc OR different offset... the operator's
    contract: the window text occurs in >= 2 DISTINCT docs); islands
    are maximal runs of covered positions."""
    from collections import defaultdict
    grams = defaultdict(set)
    tokenized = [d.split(" ") for d in docs]
    for i, toks in enumerate(tokenized):
        for p in range(len(toks) - n + 1):
            grams[" ".join(toks[p:p + n])].add(i)
    out = []
    for i, toks in enumerate(tokenized):
        covered = set()
        for p in range(len(toks) - n + 1):
            g = " ".join(toks[p:p + n])
            if len(grams[g]) >= 2:
                covered.update(range(p, p + n))
        runs, start = [], None
        for p in range(len(toks) + 1):
            if p in covered and start is None:
                start = p
            elif p not in covered and start is not None:
                runs.append((start, p))
                start = None
        for s, e in runs:
            out.append((i, s, e))
    return sorted(out)


@settings(max_examples=10, deadline=None)
@given(span_corpus())
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_duplicate_spans_match_quadratic_reference(spark, case):
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        duplicate_span_islands)
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(case)])
    got = sorted((r.doc_id, r.span_start, r.span_end)
                 for r in duplicate_span_islands(df, "text", "doc_id",
                                                 n=3).collect())
    assert got == _spans_reference(case, 3)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 5)),
                min_size=1, max_size=20))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_token_budget_matches_python_reference(spark, case):
    """token_budget_selection vs a direct Python replay of the
    contract: rank by (score desc, id), keep while cumulative tokens
    fit 20% of the total (integer division)."""
    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        token_budget_selection)
    # synthesize docs whose token count and stopword count are the
    # two drawn integers (stopword 'the', filler 'zz')
    rows = []
    for i, (n_tok, n_stop) in enumerate(case):
        n_tok = max(n_tok, n_stop, 1)
        rows.append(Row(doc_id=i,
                        text=" ".join(["the"] * n_stop
                                      + ["zz"] * (n_tok - n_stop))))
    df = spark.createDataFrame(rows)
    got = sorted((r.doc_id, r.score_ppm, r.n_tokens, r.cum_tokens)
                 for r in token_budget_selection(df, "text", "doc_id",
                                                 buckets=16).collect())
    ref_rows = []
    for i, (n_tok, n_stop) in enumerate(case):
        n_tok = max(n_tok, n_stop, 1)
        ref_rows.append((i, n_stop * 1_000_000 // n_tok, n_tok))
    total = sum(r[2] for r in ref_rows)
    budget = total * 2 // 10
    cum, expect = 0, []
    for i, score, n_tok in sorted(ref_rows, key=lambda r: (-r[1], r[0])):
        cum += n_tok
        if cum > budget:
            break
        expect.append((i, score, n_tok, cum))
    assert got == sorted(expect)


@settings(max_examples=10, deadline=None)
@given(span_corpus())
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_segment_rebuild_matches_python_reference(spark, case):
    """segment_dedup_rebuild vs a direct first-instance replay: the
    corpus-wide first occurrence of each distinct segment (by
    (doc_id, seg_idx)) survives, documents rebuild in segment
    order."""
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        segment_dedup_rebuild)
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(case)])
    got = {r.doc_id: (r.n_segments, r.n_kept, r.cleaned_text)
           for r in segment_dedup_rebuild(df, "text", "doc_id",
                                          seg_words=3).collect()}
    seen, expect = set(), {}
    for i, t in enumerate(case):
        toks = t.split(" ")
        segs = [" ".join(toks[j:j + 3]) for j in range(0, len(toks), 3)]
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        expect[i] = (len(segs), len(kept), " ".join(kept))
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(span_corpus())
def test_prefix_tiers_match_quadratic_reference(spark, case):
    """The AllPairs (Jaccard) and containment prefix-filter tiers
    must equal brute-force quadratic set math on random corpora —
    under the rarest-first ordering, with thresholds low enough that
    candidates actually flow."""
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        containment_prefix_pairs, ngram_jaccard_prefix_pairs)
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(case)])
    sets = {}
    for i, t in enumerate(case):
        toks = t.split(" ")
        sets[i] = {" ".join(toks[j:j + 2])
                   for j in range(len(toks) - 1)} if len(toks) >= 2 else set()
    t_j, t_c = 0.3, 0.5
    exp_j = sorted(
        (a, b, round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6))
        for a in sets for b in sets
        if a < b and sets[a] and sets[b]
        and round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6) >= t_j)
    got_j = sorted((r.id_a, r.id_b, r.jaccard)
                   for r in ngram_jaccard_prefix_pairs(
                       df, "text", "doc_id", shingle_n=2,
                       threshold=t_j).collect())
    assert got_j == exp_j
    exp_c = sorted(
        (a, b, round(len(sets[a] & sets[b]) / len(sets[a]), 6))
        for a in sets for b in sets
        if a != b and sets[a] and sets[b]
        and round(len(sets[a] & sets[b]) / len(sets[a]), 6) >= t_c)
    got_c = sorted((r.id_a, r.id_b, r.containment)
                   for r in containment_prefix_pairs(
                       df, "text", "doc_id", shingle_n=2,
                       threshold=t_c).collect())
    assert got_c == exp_c


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                min_size=0, max_size=20))
def test_connected_components_match_union_find(spark, case):
    """dedup_cluster_components' iterative min-label propagation vs
    a plain union-find over the same random edge list."""
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        connected_components)
    edges = [(min(a, b), max(a, b)) for a, b in case if a != b]
    if not edges:
        return
    df = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in edges])
    got = {r.doc_id: r.component_id
           for r in connected_components(df).collect()}
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    comp = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    expect = {}
    for root, members in comp.items():
        label = min(members)
        for m in members:
            expect[m] = label
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(span_corpus())
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_span_rewrite_matches_python_reference(spark, case):
    """duplicate_span_rewrite vs a direct replay: a token is removed
    iff it lies in some n-window that (a) occurs in >= 2 distinct
    docs and (b) is NOT the corpus-first occurrence of its gram
    (first by (doc_id, pos))."""
    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        duplicate_span_rewrite)
    n = 3
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(case)])
    got = {r.doc_id: (r.n_orig, r.n_kept, r.text_kept)
           for r in duplicate_span_rewrite(df, "text", "doc_id",
                                           n=n).collect()}
    from collections import defaultdict
    tokenized = [d.split(" ") for d in case]
    first = {}
    docs_of = defaultdict(set)
    for i, toks in enumerate(tokenized):
        for p in range(len(toks) - n + 1):
            g = " ".join(toks[p:p + n])
            docs_of[g].add(i)
            if g not in first:
                first[g] = (i, p)
    expect = {}
    for i, toks in enumerate(tokenized):
        removed = set()
        for p in range(len(toks) - n + 1):
            g = " ".join(toks[p:p + n])
            if len(docs_of[g]) >= 2 and first[g] != (i, p):
                removed.update(range(p, p + n))
        kept = [t for q, t in enumerate(toks) if q not in removed]
        expect[i] = (len(toks), len(kept), " ".join(kept))
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(0, 1000), min_size=1, max_size=40,
                unique=True))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_global_shuffle_matches_sorted_reference(spark, keys):
    """deterministic_global_shuffle's two-phase rank vs a direct sort
    of the same md5 shuffle keys — positions must be the dense 1..N
    ranks of the seeded hash order for any bucket count."""
    import hashlib
    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        deterministic_global_shuffle)
    df = spark.createDataFrame([Row(doc_id=k) for k in keys])
    got = {r.doc_id: r.position
           for r in deterministic_global_shuffle(
               df, "doc_id", seed="epoch7", buckets=16).collect()}
    order = sorted(keys, key=lambda k: (hashlib.md5(
        f"epoch7:{k}".encode()).hexdigest(), k))
    expect = {k: i + 1 for i, k in enumerate(order)}
    assert got == expect


def _round7(x: float):
    """Mirror of F.round(double, 7) / DuckDB ROUND: HALF_UP over the
    double's exact binary expansion (what Spark's BigDecimal does)."""
    from decimal import ROUND_HALF_UP, Decimal
    return Decimal(x).quantize(Decimal("0.0000001"), ROUND_HALF_UP)


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.tuples(st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                       min_size=2, max_size=10),
              st.booleans()),
    min_size=2, max_size=8))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_dsir_matches_python_reference(spark, case):
    """dsir_importance_select vs a direct Python replay: hashed-bigram
    bucket counts, add-one-smoothed NB log-ratio rounded half-up to 7
    decimals, exact decimal per-occurrence sums. top_n exceeds the
    corpus so the comparison covers every scored (non-target) doc."""
    import hashlib
    import math
    from collections import Counter

    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        dsir_importance_select)
    B = 64
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(toks), tgt=bool(t))
         for i, (toks, t) in enumerate(case)])
    got = {r.doc_id: (r.n_bigrams, r.dsir_logratio)
           for r in dsir_importance_select(
               df, "text", "doc_id", F.col("tgt"),
               buckets=B, top_n=1000).collect()}

    def bucket(bg: str) -> int:
        return int(hashlib.md5(bg.encode()).hexdigest()[:15], 16) % B

    ct, cr = Counter(), Counter()
    occs = {}
    for i, (toks, t) in enumerate(case):
        bs = [bucket(f"{a} {b}") for a, b in zip(toks, toks[1:])]
        occs[i] = (bs, t)
        (ct if t else cr).update(bs)
    tt, tr = sum(ct.values()), sum(cr.values())
    w = {b: _round7(math.log10((ct[b] + 1) / (tt + B))
                    - math.log10((cr[b] + 1) / (tr + B)))
         for b in set(ct) | set(cr)}
    expect = {}
    for i, (bs, t) in occs.items():
        if t or not bs:
            continue
        expect[i] = (len(bs), float(sum(w[b] for b in bs)))
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
             min_size=1, max_size=10),
    min_size=3, max_size=9))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_perplexity_buckets_match_python_reference(spark, case):
    """perplexity_buckets vs a direct Python replay of the unigram
    logprob recipe (7-decimal rounded per-token log10, exact decimal
    sums, 6-decimal rounded mean), the global (score desc, doc_id)
    rank, and the ((rank-1)*3) DIV n tier formula."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from quickbooks_aws_etl_pipeline_spark.operators.sampling import (
        perplexity_buckets)
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(case)])
    got = {r.doc_id: (r.n_tokens, r.avg_logprob, r.ppl_rank, r.ppl_bucket)
           for r in perplexity_buckets(df, "text", "doc_id", k=3).collect()}

    vocab = Counter(t for toks in case for t in toks)
    total = sum(vocab.values())
    scores = {}
    for i, toks in enumerate(case):
        s = sum(_round7(math.log10(vocab[t] / total)) for t in toks)
        # the engine's integer half-away mean: q_e6 = sign *
        # ((2*|s_e7|*1e6 + n*1e7) DIV (2*n*1e7)), then /1e6 as double.
        # (The original float-rounding reference exposed the real
        # cross-engine tie bug this replaced: ROUND(double, 6) of
        # -0.0511525/1 is -0.051153 on Spark's shortest-repr rounding
        # but -0.051152 on exact-binary rounding.)
        n = len(toks)
        s_e7 = int(s.scaleb(7))
        sign = -1 if s_e7 < 0 else (0 if s_e7 == 0 else 1)
        q_e6 = sign * ((2 * abs(s_e7) * 10**6 + n * 10**7)
                       // (2 * n * 10**7))
        scores[i] = (n, q_e6 / 1e6)
    order = sorted(scores, key=lambda i: (-scores[i][1], i))
    n = len(order)
    expect = {}
    for rank0, i in enumerate(order):
        b = (rank0 * 3) // n
        expect[i] = (scores[i][0], scores[i][1], rank0 + 1,
                     {0: "head", 2: "tail"}.get(b, "middle"))
    assert got == expect


@settings(max_examples=5, deadline=None)
@given(st.lists(st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                         min_size=3, max_size=10).map(" ".join),
                min_size=4, max_size=10),
       st.sampled_from([2, 3, 5]))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_stream_dedup_invariance_any_batching(spark, docs, chunks):
    """The batching-invariance theorem behind
    stream_dedup_incremental_live, exercised directly on random
    corpora and random chunk counts: the union over epochs
    (within-batch LSH + batch-vs-index probe) must equal the
    full-corpus minhash tier EXACTLY, for ANY number of chunks —
    including chunk counts that leave some epochs empty."""
    from pyspark.sql import Row

    from quickbooks_aws_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs)
    from quickbooks_aws_etl_pipeline_spark.streaming.stateful import (
        run_stream_incremental_dedup)
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(docs)])
    full = {(r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs(
                df, "text", "doc_id", num_hashes=16, bands=4,
                shingle_n=2, jaccard_threshold=0.5).collect()}
    streamed = {(r.id_a, r.id_b, r.jaccard)
                for r in run_stream_incremental_dedup(
                    spark, df, query_name=f"hyp{chunks}",
                    chunks=chunks).collect()}
    assert streamed == full


@settings(max_examples=20, deadline=None)
@given(st.integers(-10**9, 10**9), st.integers(1, 10**6))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_round_ratio6_half_away_any_sign(spark, num, den):
    """round_ratio6 must implement half-AWAY-FROM-ZERO for any
    numerator sign (r6 advisory: the pre-fix floor-DIV emulation was
    floor rounding — off by 1e-6 for negative numerators vs both the
    decimal-mean recipe and an exact-rational reference)."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import Row

    from quickbooks_aws_etl_pipeline_spark.functions.numeric import (
        round_ratio6)
    got = spark.createDataFrame([Row(a=num, b=den)]).select(
        round_ratio6(F.col("a"), F.col("b")).alias("r")).head()[0]
    want = float((Decimal(num) / Decimal(den)).quantize(
        Decimal("0.000001"), rounding=ROUND_HALF_UP)
        if num >= 0 else
        -(Decimal(-num) / Decimal(den)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))
    assert got == want, (num, den, got, want)


def test_incdedup_epoch_redelivery_idempotent(spark, tmp_path):
    """Epoch redelivery: the foreachBatch sink writes the index
    contribution BEFORE the streaming checkpoint commits, so a
    retried epoch re-runs with its own prior index write already on
    disk. The epoch computation must produce the identical pair set
    either way — no self-pairs (id_a == id_b), no double-counted
    within-batch pairs from the batch matching its own index copy."""
    from pyspark.sql import Row

    from quickbooks_aws_etl_pipeline_spark.streaming.stateful import (
        incdedup_epoch_pairs)
    idx_dir = str(tmp_path / "idx")
    corpus0 = spark.createDataFrame(
        [Row(doc_id=0, text="aa bb cc dd"), Row(doc_id=1, text="ee ff gg")])
    batch1 = spark.createDataFrame(
        [Row(doc_id=2, text="aa bb cc dd ee"),   # near-dup of doc 0
         Row(doc_id=3, text="aa bb cc dd ff")])  # near-dup of 0 and 2
    corpus0.write.parquet(f"{idx_dir}/batch=0")
    first = sorted(tuple(r) for r in incdedup_epoch_pairs(
        spark, batch1, 1, idx_dir).collect())
    assert first, "fixture must produce at least one cross/within pair"
    # simulate the retry: epoch 1's own index write is already there
    batch1.write.parquet(f"{idx_dir}/batch=1")
    retried = sorted(tuple(r) for r in incdedup_epoch_pairs(
        spark, batch1, 1, idx_dir).collect())
    assert retried == first
    assert all(a != b for a, b, _ in retried)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(st.floats(-2, 2, allow_nan=False,
                                   width=32),
                         min_size=4, max_size=4),
                min_size=2, max_size=12))
@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_standardize_stats_match_decimal_replay(spark, vecs):
    """standardize_stats vs an EXACT Decimal replay of the operator's
    contract (scale-9 element sums, scale-8 squared sums, then the
    same double operand order): equality must be bitwise. A naive
    numpy reference exposed the quantization floor instead — for a
    CONSTANT column the decimal-quantized moments give
    std ~ sqrt(quantization) (~1e-4) rather than 0; engine and
    oracle agree bit-for-bit on that value (it is the contract),
    so the reference must replay the quantization, with numpy only
    as a loose sanity check on genuinely-varying columns."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    from pyspark.sql import Row

    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        standardize_stats)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(vecs)])
    got = {r.pos: r for r in standardize_stats(df, "embedding").collect()}

    def q(x: float, scale: int) -> Decimal:
        return Decimal(x).quantize(Decimal(1).scaleb(-scale),
                                   ROUND_HALF_UP)

    m = [[float(np.float32(x)) for x in v] for v in vecs]
    n = len(vecs)
    for pos in range(4):
        col = [row[pos] for row in m]
        s = float(sum(q(x, 9) for x in col))
        sq = float(sum(q(x * x, 8) for x in col))
        mean = s / n
        std = math.sqrt(sq / n - mean * mean) \
            if sq / n - mean * mean >= 0 else float("nan")
        r = got[pos]
        assert r.n == n
        assert r.mean == mean, (pos, r.mean, mean)
        if math.isnan(std):
            assert math.isnan(r.std)
            continue
        assert r.std == std, (pos, r.std, std)
        if std > 0:
            zs = [(x - mean) / std for x in col]
            assert r.z_min == min(zs) and r.z_max == max(zs)
        # loose numpy sanity on genuinely varying columns
        npcol = np.array(col)
        if npcol.std() > 1e-3:
            assert math.isclose(r.std, npcol.std(), rel_tol=1e-3)


# --- round 7: greedy-selection / semantic-dedup properties -----------------

@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_kcenter_partition_invariant_and_deterministic(spark, sf_smoke):
    """Greedy k-center must be a pure function of the SET of vectors:
    the same selection (ids, radii, order) under any input
    partitioning, and bit-identical on a repeat call — the
    integer-distance + ascending-id-tiebreak argmax admits no
    partition- or schedule-dependence."""
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        kcenter_coreset)
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    a = kcenter_coreset(emb, "embedding", "vec_id", 0, k=6).collect()
    b = kcenter_coreset(emb.repartition(7), "embedding", "vec_id", 0,
                        k=6).collect()
    c = kcenter_coreset(emb, "embedding", "vec_id", 0, k=6).collect()
    key = lambda rows: [(r["sel_rank"], r["id"], r["min_d2"])  # noqa: E731
                        for r in sorted(rows, key=lambda r: r["sel_rank"])]
    assert key(a) == key(b) == key(c)
    # covering radius is non-increasing in rank (FPS invariant)
    radii = [r[2] for r in key(a)[1:]]
    assert radii == sorted(radii, reverse=True)


def test_kcenter_fewer_than_k_rows_exhausts_cleanly(spark, sf_smoke):
    """r7 advisory pin: an input with fewer than k points must yield
    one row per available point (the greedy loop exhausts and
    stops), never a crash on a None step row."""
    from pyspark.sql import functions as F
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        kcenter_coreset)
    emb = (spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
           .filter(F.col("vec_id") < 3))
    out = kcenter_coreset(emb, "embedding", "vec_id", 0, k=8).collect()
    assert sorted(r["sel_rank"] for r in out) == [0, 1, 2]
    assert len({r["id"] for r in out}) == 3


def test_mmr_lambda100_equals_pure_relevance(spark, sf_smoke):
    """With lam_pct=100 the diversity term vanishes: MMR must return
    exactly the relevance top-k in relevance order — pins the greedy
    loop's scoring/tiebreak to the brute-force ranking."""
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        cosine_topk, fetch_query_vector, mmr_rerank)
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    qv = fetch_query_vector(emb, "embedding", "vec_id", 0)
    others = emb.filter(F.col("vec_id") != 0)
    mmr = mmr_rerank(others, "embedding", "vec_id", qv,
                     shortlist=20, k=5, lam_pct=100).collect()
    top = cosine_topk(others, "embedding", "vec_id", qv, k=5).collect()
    assert [r["id"] for r in sorted(mmr, key=lambda r: r["mmr_rank"])] \
        == [r["vec_id"] for r in top]


def test_semantic_dedup_threshold_monotone(spark, sf_smoke):
    """Raising the SemDeDup threshold can only KEEP more: the kept
    set at tau=0.3 must be a subset of the kept set at tau=0.4, and
    the lowest id in every cell is always kept (it has no smaller-id
    neighbor)."""
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        semantic_dedup_manifest)
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    lo = semantic_dedup_manifest(emb, "embedding", "vec_id", "label",
                                 threshold=0.3).collect()
    hi = semantic_dedup_manifest(emb, "embedding", "vec_id", "label",
                                 threshold=0.4).collect()
    kept_lo = {r["id"] for r in lo if r["kept"]}
    kept_hi = {r["id"] for r in hi if r["kept"]}
    assert kept_lo <= kept_hi
    assert kept_lo, "tau=0.3 must keep a non-empty set"
    min_per_cell = {}
    for r in lo:
        min_per_cell[r["cell"]] = min(min_per_cell.get(r["cell"], r["id"]),
                                      r["id"])
    assert all(m in kept_lo for m in min_per_cell.values())


@pytest.mark.slow  # full-tier: algebra unchanged this round
def test_mmr_python_fold_equals_spark_fold(spark, sf_smoke):
    """The MMR greedy loop computes diversity cosines in driver-side
    Python over the collected shortlist while relevance cosines come
    from the Spark codegen fold. Both are sequential left-to-right
    double folds, so the integer micro-units must agree EXACTLY —
    this differential pins that assumption on real vectors by
    scoring every shortlist pair both ways."""
    import math
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        as_double_array, cosine)
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet") \
        .filter(F.col("vec_id") < 24)
    rows = emb.select("vec_id", as_double_array(F.col("embedding"))
                      .alias("v")).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["v"]] for r in rows}

    def cos_u_py(a, b):
        dp = 0.0
        for x, y in zip(a, b):
            dp += x * y
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return int(math.floor(dp / (na * nb) * 1_000_000 + 0.5))

    ids = sorted(vecs)
    pairs = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    qlits = {b: F.array(*[F.lit(x) for x in vecs[b]]) for b in ids}
    got = emb.select(
        "vec_id",
        *[F.floor(cosine(as_double_array(F.col("embedding")), qlits[b])
                  * 1_000_000 + 0.5).cast("bigint").alias(f"u{b}")
          for b in ids]).collect()
    by_id = {r["vec_id"]: r for r in got}
    for a, b in pairs:
        assert by_id[a][f"u{b}"] == cos_u_py(vecs[a], vecs[b]), (a, b)


# --- round 8: domain-level curation (RefinedWeb-style) ---------------------

def test_domain_mix_uniform_corpus_stats(spark, sf_smoke):
    """On the synthetic corpus every domain has the same doc count,
    so the concentration stats have closed forms: the Gini numerator
    terms sum to exactly 0, every rank appears once, and total
    entropy (sum of e10 log10 terms) is log10(n_domains) to within
    the e7 per-term rounding."""
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    rows = QUERIES["stats_domain_mix"](spark, sf_smoke).collect()
    n = len(rows)
    assert sorted(r["rnk"] for r in rows) == list(range(1, n + 1))
    assert sum(r["gini_term"] for r in rows) == 0
    import math
    total_ent = sum(r["entropy_term_e10"] for r in rows) / 1e10
    assert abs(total_ent - math.log10(n)) < n * 1e-6
    assert sum(r["doc_share_ppm"] for r in rows) == pytest.approx(
        1_000_000, abs=n)  # half-up rounding drift bounded by n/2


def test_domain_caps_bind_and_order_is_quality(spark, sf_smoke):
    """Both caps must actually bind on this corpus (15 docs / 600
    tokens vs 25+ docs and ~1350+ tokens per domain), and the kept
    docs must be each domain's TOP-quality prefix."""
    from pyspark.sql import functions as F
    from quickbooks_aws_etl_pipeline_spark.operators.curation import (
        domain_caps)
    from quickbooks_aws_etl_pipeline_spark.operators.evaluation import (
        stopword_ppm)
    from quickbooks_aws_etl_pipeline_spark.operators.text import (
        LANG_STOPWORDS, tokens)
    from quickbooks_aws_etl_pipeline_spark.io import read_table
    docs = read_table(spark, sf_smoke, "documents")
    base = docs.select(
        "source", "doc_id",
        stopword_ppm(F.col("text"), LANG_STOPWORDS["en"]).alias("q"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"))
    capped = domain_caps(base, "source", "doc_id", "q", "n_tokens",
                         doc_cap=15, token_cap=600).collect()
    by_src: dict = {}
    for r in capped:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["rn"])
        kept = [r for r in rs if r["kept"]]
        assert len(kept) < len(rs), f"{src}: cap never bound"
        assert len(kept) <= 15
        assert sum(r["n_tokens"] for r in kept) <= 600
        # kept is a PREFIX of the quality order (greedy cut, no gaps)
        ranks = [r["rn"] for r in kept]
        assert ranks == list(range(1, len(ranks) + 1))


def test_domain_reweight_simplex_and_positivity(spark, sf_smoke):
    """DoReMi-lite invariants: weights live on the ppm simplex (sum
    = 1e6 up to half-up drift bounded by n_domains), every
    non-positive-excess domain gets exactly 0, and at least one
    domain carries mass (the greatest(tot,1) guard never activates
    on this corpus)."""
    from quickbooks_aws_etl_pipeline_spark.plans import QUERIES
    rows = QUERIES["mixture_domain_reweight"](spark, sf_smoke).collect()
    assert rows
    assert all(r["weight_ppm"] == 0 for r in rows if r["excess_e6"] <= 0)
    carried = [r for r in rows if r["weight_ppm"] > 0]
    assert carried, "no domain carries mass"
    assert all(r["excess_e6"] > 0 for r in carried)
    assert abs(sum(r["weight_ppm"] for r in rows) - 1_000_000) \
        <= len(rows)


def test_spherical_kmeans_ignores_malformed_vectors(spark, sf_smoke):
    """r13 review find (+ r13 ADVICE follow-up): NULL/ragged vectors
    must be excluded from BOTH the fit (the old posexplode form
    silently skipped NULLs; a kept NULL-sum row would crash the
    driver mean) and the SEED scan (an unguarded orderBy-md5 seed
    could pick a NULL vector — crashing the float() unpack — or a
    ragged one, poisoning the fit dimension). The malformed ids here
    are CHOSEN to hash before every real vec_id in md5_long order, so
    without the shared guard they WOULD seed; the mixed corpus must
    still fit the identical centroids as the clean corpus."""
    import hashlib

    from pyspark.sql import Row

    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        spherical_kmeans)
    emb = (spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
           .select("vec_id", "embedding", "label"))

    def h(i: int) -> int:  # mirrors operators.text.md5_long
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    min_real = min(h(r["vec_id"]) for r in emb.select("vec_id").collect())
    bad_ids = [i for i in range(100_000, 200_000) if h(i) < min_real][:2]
    assert len(bad_ids) == 2, "need two ids hashing before all real ones"
    bad = spark.createDataFrame(
        [Row(vec_id=bad_ids[0], embedding=None, label=0),
         Row(vec_id=bad_ids[1], embedding=[1.0, 2.0], label=0)],
        emb.schema)
    mixed = emb.unionByName(bad)
    assert (spherical_kmeans(mixed, "embedding", "vec_id", k=4, iters=2)
            == spherical_kmeans(emb, "embedding", "vec_id", k=4, iters=2))


def test_kmeans_seed_scan_with_null_id_matches_orderby(spark, sf_smoke):
    """A NULL id hashes to NULL. The fit-input pass fills that hash on
    the JVM side (so ``__h`` stays int64 in every pandas batch) and
    must pick exactly the seeds of the ``orderBy(md5_long(id))
    .limit(k)`` form it replaced, where the NULL sorts first."""
    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        _kmeans_fit_inputs)
    from quickbooks_aws_etl_pipeline_spark.operators.text import md5_long
    emb = (spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
           .select("vec_id", "embedding"))
    v0 = emb.orderBy("vec_id").first()["embedding"]
    corpus = emb.unionByName(spark.createDataFrame([(None, v0)], emb.schema))
    base = corpus.select(
        F.col("vec_id").alias("__id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__v"))
    dim, seeds = _kmeans_fit_inputs(base, 8)
    want = [list(r["__v"]) for r in
            base.filter(F.size("__v") == dim)
            .orderBy(md5_long(F.col("__id").cast("string")))
            .limit(8).collect()]
    assert seeds == want
    assert seeds[0] == [float(x) for x in v0]


def test_assign_cell_quotes_backticked_column_names(spark, sf_smoke):
    """Both SQL-string forms of the nearest-centroid assignment must
    treat a column name containing a backtick as one identifier."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    from quickbooks_aws_etl_pipeline_spark.operators.similarity import (
        _assign_cell_sql, assign_cell)
    emb = (spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
           .select("vec_id", "embedding"))
    cents = [[float(x) for x in r["embedding"]]
             for r in emb.orderBy("vec_id").limit(4).collect()]
    want = sorted(emb.select(
        "vec_id", assign_cell("embedding", cents).alias("cell")).collect())
    odd = emb.withColumnRenamed("embedding", "emb`x")
    got = sorted(odd.select(
        "vec_id", assign_cell("emb`x", cents).alias("cell")).collect())
    cents_row = spark.createDataFrame(
        [(cents,)], StructType([StructField(
            "c`s", ArrayType(ArrayType(DoubleType())))]))
    via_col = sorted(odd.crossJoin(cents_row).selectExpr(
        "vec_id", f"{_assign_cell_sql('emb`x', 'c`s', k=4)} as cell")
        .collect())
    assert got == want
    assert via_col == want
