"""Deduplication operators over ``documents`` / ``embeddings``
(SURVEY.md §2.12 X1-X2; driver north-star).

Five tiers, cheapest first — the 100 TB playbook is to run them in
this order so each tier shrinks the candidate set for the next:

1. exact          — hash groupBy on the raw text (one shuffle)
2. normalized-key — groupBy on a canonicalized text key
3. SimHash        — per-doc 60-bit signature, narrow map, no shuffle;
                    near-dup candidates share signatures/bands
4. MinHash+LSH    — shingle -> k minhashes -> b bands; candidates are
                    band-bucket joins (shuffle on band hash, never an
                    all-pairs product), verified with exact Jaccard
5. embedding-cosine — pairs within a blocking key (coarse cell label)

All hashes are md5-derived so every signature is engine-independent
and the DuckDB oracle reproduces them bit-for-bit (xxhash64 would be
Spark-only). md5-per-shingle is ~2x slower than xxhash64 but the
operator stays verifiable; swap ``text.md5_long`` for ``F.xxhash64``
in production if oracle parity is not required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io import widen
from .similarity import as_double_array, dot, l2_norm
from .text import md5_long, tokens, word_shingles


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """X1: exact duplicate groups — min id survives, copies counted."""
    return (df.groupBy(*key_cols)
            .agg(F.min(id_col).alias(f"keeper_{id_col}"),
                 F.count(F.lit(1)).alias("n_copies")))


def normalized_text_key(col: Column) -> Column:
    """Canonical text key: lowercase, strip non-alnum, collapse
    whitespace (the SQL-expressible fuzzy-dedup variant)."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z0-9 ]", "")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def normalized_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """X2 (cheap tier): group by normalized key."""
    return (df
            .groupBy(normalized_text_key(F.col(text_col)).alias("norm_key"))
            .agg(F.min(id_col).alias(f"keeper_{id_col}"),
                 F.count(F.lit(1)).alias("n_copies")))


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 -> non-negative BIGINT


def simhash(toks: Column) -> Column:
    """60-bit SimHash over token md5 hashes: bit b is set when more
    than half the tokens have bit b set. Pure array expressions —
    whole-stage codegen, no UDF. Bit tests/packing use a literal
    powers-of-two array (no shift-by-column support needed)."""
    hashes = F.transform(toks, md5_long)
    pow2 = F.array(*[F.lit(1 << i).cast("bigint") for i in range(SIMHASH_BITS)])
    weighted_bits = F.transform(
        pow2,
        lambda p: F.when(
            F.size(F.filter(hashes, lambda h: h.bitwiseAND(p) != 0)) * 2
            > F.size(hashes),
            p,
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(weighted_bits, F.lit(0).cast("bigint"),
                       lambda acc, v: acc + v)


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        simhash(tokens(F.col(text_col))).alias("simhash"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    )


# --- MinHash + LSH ---------------------------------------------------------

# affine-derived minhash family: ONE md5 base hash per shingle, then
# h_j = (a_j * h + b_j) mod P over a 30-bit domain. a_j < 2^30 and
# h < 2^30 keep every product under 2^60 — no 64-bit overflow in
# either engine, so the oracle reproduces signatures exactly.
MINHASH_MOD = 1 << 30
MINHASH_PRIME = 1073741789  # largest prime < 2^30


def minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_j, b_j) pairs from a Lehmer LCG — fixed seed,
    identical constants in the oracle SQL."""
    a, b, x = [], [], 1
    for _ in range(num_hashes):
        x = (x * 48271) % 2147483647
        a.append((x % (MINHASH_MOD - 1)) | 1)
        x = (x * 48271) % 2147483647
        b.append(x % MINHASH_PRIME)
    return a, b


def base_hashes(shingles: Column) -> Column:
    """30-bit md5-derived base hash per shingle."""
    return F.transform(shingles, lambda s: md5_long(s) % F.lit(MINHASH_MOD))


def minhash_signature_from_hashes(hs: Column, num_hashes: int = 16) -> Column:
    """k affine minhashes over precomputed base hashes (cheap integer
    ops — 16 array_min passes over ints, not 16 md5 passes)."""
    a, b = minhash_coeffs(num_hashes)
    a_arr = F.array(*[F.lit(v).cast("bigint") for v in a])
    b_arr = F.array(*[F.lit(v).cast("bigint") for v in b])
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda j: F.array_min(
            F.transform(hs, lambda h:
                        (F.element_at(a_arr, j + 1) * h
                         + F.element_at(b_arr, j + 1)) % F.lit(MINHASH_PRIME))
        ),
    )


def capped_set_groups(shingled: DataFrame, id_col: str,
                      members_cap: int) -> DataFrame:
    """Group documents by identical shingle-hash set while bounding
    every member array at ~``members_cap`` via salted sub-groups.

    A viral document (millions of byte-identical copies) would
    otherwise put its entire member list into ONE ``collect_list``
    array on one task. Salting splits a text variant of size ``gn``
    into ``ceil(gn / members_cap)`` sub-groups keyed by a hash of the
    id, so no aggregation task ever holds more than ~cap ids from one
    variant. Output pairs are unchanged: sub-groups of one set carry
    identical signatures, collide in every LSH band, and the
    cross-group expansion recovers their member pairs at jaccard 1.0.

    Sizing uses the ``tkey`` column (one md5 over the raw text) so the
    count branch never recomputes the shingle map — Catalyst prunes
    ``hs`` out of that scan. The bound is per text variant, which is
    exactly the viral case (byte-identical copies).

    Groups are keyed by (tkey, salt), not by the shingle set: two
    DIFFERENT texts that collapse to one set become separate groups,
    whose representatives carry identical signatures and therefore
    collide in every LSH band (or share identical prefixes, in the
    prefix tier) — the cross-group expansion recovers their member
    pairs at jaccard 1.0, so the output is unchanged. What the text
    key buys: (tkey, salt) is a superset of the join's tkey
    partitioning, so the final aggregation adds NO second shuffle of
    the shingle arrays — one array exchange end-to-end, same as the
    uncapped form.
    """
    sizes = shingled.groupBy("tkey").agg(F.count(F.lit(1)).alias("gn"))
    n_sub = F.greatest(F.ceil(F.col("gn") / members_cap), F.lit(1))
    salted = (shingled.join(sizes, "tkey")
              .withColumn("salt",
                          F.pmod(md5_long(F.col(id_col).cast("string")), n_sub)))
    return (salted.groupBy("tkey", "salt")
            .agg(F.sort_array(F.collect_list(id_col)).alias("members"),
                 F.first("hs").alias("hs"))
            .withColumn("rep", F.element_at("members", 1))
            .drop("tkey", "salt"))


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      num_hashes: int = 16, bands: int = 4,
                      shingle_n: int = 3,
                      jaccard_threshold: float = 0.1,
                      members_cap: int = 10_000) -> DataFrame:
    """X2 (scale tier): MinHash banding -> candidate pairs -> exact
    Jaccard verification.

    Scale shape: signatures are a narrow map over documents; the only
    shuffle is the groupBy-equivalent self-join on (band, band_hash),
    whose fan-in is the bucket size — never an all-pairs cross join.
    The shingle set rides along through the band explode, so candidate
    generation and exact-Jaccard verification are ONE self-join (LSH
    false positives die on the threshold filter; false negatives are
    bounded by the (num_hashes, bands) choice). Trade-off: the shuffle
    payload is |doc| x bands shingle ints — for very long documents an
    id-only band join plus a re-fetch verify join shuffles less.
    """
    if not 0.0 <= jaccard_threshold <= 1.0:
        raise ValueError(f"minhash_lsh_pairs: jaccard_threshold must be "
                         f"in [0, 1], got {jaccard_threshold}")
    rows_per_band = num_hashes // bands
    toks = tokens(F.col(text_col))
    # hash shingles once; all downstream set math (signatures AND the
    # exact-Jaccard verify) runs on the 30-bit int sets — string
    # arrays never leave this projection. Hash collisions perturb the
    # Jaccard estimate by ~|set|^2/2^30 (negligible) and identically
    # in the oracle.
    # widen first: a single-file documents scan would run the whole
    # md5-shingling map on one core (io.widen is a no-op at scale)
    # No size filter here: a filter on `hs` would evaluate the whole
    # md5-shingle transform TWICE (the filter predicate and the
    # projection are separate operators — whole-stage codegen does
    # not share subexpressions across them). Empty-set docs drop
    # after grouping instead, where `hs` is already a plain column.
    shingled = widen(df).select(
        F.col(id_col),
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("tkey"),
        F.array_distinct(base_hashes(word_shingles(toks, shingle_n))).alias("hs"),
    )

    # collapse exact duplicates BEFORE LSH: docs with identical
    # shingle sets share identical signatures, so k copies would
    # multiply every band bucket k-fold and the candidate join k^2 —
    # the dominant cost on real corpora, where exact dups are the
    # majority of duplication. One representative per distinct set
    # goes through LSH; pairs are expanded afterwards (exactly
    # equivalent: identical sets collide in every band, and their
    # cross/within jaccards equal the representative's). Viral docs
    # are bounded by members_cap (salted sub-groups, see
    # capped_set_groups) so no task ever holds a full member list.
    # The empty-set filter lands HERE (post-aggregation) so the
    # sizing branch never computes the shingle map and the salted
    # branch computes it exactly once.
    groups = capped_set_groups(shingled, id_col, members_cap) \
        .filter(F.size("hs") > 0)

    sig = groups.select(
        F.col("rep"),
        "members",
        "hs",
        minhash_signature_from_hashes(F.col("hs"), num_hashes).alias("sig"),
    )

    banded = sig.select(
        "rep",
        "members",
        "hs",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(F.encode(F.array_join(
                    F.transform(F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string")),
                    ","), "UTF-8")),
            )
        ).alias("band", "band_hash"),
    # localCheckpoint (not .cache()): banded feeds both sides of the
    # self-join, so it must materialize once — but a .cache() here is
    # never unpersisted and long-lived sessions (bench loops, driver
    # sweeps) would accumulate it in executor storage. Checkpointed
    # RDDs are released by the ContextCleaner when the DataFrame is
    # garbage-collected, so storage stays bounded across invocations.
    # A persist() A/B (NOTES.md) was NOT faster: it pays the same
    # materialization plus storage-level bookkeeping, and leaks unless
    # the caller unpersists.
    ).localCheckpoint(eager=True)

    left = banded.select(F.col("rep").alias("rep_a"),
                         F.col("members").alias("m_a"),
                         F.col("hs").alias("sh_a"), "band", "band_hash")
    right = banded.select(F.col("rep").alias("rep_b"),
                          F.col("members").alias("m_b"),
                          F.col("hs").alias("sh_b"), "band", "band_hash")
    rep_pairs = (left.join(right, ["band", "band_hash"])
                 .filter(F.col("rep_a") < F.col("rep_b"))
                 .select(
                     "rep_a", "rep_b", "m_a", "m_b",
                     F.round(
                         F.size(F.array_intersect("sh_a", "sh_b"))
                         / F.size(F.array_union("sh_a", "sh_b")),
                         6).alias("jaccard"))
                 .filter(F.col("jaccard") >= jaccard_threshold)
                 # a pair surfaces once per colliding band; dedupe
                 # after the threshold filter has shrunk the set.
                 # distinct(), not dropDuplicates([rep_a, rep_b]):
                 # every column is determined by the pair (members
                 # and jaccard come off the same checkpointed rows),
                 # and the subset form compiles to first() aggregates
                 # whose array buffers force SortAggregate — a full
                 # sort of the surviving pairs; distinct() group-keys
                 # the whole row and stays in HashAggregate (r14).
                 .distinct())
    # band 0 carries each group's member list exactly once, read from
    # the CHECKPOINTED frame — reading `groups` would re-run the
    # entire shingle + grouping lineage for the within-group branch
    # (measured ~2x the operator's wall time at sf0.1)
    cross, within = _member_pairs(rep_pairs,
                                  banded.filter(F.col("band") == 0),
                                  "jaccard")
    return _unordered(cross).unionByName(within)


def _member_pairs(rep_pairs: DataFrame, groups: DataFrame,
                  value: str) -> tuple[DataFrame, DataFrame]:
    """Expand representative pairs back to document pairs, the last
    step of every set join that collapses identical shingle sets
    first (``capped_set_groups``).

    ``rep_pairs`` holds one row per verified group pair, with the
    member arrays ``m_a``/``m_b`` and the score column ``value``;
    ``groups`` holds one ``members`` array per group. Returns
    ``(cross, within)``, both ``(id_a, id_b, value)``:

    - cross: every (x in m_a, y in m_b), which inherits the
      representatives' score (the sets are identical within a group);
    - within: every pair ``id_a < id_b`` inside one group, scored
      exactly 1.0 (identical sets).
    """
    cross = (rep_pairs
             .select(value, F.explode("m_a").alias("id_a"), "m_b")
             .select(value, "id_a", F.explode("m_b").alias("id_b"))
             .select("id_a", "id_b", value))
    pair_structs = F.flatten(F.transform(
        F.col("members"),
        lambda x, i: F.transform(
            F.slice(F.col("members"), i + 2,
                    F.greatest(F.size("members") - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    within = (groups.filter(F.size("members") > 1)
              .select(F.explode(pair_structs).alias("p"))
              .select(F.col("p.id_a"), F.col("p.id_b"),
                      F.lit(1.0).alias(value)))
    return cross, within


def _unordered(pairs: DataFrame) -> DataFrame:
    """Symmetric-score pairs keyed ``id_a < id_b``."""
    return pairs.select(F.least("id_a", "id_b").alias("id_a"),
                        F.greatest("id_a", "id_b").alias("id_b"),
                        "jaccard")


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        block_col: str, shingle_n: int = 3,
                        threshold: float = 0.05) -> DataFrame:
    """X2 (exact tier, blocked): all-pairs Jaccard *within a blocking
    key* — the oracle-checkable ground truth for the LSH tier. The
    block bounds the quadratic term; at scale the block is a coarse
    cluster/partition key."""
    toks = tokens(F.col(text_col))
    sh = widen(df).select(
        F.col(id_col), F.col(block_col).alias("block"),
        F.array_distinct(word_shingles(toks, shingle_n)).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    a = sh.select(F.col("block"), F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("block"), F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (a.join(b, "block")
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "block", "id_a", "id_b",
                F.round(F.size(F.array_intersect("sh_a", "sh_b"))
                        / F.size(F.array_union("sh_a", "sh_b")), 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def ngram_jaccard_prefix_pairs(df: DataFrame, text_col: str, id_col: str,
                               shingle_n: int = 3,
                               threshold: float = 0.8,
                               members_cap: int = 10_000) -> DataFrame:
    """X2 (exact tier, production path): prefix-filtered similarity
    self-join (AllPairs/PPJoin family) — the scale-shaped replacement
    for ``ngram_jaccard_pairs``' blocked cross join.

    Each document keeps only its ``n - ceil(t*n) + 1`` smallest
    shingle keys (the shared rarest-first order of
    :func:`_prefix_sets`) as join candidates; if ``J(A,B) >= t`` the
    smallest common key provably lands in BOTH prefixes, so candidate
    generation is complete — the output equals the quadratic ground
    truth exactly. The candidate join applies
    two further complete filters: the length filter ``t*|A| <= |B| <=
    |A|/t``, and PPJoin's positional filter ``1 + min(|A|-pos_A,
    |B|-pos_B) >= ceil(t/(1+t)*(|A|+|B|))`` (any common element at
    positions too deep to leave room for the minimum overlap cannot
    come from a qualifying pair; the FIRST common element always
    passes, so any-occurrence semantics stay complete). Candidates
    are id-only through the shuffle (shingle arrays are re-fetched by
    id for the verify join), so no document array rides the candidate
    exchange — no O(block^2) term anywhere. Measured (trigrams,
    t=0.8): 332 candidates / 124,750 all-pairs at sf0.01 and 29,744 /
    12.5M at sf0.1, retaining all 25 / 256 true pairs.

    Exact duplicates collapse BEFORE candidate generation (same
    ``capped_set_groups`` machinery as MinHash): k byte-identical
    copies would otherwise multiply every prefix bucket k-fold and
    the candidate join k^2-fold — on a corpus where half of 100k docs
    are copies, the uncollapsed form did not finish in 10 minutes.
    Pairs inside an identical-set group expand flat at jaccard 1.0;
    cross-group member pairs inherit their representatives' jaccard.
    ``threshold`` must lie in (0, 1].
    """
    _check_prefix_threshold("ngram_jaccard_prefix_pairs", threshold)
    sh = _prefix_sets(df, text_col, id_col, shingle_n, members_cap)
    # prefix filter: the (n - ceil(t*n) + 1) smallest keys
    prefix_len = (F.size("h")
                  - F.ceil(F.lit(threshold) * F.size("h") - F.lit(_EPS))
                  .cast("int") + F.lit(1))
    pre = sh.select("id", F.size("h").alias("n"),
                    F.posexplode(F.slice("h", F.lit(1), prefix_len))
                    .alias("pos0", "p"))
    t = F.lit(threshold)
    # minimum overlap for J >= t
    alpha = F.ceil((t / (F.lit(1.0) + t))
                   * (F.col("a.n") + F.col("b.n")) - F.lit(_EPS))
    # shuffle_hash hint (the r9 estimate-blind-broadcast fix): the
    # exploded prefix relation is corpus-sized but its Generate-chain
    # estimate stays at the child's size, so the planner would
    # broadcast one side — the hint pins the documented prefix-token
    # SHUFFLE; AQE may still broadcast when the measured size is small
    cand = (pre.alias("a")
            .join(pre.alias("b").hint("shuffle_hash"),
                  (F.col("a.p") == F.col("b.p"))
                  & (F.col("a.id") < F.col("b.id"))
                  # length filter: J >= t bounds the size ratio
                  & (F.col("b.n") >= F.ceil(t * F.col("a.n") - F.lit(_EPS)))
                  & (F.col("a.n") >= F.ceil(t * F.col("b.n") - F.lit(_EPS)))
                  # positional filter: room left after this position
                  & (F.lit(1) + F.least(
                      F.col("a.n") - (F.col("a.pos0") + 1),
                      F.col("b.n") - (F.col("b.pos0") + 1)) >= alpha))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct())
    # |A∪B| = |A| + |B| - |A∩B| for distinct-element arrays: one
    # array_intersect per pair instead of also materializing the
    # union array just to take its size (~40% of verify cost)
    inter = F.size(F.array_intersect("h_a", "h_b"))
    union_sz = F.size("h_a") + F.size("h_b") - inter
    cross, within = _member_pairs(
        _verified(cand, sh, F.round(inter / union_sz, 6), "jaccard",
                  threshold),
        sh, "jaccard")
    return _unordered(cross).unionByName(within)


# All ceilings of the prefix tiers carry a 1e-9 epsilon guard: the FP
# product can land a hair ABOVE an exact integer (0.8*35 =
# 28.000000000000004, 0.8/1.8*63 = 28.000000000000004), and a raw
# ceil then overshoots by one — silently dropping pairs whose score
# is exactly at the threshold. The guard only matters within 1e-9 of
# an integer; true fractional parts of t*n / t/(1+t)*(na+nb) for any
# sane t are orders of magnitude larger. The oracle SQL mirrors the
# same guarded expressions so neither side can drift.
_EPS = 1e-9


def _check_prefix_threshold(fn: str, threshold: float) -> None:
    # at t <= 0 pairs that share no shingle qualify but never meet
    # in a prefix join, and t > 1 drives the prefix length negative
    # (slice() then fails inside a task) — both fail here, before any
    # job runs
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"{fn}: threshold must be in (0, 1], "
                         f"got {threshold}")


def _prefix_sets(df: DataFrame, text_col: str, id_col: str,
                 shingle_n: int, members_cap: int) -> DataFrame:
    """The shared front end of the two prefix-filter tiers: one row
    ``(id, members, h)`` per identical-shingle-set group (id = the
    group's smallest member), ``h`` its shingle keys sorted in the
    rarest-first order, localCheckpointed.

    Shingles hash to ints (md5_long, like MinHash): sorting,
    comparing and shuffling 60-bit bigints is ~8x cheaper than
    32-char hex strings at corpus scale. ``capped_set_groups``
    collapses identical sets; empty-set groups (docs too short to
    shingle) drop after its sizing pass, so that pass never computes
    the shingle map.

    Rarest-first is the classic AllPairs refinement: each key is
    re-encoded as ``min(df, 2^33-1) * 2^30 + hash`` (document
    frequency over the collapsed groups in the HIGH bits, the 30-bit
    hash below), so the sorted prefix of every set holds its RAREST
    shingles and the prefix join probes tiny postings lists instead
    of the boilerplate head. The prefix and positional filters need
    only SOME total order shared by all sets (positions are relative
    to the same sorted order on both sides), and the re-encoding is a
    bijection (df is a function of the hash), so intersection counts
    — and the output — are those of plain hash order. It costs one
    vocabulary-bounded count plus one re-sort shuffle and wins
    whenever hot postings dominate, which is every crawl-like corpus
    (A/B in NOTES.md).
    """
    toks = tokens(F.col(text_col))
    shingled = widen(df).select(
        F.col(id_col),
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("tkey"),
        # unsorted: only the rarest-first order built below is read
        F.array_distinct(
            base_hashes(word_shingles(toks, shingle_n))).alias("hs"),
    )
    groups = capped_set_groups(shingled, id_col, members_cap) \
        .filter(F.size("hs") > 0)
    # localCheckpoint: the sets feed both candidate sides AND both
    # verify fetches — without it the shingle map + grouping run four
    # times. Checkpointed RDDs are released by the ContextCleaner when
    # the DataFrame is garbage-collected.
    sh = (groups.select(F.col("rep").alias("id"), "members",
                        F.col("hs").alias("h"))
          .localCheckpoint(eager=True))
    ex = sh.select("id", F.explode("h").alias("p"))
    freq = ex.groupBy("p").agg(F.count(F.lit(1)).alias("df"))
    resorted = (ex.join(freq, "p")
                .select("id",
                        (F.least(F.col("df"), F.lit(2 ** 33 - 1))
                         * F.lit(2 ** 30) + F.col("p")).alias("k"))
                .groupBy("id")
                .agg(F.array_sort(F.collect_list("k")).alias("h")))
    return sh.drop("h").join(resorted, "id").localCheckpoint(eager=True)


def _verified(cand: DataFrame, sh: DataFrame, score: Column,
              value: str, threshold: float) -> DataFrame:
    """Verify id-only candidate pairs ``(id_a, id_b)`` of a prefix
    tier: re-fetch both sides' keys (``h_a``/``h_b``) and members
    (``m_a``/``m_b``) from ``sh`` by id, and keep the pairs whose
    ``score`` (named ``value``) reaches ``threshold``."""
    a = sh.select(F.col("id").alias("id_a"), F.col("h").alias("h_a"),
                  F.col("members").alias("m_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("h").alias("h_b"),
                  F.col("members").alias("m_b"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .select("m_a", "m_b", score.alias(value))
            .filter(F.col(value) >= threshold))


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iters: int = 50) -> DataFrame:
    """Duplicate-cluster resolution: connected components over a
    near-dup pair graph by iterative min-label propagation (the
    alternating-star family's simple core). Each iteration every node
    adopts the smallest label among itself and its neighbors; a
    cluster's final label is its smallest member id. Converges in
    O(graph diameter) rounds — near-dup clusters are quasi-cliques,
    so 1-3 rounds in practice; ``max_iters`` (>= 1) is a runaway
    guard.

    Scale shape per round: one join edges x labels (shuffle on node
    id) + one min-aggregate; labels are localCheckpointed per round
    so lineage stays flat (no exponential plan growth), and the loop
    exits on a zero `changed` count — a driver-side scalar per round,
    never data.
    """
    if max_iters < 1:  # zero rounds never test convergence
        raise ValueError(f"connected_components: max_iters must be "
                         f">= 1, got {max_iters}")
    sym = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .unionByName(edges.select(F.col(dst).alias("u"),
                                     F.col(src).alias("v"))))
    sym = sym.localCheckpoint(eager=True)
    labels = (sym.select("u").distinct()
              .withColumn("lbl", F.col("u"))
              .localCheckpoint(eager=True))
    changed = 0
    for _ in range(max_iters):
        neighbor_min = (sym
                        .join(labels.select(F.col("u").alias("v"),
                                            F.col("lbl").alias("lbl_v")), "v")
                        .groupBy("u")
                        .agg(F.min("lbl_v").alias("nmin")))
        # carry the OLD label through the round's checkpoint so the
        # convergence test is a filter+count over the materialized
        # rows — the old form re-joined new labels against old labels
        # (a second node-keyed shuffle per round) just to count
        # changes (r15, guide §2.4)
        stepped = (labels.join(neighbor_min, "u", "left")
                   .select("u",
                           F.least("lbl", F.coalesce("nmin", "lbl"))
                           .alias("lbl"),
                           F.col("lbl").alias("__old"))
                   .localCheckpoint(eager=True))
        changed = stepped.filter(F.col("lbl") != F.col("__old")).count()
        labels = stepped.select("u", "lbl")
        if changed == 0:
            break
    if changed != 0:
        # exiting on the iteration cap means labels have NOT reached
        # the fixpoint — silent wrong answers are worse than failing
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iters} iterations ({changed} labels still "
            f"changing); graph diameter exceeds max_iters — raise it")
    return labels.select(F.col("u").alias("doc_id"),
                         F.col("lbl").alias("component_id"))


# Row ceiling for broadcasting the near-dup cluster map back onto the
# corpus: 2M rows ~ 100 MB at two ids per row, inside the
# executor-memory budget.
CLUSTER_MAP_BROADCAST_ROWS = 2_000_000


def near_dup_cluster_map(docs: DataFrame) -> DataFrame:
    """The near-duplicate cluster map of a ``(doc_id, text)`` corpus:
    one ``(doc_id, component_id)`` row per document in a cluster of
    two or more. Pairs are word-trigram Jaccard >= 0.8 from the exact
    prefix tier (:func:`ngram_jaccard_prefix_pairs`); clusters are
    their min-label connected components, so ``component_id`` is the
    cluster's smallest member id. Documents with no near-duplicate
    have no row."""
    pairs = ngram_jaccard_prefix_pairs(docs, "text", "doc_id",
                                       shingle_n=3, threshold=0.8)
    return connected_components(pairs, "id_a", "id_b")


def with_canonical_id(docs: DataFrame) -> DataFrame:
    """``docs`` plus ``canonical_id``: the smallest id of the
    document's near-dup cluster (:func:`near_dup_cluster_map`), or its
    own ``doc_id`` when it has no near-duplicate. The keep-one dedup
    rule is ``canonical_id == doc_id``.

    The cluster map joins back through a size gate, not a forced
    hint. On this testdata the map is cluster-sized (a few % of docs)
    and broadcasting it keeps the join map-side; on a dup-heavy crawl
    corpus 30-50% of documents sit in some cluster, so the map is
    corpus-fraction-sized and an ``F.broadcast`` hint (which bypasses
    autoBroadcastJoinThreshold) would OOM every executor. The map is
    already localCheckpoint-materialized, so its ``count()`` is a
    cheap cached-RDD pass: it broadcasts at up to
    ``CLUSTER_MAP_BROADCAST_ROWS`` rows; above that it joins un-hinted
    and AQE picks the join.
    """
    comp = near_dup_cluster_map(docs)
    if comp.count() <= CLUSTER_MAP_BROADCAST_ROWS:
        comp = F.broadcast(comp)
    return (docs.join(comp, "doc_id", "left")
            .withColumn("canonical_id",
                        F.coalesce("component_id", "doc_id"))
            .drop("component_id"))


def embedding_cosine_pairs(df: DataFrame, vec_col: str, id_col: str,
                           block_col: str, threshold: float = 0.9) -> DataFrame:
    """X2 (embedding tier): near-duplicate pairs by cosine within a
    blocking cell (the coarse quantizer label) — same blocked-join
    shape as ngram_jaccard_pairs.

    The L2 norms are hoisted to the PER-VECTOR projections feeding
    the join (r13): cosine()'s inline norms are interpreted
    higher-order folds and re-ran per candidate PAIR — 2/3 of the
    per-pair work for values that only depend on one side. Same
    doubles (identical fold then the identical n_a*n_b division),
    computed once per vector before the block exchange."""
    base = df.select(
        F.col(id_col), F.col(block_col).alias("block"),
        as_double_array(F.col(vec_col)).alias("v"))
    base = base.withColumn("n", l2_norm(F.col("v")))
    a = base.select("block", F.col(id_col).alias("id_a"),
                    F.col("v").alias("v_a"), F.col("n").alias("n_a"))
    b = base.select("block", F.col(id_col).alias("id_b"),
                    F.col("v").alias("v_b"), F.col("n").alias("n_b"))
    return (a.join(b, "block")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("block", "id_a", "id_b",
                    F.round(dot(F.col("v_a"), F.col("v_b"))
                            / (F.col("n_a") * F.col("n_b")), 6)
                    .alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def segment_dedup_rebuild(df: DataFrame, text_col: str, id_col: str,
                          seg_words: int = 10) -> DataFrame:
    """X1 (sub-document tier): cross-corpus segment dedup in the
    CCNet style — split every document into fixed ``seg_words``-token
    segments, keep only the corpus-wide FIRST instance of each
    distinct segment (ordered by (id, position)), and rebuild the
    document text from its surviving segments.

    This is the dedup granularity between whole-document (dedup_exact)
    and shingle-overlap (minhash/jaccard tiers): boilerplate
    paragraphs repeated across pages are removed while unique prose
    stays. The reference has no sub-document notion; segmentation is
    fixed-width over whitespace tokens so the operator is
    deterministic on any corpus (a newline split drops in for real
    paragraph-structured text).

    Scale shape — three bounded shuffles, no windows over the corpus:
    1. groupBy(segment) min-struct((id, pos)): partial-aggregatable,
       shuffle keyed on segment hash (vocabulary-sized, not
       corpus-sized after map-side combine);
    2. join exploded segments to their first instance (same key);
    3. groupBy(id) to rebuild — collect_list is bounded by the
       per-document segment count, never by corpus size.
    """
    toks = tokens(F.col(text_col))
    n_segs = F.ceil(F.size(toks) / seg_words).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(toks, i * seg_words + 1, seg_words), " "))
    exploded = df.select(F.col(id_col),
                         F.posexplode(segs).alias("seg_idx", "seg"))
    # corpus-first instance as min of the encoded bigint
    # id * 2^20 + seg_idx (lexicographic (id, idx) while documents
    # stay under 2^20 x seg_words tokens). min(struct) is the same
    # semantics but compiles to a SortAggregate — a per-task sort of
    # the exploded segment stream; the bigint min stays a plain
    # partial HashAggregate. Output-identical, so the oracle is
    # untouched.
    occ = F.col(id_col) * F.lit(1 << 20) + F.col("seg_idx")
    firsts = (exploded
              .groupBy("seg")
              .agg(F.min(occ).alias("f_occ")))
    flagged = (exploded.join(firsts, "seg")
               .withColumn("keep", occ == F.col("f_occ")))
    return (flagged
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_segments"),
                 F.sum(F.col("keep").cast("int")).cast("int").alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("keep"),
                                    F.struct(F.col("seg_idx"), F.col("seg"))))),
                         lambda s: s["seg"]),
                     " ").alias("cleaned_text")))

def incremental_minhash_matches(df: DataFrame, text_col: str, id_col: str,
                                is_new_col: str,
                                num_hashes: int = 16, bands: int = 4,
                                shingle_n: int = 3,
                                jaccard_threshold: float = 0.5) -> DataFrame:
    """X2 (incremental tier): daily-batch dedup against an existing
    corpus — candidate pairs exist ONLY between the new batch and the
    corpus, never new x new or corpus x corpus. This is the shape a
    100 TB pipeline actually runs every day: the corpus side's banded
    signatures are the INDEX (in production they are computed once and
    persisted; here both sides derive from one frame split by
    ``is_new_col``), and each incoming batch probes it with a
    band-bucket join whose cost scales with the BATCH, not the corpus.

    Same signature scheme as :func:`minhash_lsh_pairs` (md5 shingle
    hashes -> k minhashes -> b bands), so a batch flagged here agrees
    with what the full-corpus tier would have found; candidates are
    verified with exact Jaccard before anything is dropped. The
    exact-dup collapse optimization composes (collapse each side
    first); omitted here to keep the incremental join the only moving
    part.

    Output: (id_new, id_corpus, jaccard >= threshold) match pairs —
    downstream either drops flagged new docs or routes them to
    cluster assignment.
    """
    rows_per_band = num_hashes // bands
    toks = tokens(F.col(text_col))
    shingled = widen(df).select(
        F.col(id_col), F.col(is_new_col),
        F.array_distinct(base_hashes(word_shingles(toks, shingle_n)))
         .alias("hs"),
    ).filter(F.size("hs") > 0)
    sig = shingled.select(
        id_col, is_new_col, "hs",
        minhash_signature_from_hashes(F.col("hs"), num_hashes).alias("sig"))
    banded = sig.select(
        id_col, is_new_col, "hs",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(F.encode(F.array_join(
                    F.transform(
                        F.slice(F.col("sig"), b * rows_per_band + 1,
                                rows_per_band),
                        lambda v: v.cast("string")),
                    ","), "UTF-8")),
            )
        ).alias("band", "band_hash"),
    # one materialization feeds both probe sides (same rationale as
    # minhash_lsh_pairs: checkpointed RDDs are ContextCleaner-released)
    ).localCheckpoint(eager=True)
    new_side = (banded.filter(F.col(is_new_col))
                .select(F.col(id_col).alias("id_new"),
                        F.col("hs").alias("hs_n"), "band", "band_hash"))
    corpus = (banded.filter(~F.col(is_new_col))
              .select(F.col(id_col).alias("id_corpus"),
                      F.col("hs").alias("hs_c"), "band", "band_hash"))
    return (new_side.join(corpus, ["band", "band_hash"])
            .select(
                "id_new", "id_corpus",
                F.round(
                    F.size(F.array_intersect("hs_n", "hs_c"))
                    / F.size(F.array_union("hs_n", "hs_c")),
                    6).alias("jaccard"))
            .filter(F.col("jaccard") >= jaccard_threshold)
            # dropDuplicates (NOT whole-row distinct): the first()
            # buffer here is a plain double, so this already hash-
            # aggregates, and keeping jaccard OUT of the group keys
            # lets consumers that only read the id pair (crawl
            # refresh stage 2) prune the whole verify expression —
            # whole-row distinct() made jaccard a group key and
            # blocked that pruning (r14, measured on the composed
            # crawl plan).
            .dropDuplicates(["id_new", "id_corpus"]))

def containment_prefix_pairs(df: DataFrame, text_col: str, id_col: str,
                             shingle_n: int = 3,
                             threshold: float = 0.8,
                             members_cap: int = 10_000) -> DataFrame:
    """X2 (containment tier): directional containment
    C(A->B) = |S_A ∩ S_B| / |S_A| >= t — excerpt/quote/boilerplate
    detection. The Jaccard tiers structurally miss this case: a short
    document quoted inside a long one has J ≈ |A|/|B| ≈ 0 while
    C(A->B) = 1.

    Prefix filter, complete for the contained side A: if B covers
    >= ceil(t*|A|) of A's shingles it misses at most |A|-ceil(t*|A|)
    of them, so at least one of A's (|A| - ceil(t*|A|) + 1) smallest
    keys (the shared rarest-first order of :func:`_prefix_sets`)
    appears in B. Candidates join A's
    prefix against the full inverted index of ALL documents' shingles
    on the hash — id-only through the shuffle (sets re-fetched by rep
    for the exact verify), plus the complete length filter
    |B| >= ceil(t*|A|). Therefore the output EQUALS the quadratic
    ground truth, which is what the oracle runs.

    Exact duplicates collapse BEFORE candidate generation (same
    ``capped_set_groups`` machinery as the MinHash and Jaccard
    tiers): identical shingle sets contribute quadratically to both
    the prefix x index join and the verified output on crawl-like
    corpora (the un-collapsed form measured 224 s / 1.1 GB shuffle at
    100k dup-heavy docs; see NOTES.md). Identical sets contain each
    other at exactly 1.0, so within-group ORDERED pairs expand flat
    and cross-group member pairs inherit their representatives'
    directional containment.

    ``threshold`` must lie in (0, 1].
    """
    _check_prefix_threshold("containment_prefix_pairs", threshold)
    sh = _prefix_sets(df, text_col, id_col, shingle_n, members_cap)
    t = F.lit(threshold)
    min_cover = F.ceil(t * F.size("h") - F.lit(_EPS)).cast("int")
    prefix_len = F.size("h") - min_cover + F.lit(1)
    probe = sh.select(F.col("id").alias("id_a"),
                      F.size("h").alias("n_a"),
                      F.explode(F.slice("h", F.lit(1), prefix_len)).alias("p"))
    postings = sh.select(F.col("id").alias("id_b"),
                         F.size("h").alias("n_b"),
                         F.explode("h").alias("p"))
    # shuffle_hash hint: same estimate-blind-broadcast fix as the
    # Jaccard prefix tier — postings are corpus-sized
    cand = (probe.join(postings.hint("shuffle_hash"), "p")
            .filter((F.col("id_a") != F.col("id_b"))
                    & (F.col("n_b")
                       >= F.ceil(t * F.col("n_a") - F.lit(_EPS))))
            .select("id_a", "id_b").distinct())
    contain = F.round(
        F.size(F.array_intersect("h_a", "h_b")) / F.size("h_a"), 6)
    # cross-group pairs are directional (a in A, b in B) and inherit
    # C(repA -> repB); different groups, so a != b always. Identical
    # sets contain each other at exactly 1.0 in BOTH directions, so
    # the within-group pairs are added reversed as well.
    cross, within = _member_pairs(
        _verified(cand, sh, contain, "containment", threshold),
        sh, "containment")
    return cross.unionByName(within).unionByName(
        within.select(F.col("id_b").alias("id_a"),
                      F.col("id_a").alias("id_b"), "containment"))


def duplicate_span_islands(df: DataFrame, text_col: str, id_col: str,
                           n: int = 8,
                           fingerprint: bool = False) -> DataFrame:
    """X1 (span tier): EXACT duplicated-substring detection in the
    ExactSubstr style of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better") at word-n-gram granularity:
    a position is duplicated when the ``n``-token window starting
    there appears verbatim in at least one OTHER document; runs of
    duplicated positions merge (gaps-and-islands) into maximal spans
    ``[span_start, span_end)`` in token coordinates, ready for
    span-level removal.

    This granularity sits between segment_dedup_rebuild (fixed
    segments, first-instance-wins rewrite) and the document-level
    tiers: it finds boilerplate at ARBITRARY offsets — the suffix
    automaton's job, re-expressed relationally so Catalyst owns the
    physical plan.

    Scale shape:
    1. n-gram expansion is a codegen transform + posexplode — no
       Python, no shuffle;
    2. the duplicate-gram set is groupBy(gram) agg(min(id), max(id))
       with ">= 2 distinct docs" stated as min != max: min/max
       partial-aggregate map-side into ONE gram-keyed exchange,
       where count_distinct would plan a second corpus-sized
       (gram, id) dedup exchange first (measured 2.3x the shuffle);
    3. marking duplicated positions is a LEFT SEMI join on the same
       key (AQE broadcasts it when the dup vocabulary is small, the
       common case on real corpora);
    4. island merging is a per-document window over the (sparse)
       duplicated positions only — partition key is the doc id, so
       no single task ever holds more than one document's hits.

    Verified plan shape at sf0.1 (executed, post-AQE): the dup-set
    side broadcasts into a BroadcastHashJoin LeftSemi (no second
    gram-keyed exchange), and the n-gram expansion intentionally
    RECOMPUTES on the probe side (2 Generates, 2 scans) instead of
    persisting: materializing the ~8x-expanded grams at 100 TB costs
    ~800 TB of storage/shuffle, while a second scan+codegen pass is
    pure CPU — the same two-pass choice suffix-array ExactSubstr
    implementations make.

    Measured (20x of sf0.1, 100k docs with half the corpus exact
    replicas — the WORST case, where nearly every gram is
    duplicated): 6.3 s / 132 MB shuffle with the min/max dup-set
    aggregate (the count_distinct form measured 11.5 s / 308 MB —
    the removed (gram, id) pre-dedup exchange was 2.3x the
    remaining shuffle). The shuffle carries the
    gram STRINGS because the oracle comparison is exact; the
    production variant at 100 TB keys both the aggregate and the
    semi join on a 128-bit gram fingerprint instead
    (two independent xxhash64 seeds, ~3x smaller shuffle rows,
    collision odds ~n^2/2^128), the same exact-vs-fingerprint tier
    split the ngram_jaccard operators document.

    ``fingerprint=True`` IS that production variant: the gram key
    becomes ``(xxhash64(window), xxhash64(window, 1))`` — two
    independently-seeded 64-bit hashes of the token-slice ARRAY
    (no string concat on the hot path at all), 16 fixed bytes per
    shuffle row instead of the ~50-byte average gram string. The
    two hash evaluations are pure codegen over the same slice; the
    rest of the plan (one gram-keyed exchange, left-semi mark,
    per-doc island window) is byte-for-byte the exact tier's.
    Output equals the exact tier unless two DISTINCT n-grams
    collide on BOTH seeds (~g^2/2^129 for g distinct grams — at
    100 TB / ~1e13 grams, odds ~1e-13); the exact tier stays the
    oracle ground truth, the fingerprint tier is held to it by
    test + sf2 A/B probe.
    """
    toks = tokens(F.col(text_col))
    # widen: parallelism-only salvage of the local one-row-group
    # scan (r10 NOTES, measured -49% sf0.1); no-op at scale
    base = (widen(df).select(F.col(id_col), toks.alias("toks"))
            .filter(F.size("toks") >= n))
    grams = base.select(
        F.col(id_col),
        F.posexplode(word_shingles(F.col("toks"), n))
        .alias("pos", "gram"))
    if fingerprint:
        # hash AFTER the explode, in a flat projection: the gram
        # string exists only inside the expansion stage (codegen
        # CSE shares it between the two seeds) and is dropped
        # before any exchange. Hashing INSIDE the transform lambda
        # instead (struct of two xxhash64 over F.slice) measured
        # 7x SLOWER at sf2 — higher-order lambdas get no
        # cross-expression CSE, so the slice ran twice per
        # position outside codegen.
        grams = grams.select(
            F.col(id_col), "pos",
            F.xxhash64("gram").alias("h1"),
            F.xxhash64(F.lit(1), "gram").alias("h2"))
        key = ["h1", "h2"]
    else:
        key = ["gram"]
    # ">= 2 distinct docs" as min(id) != max(id): count_distinct
    # plans as TWO corpus-sized exchanges ((gram, id) dedup + gram),
    # while min/max partial-aggregate map-side and shuffle ONE
    # gram-keyed exchange — the heaviest branch of the whole plan
    dup_grams = (grams.groupBy(*key)
                 .agg(F.min(F.col(id_col)).alias("d_lo"),
                      F.max(F.col(id_col)).alias("d_hi"))
                 .filter(F.col("d_lo") != F.col("d_hi"))
                 .select(*key))
    hits = grams.join(dup_grams, key, "left_semi")
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy("pos")
    # interval merge, not consecutive-start merge: a window START at
    # pos covers positions [pos, pos+n), so two duplicated starts
    # belong to one island whenever the NEXT start is <= prev + n
    # (overlap or adjacency). The former pos - row_number() grouping
    # split starts with gap in (1, n] into OVERLAPPING "islands" —
    # caught by the hypothesis differential against the quadratic
    # covered-position reference
    # (test_duplicate_spans_match_quadratic_reference).
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > n, 1).otherwise(0)
    islands = hits.withColumn(
        "grp", F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (islands.groupBy(id_col, "grp")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + n).alias("span_end"))
            .select(F.col(id_col),
                    F.col("span_start").cast("int").alias("span_start"),
                    F.col("span_end").cast("int").alias("span_end"),
                    (F.col("span_end") - F.col("span_start"))
                    .cast("int").alias("n_tokens")))


def duplicate_span_rewrite(df: DataFrame, text_col: str, id_col: str,
                           n: int = 8,
                           fingerprint: bool = False) -> DataFrame:
    """The APPLY step of ExactSubstr dedup (companion to
    :func:`duplicate_span_islands`, the way dedup_canonical_map is to
    cluster detection): rebuild every document with its non-canonical
    duplicated spans REMOVED. A position's ``n``-gram window is
    removed when the gram appears in >= 2 distinct documents and this
    occurrence is not the corpus-first one (lexicographic min over
    (doc_id, pos) — one surviving copy, like Lee et al.'s
    remove-all-but-one). Consecutive removal positions merge into
    maximal spans before token filtering, so overlap is handled once.

    Returns (id, n_orig, n_kept, text_kept); untouched documents pass
    through with their full text, so the output is a drop-in corpus
    replacement.

    Scale shape: the detection side is duplicate_span_islands' plan
    (one gram-keyed exchange carrying (min,max,argmin) partials, AQE
    broadcast of the removal set, per-doc island window over sparse
    hits). The rebuild side adds ONE per-document aggregate
    (collect_list of that doc's removal spans — bounded by doc
    length / n, never corpus-sized) and a left join back to the
    corpus on the id; token filtering is a codegen higher-order
    filter/exists over the spans array, no Python, no extra shuffle.
    """
    toks = tokens(F.col(text_col))
    base = widen(df).select(F.col(id_col), toks.alias("toks"))
    grams = (base.filter(F.size("toks") >= n)
             .select(F.col(id_col),
                     F.posexplode(word_shingles(F.col("toks"), n))
                     .alias("pos", "gram")))
    if fingerprint:
        # same 128-bit tier as duplicate_span_islands(fingerprint=
        # True): hash in the flat post-explode projection (codegen
        # CSE shares the gram string between the seeds; the string
        # never reaches an exchange)
        grams = grams.select(
            F.col(id_col), "pos",
            F.xxhash64("gram").alias("h1"),
            F.xxhash64(F.lit(1), "gram").alias("h2"))
        key = ["h1", "h2"]
    else:
        key = ["gram"]
    # corpus-first occurrence as min over the ENCODED key
    # id * 2^20 + pos (lexicographic (id, pos) order for pos < 2^20,
    # i.e. docs under ~1M tokens — far above any real document).
    # A struct-min would be semantically identical but compiles to a
    # SortAggregate (per-task sort of the 8x-expanded grams); the
    # bigint min is a plain partial-aggregable HashAggregate.
    occ = (F.col(id_col) * F.lit(1 << 20) + F.col("pos"))
    firsts = (grams.groupBy(*key)
              .agg(F.min(F.col(id_col)).alias("d_lo"),
                   F.max(F.col(id_col)).alias("d_hi"),
                   F.min(occ).alias("f_occ")))
    removals = (grams.join(firsts, key)
                .filter((F.col("d_lo") != F.col("d_hi"))
                        & (occ != F.col("f_occ")))
                .select(id_col, "pos"))
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy("pos")
    # same interval merge as duplicate_span_islands (start gap <= n
    # keeps one span). The kept-token OUTPUT is invariant to the
    # merge rule — the downstream filter removes the UNION of
    # [s, e) ranges — this just compacts the span arrays
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > n, 1).otherwise(0)
    spans = (removals
             .withColumn("grp", F.sum(brk).over(
                 w.rowsBetween(Window.unboundedPreceding, 0)))
             .groupBy(id_col, "grp")
             .agg(F.min("pos").alias("s"), (F.max("pos") + n).alias("e")))
    doc_spans = (spans.groupBy(id_col)
                 .agg(F.collect_list(F.struct("s", "e")).alias("sp")))
    joined = base.join(doc_spans, id_col, "left")
    sp = F.coalesce(F.col("sp"),
                    F.expr("CAST(array() AS array<struct<s:int,e:int>>)"))
    indexed = F.transform(
        F.col("toks"), lambda x, i: F.struct(x.alias("w"), i.alias("i")))
    kept = F.filter(
        indexed,
        lambda t: ~F.exists(sp, lambda span: (t["i"] >= span["s"])
                            & (t["i"] < span["e"])))
    return joined.select(
        F.col(id_col),
        F.size("toks").cast("int").alias("n_orig"),
        F.size(kept).cast("int").alias("n_kept"),
        F.array_join(F.transform(kept, lambda t: t["w"]), " ")
        .alias("text_kept"))
