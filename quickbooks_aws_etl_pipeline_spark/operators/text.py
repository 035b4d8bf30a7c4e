"""Text-analysis operators over the ``documents`` table (SURVEY.md
§2.12 X4; driver north-star: language-ID, quality scoring, token
counting, document fingerprinting).

Everything is built-in ``pyspark.sql.functions`` — tokenization,
shingling, hashing, and scoring all run JVM-side inside whole-stage
codegen. No Python UDF appears in any hot path; at 100 TB these are
embarrassingly-parallel narrow maps with zero shuffle.

Hashes are md5-based (not xxhash64) so fingerprints are
engine-independent: the DuckDB oracle computes bit-identical values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .windows import bit_length, bucketed_cumsum

# per-language stopword sets for the n-gram/stopword language-ID
# heuristic; priority order breaks score ties deterministically
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["的", "是", "了"],
}
LANG_PRIORITY = ["en", "es", "de", "fr", "zh"]

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
# Kept to syntax valid in both Java regex and DuckDB's RE2.
BPE_TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (single-space corpus)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def stopword_count(toks: Column, words: list[str]) -> Column:
    """Occurrences (with duplicates) of any of ``words`` in ``toks``."""
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT — the
    engine-independent token hash used by every fingerprint/LSH
    operator (DuckDB mirror: ('0x'||substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15), 16, 10).cast("bigint")


def word_shingles(toks: Column, n: int = 3) -> Column:
    """n-token shingles as space-joined strings; empty array when the
    document has fewer than n tokens (sequence guard).

    Built as a zip_with chain over n parallel slices (one string
    concat per shingle position) instead of the earlier
    transform(sequence) + slice + array_join — identical strings
    (property-checked over the corpus and edge docs for n=2/3/8, r10
    NOTES) but 3.5x faster at n=3 and 1.6x at n=8: the per-element
    slice allocates an array and array_join re-walks it, while
    zip_with emits the concat directly."""
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    sh = F.slice(toks, 1, length)
    for k in range(1, n):
        sh = F.zip_with(sh, F.slice(toks, k + 1, length),
                        lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(toks) >= n, sh).otherwise(
        F.array().cast("array<string>"))


def min_shingle_fingerprint(toks: Column, n: int = 3) -> Column:
    """Winnowing-style document fingerprint: lexicographic min of the
    md5 hex digests over all n-token shingles (a 1-hash MinHash)."""
    return F.array_min(
        F.transform(word_shingles(toks, n), lambda s: F.md5(F.encode(s, "UTF-8")))
    )


def hashed_dim_sign(toks: Column, dims: int) -> Column:
    """Per-token (dim, sign) pairs for the hashing trick: dimension is
    the 60-bit md5 hash mod ``dims``; the sign is bit 30 of the same
    digest (disjoint from the low dim bits for any dims <= 2^30), so
    one md5 per token serves both. The bit is read with an integer
    AND — exact on both engines, unlike a ``/ 2^30`` double division
    which loses ulps above 2^53."""
    def pair(h: Column) -> Column:
        return F.struct(
            (h % dims).cast("int").alias("dim"),
            F.when(h.bitwiseAND(F.lit(1073741824)) == 0, F.lit(1))
             .otherwise(F.lit(-1)).cast("bigint").alias("sgn"),
        )
    # inner transform binds each token's digest to a lambda variable,
    # so the md5 runs ONCE per token even though two struct fields
    # read it
    return F.transform(F.transform(toks, md5_long), pair)


def hash_embedding_rows(df, text_col: str, id_col: str,
                        dims: int = 16):
    """Feature-hashing ("hashing trick") bag-of-words embedding:
    every token adds +-1 to dimension ``md5(token) % dims``. The
    standard vocabulary-FREE text featurizer (Weinberger et al. 2009)
    — no vocab build pass, no broadcast dictionary, which is what
    makes it usable on a 100 TB corpus whose vocabulary doesn't fit
    anywhere.

    Scale shape: ZERO keyed shuffle. The whole operator is a narrow
    per-document codegen map (hash pairs computed once in a child
    projection, folded per dimension) followed by an explode to
    (doc, dim) rows; output cardinality is docs x dims. The sparse
    row form keeps the exact integer weights hashable by the oracle;
    assembling a dense ``array<float>`` column instead is one
    ``transform`` away and stays shuffle-free. The widen() is
    parallelism-only (local one-row-group salvage, no-op at scale —
    the r10 NOTES discovery; measured -47% sf0.1) and never moves
    data BY KEY.
    """
    from ..io import widen
    toks = tokens(F.col(text_col))
    paired = widen(df).select(F.col(id_col),
                              hashed_dim_sign(toks, dims).alias("ds"))
    per_dim = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda d: F.struct(
                d.cast("int").alias("dim"),
                F.aggregate(
                    F.filter(F.col("ds"), lambda p: p["dim"] == d),
                    F.lit(0).cast("bigint"),
                    lambda acc, p: acc + p["sgn"]).alias("weight"),
                F.size(F.filter(F.col("ds"), lambda p: p["dim"] == d))
                 .cast("bigint").alias("n_tokens_dim"),
            )),
        lambda s: s["n_tokens_dim"] > 0)
    return (paired
            .select(F.col(id_col), F.explode(per_dim).alias("e"))
            .select(id_col, F.col("e.dim").alias("dim"),
                    F.col("e.weight").alias("weight"),
                    F.col("e.n_tokens_dim").alias("n_tokens_dim")))


def bpe_token_count(col: Column | str) -> Column:
    """Token count under the BPE-ish regex pre-tokenizer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


def quality_features(text_col: Column) -> dict[str, Column]:
    """Length / stopword-ratio quality features + a composite score.
    All three ratios are exact integer rationals, so the 6-decimal
    rounding is decided in integer arithmetic (round_ratio6 — the
    round-6 tie-safe recipe; ROUND(double, 6) diverges across
    engines on exact ...5 ties, e.g. n_tokens = 128*odd). The score
    0.5*(stop/n) + 0.5*min(n/100, 1) is the single rational
    (100*n_stop + n*min(n, 100)) / (200*n). Oracle mirrors the same
    integers."""
    from ..functions.numeric import round_ratio6
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(text_col, " ", ""))
    n_stop = stopword_count(toks, LANG_STOPWORDS["en"])
    stop_ratio = round_ratio6(n_stop, n_tokens)
    avg_token_len = round_ratio6(n_alpha, n_tokens)
    # widen BEFORE the multiplies: F.size is 32-bit, and non-ANSI
    # Spark silently wraps int*int — the denominator n_tokens*200
    # would overflow at ~10.7M tokens/doc instead of round_ratio6's
    # documented 2^53 ceiling (r6 advisory)
    n_tokens_l = n_tokens.cast("bigint")
    score = round_ratio6(
        n_stop.cast("bigint") * 100
        + n_tokens_l * F.least(n_tokens_l, F.lit(100).cast("bigint")),
        n_tokens_l * 200)
    return {
        "n_tokens": n_tokens,
        "avg_token_len": avg_token_len,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


def lang_scores(text_col: Column) -> dict[str, Column]:
    """Stopword-hit score per candidate language."""
    toks = tokens(text_col)
    return {lang: stopword_count(toks, words)
            for lang, words in LANG_STOPWORDS.items()}


def predict_lang(text_col: Column) -> Column:
    """Argmax over language scores with fixed priority-order
    tie-breaking (same CASE cascade as the oracle SQL)."""
    scores = lang_scores(text_col)
    expr = F.lit(LANG_PRIORITY[-1])
    # build the CASE cascade back-to-front: lang_i wins if its score
    # >= every later language's score
    for i in range(len(LANG_PRIORITY) - 2, -1, -1):
        lang = LANG_PRIORITY[i]
        cond = None
        for later in LANG_PRIORITY[i + 1:]:
            c = scores[lang] >= scores[later]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def repetition_ratio(toks: Column, n: int = 3) -> Column:
    """Fraction of within-document duplicate n-gram shingles
    (1 - distinct/total) — the Gopher/MassiveText-style repetition
    quality rule. 0.0 for docs too short to shingle. Narrow map, no
    shuffle.

    PERFORMANCE CAVEAT: as a single expression, the shingle subtree
    is duplicated into every reference (codegen subexpression
    elimination does NOT reach inside CASE WHEN branches), costing
    ~10x on real corpora — measured 16.6 s vs 1.4 s at sf0.1. Inline
    callers on a hot path should use :func:`repetition_stats` (the
    staged-projection form) instead; this expression form remains
    for composability where the input is already a plain column."""
    from ..functions.numeric import round_ratio6
    sh = word_shingles(toks, n)
    # (total - distinct) / total via the integer round-6 recipe —
    # exact rational, tie-unsafe under ROUND(double, 6)
    return F.when(
        F.size(sh) > 0,
        round_ratio6(F.size(sh) - F.size(F.array_distinct(sh)),
                     F.size(sh)),
    ).otherwise(F.lit(0.0))


def repetition_stats(df: DataFrame, text_col: str,
                     n: int = 3) -> DataFrame:
    """Staged-projection form of :func:`repetition_ratio`: adds
    ``__rep_tot`` / ``__rep_dst`` (shingle count, distinct count) to
    ``df`` via CHAINED selects so the shingle array materializes
    exactly once per row. Catalyst's CollapseProject declines to
    merge the stages because the non-cheap shingle expression feeds
    two consumers — the same inlining hazard the LSH-calibration
    barrier fixed (NOTES round 6), solved here with projections
    alone. Measured 12x faster than the expression form at sf0.1.
    Callers derive the ratio with round_ratio6(__rep_tot - __rep_dst,
    __rep_tot) guarded on __rep_tot > 0."""
    sh = word_shingles(tokens(F.col(text_col)), n)
    staged = df.withColumn("__rep_sh", sh)
    return (staged
            .withColumn("__rep_tot", F.size("__rep_sh"))
            .withColumn("__rep_dst",
                        F.size(F.array_distinct("__rep_sh")))
            .drop("__rep_sh"))


def ngram_topk(df: "DataFrame", text_col: str, n: int = 3,
               k: int = 20) -> "DataFrame":
    """Corpus-wide most-frequent n-grams: shingle (narrow map) ->
    explode -> count -> top-k. The groupBy is the single shuffle and
    gets map-side partial aggregation for free (hash-agg before the
    exchange collapses the Zipf head locally); the top-k is
    TakeOrderedAndProject — per-partition heaps, k rows to the
    driver, no global sort. Ties break on the n-gram string so the
    selected k rows are a deterministic total order.

    At 100 TB the n-gram key space is heavy-tailed; the partial agg
    bounds the shuffle by distinct-grams-per-task, and a count
    cutoff (HAVING n >= min_count) would prune the singleton tail
    before the exchange if the full histogram were the goal."""
    sh = word_shingles(tokens(F.col(text_col)), n)
    return (df
            .select(F.explode(sh).alias("ngram"))
            .groupBy("ngram")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
            .limit(k))


def decontaminate_flags(corpus: "DataFrame", eval_set: "DataFrame",
                        text_col: str, id_col: str,
                        shingle_n: int = 5,
                        min_overlap: int = 1) -> "DataFrame":
    """Benchmark decontamination: flag corpus documents sharing >=
    ``min_overlap`` distinct n-gram shingles with any eval-set
    document (the standard train/test contamination check on LLM
    training corpora).

    Scale shape: the eval set is benchmark-sized (thousands of docs),
    so its exploded shingle table broadcasts; the corpus side is a
    narrow shingle explode -> broadcast semi-ish join -> groupBy(id)
    count. The corpus never shuffles its text, only (id, matched
    shingle hash) pairs after the broadcast filter — at 100 TB that
    is a map-side join plus a count aggregate.
    """
    from pyspark.sql import functions as _F

    def shingle_hashes(df: "DataFrame", id_alias: str) -> "DataFrame":
        return (df.select(
            _F.col(id_col).alias(id_alias),
            _F.explode(_F.array_distinct(_F.transform(
                word_shingles(tokens(_F.col(text_col)), shingle_n),
                lambda s: _F.md5(_F.encode(s, "UTF-8"))))).alias("sh")))

    eval_sh = _F.broadcast(
        shingle_hashes(eval_set, "eval_id").select("sh").distinct())
    hits = (shingle_hashes(corpus, "doc_id")
            .join(eval_sh, "sh")
            .groupBy("doc_id")
            .agg(_F.count(_F.lit(1)).alias("n_overlap")))
    ids = corpus.select(_F.col(id_col).alias("doc_id"))
    return (ids.join(hits, "doc_id", "left")
            .select(
                "doc_id",
                _F.coalesce("n_overlap", _F.lit(0)).cast("bigint")
                .alias("n_overlap"),
                (_F.coalesce("n_overlap", _F.lit(0)) >= min_overlap)
                .alias("contaminated")))


def normalize_text(col: Column) -> Column:
    """Cleaning pass for corpus prep: lowercase, strip URL-shaped
    spans, collapse runs of whitespace, trim. Pure regexp_replace —
    JVM-side, zero shuffle; patterns restricted to syntax valid in
    both Java regex and DuckDB RE2 so the oracle reproduces it."""
    c = F.lower(col)
    c = F.regexp_replace(c, "https?://[^ ]+", " ")
    c = F.regexp_replace(c, "  +", " ")
    return F.trim(c)


def mask_numbers(col: Column, token: str = "<NUM>") -> Column:
    """PII-scrub tier: digit runs replaced with a sentinel token (the
    shape of account/phone/SSN masking; domain-specific patterns slot
    in the same way)."""
    return F.regexp_replace(col, "[0-9]+", token)


def unigram_logprob_scores(df: DataFrame, text_col: str,
                           id_col: str) -> DataFrame:
    """X4 (LM-proxy quality tier): score each document by the mean
    unigram log-probability of its tokens under the corpus's own
    unigram model — the cheap stand-in for the KenLM/perplexity
    filters in web-corpus pipelines (docs of rare-token soup score
    low, stopword-heavy prose scores high).

    Two passes, both linear: (1) vocabulary build — explode + groupBy
    token, map-side combined so the shuffle is vocabulary-sized;
    (2) rescore — explode + hash-join tokens to the vocab (the vocab
    is dimension-sized; Spark broadcasts it under the threshold, and
    at web scale the same join degrades gracefully to shuffle-hash on
    the token key) + groupBy(doc). The corpus token total is NOT a
    separate count() action over the exploded relation — it folds out
    of the vocab aggregate (sum of cnt == token total) as a 1-row
    broadcast cross join, so the vocab shuffle is written once and
    read by both consumers (ReusedExchange) instead of the corpus
    being scanned a third time. Per-token log10 values are rounded
    to 7 decimals and summed as DECIMAL(28,7), so the mean is
    independent of partitioning and engine (summing raw doubles is
    order-dependent; see functions/numeric.exact_sum).
    """
    toke = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    vocab = toke.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("__total"))
    logp = F.round(F.log10(F.col("cnt") / F.col("__total")), 7) \
            .cast("decimal(28,7)")
    # explicit vocab-side broadcast (the NB scoring hazard, r9)
    scored = (toke.join(F.broadcast(vocab), "token")
              .crossJoin(F.broadcast(total))
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.sum(logp).alias("sum_logp")))
    # The 6-decimal mean is decided ENTIRELY in integer arithmetic
    # (half away from zero): sum_logp is an EXACT scale-7 decimal, so
    # sum/n can land exactly on a ...5 tie at the 7th decimal — and
    # ROUND(double, 6) is tie-UNSAFE across engines (Spark rounds the
    # double's SHORTEST decimal repr via BigDecimal.valueOf, DuckDB
    # and Python round the exact binary value; found by the
    # perplexity-buckets hypothesis differential on ['aa']x2 +
    # ['aa'*6,'bb']: -0.0511525/1 -> -0.051153 vs -0.051152). The
    # integer form q_e6 = sign * ((2*|sum_e7|*1e6 + n*1e7) DIV
    # (2*n*1e7)) has no float anywhere near the boundary; the final
    # /1e6 is an exact-integer-over-power-of-ten double division,
    # IEEE-identical everywhere. Oracle mirrors the same integers.
    from ..functions.numeric import round6_decimal_mean_expr
    return scored.select(
        F.col(id_col),
        F.col("n_tokens"),
        round6_decimal_mean_expr("sum_logp", "n_tokens", 7,
                                 "avg_logprob"))

def nb_classifier_eval(df: DataFrame, text_col: str, id_col: str,
                       label_col: str) -> DataFrame:
    """X4 (model-based quality tier): train a multinomial Naive Bayes
    token classifier on the corpus's own labels and report its
    training-set confusion summary per class — the distributed shape
    of the fastText-style quality/language classifiers web-corpus
    pipelines train in-pipeline (the reference has no model anywhere;
    this is north-star surface).

    score(doc, c) = log P(c) + sum_tok log P(tok | c), Laplace-1:
    P(tok|c) = (cnt(tok,c) + 1) / (N_c + V). The dense sum over EVERY
    (token, class) pair is decomposed so nothing dense is ever
    materialized:

        sum_tok log((cnt+1)/(N_c+V))
          = sum_tok log(cnt(tok,c)+1)  -  n_tokens(doc) * log(N_c+V)

    The first term is zero wherever cnt = 0, so it only needs the
    SPARSE (token, class) count table (explode + groupBy, both
    vocabulary-shuffles with map-side combine); the second is a
    per-class constant applied via a broadcast of the class-stats
    table (|classes| rows). Per-token log10 values are rounded to 7
    decimals and summed as DECIMAL(28,7) (engine- and
    partitioning-independent; see unigram_logprob_scores); the argmax
    is max(struct(score, class)) — deterministic tie-break, no window.
    Output is |classes| rows: (label, n_docs, n_correct).
    """
    toke = df.select(F.col(id_col), F.col(label_col),
                     F.explode(tokens(F.col(text_col))).alias("tok"))
    # class stats: doc priors come from the DOC-level frame (a
    # count_distinct over the exploded token relation would shuffle
    # corpus-sized distinct state for a number the un-exploded input
    # already has); token totals fold out of the sparse (token,class)
    # count table rather than re-aggregating the exploded relation.
    # Vocabulary size is a 1-row broadcast (a model constant).
    tok_cls0 = (toke.groupBy("tok", F.col(label_col))
                .agg(F.count(F.lit(1)).alias("cnt")))
    cls = (df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_docs_c"))
           .join(tok_cls0.groupBy(label_col)
                 .agg(F.sum("cnt").alias("n_tok_c")), label_col))
    vocab_total = (tok_cls0.agg(
        F.count_distinct("tok").alias("__v"))
        .crossJoin(F.broadcast(df.agg(F.count(F.lit(1)).alias("__docs")))))
    dec = lambda c: F.round(c, 7).cast("decimal(28,7)")  # noqa: E731
    cand = (cls.crossJoin(F.broadcast(vocab_total))
            .select(F.col(label_col).alias("cand"),
                    (dec(F.log10(F.col("n_docs_c").cast("double")
                                 / F.col("__docs")))).alias("log_prior"),
                    (dec(F.log10((F.col("n_tok_c") + F.col("__v"))
                                 .cast("double")))).alias("log_denom")))
    # sparse term: only (token, class) pairs that occur in training.
    # The broadcast hint on the VOCAB side is load-bearing (the
    # nb_binary_margin_e7 hazard, measured r9 at sf8): Generate keeps
    # its child's sizeInBytes, so Catalyst underestimates the
    # exploded token relation and would broadcast the CORPUS side
    # once real token volume passes the threshold — a driver OOM at
    # scale. The hint trades the former ReusedExchange of tok_cls0
    # (vocab-sized, cheap to recompute) for a guaranteed
    # dictionary-sized build.
    tok_cls = tok_cls0.withColumnRenamed(label_col, "cand")
    sparse = (toke.join(F.broadcast(tok_cls), "tok")
              .groupBy(F.col(id_col), "cand")
              .agg(F.sum(dec(F.log10(F.col("cnt") + F.lit(1.0))))
                   .alias("s_sparse")))
    doc_n = toke.groupBy(id_col, label_col).agg(
        F.count(F.lit(1)).alias("n_tokens"))
    scored = (doc_n.crossJoin(F.broadcast(cand))
              .join(sparse, [id_col, "cand"], "left")
              .select(
                  F.col(id_col), F.col(label_col),
                  F.col("cand"),
                  (F.coalesce(F.col("s_sparse"), F.lit(0).cast("decimal(28,7)"))
                   - F.col("n_tokens") * F.col("log_denom")
                   + F.col("log_prior")).alias("score")))
    pred = (scored.groupBy(id_col, label_col)
            .agg(F.max(F.struct(F.col("score"), F.col("cand"))).alias("m"))
            .select(F.col(id_col), F.col(label_col),
                    F.col("m.cand").alias("predicted")))
    return (pred.groupBy(F.col(label_col).alias("label"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("predicted") == F.col(label_col))
                       .cast("int")).cast("bigint").alias("n_correct")))

def nb_binary_margin_e7(train: DataFrame, score: DataFrame,
                        text_col: str, id_col: str,
                        pos_col: str) -> DataFrame:
    """Binary Naive Bayes TRAIN -> SCORE split of the NB tier: fit
    the multinomial token model on ``train`` only (two classes from
    boolean ``pos_col``), then emit each ``score`` doc's decision
    margin — log-odds score(pos) - score(neg) — as an EXACT e7
    integer. This is the trained-model half of the classifier loop
    (pipeline_classifier_loop): the eval tier grades these margins
    on held-out docs, closing train -> score -> AUC/calibration/
    operating-point end-to-end on an in-repo model.

    Same sparse decomposition and exactness recipe as
    nb_classifier_eval (per-token log10 rounded e7, summed as
    DECIMAL(28,7) — partitioning-independent): the margin is a
    difference of two exact decimals, scale 7, so margin*1e7 casts
    to bigint losslessly. Tokens unseen in training contribute
    log10(0+1) = 0 to both classes (Laplace-1), i.e. nothing to the
    margin — the correct NB treatment, no OOV special-casing.

    Scale shape: the model is vocabulary-sized ((token, class)
    counts — one map-side-combining shuffle over the TRAIN split);
    scoring joins the score-split tokens against it (vocab-keyed
    exchange) and the 2-row class table broadcasts. Requires both
    classes present in ``train`` (a one-class training split has no
    decision margin to emit).

    Output: (id_col, is_pos, margin_e7).
    """
    toke_tr = train.select(F.col(pos_col).alias("__cand"),
                           F.explode(tokens(F.col(text_col)))
                           .alias("tok"))
    tok_cls = (toke_tr.groupBy("tok", "__cand")
               .agg(F.count(F.lit(1)).alias("cnt")))
    cls = (train.groupBy(F.col(pos_col).alias("__cand"))
           .agg(F.count(F.lit(1)).alias("n_docs_c"))
           .join(tok_cls.groupBy("__cand")
                 .agg(F.sum("cnt").alias("n_tok_c")), "__cand"))
    vt = (tok_cls.agg(F.count_distinct("tok").alias("__v"))
          .crossJoin(F.broadcast(
              train.agg(F.count(F.lit(1)).alias("__docs")))))
    dec = lambda c: F.round(c, 7).cast("decimal(28,7)")  # noqa: E731
    cand = (cls.crossJoin(F.broadcast(vt))
            .select("__cand",
                    dec(F.log10(F.col("n_docs_c").cast("double")
                                / F.col("__docs"))).alias("log_prior"),
                    dec(F.log10((F.col("n_tok_c") + F.col("__v"))
                                .cast("double"))).alias("log_denom")))
    toke_ev = score.select(F.col(id_col),
                           F.explode(tokens(F.col(text_col)))
                           .alias("tok"))
    # the broadcast hint on the VOCAB side is load-bearing: Catalyst
    # estimates the exploded eval-token relation at its pre-explode
    # scan size (Generate keeps the child's sizeInBytes), so without
    # the hint the planner broadcasts the CORPUS-derived side once
    # the real token volume passes the threshold — measured 426 MiB
    # broadcast + driver OOM at sf8 (r9 probe) vs a vocab-sized
    # build with the hint. At 100 TB the unhinted plan is a driver
    # death; the hinted one is a dictionary broadcast.
    sparse = (toke_ev.join(F.broadcast(tok_cls), "tok")
              .groupBy(F.col(id_col), "__cand")
              .agg(F.sum(dec(F.log10(F.col("cnt") + F.lit(1.0))))
                   .alias("s_sparse")))
    doc_n = score.select(
        F.col(id_col), F.col(pos_col).alias("is_pos"),
        F.size(tokens(F.col(text_col))).cast("bigint")
        .alias("n_tokens"))
    scored = (doc_n.crossJoin(F.broadcast(cand))
              .join(sparse, [id_col, "__cand"], "left")
              .select(F.col(id_col), "is_pos", "__cand",
                      (F.coalesce(F.col("s_sparse"),
                                  F.lit(0).cast("decimal(28,7)"))
                       - F.col("n_tokens") * F.col("log_denom")
                       + F.col("log_prior")).alias("sc")))
    return (scored.groupBy(F.col(id_col), "is_pos")
            .agg((F.sum(F.when(F.col("__cand"), F.col("sc"))
                        .otherwise(-F.col("sc"))) * F.lit(10_000_000))
                 .cast("bigint").alias("margin_e7")))


# PII patterns restricted to syntax with identical semantics in Java
# regex and DuckDB RE2: character classes + greedy counted repeats,
# no alternation (leftmost-longest vs backtracking would disagree),
# no backreferences.
PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
PII_IPV4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
PII_PHONE = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"


def pii_scrub(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """X4 (compliance tier): PII scrub — email, IPv4, and
    phone-shaped digit runs masked with typed sentinels, with per-doc
    hit counts for audit/routing (docs above a PII threshold go to
    quarantine, not training). Pure regexp_replace /
    regexp_extract_all inside whole-stage codegen; counts are taken
    on the ORIGINAL text per pattern (order-independent), masking is
    applied email -> ip -> phone so earlier sentinels can't be eaten
    by the greedy phone run."""
    t = F.col(text_col)
    scrubbed = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, PII_IPV4, "<IP>")
    scrubbed = F.regexp_replace(scrubbed, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col),
        scrubbed.alias("scrubbed_text"),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0)))
        .alias("n_email"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IPV4), F.lit(0)))
        .alias("n_ipv4"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), F.lit(0)))
        .alias("n_phone"))


def cooccurrence_pmi(df: DataFrame, text_col: str, doc_col: str,
                     min_count: int = 5, k: int = 30) -> DataFrame:
    """Top-k token associations by pointwise mutual information over
    a ±2-token window — the classic embedding-prep / collocation
    primitive (word2vec's co-occurrence statistics, phrase mining).

    Scale shape: skip-gram pairs expand INLINE per document (nested
    transform over the token array + slice — codegen, no positional
    self-join, which at 100 TB would shuffle the exploded token
    relation twice); both the pair counts and the unigram counts are
    vocabulary-bounded aggregates with map-side combine, and the
    corpus total attaches as a 1-row broadcast. PMI is computed from
    identical integer counts in both engines with the same operand
    order, rounded to 6 places (the engine-wide convention that
    absorbs libm last-ulp drift in log10).
    """
    toks = tokens(F.col(text_col))
    pair_expr = F.explode(F.flatten(F.expr(
        f"transform(split({text_col}, ' '), (x, i) -> "
        f"  transform(slice(split({text_col}, ' '), i + 2, 2), y -> "
        f"    named_struct('w1', least(x, y), 'w2', greatest(x, y))))"
    ))).alias("p")
    pair_counts = (df.select(pair_expr)
                   .select(F.col("p.w1").alias("w1"),
                           F.col("p.w2").alias("w2"))
                   .groupBy("w1", "w2")
                   .agg(F.count(F.lit(1)).alias("c_xy"))
                   .filter(F.col("c_xy") >= min_count))
    uni = (df.select(F.explode(toks).alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    total = df.select(F.explode(toks).alias("t")).agg(
        F.count(F.lit(1)).alias("n_tok"))
    u1 = uni.select(F.col("t").alias("u1_t"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("t").alias("u2_t"), F.col("c").alias("c_y"))
    scored = (pair_counts
              .join(u1, F.col("w1") == F.col("u1_t"))
              .join(u2, F.col("w2") == F.col("u2_t"))
              .crossJoin(F.broadcast(total)))
    pmi = F.round(F.log10(
        (F.col("c_xy").cast("double") * F.col("n_tok").cast("double"))
        / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))), 6)
    return (scored.select("w1", "w2", "c_xy", pmi.alias("pmi"))
            .orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
            .limit(k))


def bigram_cond_logprob_scores(df: DataFrame, text_col: str,
                               id_col: str) -> DataFrame:
    """X4 (LM-proxy quality tier, order-sensitive): score each
    document by the mean CONDITIONAL bigram log-probability
    log10(c(w1 w2) / c(w1)) of its adjacent token pairs under the
    corpus's own counts — one modeling notch above
    unigram_logprob_scores: a bag-of-words shuffle of a fluent
    document keeps its unigram score but craters here, which is what
    makes the bigram tier the cheap fluency (not just vocabulary)
    filter of web-corpus pipelines.

    Linear passes only, every shuffle vocabulary-bounded: bigram
    counts (explode 2-shingles + groupBy, map-side combined), unigram
    counts (same on tokens), then the rescore joins each bigram
    occurrence to both count tables on token-hash keys and aggregates
    per document. MLE needs no smoothing here because every scored
    bigram exists in the counts it was counted into (c12 >= 1,
    c1 >= c12 > 0). Per-pair log10 values are rounded to 7 decimals
    and summed as DECIMAL(28,7) — partitioning- and
    engine-independent (see unigram_logprob_scores). Documents with
    fewer than two tokens have no bigrams and drop out.
    """
    from ..functions.numeric import round6_decimal_mean_expr
    toks = tokens(F.col(text_col))
    sh = df.select(F.col(id_col),
                   F.explode(word_shingles(toks, 2)).alias("bg"))
    bgc = sh.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    uni = (df.select(F.explode(toks).alias("token"))
           .groupBy("token").agg(F.count(F.lit(1)).alias("c1")))
    left_tok = F.element_at(F.split(F.col("bg"), " "), 1).alias("token")
    logp = (F.round(F.log10(F.col("c12").cast("double") / F.col("c1")), 7)
            .cast("decimal(28,7)"))
    return (sh.join(bgc, "bg")
            .select(F.col(id_col), F.col("c12"), left_tok)
            .join(uni, "token")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum(logp).alias("sum_logp"))
            .select(F.col(id_col), F.col("n_bigrams"),
                    # integer half-away mean — same tie-safe recipe
                    # (and rationale) as unigram_logprob_scores
                    round6_decimal_mean_expr("sum_logp", "n_bigrams",
                                             7, "avg_cond_logprob")))


GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MIN_STOP_DISTINCT = 2
GOPHER_MIN_ALPHA_RATIO = 0.8


def gopher_quality_rules(df: DataFrame, text_col: str,
                         id_col: str) -> DataFrame:
    """Gopher-style RULE-BASED quality gate (Rae et al. 2021 §A1.1,
    adapted to this corpus): the conjunctive filter web pipelines run
    before any model-based scoring. Distinct from quality_features'
    composite score — this emits each rule's verdict so a curation
    run can report WHY documents dropped:

    * word count in [20, 100k]
    * mean word length in [3, 10]
    * >= 2 distinct stopwords present (the Gopher "stop word" rule)
    * >= 80% of tokens purely alphabetic

    Everything is codegen array/string expressions over the token
    array — zero shuffle, zero Python; integer sums and a single
    rounded division per ratio keep both engines bit-identical."""
    from ..functions.numeric import round_ratio6
    toks = tokens(F.col(text_col))
    n_words = F.size(toks)
    sum_len = F.aggregate(F.transform(toks, F.length),
                          F.lit(0), lambda a, v: a + v)
    # integer round-6 ratios (round-6 tie-safe recipe; the boundary
    # rules below compare the ROUNDED values, so cross-engine
    # agreement of the rounding IS the gate's correctness)
    mean_len = round_ratio6(sum_len, n_words)
    n_stop_distinct = sum(
        (F.array_contains(toks, w).cast("int")
         for w in LANG_STOPWORDS["en"]),
        F.lit(0))
    n_alpha_tok = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$")))
    alpha_ratio = round_ratio6(n_alpha_tok, n_words)
    ok_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_len = ((mean_len >= GOPHER_MIN_MEAN_LEN)
              & (mean_len <= GOPHER_MAX_MEAN_LEN))
    ok_stop = n_stop_distinct >= GOPHER_MIN_STOP_DISTINCT
    ok_alpha = alpha_ratio >= GOPHER_MIN_ALPHA_RATIO
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        n_stop_distinct.alias("n_stop_distinct"),
        alpha_ratio.alias("alpha_ratio"),
        ok_words.alias("ok_words"),
        ok_len.alias("ok_mean_len"),
        ok_stop.alias("ok_stopwords"),
        ok_alpha.alias("ok_alpha"),
        (ok_words & ok_len & ok_stop & ok_alpha).alias("passes"))


def bpe_train_merges(df: DataFrame, text_col: str,
                     n_merges: int = 10) -> "DataFrame":
    """Distributed BPE tokenizer TRAINING (Sennrich et al. 2016),
    the way production tokenizer pipelines actually run it: the
    corpus is touched ONCE (word-frequency aggregate — the only
    data-sized shuffle); every merge iteration then operates on the
    weighted WORD VOCABULARY, which is bounded by distinct-word count
    regardless of corpus size (the 100 TB corpus and the 100 MB
    corpus have the same ~10M-row vocab). Per step: adjacent-symbol
    pair counts (vocab-bounded groupBy, map-side combined), a 1-ROW
    argmax collect (the model update — never data), and a literal
    string replace applied across the vocab (padded-space
    representation; ``replace`` scans the original string left to
    right without rescanning replacements in both Spark and DuckDB,
    so non-overlapping merge application is engine-identical). The
    vocab frame is localCheckpoint'd per step so lineage stays flat.

    Tie-break: highest count, then lexicographically smallest pair —
    fully deterministic, no RNG. Word symbols start as characters
    plus a terminal '</w>'. Returns the merge table
    (step, pair, new_symbol, pair_count) — n_merges rows, the
    trained model.
    """
    spark = df.sparkSession
    words = (df.select(F.explode(tokens(F.col(text_col))).alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    seq0 = F.concat(
        F.lit(" "),
        F.array_join(F.split(F.col("word"), ""), " "),
        F.lit(" </w> "))
    vocab = words.select("word", "cnt", seq0.alias("seq")) \
        .localCheckpoint(eager=False)
    merges = []
    for step in range(1, n_merges + 1):
        pair_col = F.explode(F.expr(
            "transform(sequence(1, size(split(trim(seq), ' ')) - 1), "
            "j -> concat(element_at(split(trim(seq), ' '), j), ' ', "
            "element_at(split(trim(seq), ' '), j + 1)))")).alias("pair")
        pairs = (vocab.select(F.col("cnt"), pair_col)
                 .groupBy("pair").agg(F.sum("cnt").alias("c")))
        best = pairs.orderBy(F.desc("c"), F.asc("pair")).limit(1).collect()
        if not best:
            break
        pair, c = best[0]["pair"], int(best[0]["c"])
        new_sym = pair.replace(" ", "")
        merges.append((step, pair, new_sym, c))
        vocab = (vocab.select(
            "word", "cnt",
            F.expr(f"replace(seq, ' {pair} ', ' {new_sym} ')").alias("seq"))
            .localCheckpoint(eager=False))
    return spark.createDataFrame(
        merges, "step int, pair string, new_symbol string, pair_count bigint")


def bpe_apply_token_counts(df: DataFrame, text_col: str, id_col: str,
                           n_merges: int = 10) -> "DataFrame":
    """The APPLY step of the BPE tokenizer (companion to
    :func:`bpe_train_merges`): tokenize every document with the
    trained merge table and report per-document BPE token counts.

    The merge table IS the model — n_merges rows, collected to the
    driver (model-sized, never data). Application replays the merges
    as a STATIC chain of literal ``replace`` calls (same padded-space
    representation and non-rescanning left-to-right semantics the
    trainer pinned on both engines), evaluated once per DISTINCT
    word: the expensive string work is vocabulary-bounded exactly
    like training, and documents get their counts through a
    word-level join (broadcast-able vocab in the common case) plus
    one per-doc aggregate. No Python in the data path.
    """
    merges = (bpe_train_merges(df, text_col, n_merges)
              .orderBy("step").collect())  # the model: n_merges rows
    doc_words = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word"))
    seq = F.concat(F.lit(" "),
                   F.array_join(F.split(F.col("word"), ""), " "),
                   F.lit(" </w> "))
    for m in merges:
        seq = F.replace(seq, F.lit(f" {m['pair']} "),
                        F.lit(f" {m['new_symbol']} "))
    vocab_sym = (doc_words.select("word").distinct()
                 .select("word",
                         F.size(F.split(F.trim(seq), " ")).alias("n_sym")))
    # explicit vocab-side broadcast (the NB scoring hazard, r9)
    return (doc_words.join(F.broadcast(vocab_sym), "word")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_words"),
                 F.sum("n_sym").cast("int").alias("n_bpe_tokens")))


def zipf_head(df, text_col: str, id_col: str, k: int = 100):
    """Corpus Zipf curve: the top-k rank-frequency head plus the
    fitted Zipf exponent (OLS slope of log10 freq on log10 rank over
    the head) — the standard corpus-health diagnostic (a slope far
    from ~-1 flags synthetic/boilerplate-heavy data).

    The global rank is :func:`.windows.bucketed_cumsum` on a DATA-
    DEPENDENT key: bucket = -(bit length of the frequency) (exact
    integer, monotonic in descending freq — no double log anywhere
    near an ordering decision). The bucket histogram is at most 64
    rows; a ``stop_at`` of k prunes buckets whose offset already reaches k
    BEFORE any sort runs — in particular the giant freq=1 tail bucket
    that holds most of a real vocabulary never reaches a window
    (ties: freq desc, token asc).

    The slope divides two DECIMAL-exact aggregates (per-element
    log10s rounded to 9 decimals then summed as DECIMAL(28,9)) as
    doubles in the same operand order on both engines — no
    order-dependent float summation.
    """
    vc = (df.select(F.explode(tokens(F.col(text_col))).alias("token"))
          .groupBy("token").agg(F.count(F.lit(1)).alias("freq")))
    ranked, _ = bucketed_cumsum(
        vc, -bit_length(F.col("freq")), [F.desc("freq"), F.col("token")],
        stop_at=lambda _totals: k)
    top = (ranked.select(F.col("cum_rows").cast("int").alias("rnk"),
                         "token", "freq")
           .filter(F.col("rnk") <= k))
    d9 = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    lx = d9(F.log10(F.col("rnk").cast("double")))
    ly = d9(F.log10(F.col("freq").cast("double")))
    # one pass over the (<= k-row) head: the slope's sums and the head
    # rows themselves come out of the same global aggregate, so the
    # ranked frame (and its window) is read once, not once per branch
    sl = top.agg(
        F.collect_list(F.struct("rnk", "token", "freq")).alias("head"),
        F.count(F.lit(1)).cast("decimal(28,9)").alias("n"),
        F.sum(lx).alias("sx"), F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"), F.sum(lx * lx).alias("sxx"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) \
        .cast("double")
    return sl.select(F.inline("head"),
                     F.round(num / den, 6).alias("zipf_slope"))
