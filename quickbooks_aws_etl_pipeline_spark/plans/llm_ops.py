"""Qkeys for JSON/struct/explode/UDF ops (SURVEY.md §2.8-2.9, §2.11)
and the LLM-data-pipeline north-star operators (§2.12): dedup family,
similarity search, text analytics, multimodal plumbing.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from ..operators.dedup import (embedding_cosine_pairs, exact_dedup,
                               minhash_lsh_pairs, near_dup_cluster_map,
                               ngram_jaccard_pairs,
                               ngram_jaccard_prefix_pairs, normalized_dedup,
                               simhash_signatures)
from ..operators.multimodal import binary_meta, decode_metadata
from ..operators.similarity import (cosine_topk, fetch_query_vector,
                                    hyperplane_lsh_pairs)
from ..operators.text import (bpe_token_count, decontaminate_flags,
                              lang_scores, min_shingle_fingerprint,
                              predict_lang, quality_features,
                              repetition_ratio, tokens)
from ..functions.numeric import exact_sum
from .queries import register


# --- §2.9 un-nesting / §2.8 json / §2.11 udf -------------------------------

@register("explode_lines")
def explode_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: array -> rows with parent columns replicated — the
    JournalEntry/Purchase Line explode (qb_jounalentry.py:108-110).
    posexplode over the embedding vector: one row per component,
    header (vec_id, label) carried along."""
    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return emb.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("pos", "component"))


@register("flatten_struct")
def flatten_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: dotted struct access (`VendorRef.value` style,
    qb_bills.py:81-84): build a struct then select nested fields by
    dotted path."""
    ev = read_table(spark, sf_dir, "events").withColumn(
        "meta", F.struct(F.col("event_type"), F.col("value")))
    return ev.select(
        "event_id",
        F.col("meta.event_type").alias("meta_event_type"),
        F.col("meta.value").alias("meta_value"))


@register("json_extract_props")
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/F4: typed extraction from the JSON props column
    (events.props = {"k": int}), then aggregate per extracted key."""
    ev = read_table(spark, sf_dir, "events")
    parsed = ev.withColumn("k", F.from_json("props", "k INT").getField("k"))
    return (parsed.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 exact_sum(F.col("value")).alias("sum_value")))


@register("json_from_string")
def json_from_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: row-level from_json (qb_jounalentry.py:105 json.loads)."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return ev.select(
        "event_id", "props",
        F.from_json("props", "k INT").getField("k").alias("prop_k"))


@register("json_to_string")
def json_to_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: stringify a struct to JSON — the reference keeps Line /
    LinkedTxn as JSON strings (qb_bills.py:107, qb_jounalentry.py:104)."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        F.to_json(F.struct(F.col("doc_id"), F.col("lang"))).alias("payload_json"))


@register("udf_pandas_scalar")
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11: vectorized pandas UDF (Arrow batches) — the engine's
    replacement for the reference's Series.apply lambdas
    (qb_purchases.py:100-101). Computes non-space char count in
    Python, verified against the same expression in SQL."""
    @F.pandas_udf("long")
    def dense_len(s: pd.Series) -> pd.Series:
        return s.str.replace(" ", "", regex=False).str.len().astype("int64")

    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", dense_len(F.col("text")).alias("dense_len"))


# --- §2.12 X4: text analytics ---------------------------------------------

@register("text_tokenize_count")
def text_tokenize_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: corpus word count — explode(split) -> groupBy(token).
    Map-side partial aggregation bounds the shuffle by vocabulary
    size, not corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    return (docs
            .select(F.explode(tokens(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n_occurrences")))


@register("text_hash_embedding")
def text_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/X3 bridge: feature-hashing ("hashing trick") bag-of-words
    embedding — every token adds +-1 (md5 bit 30) to dimension
    md5 % 16. The vocabulary-FREE featurizer: no vocab build pass, no
    broadcast dictionary, so it runs on a 100 TB corpus whose
    vocabulary fits nowhere. ZERO shuffle: one narrow codegen map per
    document + an explode to sparse (doc, dim, weight) rows."""
    from ..operators.text import hash_embedding_rows
    docs = read_table(spark, sf_dir, "documents")
    return hash_embedding_rows(docs, "text", "doc_id", dims=16)


@register("text_zipf_curve")
def text_zipf_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 corpus stats: the top-100 Zipf rank-frequency head plus the
    fitted Zipf exponent. Global rank rides the distributed-histogram
    idiom on the frequency's BIT LENGTH (exact integer bucket key,
    monotonic in freq) with whole-bucket pruning, so the freq=1 tail
    bucket — most of a real vocabulary — never reaches a sort. Slope
    = double division of DECIMAL-exact log-sums, same operand order
    on both engines."""
    from ..operators.text import zipf_head
    docs = read_table(spark, sf_dir, "documents")
    return zipf_head(docs, "text", "doc_id", k=100)


@register("text_ngram_topk")
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: corpus-wide top-k frequent trigrams (the tokenizer-prep /
    corpus-stats histogram head): shingle -> explode -> partial-agg
    count -> TakeOrderedAndProject. Deterministic tie-break on the
    n-gram string."""
    from ..operators.text import ngram_topk
    docs = read_table(spark, sf_dir, "documents")
    return ngram_topk(docs, "text", n=3, k=20)


@register("text_quality_score")
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: per-document quality features (length, stopword ratio,
    composite score) — all JVM-side expressions."""
    docs = read_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id", "lang",
        feats["n_tokens"].alias("n_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["quality_score"].alias("quality_score"))


@register("text_lang_id")
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: stopword-heuristic language ID, confusion counts vs the
    labeled lang column."""
    docs = read_table(spark, sf_dir, "documents")
    pred = docs.withColumn("pred_lang", predict_lang(F.col("text")))
    return (pred.groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n_docs")))


@register("text_token_count_bpe")
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: BPE-ish regex pre-tokenizer token counts."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"))


@register("doc_fingerprint")
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: winnowing-style fingerprint — min md5 over 3-token
    shingles (md5-based: oracle reproduces bit-for-bit)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        min_shingle_fingerprint(tokens(F.col("text")), 3).alias("fingerprint"))


@register("text_repetition_filter")
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: Gopher-style repetition quality rule — fraction of
    within-document duplicate trigram shingles; docs above 0.2 are
    dropped by the keep flag. Narrow map, no shuffle. Uses the
    staged-projection repetition_stats so the shingle array
    materializes once per row (the expression form re-expands it
    into every reference — a CASE-WHEN subexpression-elimination
    blind spot measured at 10x: 26.6 s -> 1.4 s at sf0.1)."""
    from ..functions.numeric import round_ratio6
    from ..operators.text import repetition_stats
    docs = read_table(spark, sf_dir, "documents")
    stats = repetition_stats(docs, "text", 3)
    ratio_src = (stats
                 .withColumn(
                     "rep_ratio",
                     F.when(F.col("__rep_tot") > 0,
                            round_ratio6(F.col("__rep_tot")
                                         - F.col("__rep_dst"),
                                         F.col("__rep_tot")))
                     .otherwise(F.lit(0.0))))
    return ratio_src.select(
        "doc_id", "rep_ratio",
        (F.col("rep_ratio") <= 0.2).alias("keep"))


@register("decontaminate_ngram_overlap")
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/X2: benchmark decontamination — flag corpus docs sharing
    any 5-gram with the eval slice (doc_id % 20 == 0 stands in for a
    held-out benchmark). Eval shingles broadcast; the corpus never
    shuffles text, only matched (id, shingle-hash) pairs."""
    docs = read_table(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 20 == 0)
    return decontaminate_flags(docs, eval_set, "text", "doc_id",
                               shingle_n=5, min_overlap=1)


@register("mixture_epoch_upsample")
def mixture_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-recipe tier: FRACTIONAL epoch upsampling — "2.5 epochs of
    src0/src1, half an epoch of src2, one of everything else". Every
    doc emits floor(f) copies plus one more iff md5(doc) lands under
    frac(f) (the comparison is integer ppm vs an integer literal, so
    the boundary is engine-exact); expansion is a narrow
    explode(sequence) inside codegen — no shuffle until the
    source-level rollup, which is 20 groups. Deterministic: the same
    doc gets the same copy count on every run, engine, and retry."""
    docs = read_table(spark, sf_dir, "documents")
    # repeat factors as (whole, frac_ppm) so no float touches the draw
    whole = (F.when(F.col("source").isin("src0", "src1"), F.lit(2))
             .when(F.col("source") == "src2", F.lit(0))
             .otherwise(F.lit(1)))
    frac_ppm = (F.when(F.col("source").isin("src0", "src1"),
                       F.lit(500_000))
                .when(F.col("source") == "src2", F.lit(500_000))
                .otherwise(F.lit(0)))
    from ..operators.text import md5_long
    draw = md5_long(F.concat(F.lit("ep:"),
                             F.col("doc_id").cast("string"))) % 1_000_000
    base = docs.select(
        "source", "doc_id",
        (whole + (draw < frac_ppm).cast("int")).alias("copies"))
    # the actual expansion: explode a GUARDED sequence (sequence(1,0)
    # would generate a descending [1,0] — the empty-array guard is
    # load-bearing), one output row per emitted copy, still narrow
    emitted = (base.select(
        "source",
        F.explode(F.when(F.col("copies") > 0,
                         F.sequence(F.lit(1), F.col("copies")))
                  .otherwise(F.array().cast("array<int>")))
        .alias("epoch_copy"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_emitted")))
    stats = (base.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum((F.col("copies") == 0).cast("bigint"))
                  .alias("n_dropped")))
    return (stats.join(emitted, "source", "left")
            .select("source", "n_docs",
                    F.coalesce(F.col("n_emitted"), F.lit(0).cast("bigint"))
                    .alias("n_emitted"),
                    "n_dropped"))


@register("pipeline_corpus_curation")
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation parity key: the stages a real pretraining
    corpus goes through, composed in ONE lazy plan — normalize
    (dedup_fuzzy's key), exact-dedup to the lowest-id keeper, quality
    gate (>= 10 tokens), content-hash split assignment
    (split_train_test semantics), rolled up to per-(split, lang) doc
    and token counts. Proves the operators COMPOSE: Catalyst fuses
    the normalize+gate maps into the dedup shuffle's map side, the
    keeper join is doc_id-keyed, and the final rollup is
    vocabulary-bounded. Every stage reuses the registry semantics the
    sibling keys pin individually."""
    from ..operators.dedup import normalized_text_key
    from ..operators.sampling import hash_bucket
    from ..operators.text import tokens
    docs = read_table(spark, sf_dir, "documents")
    keepers = (docs
               .select(normalized_text_key(F.col("text")).alias("nk"),
                       "doc_id")
               .groupBy("nk").agg(F.min("doc_id").alias("doc_id")))
    b = hash_bucket(F.col("doc_id"))
    split = (F.when(b < 80, "train")
             .when(b < 90, "valid").otherwise("test"))
    kept = (docs.join(keepers.select("doc_id"), "doc_id")
            .withColumn("n_tokens",
                        F.size(tokens(F.col("text"))).cast("bigint"))
            .filter(F.col("n_tokens") >= 10)
            .withColumn("split", split))
    return (kept.groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens")))


@register("decontaminate_minhash_lsh")
def decontaminate_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/X2: FUZZY benchmark decontamination — the approximate tier
    over the same eval slice as decontaminate_ngram_overlap (doc_id %
    20 == 0): train docs whose shingle-set Jaccard against any eval
    doc reaches 0.3, found via the banded-MinHash cross-corpus probe
    (candidates exist only across the train/eval boundary — the
    eval side is the small probe index, so cost scales with the
    benchmark, not the corpus). One best eval match per train doc
    (max jaccard, ties to the lowest eval id) via a partitioned
    window."""
    from pyspark.sql import Window

    from ..operators.dedup import incremental_minhash_matches
    docs = (read_table(spark, sf_dir, "documents")
            .withColumn("is_eval", F.col("doc_id") % 20 == 0))
    matches = incremental_minhash_matches(
        docs, "text", "doc_id", "is_eval",
        num_hashes=16, bands=4, shingle_n=2, jaccard_threshold=0.3)
    w = (Window.partitionBy("id_corpus")
         .orderBy(F.desc("jaccard"), F.col("id_new")))
    return (matches.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("id_corpus").alias("train_doc_id"),
                    F.col("id_new").alias("eval_doc_id"),
                    "jaccard"))


# --- §2.12 X1-X2: dedup ----------------------------------------------------

@register("dedup_exact")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact duplicate groups by text hash."""
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id").select(
        F.col("text"), F.col("keeper_doc_id"), F.col("n_copies"))


@register("dedup_fuzzy")
def dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 cheap tier: normalized-key dedup (SQL-expressible variant
    from SURVEY.md §2.12)."""
    docs = read_table(spark, sf_dir, "documents")
    return normalized_dedup(docs, "text", "doc_id")


@register("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: per-document 60-bit SimHash signatures (md5-derived,
    engine-independent)."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return simhash_signatures(docs, "text", "doc_id")


@register("dedup_minhash_lsh")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale tier: MinHash banding candidates verified with exact
    Jaccard. 4 bands x 4 rows: P(candidate) = 1-(1-j^4)^4 — ~99%
    recall at j=0.9 (the corpus's planted near-dups), ~0.04% false
    positives at j=0.1, so the verify join stays tiny."""
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "text", "doc_id",
                             num_hashes=16, bands=4, shingle_n=2,
                             jaccard_threshold=0.5)


@register("dedup_ngram_jaccard")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 ground truth: blocked all-pairs n-gram Jaccard (block =
    lang)."""
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", "lang",
                               shingle_n=2, threshold=0.05)


@register("dedup_ngram_verified")
def dedup_ngram_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 production tier: exact n-gram Jaccard via complete
    prefix-filter candidates -> id-only shuffle -> verify join. Equals
    the quadratic ground truth without any O(block^2) cross join."""
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_prefix_pairs(docs, "text", "doc_id",
                                      shingle_n=3, threshold=0.8)


@register("dedup_cluster_components")
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 cluster resolution: near-dup pairs (exact prefix tier at
    t=0.8) -> connected components by min-label propagation; each
    duplicate cluster keyed by its smallest doc_id — what a keep-one
    dedup pass actually joins on."""
    docs = read_table(spark, sf_dir, "documents")
    return near_dup_cluster_map(docs)


PLANT_OFFSET = 10_000_000  # planted-copy ids: disjoint from any SF's vec_id


@register("dedup_embedding_verified")
def dedup_embedding_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 production tier: sign-random-projection LSH candidates ->
    id-only shuffle -> exact cosine verify; no blocked cross join.

    The synthetic embeddings have no organic near-dup pairs (max
    pairwise cosine 0.51 at sf0.01), so the raw corpus would make
    this key vacuous (0 == 0 proves only that the empty set hashes
    equally — the r9 verdict finding). The feed therefore PLANTS
    four exact copies in-query (vec_id < 4 re-keyed to id+1e7, the
    CDC-feed derivation pattern): identical quantized signatures
    collide in every band deterministically and verify at cosine
    1.0, so the accept path must emit exactly those 4 pairs, while
    the ~8/256 background band collisions keep exercising the
    verify-reject path — a broken verify in EITHER direction is now
    a red row."""
    emb = read_table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"), "embedding")
    feed = emb.select("vec_id", "embedding").unionByName(planted)
    return hyperplane_lsh_pairs(feed, "embedding", "vec_id", threshold=0.8)


@register("dedup_embedding_cosine")
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 embedding tier: near-dup pairs by cosine within the coarse
    cell (label) block."""
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, "embedding", "vec_id", "label",
                                  threshold=0.8)


# --- §2.12 X3: similarity search ------------------------------------------

Q_VEC_ID = 0  # deterministic query vector: first embedding row


@register("sim_topk_cosine")
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 baseline: brute-force cosine top-k against the vec_id=0
    query vector."""
    emb = read_table(spark, sf_dir, "embeddings")
    qv = fetch_query_vector(emb, "embedding", "vec_id", Q_VEC_ID)
    return cosine_topk(emb.filter(F.col("vec_id") != Q_VEC_ID),
                       "embedding", "vec_id", qv, k=10)


@register("sim_topk_cosine_ivf")
def sim_topk_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path: IVF-style cell restriction — label is the coarse
    quantizer cell; scoring prunes to the query's cell first (at scale
    the cell is a partition key, so pruning happens in the scan)."""
    emb = read_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == Q_VEC_ID).select("embedding", "label").first()
    qv, qlabel = [float(x) for x in row[0]], row[1]
    cell = emb.filter((F.col("label") == qlabel) & (F.col("vec_id") != Q_VEC_ID))
    return cosine_topk(cell, "embedding", "vec_id", qv, k=10)


# --- §2.12 X5: multimodal -------------------------------------------------

@register("multimodal_binary_meta")
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: opaque-binary column plumbing — byte length, content
    sha256, head bytes, all JVM-side."""
    docs = read_table(spark, sf_dir, "documents")
    return binary_meta(docs, "text", "doc_id")


@register("multimodal_decode_stub")
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: mapInPandas decode pipeline (stubbed decoder, real Arrow
    batch path). Deterministic fake dimensions are oracle-checkable."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return decode_metadata(docs, "text", "doc_id")


# --- §2.12 X4: corpus prep (normalize / scrub / pack) ----------------------

@register("text_normalize_scrub")
def text_normalize_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning pass: lowercase + URL strip + whitespace
    collapse, then digit-run masking — all regexp_replace inside
    whole-stage codegen, no Python anywhere."""
    from ..operators.text import mask_numbers, normalize_text
    docs = read_table(spark, sf_dir, "documents")
    cleaned = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        cleaned.alias("clean_text"),
        mask_numbers(cleaned).alias("masked_text"),
        F.length(cleaned).alias("n_chars_clean"))


@register("seq_pack_chunked")
def seq_pack_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM batch assembly: documents packed into 2048-token budget
    chunks per source via a running-sum window (one shuffle); pack
    summary per (source, pack)."""
    from ..operators.sampling import sequence_pack_chunked
    docs = read_table(spark, sf_dir, "documents")
    packed = sequence_pack_chunked(docs, "text", "doc_id", "source",
                                   budget_tokens=2048)
    return (packed.groupBy("source", "pack_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("pack_tokens")))


@register("udf_grouped_apply_in_pandas")
def udf_grouped_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11: grouped-map applyInPandas — each market segment arrives
    as one pandas frame (Arrow batches), ranked locally by balance.
    Rank output (ints) keeps the check float-exact; the per-group
    Python shape is what the north-star text/dedup custom ops use."""
    def rank_in_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["c_acctbal", "c_custkey"],
                              ascending=[False, True])
        pdf["bal_rank"] = range(1, len(pdf) + 1)
        return pdf[["c_mktsegment", "c_custkey", "c_acctbal", "bal_rank"]]

    customer = read_table(spark, sf_dir, "customer")
    return (customer
            .select("c_mktsegment", "c_custkey", "c_acctbal")
            .groupBy("c_mktsegment")
            .applyInPandas(rank_in_segment,
                           "c_mktsegment string, c_custkey bigint, "
                           "c_acctbal double, bal_rank long"))


@register("udtf_sentence_split")
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11: Python UDTF (one row in -> many rows out), the typed
    replacement for the reference's recursive tree-walk shape
    (qb_profit&loss.py:73-103 emits rows from one JSON document the
    same way). Registered and invoked through SQL LATERAL. Row-based
    Python — fine for the API demo; the hot-path equivalent is the
    pure-expression split+posexplode (see explode_lines)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string")
    class SentenceSplit:
        def eval(self, text: str):
            for i, s in enumerate((text or "").split(". ")):
                yield i, s

    spark.udtf.register("sentence_split", SentenceSplit)
    read_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql("""
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM docs_udtf d, LATERAL sentence_split(d.text) s
        WHERE d.doc_id < 200
    """)


def _fit_quantizer(emb: DataFrame, fit: DataFrame,
                   train_mod: int | None) -> tuple[list, list[float]]:
    """The serving keys' coarse quantizer and query: spherical
    k-means (k=8, 4 Lloyd's iterations) on ``fit``, with the one-row
    Q_VEC_ID query fetch from ``emb`` overlapped on a second thread
    (guide §2.6). Both results are data-determined, so the overlap
    cannot change the output. The thread inherits the caller's local
    properties and tags, so the fetch job carries its job group.
    Returns (centroids, query vector)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from ..operators.similarity import spherical_kmeans
    with ThreadPoolExecutor(max_workers=1) as pool:
        fetch = inheritable_thread_target(emb.sparkSession)(
            fetch_query_vector)
        fut_qv = pool.submit(fetch, emb, "embedding", "vec_id", Q_VEC_ID)
        cents = spherical_kmeans(fit, "embedding", "vec_id", k=8, iters=4,
                                 train_mod=train_mod)
        return cents, fut_qv.result()


def _ivf_recall(spark: SparkSession, sf_dir: str,
                train_mod: int | None) -> DataFrame:
    """IVF top-10 (nprobe=4 of 8 learned cells) against exact
    brute force for the Q_VEC_ID query, as the recall receipt
    (operators/similarity.recall_receipt, bound >= 5)."""
    from ..operators.similarity import ivf_topk, recall_receipt
    emb = read_table(spark, sf_dir, "embeddings")
    cents, qv = _fit_quantizer(emb, emb, train_mod)
    others = emb.filter(F.col("vec_id") != Q_VEC_ID)
    return recall_receipt(
        ivf_topk(others, "embedding", "vec_id", qv, cents, k=10, nprobe=4),
        cosine_topk(others, "embedding", "vec_id", qv, k=10),
        "vec_id", k=10, min_hits=5)


@register("sim_topk_cosine_ivf_learned")
def sim_topk_cosine_ivf_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 learned-quantizer ANN: deterministic distributed spherical
    k-means fits the coarse cells (only the k x dim model reaches the
    driver), then the search probes the query's nprobe nearest cells.

    Lloyd's iterations are not SQL-expressible, so the key emits the
    recall receipt of :func:`_ivf_recall`. recall@10 at nprobe=4/k=8
    measures 6-8 across sf0.001-0.1 (deterministic — no RNG
    anywhere); the bound is >= 5. The full recall-vs-random-pruning
    property stays pinned in tests/test_advanced_ops.py."""
    return _ivf_recall(spark, sf_dir, train_mod=None)


@register("sim_topk_cosine_ivf_trainsampled")
def sim_topk_cosine_ivf_trainsampled(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Bounded-training tier of sim_topk_cosine_ivf_learned — the
    FAISS deployment shape: the coarse quantizer fits on the
    deterministic md5(vec_id) % 4 == 0 vector sample (Lloyd's cost,
    the dominant term, drops by the sample rate — FAISS itself
    trains IVF on a bounded sample, never the corpus), while
    assignment and the nprobe search still cover EVERY vector, so
    the index is complete. Output: the :func:`_ivf_recall` receipt
    of the sample-trained index (measured 6-8 across sf0.001-0.1)."""
    return _ivf_recall(spark, sf_dir, train_mod=4)


@register("sim_index_persist_serve")
def sim_index_persist_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 index LIFECYCLE: build the IVF index, PERSIST it
    partitioned by cell, and serve the query from the persisted
    index via PARTITION PRUNING — the deployment loop ivf_topk's
    docstring promises ('with the cell as a partition key, the
    filter becomes partition pruning'), actually executed:

    1. build — sample-trained spherical k-means centroids
       (bounded, the trainsampled tier's quantizer) + zero-shuffle
       codegen cell assignment;
    2. persist — (vec_id, embedding) written partitionBy('cell')
       with mode=overwrite (idempotent re-runs);
    3. serve — the read back probes the query's nprobe nearest
       cells with a `cell IN (...)` filter that becomes
       PartitionFilters on the scan (pinned by the plan audit: the
       serve scan reads nprobe directories, never the corpus), then
       exact cosine top-k within the probed cells.

    Output: the recall receipt (operators/similarity.recall_receipt)
    against exact brute force over the ORIGINAL table, bound >= 5."""
    from ..operators.similarity import (assign_cell, probe_cells,
                                        recall_receipt)
    from ..sinks import scratch_path, sf_tag

    emb = read_table(spark, sf_dir, "embeddings")
    cents, qv = _fit_quantizer(emb, emb, train_mod=4)
    idx_dir = scratch_path("ivf_index", sf_tag(sf_dir))
    (emb.withColumn("cell", assign_cell("embedding", cents))
        .write.mode("overwrite").partitionBy("cell").parquet(idx_dir))

    index = (spark.read.parquet(idx_dir)
             .filter(F.col("cell").isin(probe_cells(qv, cents, 4)))
             .filter(F.col("vec_id") != Q_VEC_ID))
    return recall_receipt(
        cosine_topk(index, "embedding", "vec_id", qv, k=10),
        cosine_topk(emb.filter(F.col("vec_id") != Q_VEC_ID),
                    "embedding", "vec_id", qv, k=10),
        "vec_id", k=10, min_hits=5)


@register("dedup_semantic_cells")
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 semantic tier — the SemDeDup manifest (Abbas et al. 2023,
    arXiv:2303.09540): pairwise cosine WITHIN the coarse cluster
    (label = the k-means cell, the published algorithm's scope
    bound), drop rule = deterministic lowest-id representative.
    Unlike dedup_embedding_cosine (the pair list), this emits the
    per-vector curation manifest (vec_id, label, kept) a
    corpus-pruning pass joins on. Threshold 0.3 is calibrated to
    the synthetic embedding space (max within-cell cosine ~0.47;
    production L2-normalized spaces run ~0.95). Cross-engine
    exactness rides the proven ROUND(cosine, 6) kernel; one
    cell-keyed exchange, id-only drop set, no Python."""
    from ..operators.similarity import semantic_dedup_manifest
    emb = read_table(spark, sf_dir, "embeddings")
    return (semantic_dedup_manifest(emb, "embedding", "vec_id",
                                    "label", threshold=0.3)
            .select(F.col("id").alias("vec_id"),
                    F.col("cell").alias("label"), "kept"))


@register("select_kcenter_coreset")
def select_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-pruning coreset: greedy k-center / farthest-point
    sampling (Gonzalez 1985) over the embedding table, seeded at
    the deterministic query vector — the classic diversity
    selection for training-data pruning. All arithmetic is exact
    integer (milli-quantized vectors, integer squared distances),
    so the oracle (an unrolled 8-step CTE chain) matches
    bit-for-bit with no float tie surface anywhere. Each step is a
    narrow distance map + TakeOrderedAndProject(1); only the 8
    model rows reach the driver."""
    from ..operators.similarity import kcenter_coreset
    emb = read_table(spark, sf_dir, "embeddings")
    return (kcenter_coreset(emb, "embedding", "vec_id",
                            seed_id=Q_VEC_ID, k=8)
            .select("sel_rank", F.col("id").alias("vec_id"), "min_d2"))


@register("sim_mmr_rerank")
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 diversity rerank: Maximal Marginal Relevance (Carbonell &
    Goldstein 1998) over the brute-force top-20 shortlist for the
    vec_id=0 query — pick 5 results greedily maximizing
    0.7*relevance - 0.3*max_similarity_to_picked. Cosines quantize
    to integer micro-units (floor(x*1e6 + 0.5), the shared half-up
    idiom) the moment they are computed, so the greedy score is
    exact integer arithmetic on both engines. The corpus-sized work
    is one narrow score map + TakeOrderedAndProject(20); the greedy
    loop runs on the 20-row shortlist (model-sized, the codebook
    convention). Oracle: the same greedy unrolled as 5 chained
    1-row CTEs."""
    from ..operators.similarity import mmr_rerank
    emb = read_table(spark, sf_dir, "embeddings")
    qv = fetch_query_vector(emb, "embedding", "vec_id", Q_VEC_ID)
    return (mmr_rerank(emb.filter(F.col("vec_id") != Q_VEC_ID),
                       "embedding", "vec_id", qv,
                       shortlist=20, k=5, lam_pct=70)
            .select("mmr_rank", F.col("id").alias("vec_id"),
                    "score_micro"))


@register("sim_topk_cosine_pq")
def sim_topk_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 compressed-index ANN: product quantization. Codebooks fit
    on a bounded deterministic sample (driver holds sample_n x dim —
    constant at any corpus scale), vectors encoded to m codeword ids
    (Arrow-batched matmul; the encoded table is ~64x smaller than the
    floats), and the query scored by ADC — m literal-array lookups
    per row inside codegen, no UDF, no shuffle, then
    TakeOrderedAndProject.

    The search is ADC-shortlist -> exact re-rank (the FAISS/ScaNN
    deployment shape): the compressed scan proposes 100 candidates,
    exact cosine re-ranks just those. Output: the recall receipt
    (operators/similarity.recall_receipt) against brute force, bound
    >= 6; the recall property itself is additionally pinned in
    tests/test_advanced_ops.py."""
    from ..operators.similarity import (pq_encode, pq_rerank_topk, pq_train,
                                        recall_receipt)
    emb = read_table(spark, sf_dir, "embeddings")
    books = pq_train(emb, "embedding", "vec_id", m=16, ksub=64)
    qv = fetch_query_vector(emb, "embedding", "vec_id", Q_VEC_ID)
    others = emb.filter(F.col("vec_id") != Q_VEC_ID)
    approx = pq_rerank_topk(others,
                            pq_encode(others, "embedding", "vec_id", books),
                            "embedding", "vec_id", qv, books,
                            k=10, shortlist=100)
    return recall_receipt(
        approx, cosine_topk(others, "embedding", "vec_id", qv, k=10),
        "vec_id", k=10, min_hits=6)


@register("map_functions")
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8/X5 closure: MapType surface — props parsed as
    map<string,int>, exploded to key/value rows, aggregated per key
    (generic over any key set; the reference has no map type at all,
    SURVEY.md §1)."""
    ev = read_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return (ev.select(F.explode(m).alias("prop_key", "prop_val"))
            .groupBy("prop_key")
            .agg(F.count(F.lit(1)).alias("n_props"),
                 F.sum("prop_val").alias("sum_val"),
                 F.min("prop_val").alias("min_val"),
                 F.max("prop_val").alias("max_val")))


@register("sample_quota_per_source")
def sample_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation: at most N documents per source, chosen by a
    content-hash order (deterministic, layout-independent) — the
    domain-quota cap every crawl pipeline applies. One shuffle
    (window partition by source)."""
    from pyspark.sql import Window

    from ..operators.text import md5_long
    docs = read_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("source")
         .orderBy(md5_long(F.col("doc_id").cast("string")), F.col("doc_id")))
    return (docs
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 25)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("n_chars").alias("kept_chars")))


@register("dq_column_profile")
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile (the generalization of the reference's
    NaN-count check, qb_transactionlist.py:99-101): one row per
    profiled column with rows/nulls/distincts — one pass, no
    per-column jobs."""
    orders = read_table(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey"]
    profiled = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count(c).alias(f"nn_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"nd_{c}") for c in cols])
    stacked = profiled.select(
        F.expr("stack(3, " + ", ".join(
            f"'{c}', n_rows, nn_{c}, nd_{c}" for c in cols)
            + ") as (column_name, n_rows, n_not_null, n_distinct)"))
    return stacked


@register("text_edit_distance")
def text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 fine tier: pairwise Levenshtein inside a blocking key (lang)
    over a capped id range — edit distance is the precision pass after
    hash tiers shrink candidates; never run unblocked (quadratic)."""
    docs = (read_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 120)
            .select("doc_id", "lang",
                    F.substring("text", 1, 40).alias("head")))
    a = docs.select(F.col("lang"), F.col("doc_id").alias("id_a"),
                    F.col("head").alias("h_a"))
    b = docs.select(F.col("lang"), F.col("doc_id").alias("id_b"),
                    F.col("head").alias("h_b"))
    return (a.join(b, "lang")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("lang", "id_a", "id_b",
                    F.levenshtein("h_a", "h_b").alias("edit_dist"))
            .filter(F.col("edit_dist") <= 20))


# --- §2.12 round 3: sub-document dedup, corpus stats, data ordering --------

@register("dedup_segment_corpus")
def dedup_segment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 sub-document tier: CCNet-style cross-corpus segment dedup —
    10-token segments, first instance corpus-wide survives, documents
    rebuilt from surviving segments."""
    from ..operators.dedup import segment_dedup_rebuild
    docs = read_table(spark, sf_dir, "documents")
    return segment_dedup_rebuild(docs, "text", "doc_id", seg_words=10)


@register("shuffle_deterministic")
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data ordering: seeded reproducible global shuffle via
    the two-phase (bucket histogram + offset) rank — never a
    single-task global window."""
    from ..operators.sampling import deterministic_global_shuffle
    docs = read_table(spark, sf_dir, "documents")
    return deterministic_global_shuffle(docs, "doc_id", seed="epoch0")


@register("select_token_budget")
def select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset curation: keep the highest-quality documents until 20%
    of the corpus's tokens are spent (quality = stopword-density ppm,
    rank ties on doc_id). The global token cumsum runs as the
    distributed histogram prefix-sum — bucket-parallel windows plus
    driver-side offsets — never a single-task ORDER BY window."""
    from ..operators.sampling import token_budget_selection
    docs = read_table(spark, sf_dir, "documents")
    return token_budget_selection(docs, "text", "doc_id",
                                  budget_num=2, budget_den=10)


@register("select_importance_resample")
def select_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset curation, DSIR-style (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed-bigram distribution is and
    keep the top 100. Target = the 'src0' source (the curated domain
    stand-in); features = bigrams hashed into 4096 buckets; per-doc
    importance weight = sum over its bigram occurrences of
    log10(p_target(bucket) / p_raw(bucket)) with add-one smoothing —
    the hashed n-gram Naive-Bayes log-ratio DSIR uses in place of a
    trained classifier.

    Determinism recipe (the text_bigram_logprob pattern): each
    bucket's log-ratio rounds to 7 decimals then lands in
    DECIMAL(20,7); the Spark side sums the broadcast weight once PER
    BIGRAM OCCURRENCE (exact decimal addition, order-free), while the
    DuckDB oracle sums the algebraically-identical per-(doc,bucket)
    count x weight products — both exact, so ranking and the top-100
    cut are engine-independent (ties on doc_id).

    Scale shape: bucket statistics are a 4096-row-bounded aggregate
    computed once behind a localCheckpoint barrier; the weight table
    broadcasts into the per-doc join; one doc-keyed aggregate;
    TakeOrderedAndProject for the cut. Nothing grows with corpus
    size except the two narrow passes — DSIR's own selling point,
    preserved in-plan (see operators/sampling.py:
    dsir_importance_select for the decimal-precision contract)."""
    from ..operators.sampling import dsir_importance_select
    docs = read_table(spark, sf_dir, "documents")
    return dsir_importance_select(docs, "text", "doc_id",
                                  F.col("source") == "src0",
                                  buckets=4096, top_n=100)


@register("select_excess_loss")
def select_excess_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-style excess-loss selection: top-50 documents by the mean
    per-token logprob gain of the in-domain (lang='en') Laplace-1
    unigram LM over the base corpus LM — the learnability-scored
    sibling of select_importance_resample (DSIR scores target
    LIKENESS via hashed-bigram ratios; this scores target GAIN via
    two explicit LMs sharing ONE vocabulary exchange). See
    operators/sampling.excess_loss_select for the plan shape and the
    decimal-exact ranking recipe."""
    from ..operators.sampling import excess_loss_select
    docs = read_table(spark, sf_dir, "documents")
    return excess_loss_select(docs, "text", "doc_id",
                              F.col("lang") == "en", k=50)


@register("sketch_count_min")
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-stats sketch tier: the count-min sketch itself as a
    (row, bucket, n) table — mergeable across partitions/days by
    re-summing; shuffle bounded at depth x width regardless of input
    size. md5 bucketing makes the whole table engine-portable."""
    from ..operators.sketch import cms_build
    ev = read_table(spark, sf_dir, "events")
    return cms_build(ev, "user_id", depth=4, width=1024)


@register("sketch_heavy_hitters")
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters by CMS point query: exact top users by event
    count (ground truth), estimated from the sketch; CM guarantees
    estimate >= exact, and the md5 scheme makes the estimate itself
    bit-reproducible in the oracle — checked both ways."""
    from ..operators.sketch import cms_build, cms_estimate
    ev = read_table(spark, sf_dir, "events")
    exact = (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("exact_n"))
             .orderBy(F.desc("exact_n"), F.asc("user_id"))
             .limit(10))
    sketch = cms_build(ev, "user_id", depth=4, width=1024)
    est = cms_estimate(sketch, exact.select("user_id"), "user_id",
                       depth=4, width=1024)
    return (exact.join(est, "user_id")
            .select("user_id", "exact_n", "cms_estimate",
                    (F.col("cms_estimate") >= F.col("exact_n"))
                    .alias("lower_bound_ok")))


@register("text_unigram_logprob")
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 LM-proxy quality tier: mean corpus-unigram log-probability
    per document (the KenLM-filter stand-in); decimal-summed so the
    mean is partition- and engine-independent."""
    from ..operators.text import unigram_logprob_scores
    docs = read_table(spark, sf_dir, "documents")
    return unigram_logprob_scores(docs, "text", "doc_id")


@register("mixture_perplexity_buckets")
def mixture_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): assign
    every document to the head / middle / tail equal-count tier of
    the corpus's LM-score distribution (mean unigram log-probability,
    the KenLM stand-in) — the split CCNet uses to keep head+middle
    and drop tail. The global rank runs as the distributed-histogram
    idiom over centi-logprob bins (bounded bin count, driver offsets,
    bin-partitioned windows — never a one-task ORDER BY window), and
    the tier is the explicit integer formula ((rank-1)*3) DIV n so no
    engine NTILE remainder rule is involved (see
    operators/sampling.py:perplexity_buckets)."""
    from ..operators.sampling import perplexity_buckets
    docs = read_table(spark, sf_dir, "documents")
    return perplexity_buckets(docs, "text", "doc_id", k=3)


@register("pipeline_ccnet_dsir")
def pipeline_ccnet_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pretraining-prep composition of the two round-6
    curation flagships, in the order a real pipeline runs them:
    CCNet perplexity tiers gate the corpus first (drop the 'tail'
    third — Wenzek et al. keep head+middle), then DSIR selects the
    top-50 most target-domain-like survivors (src0 as the curated
    domain). One lazy plan end-to-end; the oracle is the two keys'
    SQL programs composed over the same kept-set CTE, so the
    composition is held to a full oracle, not just its parts.
    Scale: the gate adds one semi join on doc_id to DSIR's shape;
    both stages' exchanges stay bounded (bin histogram / 4096
    buckets / per-doc partials)."""
    from ..operators.sampling import (dsir_importance_select,
                                      perplexity_buckets)
    docs = read_table(spark, sf_dir, "documents")
    tiers = perplexity_buckets(docs, "text", "doc_id", k=3)
    kept = tiers.filter(F.col("ppl_bucket") != "tail").select("doc_id")
    gated = docs.join(kept, "doc_id", "left_semi")
    return dsir_importance_select(gated, "text", "doc_id",
                                  F.col("source") == "src0",
                                  buckets=4096, top_n=50)


@register("pipeline_crawl_refresh")
def pipeline_crawl_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl-refresh composition (r6 verdict task 6) — the
    production loop a web-scale corpus runs on every crawl batch,
    every stage an already-pinned registry semantic:

    1. **Bloom-prefiltered exact dedup** (dedup_bloom_prefilter's
       shape, applied): today's batch (doc_id % 2 == 0) probes the
       index's (doc_id % 3 == 0) exact-text bloom; bloom MISSES are
       definite-new and skip the membership join entirely, bloom HITS
       exact-check against the index keys. Re-crawled URLs
       (doc_id % 6 == 0) drop here. Result set == plain anti-join
       (blooms have no false negatives), cost == probe-a-bitset.
    2. **Incremental near-dup probe** (dedup_incremental_minhash):
       survivors probe the index's banded MinHash signatures; any
       verified Jaccard >= 0.5 match drops the new doc. Candidates
       exist only across the batch/index boundary — cost scales with
       the batch.
    3. **Span-FP rewrite** (dedup_spans_rewrite_fp): duplicated
       8-gram spans across index ∪ survivors are stripped from
       non-canonical occurrences — boilerplate the index already
       carries is removed from the new docs (canonical = min
       (doc_id, pos), the operator's standing remove-all-but-one).
    4. **Gopher quality gate** (text_quality_gopher) on the REWRITTEN
       text — the gate runs after boilerplate stripping, as a real
       pipeline orders it.

    Output: the batch's curated manifest — per surviving doc, its
    original/kept token counts and the gate verdict. One lazy plan;
    the oracle composes the four stages' SQL programs over the same
    CTE chain. Scale: stage 3's gram exchange is the plan's largest
    (the audited span shape over index ∪ survivors); everything else
    is bloom-bounded, batch-scaled, or vocabulary-bounded — no new
    exchange class beyond the component keys'."""
    from ..operators.dedup import (duplicate_span_rewrite,
                                   incremental_minhash_matches)
    from ..operators.sketch import bloom_build, bloom_probe
    from ..operators.text import gopher_quality_rules
    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")

    # stage 1 — exact re-crawl drop, bloom-prefiltered
    ck = (corpus.select(F.md5(F.encode(F.col("text"), "UTF-8")).alias("k"))
          .distinct())
    bk = batch.withColumn("k", F.md5(F.encode(F.col("text"), "UTF-8")))
    probed = bloom_probe(bloom_build(ck, "k"), bk.select("k").distinct(), "k")
    flagged = bk.join(probed, "k")
    stage1 = (flagged.filter(~F.col("bloom_member"))  # definite-new
              .select("doc_id", "text")
              .unionByName(flagged.filter(F.col("bloom_member"))
                           .join(ck, "k", "left_anti")  # bloom FPs
                           .select("doc_id", "text")))

    # stage 2 — near-dup probe against the index
    both = (stage1.withColumn("__new", F.lit(True))
            .unionByName(corpus.withColumn("__new", F.lit(False))))
    near = incremental_minhash_matches(
        both, "text", "doc_id", "__new",
        num_hashes=16, bands=4, shingle_n=2, jaccard_threshold=0.5)
    stage2 = stage1.join(
        near.select(F.col("id_new").alias("doc_id")).distinct(),
        "doc_id", "left_anti")

    # stage 3 — strip spans the index already carries (fp tier)
    rewritten = duplicate_span_rewrite(
        corpus.unionByName(stage2), "text", "doc_id", n=8,
        fingerprint=True)
    new_rw = rewritten.join(stage2.select("doc_id"), "doc_id")

    # stage 4 — quality gate on the rewritten text
    gate = gopher_quality_rules(
        new_rw.select("doc_id", F.col("text_kept").alias("text")),
        "text", "doc_id").select("doc_id",
                                 F.col("passes").alias("gate_pass"))
    return (new_rw.join(gate, "doc_id")
            .select("doc_id", "n_orig", "n_kept", "gate_pass"))


# --- §2.12 round 4: weighted sampling, mergeable HLL, quantization, NB -----

@register("sample_poisson_bootstrap")
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-at-scale tier: Poisson bootstrap of the mean order
    value — 32 replicate estimates whose spread is the CI, computed
    without indexing or resampling passes (each row draws an
    independent md5-deterministic Poisson(1) weight per replicate).
    The only exchange is the 32-group aggregate, map-side combined;
    the CDF literals are shared with the oracle by construction."""
    from ..operators.sampling import poisson_bootstrap_means
    orders = read_table(spark, sf_dir, "orders")
    return poisson_bootstrap_means(orders, "o_totalprice", "o_orderkey",
                                   replicates=32)


@register("sample_weighted_reservoir")
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset prep: A-Res weighted reservoir sample of documents,
    inclusion probability proportional to n_chars — one narrow md5
    pass + TakeOrderedAndProject, deterministic under retries and
    across engines."""
    from ..operators.sampling import weighted_sample_topk
    docs = read_table(spark, sf_dir, "documents")
    return weighted_sample_topk(docs, "doc_id", "n_chars",
                                k=50, seed="s0")


@register("sketch_hll_merge")
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-stats sketch tier: per-month HLL sketches of active
    customers merged to an ALL row purely by sketch union (hll_union_agg)
    — per-day uniques roll up to per-month at 100 TB without a second
    corpus scan. Each row carries the exact distinct count and an
    in-query bound check on the sketch estimate (oracle-checkable by
    construction)."""
    from ..operators.sketch import hll_unique_rollup
    orders = read_table(spark, sf_dir, "orders")
    return hll_unique_rollup(
        orders.filter(F.col("o_orderdate") >= "1997-01-01"),
        "o_custkey", F.date_format("o_orderdate", "yyyy-MM"),
        rel_err=0.05)


@register("embedding_int8_quantize")
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding storage tier: symmetric per-vector int8 quantization
    audit — per label, worst reconstruction error in quantization-step
    units (bounded at 0.5 by construction; the floor-based half-up
    rounding is spelled out so every engine reproduces it)."""
    from ..operators.similarity import int8_quantize_report
    emb = read_table(spark, sf_dir, "embeddings")
    return int8_quantize_report(emb, "embedding", "label")


@register("text_class_nb")
def text_class_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality tier: multinomial Naive Bayes token
    classifier trained on the corpus's own lang labels; per-class
    (n_docs, n_correct) training confusion — the fastText-style
    in-pipeline classifier shape, sparse-decomposed so no dense
    (token x class) relation is ever materialized."""
    from ..operators.text import nb_classifier_eval
    docs = read_table(spark, sf_dir, "documents")
    return nb_classifier_eval(docs, "text", "doc_id", "lang")


@register("dedup_incremental_minhash")
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 incremental tier: the daily-batch dedup shape — new docs
    (doc_id % 5 == 0 stands in for today's batch) probe the corpus's
    banded MinHash index; candidates exist only across the
    batch/corpus boundary and the join cost scales with the batch,
    not the corpus."""
    from ..operators.dedup import incremental_minhash_matches
    docs = (read_table(spark, sf_dir, "documents")
            .withColumn("is_new", F.col("doc_id") % 5 == 0))
    return incremental_minhash_matches(docs, "text", "doc_id", "is_new",
                                       num_hashes=16, bands=4, shingle_n=2,
                                       jaccard_threshold=0.5)


@register("maintenance_compact_small_files")
def maintenance_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance tier: small-files compaction (the
    operational fix for incremental-write fragmentation at 100 TB —
    metadata churn makes every scan slow long before data volume
    does). Fragments documents into 64 files, compacts to
    ~target_mb-sized files, and proves the rewrite is lossless with a
    read-back aggregate; file counts are part of the contract."""
    import glob

    from ..sinks import compact_parquet, scratch_path
    docs = read_table(spark, sf_dir, "documents")
    src = scratch_path("compact", "documents_fragmented.parquet")
    docs.repartition(64).write.mode("overwrite").parquet(src)
    n_before = len(glob.glob(f"{src}/*.parquet"))
    dst = scratch_path("compact", "documents_compacted.parquet")
    compact_parquet(spark, src, dst, target_mb=128)
    n_after = len(glob.glob(f"{dst}/*.parquet"))
    return (spark.read.parquet(dst)
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("n_chars").alias("sum_chars"))
            .select(F.lit(n_before).alias("n_files_before"),
                    F.lit(n_after).alias("n_files_after"),
                    "n_rows", "sum_chars"))


@register("sim_topk_batch_queries")
def sim_topk_batch_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 serving tier: BATCHED ANN — Q query vectors answered in ONE
    corpus scan (the deployment shape: queries arrive in batches, and
    re-scanning 100 TB per query is the anti-pattern). The query set
    broadcasts (model-sized), every corpus row scores all Q queries
    inside codegen, and the per-query top-k is a rank over the narrow
    (query_id, vec_id, sim) relation — one shuffle of Q x N scored
    triples, partitioned by query. Row and query norms (and the
    double casts) are hoisted to the per-ROW / per-QUERY projections
    (r13): the inline cosine form re-ran them per (row, query)
    scoring cell — Q x the work for one-side-only values; identical
    doubles."""
    from pyspark.sql import Window

    from ..operators.similarity import as_double_array, dot, l2_norm
    emb = read_table(spark, sf_dir, "embeddings")
    corpus = (emb.select("vec_id",
                         as_double_array(F.col("embedding")).alias("v"))
              .withColumn("n", l2_norm(F.col("v"))))
    queries = (emb.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("query_id"),
                       as_double_array(F.col("embedding")).alias("qv"))
               .withColumn("qn", l2_norm(F.col("qv"))))
    scored = (corpus.crossJoin(F.broadcast(queries))
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id",
                      F.round(dot(F.col("v"), F.col("qv"))
                              / (F.col("n") * F.col("qn")),
                              6).alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10))


@register("dq_outlier_zscore")
def dq_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ anomaly tier: per-group z-score outliers (|z| > 3) over
    event values. Group moments come from DECIMAL sums (partition- and
    engine-independent; functions/numeric.exact_sum rationale), the
    groups table broadcasts back onto the stream, and the z
    computation is spelled out so both engines derive bit-identical
    doubles: mean = s/n, var = (ssq - n*mean^2)/(n-1), z =
    (value-mean)/sd."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dec = lambda c: c.cast("decimal(28,8)")  # noqa: E731
    g = (ev.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(dec(F.col("value"))).alias("s"),
              F.sum(dec(F.col("value") * F.col("value"))).alias("ssq")))
    n_d = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n_d
    var = (F.col("ssq").cast("double") - n_d * mean * mean) / (n_d - F.lit(1.0))
    stats = g.select("event_type", mean.alias("mean"),
                     F.sqrt(var).alias("sd"))
    z = (F.col("value") - F.col("mean")) / F.col("sd")
    return (ev.join(F.broadcast(stats), "event_type")
            .filter(F.col("sd") > 0)
            .select("event_type", "event_id", "value",
                    F.round(z, 6).alias("zscore"))
            .filter(F.abs(F.col("zscore")) > 3.0))


@register("dq_higher_moments")
def dq_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ profile tier: per-group skewness and excess kurtosis — the
    shape moments that catch heavy-tailed / clipped distributions a
    mean+sd profile misses. Raw power sums ride DECIMAL(28,8)
    (partition- and engine-independent, the dq_outlier_zscore
    pattern); the final skew/kurtosis arithmetic is double in ONE
    shared operand order, so both engines derive bit-identical
    values. One map-side-combining shuffle, bounded by group count."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dec = lambda c: c.cast("decimal(28,8)")  # noqa: E731
    v = F.col("value")
    g = (ev.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(dec(v)).alias("s1"),
              F.sum(dec(v * v)).alias("s2"),
              F.sum(dec(v * v * v)).alias("s3"),
              F.sum(dec(v * v * v * v)).alias("s4")))
    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - mean * mean
    m3 = (F.col("s3").cast("double") / n
          - F.lit(3.0) * mean * (F.col("s2").cast("double") / n)
          + F.lit(2.0) * mean * mean * mean)
    m4 = (F.col("s4").cast("double") / n
          - F.lit(4.0) * mean * (F.col("s3").cast("double") / n)
          + F.lit(6.0) * mean * mean * (F.col("s2").cast("double") / n)
          - F.lit(3.0) * mean * mean * mean * mean)
    return g.select(
        "event_type", "n",
        F.round(m3 / F.pow(m2, F.lit(1.5)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis_excess"))


@register("events_markov_transitions")
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral tier: first-order Markov transition matrix over
    per-user event sequences (ordered by ts, event_id) — the
    session-model / next-action baseline. One user-partitioned lag
    window (the same exchange sessionization pays), then a
    vocabulary-bounded pair count; probabilities are exact
    bigint-ratio doubles divided in one shared order."""
    from pyspark.sql import Window
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select("user_id", "ts", "event_id", "event_type")
             .withColumn("prev_type", F.lag("event_type").over(w))
             .filter(F.col("prev_type").isNotNull())
             .groupBy("prev_type", F.col("event_type").alias("next_type"))
             .agg(F.count(F.lit(1)).alias("n_pair")))
    totals = pairs.groupBy("prev_type").agg(F.sum("n_pair").alias("n_from"))
    return (pairs.join(F.broadcast(totals), "prev_type")
            .select("prev_type", "next_type", "n_pair",
                    F.round(F.col("n_pair").cast("double")
                            / F.col("n_from").cast("double"), 6)
                    .alias("prob")))


@register("events_sequence_patterns")
def events_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral tier: MATCH_RECOGNIZE-style sequence pattern
    mining over per-user event timelines — each user's history
    collapses to an initials string (s/c/p/e/v, ordered by ts then
    event_id) and patterns are counted with non-overlapping regex
    matching: 'v[cv]*p' (a view leading through views/clicks to a
    purchase) and 'e+' (error bursts). Pattern classes are chosen so
    the closure alphabet excludes its terminator, making greedy
    leftmost matching (Spark's Java regex) and DuckDB's RE2 select
    provably identical spans.

    Scale: one user-keyed exchange (the sessionization exchange);
    the per-user string is timeline-sized and the regex runs as a
    codegen string op — no Python, no second shuffle, no window."""
    ev = read_table(spark, sf_dir, "events")
    ini = F.substring("event_type", 1, 1)
    seqs = (ev.select("user_id",
                      F.struct(F.col("ts"), F.col("event_id"),
                               ini.alias("i")).alias("s"))
            .groupBy("user_id")
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list("s")),
                            lambda x: x["i"]), "").alias("seq")))
    return seqs.select(
        "user_id",
        F.length("seq").cast("int").alias("seq_len"),
        F.regexp_count("seq", F.lit("v[cv]*p")).cast("int")
        .alias("n_view_to_purchase"),
        F.regexp_count("seq", F.lit("e+")).cast("int")
        .alias("n_error_bursts"),
        F.substring("seq", 1, 1).alias("first_type"))


@register("dq_seasonal_anomaly")
def dq_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ anomaly tier with SEASONALITY: daily event counts judged
    against their own day-of-week baseline (Mondays vs Mondays —
    the classic fix for weekly-pattern false positives that a global
    threshold like dq_rate_anomaly's produces). Same all-integer
    3-sigma algebra, per dow group: (m*cnt - s)^2 > 9*(m*q - s^2)
    in DECIMAL(38,0)/HUGEINT. Two bounded aggregates (days, then 7
    dow groups) broadcast back onto the day rows."""
    ev = read_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("n_events"))
             .withColumn("dow", F.dayofweek("day")))
    big = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = (daily.groupBy("dow")
             .agg(big(F.count(F.lit(1))).alias("m"),
                  big(F.sum("n_events")).alias("s"),
                  big(F.sum(F.col("n_events") * F.col("n_events")))
                  .alias("q")))
    dev = F.col("m") * big(F.col("n_events")) - F.col("s")
    rhs = F.lit(9) * (F.col("m") * F.col("q") - F.col("s") * F.col("s"))
    return (daily.join(F.broadcast(stats), "dow")
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    F.col("dow").cast("int").alias("dow"), "n_events",
                    ((dev > 0) & (dev * dev > rhs)).alias("is_spike")))


@register("sketch_cms_merge")
def sketch_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY proof for Count-Min (the production
    property: per-day/per-partition sketches sum into the global
    sketch without rescanning): the stream splits into two halves,
    each half builds its own CMS, the merged table (cell-wise +) is
    compared cell-for-cell against the CMS of the whole stream — the
    output is the per-row equality rollup, asserting in-plan that
    every (row, bucket) cell matches. All three sketches are
    depth x width tables, so every exchange is sketch-sized."""
    from ..operators.sketch import cms_build
    ev = read_table(spark, sf_dir, "events")
    a = cms_build(ev.filter(F.col("event_id") % 2 == 0), "user_id",
                  depth=4, width=256)
    b = cms_build(ev.filter(F.col("event_id") % 2 == 1), "user_id",
                  depth=4, width=256)
    merged = (a.unionByName(b)
              .groupBy("cms_row", "bucket")
              .agg(F.sum("n").alias("n_merged")))
    whole = (cms_build(ev, "user_id", depth=4, width=256)
             .withColumnRenamed("n", "n_whole"))
    return (merged.join(whole, ["cms_row", "bucket"], "full")
            .groupBy("cms_row")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum((F.coalesce(F.col("n_merged"), F.lit(0))
                        == F.coalesce(F.col("n_whole"), F.lit(0)))
                       .cast("bigint")).alias("n_equal")))


@register("dq_cusum_drift")
def dq_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ drift tier: one-sided CUSUM change detection on daily
    per-event-type value sums. The textbook recurrence S_t =
    max(0, S_{t-1} + x_t - k) looks stateful, but has the closed form
    S_t = C_t - min_{0<=j<=t} C_j over the plain cumsum C of (x - k),
    with the EMPTY prefix C_0 = 0 in the min (least(0, running_min))
    — so it runs as TWO ordinary running windows (cumsum + running
    min), both partitioned by event_type over the bounded daily
    pre-aggregate. Everything runs in scale-4 INTEGER space (bigint
    1e-4 units; reference k = floor(total/n_days) via bigint div), so
    every value and the drift flag are engine-exact — no decimal or
    double division anywhere."""
    from pyspark.sql import Window
    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # everything below runs in SCALE-4 INTEGER space (value sums as
    # bigints of 1e-4 units): the reference k = floor(total/n_days)
    # is a bigint `div` — a decimal division here would round under
    # each engine's own precision/scale rules and drift
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg((F.sum(F.col("value").cast("decimal(18,4)"))
                   * F.lit(10000)).cast("bigint").alias("vsum_e4")))
    tot = (daily.groupBy("event_type")
           .agg(F.sum("vsum_e4").alias("t_e4"),
                F.count(F.lit(1)).alias("nd")))
    d = (daily.join(F.broadcast(tot.select(
            "event_type", F.expr("t_e4 div nd").alias("k_e4"))),
            "event_type")
         .select("event_type", "day",
                 (F.col("vsum_e4") - F.col("k_e4")).alias("x_e4")))
    w = Window.partitionBy("event_type").orderBy("day")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # two selects: a window over a window expression can't nest in
    # one projection (same restriction in SQL) — cum materializes as
    # a column, then the running min reads it
    cummed = d.select("event_type", "day",
                      F.sum("x_e4").over(wcum).alias("cum"))
    cusum = (F.col("cum")
             - F.least(F.lit(0).cast("bigint"),
                       F.min("cum").over(wcum)))
    return (cummed.select("event_type",
                          F.date_format("day", "yyyy-MM-dd").alias("day"),
                          cusum.alias("cusum_e4"))
            .withColumn("drift", F.col("cusum_e4") > F.lit(5_000_000)))


@register("sketch_ams_f2")
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch family: AMS second-frequency-moment (F2) estimation —
    the join-size / self-join-cardinality estimator (Alon-Matias-
    Szegedy). Sixteen independent +-1 md5-sign estimators: each
    aggregates sum(sign_i(key)) over the raw stream (NO per-key
    counting anywhere), F2_est = mean of the squared sums. The
    exchange carries 16 partial sums per task — constant, no matter
    how many distinct keys exist; the exact F2 (sum of count^2 via a
    key-bounded aggregate) rides along so the estimate's relative
    error is part of the contract."""
    ev = read_table(spark, sf_dir, "events")
    from ..operators.text import md5_long
    signs = [
        F.when(md5_long(F.concat(F.lit(f"ams{i}:"),
                                 F.col("user_id").cast("string")))
               .bitwiseAND(F.lit(1)) == 0, F.lit(1)).otherwise(F.lit(-1))
        .cast("bigint").alias(f"s{i}")
        for i in range(16)]
    est_row = (ev.select(*signs)
               .agg(*[F.sum(f"s{i}").alias(f"z{i}") for i in range(16)]))
    sq = sum(F.col(f"z{i}") * F.col(f"z{i}") for i in range(16))
    # bigint `div`, not `/`: a double division followed by a cast
    # truncates on Spark and rounds on DuckDB — integer division is
    # identical on both
    est = est_row.select(sq.alias("sq")).select(
        F.expr("sq div 16").alias("f2_est"))
    exact = (ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
             .agg(F.sum(F.col("c") * F.col("c")).alias("f2_exact")))
    return (est.crossJoin(F.broadcast(exact))
            .select("f2_est", "f2_exact",
                    F.round(F.abs(F.col("f2_est") - F.col("f2_exact"))
                            / F.col("f2_exact"), 6).alias("rel_err")))


def benford_expected_ppm() -> list[int]:
    """Benford first-digit expectations as integer ppm, generated
    ONCE here and embedded in BOTH the Spark plan and the oracle
    f-string (the shared-constant pattern): round(1e6*log10(1+1/d))
    for d=1..9."""
    import math
    return [round(1e6 * math.log10(1 + 1 / d)) for d in range(1, 10)]


@register("dq_benford_digits")
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ / fraud-screening tier: Benford's-law first-significant-
    digit test over order totals — the classic forensic-accounting
    check a financial pipeline runs on money columns. Per digit
    1..9: observed count, observed ppm, expected Benford ppm
    (shared integer constants), and the |obs - exp| ppm deviation.
    Everything stays integer: prices become exact cents
    (floor(x*100+0.5), the money recipe), the leading digit is
    cents DIV 10^(len-1) via the bigint's decimal string length
    (bigint-to-string is engine-identical, unlike float
    stringification), and ppm values are integer DIV — no float
    crosses an engine boundary anywhere. Scale: one narrow map +
    a 9-group aggregate; the exchange carries 9 rows per task."""
    exp_ppm = benford_expected_ppm()
    orders = read_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    digit = F.expr(
        "CAST(substring(CAST(__cents AS STRING), 1, 1) AS INT)")
    exp_arr = F.array(*[F.lit(v) for v in exp_ppm])
    counts = (orders.select(cents.alias("__cents"))
              .select(digit.alias("digit"))
              .groupBy("digit")
              .agg(F.count(F.lit(1)).alias("n_obs")))
    total = counts.agg(F.sum("n_obs").alias("__t"))
    return (counts.crossJoin(F.broadcast(total))
            .select("digit", "n_obs",
                    F.expr("n_obs * 1000000 DIV __t").alias("obs_ppm"),
                    F.element_at(exp_arr, F.col("digit"))
                    .cast("bigint").alias("exp_ppm"))
            .withColumn("dev_ppm",
                        F.abs(F.col("obs_ppm") - F.col("exp_ppm")))
            .orderBy("digit"))


@register("dq_rate_anomaly")
def dq_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ anomaly tier: ingest-RATE spike detection — flag minutes
    whose event count exceeds mean + 3 sigma over all minutes (bot
    bursts / crawler storms / replayed partitions; the rate twin of
    dq_outlier_zscore's VALUE outliers). The 3-sigma test runs
    ENTIRELY in integer arithmetic: count > m + 3*sd is equivalent to
    (m*cnt - s) > 0 AND (m*cnt - s)^2 > 9*(m*q - s^2) over the
    minute-count moments (s = sum, q = sum of squares), so no double
    division or sqrt exists to tie-break differently across engines.
    The quadratic terms ride DECIMAL(38,0) (DuckDB: HUGEINT) —
    m*q ~ minutes^2 * rate^2 overflows bigint at real scale.

    Scale: one map-side-collapsing groupBy(minute) (shuffle bounded
    by the time span, not event volume), a 1-row moments aggregate
    broadcast back, and a codegen comparison."""
    ev = read_table(spark, sf_dir, "events")
    per_min = (ev.groupBy(F.date_trunc("minute", F.col("ts"))
                          .alias("minute"))
               .agg(F.count(F.lit(1)).alias("n_events")))
    big = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = per_min.agg(
        big(F.count(F.lit(1))).alias("m"),
        big(F.sum("n_events")).alias("s"),
        big(F.sum(F.col("n_events") * F.col("n_events"))).alias("q"))
    dev = F.col("m") * big(F.col("n_events")) - F.col("s")
    rhs = F.lit(9) * (F.col("m") * F.col("q") - F.col("s") * F.col("s"))
    return (per_min.crossJoin(F.broadcast(stats))
            .select("minute", "n_events",
                    ((dev > 0) & (dev * dev > rhs)).alias("is_spike")))


@register("dq_numeric_histogram")
def dq_numeric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ profile tier: fixed-width histogram of a numeric column
    (distribution drift detection) — a single partial-aggregated
    shuffle of at most n_buckets groups, never a sort."""
    li = read_table(spark, sf_dir, "lineitem")
    bucket = F.least(F.floor(F.col("l_extendedprice") / F.lit(5000.0)),
                     F.lit(19)).cast("int")
    return (li.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select("bucket",
                    (F.col("bucket") * 5000.0).alias("lo_edge"),
                    "n_rows"))


@register("sample_weighted_per_source")
def sample_weighted_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset prep: per-source A-Res weighted sample (k=10 per
    source, weight = n_chars) — the balanced-curation shape that
    combines the domain quota with weight-proportional selection; one
    shuffle keyed on the group."""
    from ..operators.sampling import weighted_sample_per_group
    docs = read_table(spark, sf_dir, "documents")
    return weighted_sample_per_group(docs, "doc_id", "n_chars", "source",
                                     k=10, seed="s0")


@register("maintenance_sorted_rewrite")
def maintenance_sorted_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance tier: sorted-layout rewrite (range-partition
    + sortWithinPartitions on the hot filter column) so parquet
    row-group min/max stats line up with date predicates — the cheap,
    portable cousin of Z-ordering, measured 1.2-4.5x on filtered
    scans in scale probes. The read-back aggregate over a date slice
    proves the rewrite lost nothing and exercises the pushdown path
    the layout exists for."""
    from ..functions.numeric import exact_sum
    from ..sinks import scratch_path, write_sorted_by
    li = read_table(spark, sf_dir, "lineitem")
    dst = scratch_path("maintenance", "lineitem_shipdate_sorted.parquet")
    write_sorted_by(li, dst, ["l_shipdate"], 8)
    back = spark.read.parquet(dst)
    sliced = back.filter(
        (F.col("l_shipdate") >= "1997-03-01")
        & (F.col("l_shipdate") < "1997-06-01"))
    return (sliced.agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum(F.col("l_quantity")).alias("sum_qty"),
        exact_sum(F.col("l_extendedprice")).alias("sum_price")))


@register("dedup_containment")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 containment tier: directional excerpt detection — pairs
    where >= 80% of A's trigram shingles appear in B (the case
    Jaccard tiers miss when document sizes differ wildly). Complete
    prefix + length filters, so the result equals the quadratic
    ground truth the oracle runs."""
    from ..operators.dedup import containment_prefix_pairs
    docs = read_table(spark, sf_dir, "documents")
    return containment_prefix_pairs(docs, "text", "doc_id",
                                    shingle_n=3, threshold=0.8)


@register("text_pii_scrub")
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 compliance tier: PII masking (email / IPv4 / phone-shaped
    runs) with per-doc hit counts for quarantine routing — pure
    codegen regexp work, patterns restricted to Java-regex/RE2
    common syntax so the oracle reproduces them."""
    from ..operators.text import pii_scrub
    docs = read_table(spark, sf_dir, "documents")
    return pii_scrub(docs, "text", "doc_id")


@register("sketch_hll_retention")
def sketch_hll_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch algebra: month-over-month retained customers estimated
    purely from per-month HLL sketches by inclusion-exclusion (the
    union is a sketch merge, never a rescan); exact retained count +
    in-query estimate bound per row."""
    from ..operators.sketch import hll_month_retention
    orders = read_table(spark, sf_dir, "orders")
    return hll_month_retention(orders, "o_custkey", "o_orderdate")


@register("multimodal_frame_sample")
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 video-shaped tier: every 4th fixed-size frame of each
    binary payload emitted as its own row with a content hash —
    the mapInPandas fan-out a real frame-sampling pipeline uses,
    deterministic so the oracle reproduces every frame hash."""
    from ..operators.multimodal import frame_sample
    docs = read_table(spark, sf_dir, "documents")
    return frame_sample(docs, "text", "doc_id", frame_chars=64, stride=4)


@register("multimodal_resize_stub")
def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: nearest-neighbor 2x downsample over the row-major scanline
    stand-in (keep every 2nd char of every 2nd row) — the resize leg
    of the brief's decode/feature-extract/resize/frame-sample
    enumeration; stride indexing over a flattened 2-D layout, hashed
    so the oracle reproduces every output."""
    from ..operators.multimodal import resize_stub
    docs = read_table(spark, sf_dir, "documents")
    return resize_stub(docs, "text", "doc_id", img_width=32, factor=2)


@register("multimodal_audio_windows")
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 audio-shaped tier: OVERLAPPING feature windows (96 chars
    every 48 — the STFT layout where samples belong to multiple
    windows, vs frame_sample's disjoint strided frames), trailing
    partial kept, per-window md5 so the oracle reproduces every
    row."""
    from ..operators.multimodal import audio_windows
    docs = read_table(spark, sf_dir, "documents")
    return audio_windows(docs, "text", "doc_id",
                         win_chars=96, hop_chars=48)


@register("multimodal_image_tiles")
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 image-shaped tier: ViT-style 2-D patch grid (32-wide
    row-major scanlines cut into 8x8 tiles, ragged edges kept) — the
    NON-CONTIGUOUS fan-out the 1-D frame/window tiers can't express:
    each tile concatenates one strip per scanline before hashing."""
    from ..operators.multimodal import image_tiles
    docs = read_table(spark, sf_dir, "documents")
    return image_tiles(docs, "text", "doc_id", img_width=32, tile=8)


@register("funnel_conversion")
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-analytics tier: strict-order event funnel
    (signup -> view -> click -> purchase by first occurrence per
    user). One shuffle — the per-user conditional-min aggregate —
    then a broadcast-free single-row rollup; step timestamps never
    leave the aggregate, so the funnel is one pass over 100 TB of
    events."""
    ev = read_table(spark, sf_dir, "events")
    first = lambda typ: F.min(  # noqa: E731
        F.when(F.col("event_type") == typ, F.col("ts")))
    per_user = (ev.groupBy("user_id")
                .agg(first("signup").alias("t0"), first("view").alias("t1"),
                     first("click").alias("t2"),
                     first("purchase").alias("t3")))
    s0 = F.col("t0").isNotNull()
    s1 = s0 & (F.col("t1") > F.col("t0"))
    s2 = s1 & (F.col("t2") > F.col("t1"))
    s3 = s2 & (F.col("t3") > F.col("t2"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(s0.cast("int")).cast("bigint").alias("n_signup"),
        F.sum(s1.cast("int")).cast("bigint").alias("n_then_view"),
        F.sum(s2.cast("int")).cast("bigint").alias("n_then_click"),
        F.sum(s3.cast("int")).cast("bigint").alias("n_then_purchase"))


@register("session_entry_paths")
def session_entry_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-analytics tier: top session ENTRY PATHS — the first
    three event types of every user session (gaps-and-islands
    sessionization, 30-minute inactivity gap), counted corpus-wide.
    Two bounded shuffles: the per-user session window (lag + running
    sum of session breaks, partitioned by user) and the path
    histogram (partial-aggregated); the head is
    TakeOrderedAndProject. Paths are capped at 3 steps so the path
    key space stays bounded regardless of session length."""
    from pyspark.sql import Window
    ev = read_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Integer-microsecond gap arithmetic (unix_micros == DuckDB
    # epoch_us): cast-to-long truncates to the second while the old
    # oracle's epoch() kept the fraction, so a gap within +/-1 s of the
    # 1800 s boundary could sessionize differently per engine — latent
    # at the tested SFs, real at 100 TB of events.
    gap = F.lit(30 * 60 * 1_000_000)
    us = F.unix_micros(F.col("ts"))
    new_sess = (us - F.lag(us).over(w_user)) > gap
    sess = (ev
            .withColumn("brk", F.coalesce(new_sess.cast("int"), F.lit(1)))
            .withColumn("session_id",
                        F.sum("brk").over(
                            w_user.rowsBetween(Window.unboundedPreceding, 0)))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("user_id", "session_id")
                .orderBy("ts", "event_id")))
            .filter(F.col("rn") <= 3))
    paths = (sess.groupBy("user_id", "session_id")
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.struct(F.col("rn"), F.col("event_type")))),
                     lambda s: s["event_type"]),
                 ">").alias("path")))
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_sessions"))
            .orderBy(F.desc("n_sessions"), F.asc("path"))
            .limit(10))


@register("resample_daily_locf")
def resample_daily_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series feature tier: resample sparse purchase values onto
    a dense per-user DAILY grid with last-observation-carried-forward
    gap fill (1997 Q1). The spine is generated (users x 90 days — a
    broadcast-sized dimension, never a scan), daily observations come
    from one max_by aggregate, and the carry-forward is
    last_value(ignoreNulls) over the per-user date window — one
    shuffle keyed on the user, the gaps-and-islands dual of
    agg_monthly_spine's zero-fill."""
    from pyspark.sql import Window
    ev = read_table(spark, sf_dir, "events")
    days = spark.sql(
        "SELECT explode(sequence(DATE'1997-01-01', DATE'1997-03-31')) AS day")
    users = ev.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(days))
    obs = (ev.filter((F.col("event_type") == "purchase")
                     & F.col("value").isNotNull()
                     & (F.col("ts") >= "1997-01-01")
                     & (F.col("ts") < "1997-04-01"))
           .groupBy("user_id", F.to_date("ts").alias("day"))
           .agg(F.max_by("value", F.struct(F.col("ts"), F.col("event_id")))
                .alias("v_day")))
    w = (Window.partitionBy("user_id").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (spine.join(obs, ["user_id", "day"], "left")
            .select("user_id",
                    F.date_format("day", "yyyy-MM-dd").alias("day"),
                    F.last("v_day", ignorenulls=True).over(w)
                    .alias("value_locf")))


@register("resample_daily_interpolate")
def resample_daily_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series feature tier: LINEAR interpolation onto the dense
    daily grid — fills only BETWEEN observations (no extrapolation:
    leading/trailing gaps stay NULL), the smooth dual of
    resample_daily_locf's step fill. Bracketing observations come
    from two ignoreNulls window reads (last value+day back, first
    forward) over the same one user-keyed shuffle; the interpolation
    ratio is integer day-diffs divided as doubles in one shared
    operand order, rounded to 6."""
    from pyspark.sql import Window
    ev = read_table(spark, sf_dir, "events")
    days = spark.sql(
        "SELECT explode(sequence(DATE'1997-01-01', DATE'1997-03-31')) AS day")
    users = ev.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(days))
    obs = (ev.filter((F.col("event_type") == "purchase")
                     & F.col("value").isNotNull()
                     & (F.col("ts") >= "1997-01-01")
                     & (F.col("ts") < "1997-04-01"))
           .groupBy("user_id", F.to_date("ts").alias("day"))
           .agg(F.max_by("value", F.struct(F.col("ts"), F.col("event_id")))
                .alias("v_day")))
    wb = (Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0))
    wf = (Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(0, Window.unboundedFollowing))
    obs_day = F.when(F.col("v_day").isNotNull(), F.col("day"))
    joined = (spine.join(obs, ["user_id", "day"], "left")
              .select("user_id", "day", "v_day",
                      F.last("v_day", ignorenulls=True).over(wb).alias("vp"),
                      F.last(obs_day, ignorenulls=True).over(wb).alias("dp"),
                      F.first("v_day", ignorenulls=True).over(wf).alias("vn"),
                      F.first(obs_day, ignorenulls=True).over(wf).alias("dn")))
    # values are exact 2-decimal money, day gaps small integers —
    # the interpolated value is an exact rational
    # (cp*(g-g1) + cn*g1) / (100*g), so its 6-decimal rounding is
    # decided in integer arithmetic (round_ratio6; ROUND(double, 6)
    # diverges across engines on exact ...5 ties, e.g. a 32-day gap)
    from ..functions.numeric import round_ratio6
    cp = F.floor(F.col("vp") * 100 + F.lit(0.5)).cast("bigint")
    cn = F.floor(F.col("vn") * 100 + F.lit(0.5)).cast("bigint")
    g = F.datediff(F.col("dn"), F.col("dp")).cast("bigint")
    g1 = F.datediff(F.col("day"), F.col("dp")).cast("bigint")
    interp = F.when(F.col("v_day").isNotNull(), F.round(F.col("v_day"), 6)) \
        .when(F.col("vp").isNotNull() & F.col("vn").isNotNull(),
              round_ratio6(cp * (g - g1) + cn * g1, g * 100))
    return joined.select(
        "user_id", F.date_format("day", "yyyy-MM-dd").alias("day"),
        interp.alias("value_interp"))


@register("events_rfm_segmentation")
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral tier: RFM segmentation — every user scored into
    quintile buckets on Recency (days since last event, vs the
    corpus's last day), Frequency (event count) and Monetary
    (decimal-exact purchase value). Quintile boundaries use the
    dq_equidepth machinery: ONE percentile aggregate per dimension
    (model-sized collect over the per-user frame), codegen CASE
    assignment, boundary ties to the lower bucket on both engines.
    The per-user frame costs one user-keyed shuffle; everything
    after is broadcast-model arithmetic."""
    ev = read_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.max(F.to_date("ts")).alias("last_day"),
                     F.count(F.lit(1)).alias("n_events"),
                     F.round(F.coalesce(
                         F.sum(F.when(F.col("event_type") == "purchase",
                                      F.col("value"))
                               .cast("decimal(18,4)")),
                         F.lit(0).cast("decimal(18,4)"))
                         .cast("double"), 4).alias("monetary")))
    anchor = per_user.agg(F.max("last_day")).first()[0]
    scored = per_user.withColumn(
        "recency_days",
        F.datediff(F.lit(anchor), F.col("last_day")).cast("int"))
    qs = F.array(*[F.lit(i / 5.0) for i in range(1, 5)])
    th = scored.agg(
        F.percentile("recency_days", qs).alias("r"),
        F.percentile("n_events", qs).alias("f"),
        F.percentile("monetary", qs).alias("m")).first()

    def bucket(col: str, bounds) -> F.Column:
        return sum((F.when(F.col(col) > F.lit(float(b)), 1).otherwise(0)
                    for b in bounds), F.lit(1)).cast("int")

    return scored.select(
        "user_id", "recency_days", "n_events", "monetary",
        bucket("recency_days", th["r"]).alias("r_bucket"),
        bucket("n_events", th["f"]).alias("f_bucket"),
        bucket("monetary", th["m"]).alias("m_bucket"))


@register("agg_retention_cohorts")
def agg_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-analytics tier: signup-cohort retention matrix —
    users grouped by first-signup DAY, counted as retained on each
    later day they produced any event (the testdata spans one month,
    so daily is the meaningful cohort grain). Two aggregates
    (first-signup per user, then distinct users per cohort x offset
    cell); dates compared as DATEs, offsets as integer day diffs."""
    ev = read_table(spark, sf_dir, "events")
    cohort = (ev.filter(F.col("event_type") == "signup")
              .groupBy("user_id")
              .agg(F.min(F.to_date("ts")).alias("cohort_d")))
    active = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (active.join(cohort, "user_id")
            .filter(F.col("d") >= F.col("cohort_d"))
            .groupBy(
                F.date_format("cohort_d", "yyyy-MM-dd")
                .alias("cohort_date"),
                F.datediff("d", "cohort_d").cast("int")
                .alias("day_offset"))
            .agg(F.count_distinct("user_id").alias("n_active")))


@register("dq_referential_integrity")
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ constraint tier: orphan counts across the star schema's
    foreign keys (lineitem->orders, orders->customer,
    customer->nation) — each check is a left-anti join counted, the
    one-pass generalization of the reference's NaN-count validation
    (qb_transactionlist.py:99-101) to relational integrity."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    checks = [
        ("lineitem.l_orderkey -> orders", li.join(
            orders, li.l_orderkey == orders.o_orderkey, "left_anti")),
        ("orders.o_custkey -> customer", orders.join(
            cust, orders.o_custkey == cust.c_custkey, "left_anti")),
        ("customer.c_nationkey -> nation", cust.join(
            nation, cust.c_nationkey == nation.n_nationkey, "left_anti")),
    ]
    out = None
    for name, orphans in checks:
        row = orphans.agg(F.count(F.lit(1)).alias("n_orphans")) \
            .select(F.lit(name).alias("fk_check"), "n_orphans")
        out = row if out is None else out.unionByName(row)
    return out


@register("text_tfidf_top_terms")
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 keyword tier: top-3 TF-IDF terms per document. Term
    frequencies and document frequencies are two vocabulary-sized
    aggregates off one explode; idf = log10(N/df) with the corpus
    size as a 1-row broadcast; the per-doc head is a rank inside the
    doc partition (WindowGroupLimit pre-prunes before the exchange).
    Scores are rounded BEFORE ranking so the cut is engine-exact,
    with (score desc, term asc) total order."""
    from pyspark.sql import Window

    from ..operators.text import tokens
    docs = read_table(spark, sf_dir, "documents")
    toke = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toke.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (toke.select("doc_id", "term").distinct()
             .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n_docs))
              .select("doc_id", "term",
                      F.round(F.col("tf")
                              * F.log10(F.col("__n") / F.col("df")),
                              6).alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3))


# --- §2.12 round 4 (session 2): bloom membership, KMV intersection -------

@register("sketch_bloom_filter")
def sketch_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership sketch tier: bloom filter over recent purchasers
    (distinct custkeys ordering since 2001-04) probed by ALL customers,
    summarized per market segment. The filter is a (word, bits)
    table — shuffle bounded at m_bits/60 rows regardless of builder
    cardinality, mergeable by bit_or, broadcast for probes. md5 bit
    positions make the whole filter engine-portable: the oracle
    rebuilds it bit-for-bit, and the no-false-negative guarantee is
    asserted in-query (n_false_neg must be 0 by construction)."""
    from ..operators.sketch import bloom_build, bloom_probe
    recent = (read_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >= "2001-04-01")
              .select("o_custkey").distinct())
    bloom = bloom_build(recent, "o_custkey")
    cust = read_table(spark, sf_dir, "customer")
    probed = bloom_probe(bloom, cust.select("c_custkey"), "c_custkey")
    flagged = (cust
               .join(probed, "c_custkey")
               .join(recent.withColumnRenamed("o_custkey", "c_custkey")
                     .withColumn("is_member", F.lit(True)),
                     "c_custkey", "left")
               .withColumn("exact_member",
                           F.coalesce("is_member", F.lit(False))))
    return (flagged.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(F.when(F.col("exact_member"), 1).otherwise(0))
                 .alias("n_recent_exact"),
                 F.sum(F.when(F.col("bloom_member"), 1).otherwise(0))
                 .alias("n_bloom_hits"),
                 F.sum(F.when(F.col("exact_member")
                              & ~F.col("bloom_member"), 1).otherwise(0))
                 .alias("n_false_neg"),
                 F.sum(F.when(F.col("bloom_member")
                              & ~F.col("exact_member"), 1).otherwise(0))
                 .alias("n_false_pos")))


@register("sketch_kmv_overlap")
def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection sketch tier: KMV (theta-style) estimate of
    the purchaser overlap between 1996 and 1997 — the question HLL
    union algebra cannot answer. Each side collapses to a k-row
    sketch via distinct + TakeOrderedAndProject; every estimate is a
    deterministic function of md5 values, so the oracle reproduces
    the ESTIMATES bit-for-bit, alongside the exact overlap and an
    in-query accuracy bound."""
    from ..operators.sketch import kmv_overlap
    orders = read_table(spark, sf_dir, "orders")
    a = orders.filter((F.col("o_orderdate") >= "1996-01-01")
                      & (F.col("o_orderdate") < "1997-01-01"))
    b = orders.filter((F.col("o_orderdate") >= "1997-01-01")
                      & (F.col("o_orderdate") < "1998-01-01"))
    return kmv_overlap(a, b, "o_custkey", k=64)


@register("embedding_gram_matrix")
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed X^T X over the embedding corpus — the PCA /
    whitening / linear-probe primitive. Narrow codegen expansion to
    upper-triangle products, decimal-exact sums, shuffle bounded at
    d(d+1)/2 groups regardless of corpus size (the gram matrix is
    sketch-shaped data)."""
    from ..operators.similarity import gram_matrix
    emb = read_table(spark, sf_dir, "embeddings")
    return gram_matrix(emb, "embedding")


@register("maintenance_incremental_rollup")
def maintenance_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a distributive aggregate:
    the monthly revenue rollup is materialized from the pre-1998
    base ONCE, then a 1998+ delta batch is folded in by re-aggregating
    base-AGGREGATE ∪ delta-AGGREGATE ("sum of sums") — the base FACT
    is never rescanned. At 100 TB this is the difference between an
    O(delta) nightly refresh and an O(history) one; the oracle is the
    full aggregate over everything, proving merge == recompute."""
    from ..sinks import scratch_path
    orders = read_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    base_agg_path = scratch_path(
        "maintenance", f"rollup_base_{abs(hash(sf_dir)) % 10**8}.parquet")
    (orders.filter(F.col("o_orderdate") < "1998-01-01")
     .groupBy(month)
     .agg(exact_sum(F.col("o_totalprice")).alias("m_total"),
          F.count(F.lit(1)).alias("m_orders"))
     .write.mode("overwrite").parquet(base_agg_path))
    delta_agg = (orders.filter(F.col("o_orderdate") >= "1998-01-01")
                 .groupBy(month)
                 .agg(exact_sum(F.col("o_totalprice")).alias("m_total"),
                      F.count(F.lit(1)).alias("m_orders")))
    base_agg = spark.read.parquet(base_agg_path)
    return (base_agg.unionByName(delta_agg)
            .groupBy("order_month")
            .agg(F.sum(F.col("m_total").cast("decimal(18,4)"))
                 .cast("double").alias("total_amount"),
                 F.sum("m_orders").alias("n_orders")))


def _zval_expr(d_col: str, p_col: str, bits: int = 8) -> str:
    """Morton/Z-order interleave of the low ``bits`` of two integer
    dimensions — pure shift/mask arithmetic both engines evaluate
    identically."""
    terms = []
    for b in range(bits):
        terms.append(f"(((({d_col}) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((({p_col}) >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


@register("maintenance_zorder_rewrite")
def maintenance_zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional layout maintenance: rewrite lineitem ordered
    by the Morton (Z-order) interleave of ship-day and partkey so
    row-group min/max stats prune BOTH filter dimensions (the
    one-column sorted rewrite only serves one). The read-back slice
    filtered on both dimensions proves losslessness, and min/max of
    the recomputed z-value pin the interleave arithmetic against the
    oracle."""
    from ..sinks import scratch_path
    li = read_table(spark, sf_dir, "lineitem")
    day = "CAST(datediff(l_shipdate, DATE '1995-01-01') AS INT) & 255"
    pk = "CAST(l_partkey AS INT) & 255"
    zed = li.withColumn("zval", F.expr(_zval_expr(day, pk)).cast("int"))
    dst = scratch_path("maintenance", "lineitem_zorder.parquet")
    (zed.repartitionByRange(8, "zval").sortWithinPartitions("zval")
     .write.mode("overwrite").parquet(dst))
    back = spark.read.parquet(dst)
    sliced = back.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-07-01")
        & (F.col("l_partkey") % 4 == 0))
    return sliced.agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum(F.col("l_extendedprice")).alias("sum_price"),
        F.min("zval").alias("min_zval"),
        F.max("zval").alias("max_zval"))


@register("json_variant_extract")
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured tier, Spark 4 VARIANT: parse the events props
    JSON once into the binary variant encoding, then typed-path
    extraction (`variant_get`) — the open-table-format answer to
    schema-on-read JSON that beats repeated from_json/get_json_object
    re-parses at scale (one parse, many extractions, no full-schema
    inference). The oracle checks the extracted values + per-key
    aggregate; the variant encoding itself never leaves the plan."""
    ev = read_table(spark, sf_dir, "events")
    v = ev.withColumn("pv", F.parse_json("props"))
    typed = v.select(
        "event_id",
        F.variant_get(F.col("pv"), "$.k", "int").alias("prop_k"),
        F.schema_of_variant(F.col("pv")).alias("props_schema"))
    return (typed.groupBy("prop_k", "props_schema")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("event_id").alias("min_event_id")))


@register("text_cooccurrence_pmi")
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-prep tier: top collocations by PMI over a ±2-token
    window. Pairs expand inline in codegen (no positional self-join
    of the exploded token relation); all aggregates are
    vocabulary-bounded (operators/text.py::cooccurrence_pmi)."""
    from ..operators.text import cooccurrence_pmi
    docs = read_table(spark, sf_dir, "documents")
    return cooccurrence_pmi(docs, "text", "doc_id", min_count=5, k=30)


@register("dedup_bloom_prefilter")
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter composition for incremental dedup: the corpus's
    exact-text-hash bloom filter (bounded size, broadcastable)
    prefilters a daily batch — bloom MISSES are definite-new and skip
    the membership join entirely; only bloom HITS (true dups + the
    filter's false positives) reach the exact check. At 100 TB this
    is the difference between anti-joining the whole batch against
    the corpus index and probing a few-GB bitset: the exact join's
    probe side shrinks to the duplicate rate + FP rate. The oracle
    rebuilds the bloom bit-for-bit (md5) and recomputes every
    disposition count, including the no-false-negative law
    (n_missed_dups MUST be 0 — a missed dup means the filter is
    broken, not merely imprecise)."""
    from ..operators.sketch import bloom_build, bloom_probe
    docs = read_table(spark, sf_dir, "documents")
    key = F.md5(F.encode(F.col("text"), "UTF-8")).alias("k")
    # batch = today's crawl, corpus = the index; they overlap on
    # doc_id % 6 == 0 (the re-crawled URLs) so the dup path is real
    corpus = docs.filter(F.col("doc_id") % 3 == 0).select(key)
    batch = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", key)
    bloom = bloom_build(corpus.select("k").distinct(), "k")
    probed = bloom_probe(bloom, batch.select("k").distinct(), "k")
    corpus_keys = corpus.distinct().withColumn("in_corpus", F.lit(True))
    flagged = (batch.join(probed, "k")
               .join(corpus_keys, "k", "left")
               .withColumn("is_dup", F.coalesce("in_corpus",
                                                F.lit(False))))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(F.when(~F.col("bloom_member"), 1).otherwise(0))
        .alias("n_definite_new"),
        F.sum(F.when(F.col("bloom_member"), 1).otherwise(0))
        .alias("n_candidates"),
        F.sum(F.when(F.col("bloom_member") & F.col("is_dup"), 1)
              .otherwise(0)).alias("n_confirmed_dup"),
        F.sum(F.when(F.col("bloom_member") & ~F.col("is_dup"), 1)
              .otherwise(0)).alias("n_false_pos"),
        F.sum(F.when(~F.col("bloom_member") & F.col("is_dup"), 1)
              .otherwise(0)).alias("n_missed_dups"))


@register("embedding_gram_matrix_arrow")
def embedding_gram_matrix_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gram matrix's production tier: Arrow-batched BLAS matmul
    per partition (measured 0.76 s vs the expansion tier's 80 s at
    100k vectors, d=64), merged by double sum. Held to the
    decimal-exact tier IN-QUERY: every cell must land within float
    tolerance of the exact gram, so the key is oracle-checkable by
    construction while the fast path stays fast."""
    from ..operators.similarity import gram_matrix, gram_matrix_arrow
    emb = read_table(spark, sf_dir, "embeddings")
    exact = gram_matrix(emb, "embedding")
    fast = gram_matrix_arrow(emb, "embedding")
    tol = F.greatest(F.abs(F.col("gram")) * F.lit(1e-9), F.lit(1e-6))
    return (exact.join(fast, ["i", "j"])
            .select("i", "j", "gram",
                    (F.abs(F.col("gram_arrow") - F.col("gram")) <= tol)
                    .alias("arrow_ok")))


# ---------------------------------------------------------------------------
# Round-4 wave 4: mixture curation, sessionization, privacy DQ.
# ---------------------------------------------------------------------------

@register("mixture_temperature_sampling")
def mixture_temperature_sampling(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Temperature-scaled source mixing (alpha=0.5): rebalance the
    corpus toward q_s ∝ share_s^0.5 by deterministic per-source
    down-sampling — rate_s = sqrt(min_share / share_s), membership by
    content-hash draw, so rare-by-character-mass sources keep
    everything and heavy sources thin out. The multilingual-LM
    curation step the reference has no analogue for; one
    partial-aggregated shuffle for the mass table (source-cardinality
    rows, broadcast back), one for the tally — nothing data-sized
    leaves the executors."""
    from ..operators.sampling import temperature_mixture
    docs = read_table(spark, sf_dir, "documents")
    out = temperature_mixture(docs, "source", "n_chars", "doc_id",
                              alpha=0.5, seed="mix0")
    return out.orderBy("source")


@register("pipeline_user_features")
def pipeline_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END feature-store build on the events side (the
    behavioral sibling of pipeline_corpus_curation): sessionize
    (30-min gap, microsecond-exact — sessionize_inactivity_gap's
    pinned semantics) -> per-session facts -> per-USER feature
    vector: activity counts, session stats, purchase monetization
    (decimal-exact), engagement span. One user-keyed shuffle carries
    the whole chain — the window and both rollups share the
    user_id partition, so Catalyst plans sessionization, session
    rollup, and user rollup without re-exchanging. Averages are
    ratio-of-exact-sums divided as doubles in one shared order."""
    from pyspark.sql import Window
    ev = read_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap_us = F.lit(30 * 60 * 1_000_000)
    new_sess = (us - F.lag(us).over(w_user)) > gap_us
    sess = (ev.withColumn("brk", F.coalesce(new_sess.cast("int"), F.lit(1)))
            .withColumn("session_id",
                        F.sum("brk").over(
                            w_user.rowsBetween(Window.unboundedPreceding, 0))))
    per_session = (sess.groupBy("user_id", "session_id")
                   .agg(F.count(F.lit(1)).alias("s_events"),
                        (F.max(us) - F.min(us)).alias("s_dur_us"),
                        F.sum((F.col("event_type") == "purchase")
                              .cast("int")).alias("s_purchases"),
                        F.sum(F.when(F.col("event_type") == "purchase",
                                     F.col("value"))
                              .cast("decimal(18,4)")).alias("s_value"),
                        F.min(us).alias("s_start"),
                        F.max(us).alias("s_end")))
    return (per_session.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum("s_events").alias("n_events"),
                 F.sum("s_purchases").cast("bigint").alias("n_purchases"),
                 F.sum("s_value").alias("total_value_dec"),
                 F.sum("s_dur_us").alias("total_session_us"),
                 F.min("s_start").alias("first_us"),
                 F.max("s_end").alias("last_us"))
            .select("user_id", "n_sessions", "n_events", "n_purchases",
                    F.round(F.col("total_value_dec").cast("double"), 4)
                    .alias("total_value"),
                    F.round(F.col("n_events").cast("double")
                            / F.col("n_sessions").cast("double"), 6)
                    .alias("events_per_session"),
                    F.round(F.col("total_session_us").cast("double")
                            / F.col("n_sessions").cast("double"), 6)
                    .alias("avg_session_us"),
                    (F.col("last_us") - F.col("first_us"))
                    .alias("engagement_span_us")))


@register("sessionize_inactivity_gap")
def sessionize_inactivity_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands, 30-minute inactivity
    gap) emitting per-SESSION facts: length, microsecond-exact
    duration, purchase count, entry event. The session-level dual of
    session_entry_paths' corpus-level histogram. Gap arithmetic runs
    on unix_micros — integer microseconds on both engines — so a
    session break can never flip on sub-second truncation (epoch(ts)
    vs cast-to-long disagree inside the same second). One shuffle:
    everything is windowed/aggregated under the user_id partition,
    and the per-session rollup uses min_by for the entry event, not
    a second ranking pass."""
    from pyspark.sql import Window
    ev = read_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap_us = F.lit(30 * 60 * 1_000_000)
    new_sess = (us - F.lag(us).over(w_user)) > gap_us
    sess = (ev.withColumn("brk", F.coalesce(new_sess.cast("int"), F.lit(1)))
            .withColumn("session_id",
                        F.sum("brk").over(
                            w_user.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.max(us) - F.min(us)).alias("duration_us"),
                 F.sum((F.col("event_type") == "purchase").cast("int"))
                 .cast("bigint").alias("n_purchases"),
                 F.min_by("event_type",
                          F.struct(F.col("ts"), F.col("event_id")))
                 .alias("entry_type")))


@register("privacy_pseudonymize_consistent")
def privacy_pseudonymize_consistent(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Privacy tier: KEYED CONSISTENT pseudonymization — every
    user/customer id is replaced by md5('pseud:' || id) independently
    in each table (in production the salt is a secret key; the fixed
    literal here keeps the key oracle-checkable), and the key PROVES
    the property that makes pseudonymization useful: joins and
    analytics still work on the surrogates. The pseudonymized
    events x customer join rolls up per market segment — identical
    to what the raw-id join would give, computed entirely without a
    raw id crossing the join. Scale: the surrogate map is a narrow
    codegen md5; the dim side broadcasts; one segment-bounded
    aggregate exchange."""
    ev = read_table(spark, sf_dir, "events").select(
        F.md5(F.concat(F.lit("pseud:"),
                       F.col("user_id").cast("string"))).alias("u_pseud"),
        "value")
    cust = read_table(spark, sf_dir, "customer").select(
        F.md5(F.concat(F.lit("pseud:"),
                       F.col("c_custkey").cast("string"))).alias("u_pseud"),
        "c_mktsegment")
    return (ev.join(F.broadcast(cust), "u_pseud")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count_distinct("u_pseud").alias("n_users"),
                 exact_sum(F.col("value")).alias("sum_value")))


@register("privacy_k_anonymity")
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy DQ tier: k-anonymity audit of the customer table under
    the quasi-identifier (mktsegment, nationkey, acctbal rounded to
    $2000 bands) — every QI group with fewer than k=5 members is
    flagged for suppression, the release-gating check a training-data
    pipeline runs before shipping user-derived tables. One
    partial-aggregated shuffle on the QI key; group count is bounded
    by the QI domain, not the data."""
    cust = read_table(spark, sf_dir, "customer")
    bal_band = (F.floor(F.col("c_acctbal") / F.lit(2000.0))
                .cast("int").alias("bal_band"))
    return (cust.groupBy("c_mktsegment", F.col("c_nationkey"), bal_band)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .withColumn("suppress", F.col("n_rows") < 5))


@register("privacy_l_diversity")
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy DQ tier, one notch past k-anonymity: l-DIVERSITY —
    a QI group where everyone shares the same sensitive value leaks
    it even when the group is large, so each (mktsegment, nationkey)
    group must contain >= l=3 DISTINCT sensitive values (acctbal
    $2000 bands). Exact distinct-per-group: two-phase (expand +
    partial) aggregate, shuffle bounded by QI domain x band domain,
    never row count."""
    cust = read_table(spark, sf_dir, "customer")
    bal_band = (F.floor(F.col("c_acctbal") / F.lit(2000.0))
                .cast("int").alias("bal_band"))
    return (cust.select("c_mktsegment", "c_nationkey", bal_band)
            .groupBy("c_mktsegment", "c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("bal_band").alias("n_distinct_bands"))
            .withColumn("diverse", F.col("n_distinct_bands") >= 3))


@register("privacy_dp_laplace_counts")
def privacy_dp_laplace_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy mechanism tier: Laplace-noised group counts — the
    b = sensitivity/epsilon = 1/0.5 = 2 release mechanism, noise via
    the inverse CDF -b*sign(u-1/2)*ln(1-2|u-1/2|). HONESTY NOTE: the
    uniform here is a SEEDED md5 draw so the key is testable and the
    oracle can mirror it bit-for-bit; actual differential privacy
    requires fresh cryptographic randomness per release — in
    production the draw column is the only line that changes. The
    ln() is rounded to 9 decimals before use (same guard as the
    weighted-reservoir draw) so a last-ulp libm difference cannot
    shift a noisy count. Scale: one partial-aggregated groupBy plus
    a narrow map — the noise adds nothing to the exchange."""
    cust = read_table(spark, sf_dir, "customer")
    from ..operators.text import md5_long
    g = (cust.groupBy("c_mktsegment")
         .agg(F.count(F.lit(1)).alias("n_true")))
    u = ((md5_long(F.concat(F.lit("dp:"), F.col("c_mktsegment")))
          + F.lit(1)).cast("double") / F.lit(float(2 ** 60)))
    p = u - F.lit(0.5)
    mag = F.round(F.log(F.lit(1.0) - F.lit(2.0) * F.abs(p)), 9)
    noise = F.round(F.lit(-2.0) * F.signum(p) * mag, 6)
    return g.select(
        "c_mktsegment", "n_true", noise.alias("noise"),
        F.round(F.col("n_true") + noise, 6).alias("n_noisy"))


@register("text_bigram_logprob")
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive LM-proxy scoring: per-document mean conditional
    bigram log10-prob under the corpus's own counts — the fluency
    filter one notch above text_unigram_logprob (a bag-of-words
    shuffle keeps its unigram score but craters here). Both count
    shuffles are vocabulary-bounded with map-side combine; per-pair
    logs are rounded then decimal-summed so the mean is partitioning-
    and engine-independent."""
    from ..operators.text import bigram_cond_logprob_scores
    docs = read_table(spark, sf_dir, "documents")
    return bigram_cond_logprob_scores(docs, "text", "doc_id")


@register("text_quality_gopher")
def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based Gopher quality gate with per-rule verdicts (word
    count, mean word length, distinct stopwords, alphabetic ratio) —
    the explainable curation filter; all codegen array expressions,
    zero shuffle."""
    from ..operators.text import gopher_quality_rules
    docs = read_table(spark, sf_dir, "documents")
    return gopher_quality_rules(docs, "text", "doc_id")


@register("sim_knn_graph")
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked k-NN graph (top-5 cosine neighbors within each label
    block): the bounded-candidate graph construction for near-dup
    clustering / retrieval eval — sum(block^2) candidate pairs, never
    the O(N^2) all-pairs, and the per-vector cut ranks inside a
    window partitioned by the source vector."""
    from ..operators.similarity import knn_graph_blocked
    emb = read_table(spark, sf_dir, "embeddings")
    return knn_graph_blocked(emb, "embedding", "vec_id", "label", k=5)


@register("embedding_pca_project")
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed uncentered PCA, MLlib-shaped: exact decimal gram
    (one d^2-bounded shuffle) -> driver-side 64x64 eigensolve
    (model-sized) -> codegen projection fold. Eigensolve isn't
    SQL-expressible, so the key verifies itself against the data
    in-plan (energy identity + explained-variance bound) and emits
    constants the oracle states — the sim_topk_cosine_pq pattern."""
    from ..operators.similarity import pca_project_topk
    emb = read_table(spark, sf_dir, "embeddings")
    return pca_project_topk(emb, "embedding", "vec_id", k=8)


@register("tokenizer_bpe_train")
def tokenizer_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, 10 merges: ONE data-sized
    pass (word-frequency aggregate), then every iteration is
    vocabulary-bounded with a 1-row model-update collect — the
    100 TB corpus and the 100 MB corpus run the same per-step cost.
    The oracle unrolls the identical 10 steps as a chained-CTE
    program (the graph_pagerank_fixed recipe applied to tokenizer
    learning)."""
    from ..operators.text import bpe_train_merges
    docs = read_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs, "text", n_merges=10)


@register("dq_freshness_lag")
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-freshness DQ: per event stream, how far its newest
    record lags the newest record anywhere — the staleness alarm a
    multi-source ingest runs after every load. Integer-microsecond
    arithmetic end to end; per-stream aggregate partial-combines and
    the 1-row global max broadcasts back."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    per = (ev.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.max(us).alias("max_ts_us")))
    glob = per.agg(F.max("max_ts_us").alias("global_max_us"))
    return (per.crossJoin(F.broadcast(glob))
            .select("event_type", "n_events", "max_ts_us",
                    (F.col("global_max_us") - F.col("max_ts_us"))
                    .alias("lag_us")))


@register("sample_balanced_classes")
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balancing curation: downsample every label to the
    MINORITY class's size by deterministic hash rank — the classifier
    training-set equalizer. The per-label cut ranks inside a window
    partitioned by label (each task holds one label's candidates);
    membership is content-hash order, so re-runs and engines pick the
    same rows. Emits the kept rows (label, vec_id, rank)."""
    from pyspark.sql import Window

    from ..operators.text import md5_long
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    floor_n = (emb.groupBy("label")
               .agg(F.count(F.lit(1)).alias("n"))
               .agg(F.min("n").alias("min_n")))
    w = Window.partitionBy("label").orderBy(
        F.asc(md5_long(F.concat(F.lit("bal0:"),
                                F.col("vec_id").cast("string")))),
        F.asc("vec_id"))
    return (emb.withColumn("rn", F.row_number().over(w))
            .crossJoin(F.broadcast(floor_n))
            .filter(F.col("rn") <= F.col("min_n"))
            .select("label", "vec_id", "rn"))


@register("dq_outlier_mad")
def dq_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: median / MAD (median absolute
    deviation) per event stream instead of mean / stddev — the
    z-score tier's robust sibling (one corrupt batch shifts a mean;
    it barely moves a median). Two grouped exact-percentile
    aggregates broadcast their stream-cardinality-sized results back
    onto the stream; a row is an outlier when |v - med| > 5 * MAD.
    Honest scale label: Spark's EXACT percentile buffers each group's
    values in the aggregation state (O(group) memory) — this is the
    oracle-exact tier, kept because DuckDB's percentile_cont
    reproduces it bit-for-bit; at 100 TB swap the two medians for
    approx_percentile (t-digest sketch state, same plan shape), which
    the oracle cannot check exactly (the z-score tier remains the
    exactly-checked moments path)."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    med = (ev.groupBy("event_type")
           .agg(F.percentile("value", F.lit(0.5)).alias("med")))
    dev = (ev.join(F.broadcast(med), "event_type")
           .select("event_type", "event_id", "value", "med",
                   F.abs(F.col("value") - F.col("med")).alias("adev")))
    mad = (dev.groupBy("event_type")
           .agg(F.percentile("adev", F.lit(0.5)).alias("mad")))
    rob_z = F.round((F.col("value") - F.col("med")) / F.col("mad"), 6)
    return (dev.join(F.broadcast(mad), "event_type")
            .filter((F.col("mad") > 0)
                    & (F.abs(F.col("value") - F.col("med"))
                       > 5 * F.col("mad")))
            .select("event_type", "event_id", "value",
                    rob_z.alias("rob_z")))


@register("dedup_canonical_map")
def dedup_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of cluster dedup: every clustered document
    mapped to its canonical representative (the cluster's smallest
    id — what the keep-one pass joins on), with cluster size and a
    per-doc keep/drop verdict. Components by min-label propagation
    (dedup_cluster_components), one extra component-keyed aggregate
    for sizes, broadcast back."""
    docs = read_table(spark, sf_dir, "documents")
    comp = near_dup_cluster_map(docs)
    sizes = (comp.groupBy("component_id")
             .agg(F.count(F.lit(1)).alias("n_members")))
    return (comp.join(F.broadcast(sizes), "component_id")
            .select(F.col("doc_id"),
                    F.col("component_id").alias("canonical_id"),
                    (F.col("doc_id") == F.col("component_id"))
                    .alias("is_canonical"),
                    F.col("n_members")))


@register("pairs_contrastive_sampling")
def pairs_contrastive_sampling(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Contrastive training-pair construction (CLIP/retrieval-style):
    each document anchors a positive (its aligned embedding, same id)
    and ONE deterministic random negative — drawn by content hash as
    offset = 1 + md5_60(seed:id) mod (N-1) so the negative is never
    the positive, every engine draws the same negative, and re-runs
    are stable (df.sample would redraw per retry). N is a 1-row
    broadcast; the positive/negative existence checks are two keyed
    joins against the embedding ids. Output one row per anchor with
    both sides verified present."""
    from ..operators.text import md5_long
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    emb = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), F.col("label"))
    n = emb.agg(F.count(F.lit(1)).alias("n_vec"))
    off = F.lit(1) + (md5_long(F.concat(F.lit("neg0:"),
                                        F.col("doc_id").cast("string")))
                      % (F.col("n_vec") - 1))
    pairs = (docs.crossJoin(F.broadcast(n))
             .select("doc_id",
                     F.col("doc_id").alias("pos_vec_id"),
                     ((F.col("doc_id") + off) % F.col("n_vec"))
                     .alias("neg_vec_id")))
    pos = emb.select(F.col("vec_id").alias("pos_vec_id"),
                     F.col("label").alias("pos_label"))
    neg = emb.select(F.col("vec_id").alias("neg_vec_id"),
                     F.col("label").alias("neg_label"))
    return (pairs.join(pos, "pos_vec_id").join(neg, "neg_vec_id")
            .select("doc_id", "pos_vec_id", "neg_vec_id",
                    "pos_label", "neg_label"))


@register("agg_bitmap_distinct")
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting as mergeable bitmap state (the
    Spark-3.5+ bitmap_* surface — how lakehouse engines make exact
    COUNT(DISTINCT) incremental): ids bucket into 32k-bit bitmaps
    (bitmap_bucket_number / bitmap_bit_position), each
    (segment, bucket) partial-aggregates bitmap_construct_agg map-
    side, and the per-segment distinct is the SUM of bitmap_count
    over OR-merged buckets. Unlike approx_count_distinct this is
    exact; unlike a plain distinct the state is mergeable across
    days/partitions — sketch-shaped data, bounded at
    buckets x 4 KB per segment. The oracle states the plain
    COUNT(DISTINCT), proving the bitmap algebra."""
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    tagged = (ev.join(F.broadcast(cust),
                      F.col("user_id") == F.col("c_custkey"))
              .select("c_mktsegment",
                      F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
                      F.expr("bitmap_bit_position(user_id)").alias("pos")))
    buckets = (tagged.groupBy("c_mktsegment", "bkt")
               .agg(F.expr("bitmap_construct_agg(pos)").alias("bm")))
    return (buckets.groupBy("c_mktsegment")
            .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct_users"),
                 F.count(F.lit(1)).alias("n_buckets")))


def _lsh_calibration(spark: SparkSession, sf_dir: str,
                     sample_mod: int | None = None) -> DataFrame:
    """Shared body of the two calibration tiers; ``sample_mod``
    keeps only documents with md5(doc_id) % sample_mod == 0 before
    the LSH pass (the bounded-sample production tier)."""
    from ..operators.dedup import (base_hashes,
                                   minhash_signature_from_hashes,
                                   minhash_lsh_pairs)
    from ..operators.text import md5_long, tokens, word_shingles
    docs = read_table(spark, sf_dir, "documents")
    if sample_mod is not None:
        docs = docs.filter(
            F.pmod(md5_long(F.col("doc_id").cast("string")),
                   F.lit(sample_mod)) == 0)
    pairs = minhash_lsh_pairs(docs, "text", "doc_id",
                              num_hashes=16, bands=4, shingle_n=2,
                              jaccard_threshold=0.5)
    hs = F.array_distinct(base_hashes(
        word_shingles(tokens(F.col("text")), 2)))
    # The localCheckpoint is an OPTIMIZER BARRIER, in exactly the
    # spot it matters: without it CollapseProject inlines the
    # shingle+md5 expression into each of the 16 minhash transforms
    # (hs is referenced once lexically, so the merge guard lets it
    # through) and the whole shingling map runs 16x — measured 33 s
    # vs ~1 s for this sigs scan at sf0.1. Inside minhash_lsh_pairs
    # the group-by aggregate is the barrier; a standalone signature
    # scan has to bring its own. Also materializes sigs once for
    # the two pair-side joins below.
    hashed = (docs.select(F.col("doc_id"), hs.alias("hs"))
              .localCheckpoint(eager=False))
    sigs = (hashed.select(
        F.col("doc_id"),
        minhash_signature_from_hashes(F.col("hs"), 16).alias("sig"))
        .filter(F.size("sig") > 0))
    sa = sigs.select(F.col("doc_id").alias("id_a"),
                     F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"),
                     F.col("sig").alias("sig_b"))
    agree = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
        lambda m: m))
    est = F.round(agree.cast("double") / F.lit(16.0), 6)
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b", "jaccard",
                    est.alias("est_jaccard"),
                    F.round(F.abs(est - F.col("jaccard")), 6)
                    .alias("abs_err")))


@register("dedup_lsh_calibration")
def dedup_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality EVALUATION tier: for every LSH-verified pair,
    put the MinHash ESTIMATE (signature agreement / 16) next to the
    exact Jaccard it approximates and report the absolute error —
    the calibration report that justifies a (bands, rows) choice
    before a 100 TB run. Signatures recompute via the same affine-
    minhash helpers the production tier uses (vocabulary-bounded
    narrow maps); the only shuffles are the pair join back to the
    two signature rows. This is the EXHAUSTIVE ground-truth tier
    (every verified pair in the corpus); the bounded-cost production
    tier is dedup_lsh_calibration_sampled."""
    return _lsh_calibration(spark, sf_dir)


@register("dedup_lsh_calibration_sampled")
def dedup_lsh_calibration_sampled(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Bounded-sample calibration tier (the one you'd run before a
    100 TB job): the identical estimate-vs-exact-Jaccard report over
    the deterministic md5(doc_id) % 3 == 0 document sample. Error
    STATISTICS are what calibration consumes, and they are invariant
    to an unbiased corpus sample; the bigram-shingle band buckets
    (the quadratic term — bucket populations shrink linearly, the
    candidate join quadratically) carry a third of the docs.
    Honest local numbers post the round-6 CollapseProject-barrier
    fix: the EXHAUSTIVE tier's former 41 s was mostly a 16x
    recompute bug, so at sf0.1 the gap is now only 5.4 s vs 3.6 s —
    the sample's quadratic win is a 100 TB property (band-bucket
    populations in the millions), not a local one. The sample
    predicate is content-independent (hash of the id),
    deterministic, and mirrored verbatim in the oracle — the bounded
    result is oracle-EXACT, not approximate; only its coverage is
    sampled."""
    return _lsh_calibration(spark, sf_dir, sample_mod=3)


@register("doc_chunking_overlap")
def doc_chunking_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/pretraining chunker: split every document into 40-token
    chunks with a 10-token overlap stride (chunk i covers tokens
    [i*30, i*30+40)) — the sliding-window segmentation every
    retrieval corpus build runs. Pure codegen: a sequence over chunk
    starts + array slice + explode; zero shuffle, and chunk count per
    doc is ceil((n-overlap)/stride) so output size is linear in
    corpus tokens. Emits (doc_id, chunk_id, n_tokens, chunk_text);
    the final partial chunk is kept (standard for pretraining
    corpora), and documents shorter than one stride yield exactly one
    chunk."""
    from ..operators.text import tokens
    size, stride = 40, 30
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.ceil((F.size(toks) - F.lit(size))
                          / F.lit(float(stride))).cast("int"), F.lit(0)))
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.slice(toks, i * stride + 1, size).alias("ctoks")))
    return (docs.select(F.col("doc_id"), F.explode(chunks).alias("c"))
            .select("doc_id",
                    F.col("c.chunk_id").cast("int").alias("chunk_id"),
                    F.size("c.ctoks").alias("n_tokens"),
                    F.array_join(F.col("c.ctoks"), " ").alias("chunk_text"))
            .filter(F.col("n_tokens") > 0))


@register("text_encode_vocab_ids")
def text_encode_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ENCODING: map every token to its id in the corpus's own
    top-200 frequency vocabulary (rank by count desc, token asc — 1
    is the most frequent; out-of-vocabulary tokens encode as 0) and
    emit each document as a comma-joined id sequence — the
    tokenize-to-ids step between tokenizer training and tensor
    serialization. The vocabulary is bounded (one partial-aggregated
    shuffle + a 200-row broadcast); encoding is a per-token hash
    lookup inside codegen via a literal map, zero Python."""
    from ..operators.text import tokens
    docs = read_table(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(tokens(F.col("text"))).alias("token"))
             .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
             .orderBy(F.desc("cnt"), F.asc("token")).limit(200)
             .collect())
    mapping = {r["token"]: i + 1 for i, r in enumerate(vocab)}
    map_items = []
    for t, i in mapping.items():
        map_items.extend([F.lit(t), F.lit(i)])
    vmap = F.create_map(*map_items)
    ids = F.transform(tokens(F.col("text")),
                      lambda t: F.coalesce(vmap[t], F.lit(0)))
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.size(F.filter(ids, lambda i: i == 0)).alias("n_oov"),
        F.array_join(F.transform(ids, lambda i: i.cast("string")), ",")
        .alias("id_seq"))


@register("dq_equidepth_histogram")
def dq_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (quantile buckets — the
    optimizer-statistics / drift-monitoring shape; the equi-WIDTH
    twin is dq_numeric_histogram): exact quintile boundaries come
    from ONE percentile aggregate (a 4-double model collect), bucket
    assignment is a codegen CASE over the raw values, and the
    per-bucket rollup partial-aggregates. Boundary ties land in the
    lower bucket on both engines (count of boundaries < value).
    Honest scale label: the exact percentile buffers values
    (oracle-exact tier); at 100 TB the boundaries come from
    approx_percentile with identical downstream plan."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    bounds = ev.agg(F.percentile(
        "value", F.array(*[F.lit(i / 5.0) for i in range(1, 5)]))
        .alias("b")).first()["b"]
    bucket = sum((F.when(F.col("value") > F.lit(float(b)), 1).otherwise(0)
                  for b in bounds), F.lit(0))
    return (ev.select(bucket.alias("bucket"), "value")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.round(F.min("value"), 6).alias("lo"),
                 F.round(F.max("value"), 6).alias("hi")))


@register("maintenance_analyze_stats")
def maintenance_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog statistics maintenance: saveAsTable + ANALYZE TABLE
    COMPUTE STATISTICS, then read the row count BACK OUT of the
    catalog (DESCRIBE EXTENDED) and prove it equals the actual scan
    count — the stats loop that lets a cost-based planner choose
    broadcast sides without hints at 100 TB. The catalog parse is
    driver-side metadata (one row), never data."""
    import os
    import re as _re
    from ..sinks import sf_tag
    tag = _re.sub(r"[^A-Za-z0-9_]", "_", sf_tag(sf_dir))
    tbl = f"stats_orders_{tag}"
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    # idempotent across SESSIONS: a prior run's managed-table files
    # survive in spark-warehouse/ while the in-memory catalog starts
    # empty, so overwrite alone trips LOCATION_ALREADY_EXISTS.
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    import shutil
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(wh, tbl.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc)
    orders.write.mode("overwrite").saveAsTable(tbl)
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
    stats_rows = None
    for r in desc:
        if r["col_name"] == "Statistics":
            m = _re.search(r"(\d+) rows", r["data_type"])
            if m:
                stats_rows = int(m.group(1))
    actual = spark.table(tbl).count()
    return spark.createDataFrame(
        [(int(stats_rows or -1), int(actual),
          bool(stats_rows == actual))],
        "n_rows_stats bigint, n_rows_actual bigint, stats_match boolean")


@register("attribution_first_touch")
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase credits its SESSION's
    entry event type (the channel that opened the visit) — the
    marketing-attribution rollup built on the same gaps-and-islands
    sessionization as sessionize_inactivity_gap (microsecond-exact
    30-min gap). One user-keyed window pass tags sessions, the entry
    type rides a second window (first value per session — same
    shuffle key), and the rollup partial-aggregates; revenue sums
    decimal-exact."""
    from pyspark.sql import Window
    ev = read_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    brk = F.coalesce(((us - F.lag(us).over(w_user))
                      > 30 * 60 * 1_000_000).cast("int"), F.lit(1))
    sess = (ev.withColumn("brk", brk)
            .withColumn("session_id", F.sum("brk").over(
                w_user.rowsBetween(Window.unboundedPreceding, 0))))
    w_sess = (Window.partitionBy("user_id", "session_id")
              .orderBy("ts", "event_id")
              .rowsBetween(Window.unboundedPreceding, 0))
    tagged = sess.withColumn("entry_type",
                             F.first("event_type").over(w_sess))
    return (tagged.filter(F.col("event_type") == "purchase")
            .groupBy("entry_type")
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 exact_sum(F.col("value")).alias("revenue")))


@register("udtf_polymorphic_ngrams")
def udtf_polymorphic_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 POLYMORPHIC Python UDTF: the output schema is computed
    at plan time by the UDTF's analyze() from a literal argument
    (n=3 -> columns pos, w1, w2, w3) — the table function closes over
    its call site the way built-in generators can't. Applied per
    document via LATERAL join over a bounded slice; the rollup
    aggregates trigram starts per doc so the driver compare stays
    small. (The production path for n-gram EXPANSION at 100 TB stays
    the codegen word_shingles transform — this key pins the UDTF
    API surface.)"""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class NGramsUDTF:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument
                    ) -> AnalyzeResult:
            nv = int(n.value)
            fields = [StructField("pos", IntegerType())] + [
                StructField(f"w{i + 1}", StringType()) for i in range(nv)]
            return AnalyzeResult(schema=StructType(fields))

        def eval(self, text: str, n: int):
            toks = text.split(" ")
            for i in range(len(toks) - n + 1):
                yield (i, *toks[i:i + n])

    spark.udtf.register("ngrams_poly", NGramsUDTF)
    from ..io import register_temp_views
    register_temp_views(spark, sf_dir)
    return spark.sql("""
        SELECT d.doc_id,
               COUNT(*) AS n_trigrams,
               MIN(g.w1) AS first_w1,
               MAX(g.w3) AS last_w3
        FROM documents d, LATERAL ngrams_poly(d.text, 3) g
        WHERE d.doc_id < 100
        GROUP BY d.doc_id
    """)


@register("dedup_duplicate_spans")
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 span tier: exact duplicated-substring spans (ExactSubstr,
    Lee et al. 2022) at 8-token granularity — every maximal token
    range whose 8-gram windows all appear verbatim in >= 2 distinct
    documents, as [span_start, span_end) islands ready for removal.
    Complements segment_dedup_rebuild (fixed segment grid) by
    catching boilerplate at arbitrary offsets. Scale: codegen n-gram
    expansion, vocabulary-keyed dup-set aggregate, left-semi mark,
    per-document island window over sparse hits only (see
    operators/dedup.py:duplicate_span_islands)."""
    from ..operators.dedup import duplicate_span_islands
    docs = read_table(spark, sf_dir, "documents")
    return duplicate_span_islands(docs, "text", "doc_id", n=8)


@register("dedup_duplicate_spans_fp")
def dedup_duplicate_spans_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 span tier, 128-bit FINGERPRINT variant — the production
    shuffle-size tier next to dedup_duplicate_spans (same
    exact-vs-fingerprint split as dedup_ngram_jaccard /
    dedup_ngram_verified): the dup-set aggregate and left-semi mark
    key on (xxhash64(window), xxhash64(window, 1)) — 16 fixed bytes
    per shuffle row instead of the gram string, hashes computed
    codegen-side from the token-slice array with no string concat.
    Output is identical to the exact tier absent a double-64-bit
    collision (~g^2/2^129), so it shares the exact tier's DuckDB
    oracle (see operators/dedup.py:duplicate_span_islands)."""
    from ..operators.dedup import duplicate_span_islands
    docs = read_table(spark, sf_dir, "documents")
    return duplicate_span_islands(docs, "text", "doc_id", n=8,
                                  fingerprint=True)


@register("dedup_spans_rewrite")
def dedup_spans_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 span tier, APPLY step: rebuild every document with its
    non-canonical duplicated 8-gram spans removed (corpus-first
    occurrence by (doc_id, pos) survives — Lee et al.'s
    remove-all-but-one). Untouched docs pass through whole, so the
    output is a drop-in corpus replacement with before/after token
    counts. Scale: the detection plan of dedup_duplicate_spans plus
    one bounded per-doc spans aggregate, a left join back on doc_id,
    and a codegen filter/exists token rewrite — no Python (see
    operators/dedup.py:duplicate_span_rewrite)."""
    from ..operators.dedup import duplicate_span_rewrite
    docs = read_table(spark, sf_dir, "documents")
    return duplicate_span_rewrite(docs, "text", "doc_id", n=8)


@register("embedding_standardize_stats")
def embedding_standardize_stats(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Embedding-preprocessing tier: per-dimension z-score
    standardization statistics (n, mean, std, standardized extremes)
    — the whitening/conditioning pass run before PCA, linear probes,
    or quantizer training. One posexplode pass; the moments exchange
    is d-bounded (O(d) rows per task after map-side combine — the
    gram matrix's sketch-shaped-exchange argument at O(d) instead of
    O(d^2)); the d-row stats broadcast back for the extremes. Exact
    decimal sums, then unrounded shared-operand-order double
    math — no rounding step, so no cross-engine tie surface (see
    operators/similarity.py:standardize_stats)."""
    from ..operators.similarity import standardize_stats
    emb = read_table(spark, sf_dir, "embeddings")
    return standardize_stats(emb, "embedding")


@register("dedup_spans_rewrite_fp")
def dedup_spans_rewrite_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 span tier, APPLY step, 128-bit FINGERPRINT variant —
    completes the exact-vs-fingerprint split for the rewrite path
    (the heavier of the two span passes: its gram-keyed exchange
    carries (min, max, argmin) partials): the firsts aggregate and
    the removal join key on (xxhash64(gram), xxhash64(1, gram))
    instead of the gram string. Output identical to the exact tier
    absent a double-64-bit collision, so it shares the exact tier's
    oracle (see operators/dedup.py:duplicate_span_rewrite)."""
    from ..operators.dedup import duplicate_span_rewrite
    docs = read_table(spark, sf_dir, "documents")
    return duplicate_span_rewrite(docs, "text", "doc_id", n=8,
                                  fingerprint=True)


@register("tokenizer_bpe_apply")
def tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY step, closing the train->apply loop with
    tokenizer_bpe_train: encode every document with the 10 trained
    merges and report per-document BPE token counts. The model is a
    10-row collect; merge application replays as a static chain of
    literal replaces over the DISTINCT-word vocabulary (the same
    padded-space non-rescanning semantics the trainer pinned), and
    documents pick up their counts via a word-level join + one
    per-doc aggregate (see operators/text.py:bpe_apply_token_counts).
    """
    from ..operators.text import bpe_apply_token_counts
    docs = read_table(spark, sf_dir, "documents")
    return bpe_apply_token_counts(docs, "text", "doc_id", n_merges=10)


@register("seq_pack_atomic")
def seq_pack_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM batch assembly WITHOUT document splitting: atomic next-fit
    packing (a pack closes when the next doc would overflow 2048
    tokens; docs never span packs — the cross-contamination fix of
    Krell et al. 2022, where seq_pack_chunked's offset rule severs
    context at every boundary). The decision chain is a true
    recurrence, so it runs as grouped applyInPandas (sequential state
    inside each source's Arrow frame — the §2.11 custom-op shape) and
    the DuckDB oracle replays the IDENTICAL recurrence as a per-row
    recursive CTE. Per-(source, pack) summary; pack_tokens <= 2048
    except single oversized docs."""
    from ..operators.sampling import sequence_pack_atomic
    docs = read_table(spark, sf_dir, "documents")
    packed = sequence_pack_atomic(docs, "text", "doc_id", "source",
                                  budget_tokens=2048)
    return (packed.groupBy("source", "pack_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("pack_tokens")))


@register("dedup_quality_keep")
def dedup_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POLICY axis of cluster dedup: keep the HIGHEST-QUALITY
    member of each near-dup cluster instead of dedup_canonical_map's
    lowest-id — the published web-pipeline practice (the retained
    copy should be the best one, not the first-crawled one). Quality
    = the shared stopword-ppm proxy; the keeper is rank 1 inside a
    component-partitioned window on (quality desc, id asc), so the
    choice is engine-exact integers and the only new work over the
    canonical map is one component-keyed window. Output per
    clustered doc: its cluster, its quality, the keeper, and the
    keep verdict (which flips vs min-id whenever a later crawl of a
    near-dup is cleaner — the rows where keeper_id != canonical
    min-id are the policy's measurable effect)."""
    from pyspark.sql import Window

    from ..operators.evaluation import stopword_ppm
    from ..operators.text import LANG_STOPWORDS
    docs = read_table(spark, sf_dir, "documents")
    comp = near_dup_cluster_map(docs)
    q = docs.select("doc_id",
                    stopword_ppm(F.col("text"), LANG_STOPWORDS["en"])
                    .alias("quality_ppm"))
    member = comp.join(q, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality_ppm"), F.asc("doc_id"))
    ranked = member.withColumn("__r", F.row_number().over(w))
    keeper = (ranked.filter(F.col("__r") == 1)
              .select("component_id",
                      F.col("doc_id").alias("keeper_id"),
                      F.col("quality_ppm").alias("keeper_quality")))
    return (ranked.join(F.broadcast(keeper), "component_id")
            .select("doc_id",
                    F.col("component_id").alias("cluster_id"),
                    "quality_ppm", "keeper_id", "keeper_quality",
                    (F.col("doc_id") == F.col("keeper_id"))
                    .alias("is_kept")))


@register("resample_hourly_ohlc")
def resample_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling, OHLC form (the financial-bar shape
    every metrics store serves): per (event_type, hour), the opening
    and closing observation plus the high/low of the hour. Open and
    close are SELECTED raw doubles — rank-1 rows of (ts, event_id)
    windows, no arithmetic — so the output is bit-exact by
    construction; ONE (type, hour)-keyed exchange carries both
    windows and the aggregate. The LOCF/interpolate keys fill gaps;
    this one summarizes presence — together they are the resampling
    triad."""
    from pyspark.sql import Window
    ev = (read_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("event_type",
                  F.date_trunc("hour", F.col("ts")).alias("h"),
                  "ts", "event_id", "value"))
    wa = Window.partitionBy("event_type", "h").orderBy(
        F.asc("ts"), F.asc("event_id"))
    wd = Window.partitionBy("event_type", "h").orderBy(
        F.desc("ts"), F.desc("event_id"))
    return (ev.withColumn("__ra", F.row_number().over(wa))
            .withColumn("__rd", F.row_number().over(wd))
            .groupBy("event_type",
                     F.col("h").cast("long").alias("bucket_hour_epoch"))
            .agg(F.max(F.when(F.col("__ra") == 1, F.col("value")))
                 .alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max(F.when(F.col("__rd") == 1, F.col("value")))
                 .alias("close"),
                 F.count(F.lit(1)).cast("bigint").alias("n_events")))


@register("multimodal_tile_dedup")
def multimodal_tile_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 x X1 composition: CROSS-DOCUMENT duplicate tiles — the
    watermark/logo/boilerplate detector for image-shaped payloads
    (the visual twin of dedup_duplicate_spans): every 8x8 tile of
    every payload hashes (multimodal_image_tiles' 2-D grid), and a
    tile hash appearing in >= 2 distinct documents is shared
    content. Top-20 by occurrence count with the distinct-document
    spread. One gram-keyed exchange over the tile relation — the
    dedup tiers' shape applied to the multimodal fan-out; the
    mapInPandas tile expansion itself is zero-shuffle.
    """
    from ..operators.multimodal import image_tiles
    docs = read_table(spark, sf_dir, "documents")
    tiles = image_tiles(docs, "text", "doc_id", img_width=32, tile=8)
    return (tiles.groupBy("tile_md5")
            .agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
                 F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
            .filter(F.col("n_docs") >= 2)
            .orderBy(F.desc("n_occurrences"), F.desc("n_docs"), "tile_md5")
            .limit(20))


@register("maintenance_snapshot_read")
def maintenance_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pinned SNAPSHOT READS (time travel) on plain parquet
    — the lakehouse metadata plane (Iceberg/Delta's core trick)
    modeled end-to-end: every commit appends (commit, path, action)
    rows to a manifest, and a reader 'as of commit k' plans its scan
    from the manifest alone (files ADDED at <= k and not REMOVED at
    <= k), never by listing the directory.

    Three commits: (1) ADD file A (doc_id % 3 == 0); (2) ADD file B
    (doc_id % 3 == 1); (3) COMPACT — add file C = A ∪ B's content,
    remove A and B. The receipt is the isolation invariant itself:
    as-of-2 and as-of-3 read IDENTICAL logical content (n_rows,
    sum_doc_id) through different physical file sets (2 files vs 1)
    — compaction is invisible to readers, and a reader pinned at 1
    never sees B. Writes are mode=overwrite (idempotent re-runs).

    Scale: manifest planning is driver-side and O(#files) — the
    metadata plane, exactly like Iceberg's planner; the data plane
    stays distributed parquet scans of only the live files.
    """
    import os

    from ..sinks import scratch_path, sf_tag
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = sf_tag(sf_dir)
    root = scratch_path("snapshots", tag)
    fa = os.path.join(root, "A.parquet")
    fb = os.path.join(root, "B.parquet")
    fc = os.path.join(root, "C.parquet")
    a = docs.filter(F.col("doc_id") % 3 == 0)
    bb = docs.filter(F.col("doc_id") % 3 == 1)
    a.write.mode("overwrite").parquet(fa)
    bb.write.mode("overwrite").parquet(fb)
    a.unionByName(bb).write.mode("overwrite").parquet(fc)
    manifest = [(1, fa, "add"), (2, fb, "add"),
                (3, fc, "add"), (3, fa, "remove"), (3, fb, "remove")]

    def live_files(as_of: int) -> list[str]:
        added = {p for c, p, act in manifest
                 if act == "add" and c <= as_of}
        removed = {p for c, p, act in manifest
                   if act == "remove" and c <= as_of}
        return sorted(added - removed)

    out = None
    for as_of in (1, 2, 3):
        paths = live_files(as_of)
        snap = spark.read.parquet(*paths)
        row = snap.agg(
            F.lit(as_of).cast("int").alias("as_of"),
            F.lit(len(paths)).cast("int").alias("n_files"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("as_of")


@register("sim_topk_incremental")
def sim_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL top-k maintenance (the interactive-session /
    arriving-batch shape, EDBT'20's problem in its simplest sound
    form): the corpus arrives as three batches (vec_id % 3), and the
    running exact top-10 is refreshed per batch by merging the
    BATCH's local top-10 with the stored shortlist — correct because
    per-item scores are static, so the global top-k is always
    contained in the union of per-batch top-ks; each refresh scans
    ONLY the new batch plus a k-row shortlist (at 100 TB: the day's
    partition, never the corpus). The final shortlist, read back
    from its persisted k-row state, is held VERBATIM to the
    full-scan oracle — one row dropped at any merge and the driver
    sees it.

    Scale: three batch-sized scans, three k-row merges
    (TakeOrderedAndProject each — per-partition heaps, k rows to
    the driver-side write, never a global sort), k-row state on
    disk between refreshes.
    """
    from ..operators.similarity import cosine_topk, fetch_query_vector
    from ..sinks import scratch_path, sf_tag
    emb = read_table(spark, sf_dir, "embeddings")
    qv = fetch_query_vector(emb, "embedding", "vec_id", Q_VEC_ID)
    tag = sf_tag(sf_dir)
    # ping-pong state paths: refresh b reads shortlist b-1 while
    # writing shortlist b — overwriting the path being read fails
    # with FILE_NOT_EXIST mid-scan (lazy plans re-list at execute)
    states = [scratch_path("topk_incr", tag, f"shortlist_{i}.parquet")
              for i in (0, 1)]
    running = None
    for b in range(3):
        batch = emb.filter((F.col("vec_id") % 3 == b)
                           & (F.col("vec_id") != Q_VEC_ID))
        local = cosine_topk(batch, "embedding", "vec_id", qv, k=10)
        merged = local if running is None else (
            running.unionByName(local)
            .orderBy(F.desc("sim"), F.asc("vec_id")).limit(10))
        merged.write.mode("overwrite").parquet(states[b % 2])
        running = spark.read.parquet(states[b % 2])
    from ..operators.retrieval import topk_with_rank
    return (topk_with_rank(running, [F.desc("sim"), F.asc("vec_id")], 10)
            .orderBy("rnk"))
