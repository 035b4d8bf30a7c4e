"""Vector similarity search over the ``embeddings`` table (SURVEY.md
§2.12 X3).

Brute-force cosine top-k is the baseline: a narrow map computing the
score (JVM-side fold over the array — no UDF, no shuffle) followed by
TakeOrderedAndProject (per-partition heaps, driver merge of k rows).
At 100 TB the score map scales linearly and the top-k never
materializes a global sort.

The scale path is IVF-style cell restriction: ``label`` is the coarse
quantizer cell, and the search prunes to the query's cell before
scoring — on a real deployment the cell column is a partition key so
pruning happens at the scan.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double_array(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — deterministic double result."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_e6(a: Column, b: Column) -> Column:
    """cosine(a, b) snapped half-up to integer 1e-6 units,
    ``floor(cosine * 1e6 + 0.5)`` as bigint: the score every serving
    key ranks, cuts and thresholds on, so no float decides an order
    and the DuckDB oracle replays each decision exactly."""
    return (F.floor(cosine(a, b) * F.lit(1e6) + F.lit(0.5))
            .cast("bigint"))


def hyperplanes(n_bits: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes for cosine LSH:
    integer components in [-1000, 1000] derived from md5, so Spark
    and the DuckDB oracle reproduce identical planes (and therefore
    identical signatures) with no RNG state anywhere."""
    import hashlib
    return [[int(hashlib.md5(f"hp-{i}-{j}".encode()).hexdigest()[:15], 16)
             % 2001 - 1000 for j in range(dim)]
            for i in range(n_bits)]


def hyperplane_lsh_pairs(df: DataFrame, vec_col: str, id_col: str,
                         dim: int = 64, n_bits: int = 64, bands: int = 8,
                         threshold: float = 0.8) -> DataFrame:
    """X2 (embedding tier, production path): near-duplicate pairs via
    sign-random-projection LSH -> banded candidate join -> exact
    cosine verify. The scale-shaped replacement for
    ``embedding_cosine_pairs``' blocked cross join: candidates are
    id-only through the (band-hash) shuffle and verified by re-fetch,
    so no O(block^2) term exists anywhere.

    Signatures are exact integer math: vectors quantize to
    round(x*1000) and planes are integer (``hyperplanes``), so every
    dot product is an integer well inside double precision — bit
    signs can never diverge between engines. Recall at 8 bands x 8
    bits: P(bit agrees) = 1 - theta/pi, so cos 0.95 -> 0.99, cos
    0.9 -> 0.94, cos 0.8 -> 0.75; background (cos~0) pairs collide at
    ~8/256 — a 32x candidate reduction that grows with band width.
    """
    from ..io import widen
    rows_per_band = n_bits // bands
    planes = hyperplanes(n_bits, dim)
    # localCheckpoint: base feeds the signature explode AND both
    # verify fetches — without it the scan + cast (and the signature
    # UDF's input) run three times. Released by the ContextCleaner
    # when the DataFrame is garbage-collected.
    base = widen(df).select(F.col(id_col).alias("id"),
                            as_double_array(F.col(vec_col)).alias("v")) \
        .localCheckpoint(eager=True)

    # signature = one Arrow-batched matmul per batch: (rows x dim) @
    # (dim x n_bits). Dense linear algebra is the one place a
    # vectorized pandas UDF beats codegen expression trees (an
    # unrolled 64-fold JVM expression evaluated interpreted at ~10s
    # per 500 rows; numpy does the same batch in microseconds).
    # Exactness: quantized components and planes are integers, every
    # dot product is an integer far below 2^53 — float64 matmul is
    # exact and the bit signs cannot diverge from the oracle's.
    @F.pandas_udf("array<string>")
    def band_hash(vec: pd.Series) -> pd.Series:
        import numpy as np
        p_t = np.array(planes, dtype=np.float64).T  # (dim, n_bits)
        # floor(x*1000 + 0.5), NOT np.round: np.round is half-to-even
        # while the DuckDB oracle's round() is half-away-from-zero —
        # a component landing exactly on .5 (exact float32 values
        # like 0.0625 do) would flip a signature bit between engines.
        # Both sides use the identical half-up formula.
        m = np.stack([np.floor(np.asarray(x, dtype=np.float64) * 1000
                               + 0.5)
                      for x in vec])
        sig = (m @ p_t) > 0  # (rows, n_bits)
        out = []
        for rowbits in sig:
            chars = "".join("1" if b else "0" for b in rowbits)
            out.append([f"{b}:{chars[b * rows_per_band:(b + 1) * rows_per_band]}"
                        for b in range(bands)])
        return pd.Series(out)

    # band id baked into the hash string -> candidate join on ONE key.
    # The shuffle_hash hint is load-bearing: the banded relation is
    # CORPUS-sized (|vectors| x bands) but Catalyst's estimate for
    # the Python-UDF + Generate chain stays at the checkpointed
    # child's size, so the planner broadcast one side — measured
    # r9: driver OOM at 1M vectors with default memory. The hint
    # pins the documented band-hash SHUFFLE; AQE may still convert
    # to broadcast at runtime when the MEASURED size is genuinely
    # small.
    pre = base.select("id", F.explode(band_hash(F.col("v"))).alias("bh"))
    cand = (pre.alias("a")
            .join(pre.alias("b").hint("shuffle_hash"),
                  (F.col("a.bh") == F.col("b.bh"))
                  & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct())
    # norms hoisted into the per-vector fetch projections (r13):
    # cosine()'s inline norms are interpreted folds re-run per
    # candidate pair; same doubles, computed once per fetched vector
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"),
                    l2_norm(F.col("v")).alias("n_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"),
                    l2_norm(F.col("v")).alias("n_b"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b",
                    F.round(dot(F.col("v_a"), F.col("v_b"))
                            / (F.col("n_a") * F.col("n_b")), 6)
                    .alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def cosine_to_query(vec_col: Column, query_vec: list[float]) -> Column:
    """cosine(v, q) against a LITERAL query vector with the query
    norm precomputed in Python (r13): ``l2_norm`` over a literal
    array is an interpreted higher-order fold that would re-run per
    ROW; Python's left-to-right sum-of-squares + math.sqrt is the
    identical IEEE double sequence, so the emitted similarity is
    bit-identical while the per-row work drops by the two query-side
    folds (~1/3 of the scoring cost at dim 64)."""
    import math
    # one py4j call, not dim: lit(list) builds the array literal
    # JVM-side (r15); array<double> either way, same values
    q = F.lit([float(x) for x in query_vec])
    acc = 0.0
    for x in query_vec:
        acc += float(x) * float(x)
    qn = math.sqrt(acc)
    v = as_double_array(vec_col)
    return dot(v, q) / (l2_norm(v) * F.lit(qn))


def cosine_topk(df: DataFrame, vec_col: str, id_col: str,
                query_vec: list[float], k: int = 10,
                round_digits: int = 6) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.

    The similarity is rounded before ranking so the float result is
    tolerance-stable across engines, and ties break on the unique id —
    the selected row set is fully deterministic.
    """
    sim = F.round(cosine_to_query(F.col(vec_col), query_vec),
                  round_digits)
    return (df
            .select(F.col(id_col), sim.alias("sim"))
            .orderBy(F.desc("sim"), F.asc(id_col))
            .limit(k))


def fetch_query_vector(df: DataFrame, vec_col: str, id_col: str, qid) -> list[float]:
    """Driver-side single-row lookup of the query vector (not a data
    path — one row, one action)."""
    row = df.filter(F.col(id_col) == qid).select(vec_col).first()
    if row is None:
        raise KeyError(f"query id {qid!r} not found")
    return [float(x) for x in row[0]]


# --- IVF with a learned coarse quantizer (spherical k-means) ---------------

def _dlit(x: float) -> str:
    """Exact SQL double literal: repr() is the shortest string that
    round-trips the IEEE value, and the SQL parser reads it with
    correctly-rounded Double.parseDouble — same bits as F.lit(x)."""
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{float(x)!r}D"


def _ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def assign_cell(vec_col: str, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id by dot product with L2-normalized input —
    centroids are baked into the expression as literals, so assignment
    is a narrow codegen map: no join, no shuffle, scales to any row
    count. k*dim literals keep the generated method small for
    IVF-scale k (<=256 here; for k in the thousands, switch to a
    broadcast join against a centroid table).

    The dot products stay zip_with/aggregate lambdas ON PURPOSE
    (r13, measured): unrolling them into k*dim element_at sum terms
    looks like a codegen win but is 2-3x SLOWER end to end — the
    ~512-term generated method's compile cost far exceeds what the
    interpreted lambda evaluation costs at these k*dim sizes.

    Since r15 the expression is built as ONE SQL string (identical
    parse tree, identical literals — `_dlit`): the Column-object form
    issued ~512 F.lit py4j calls per use, ~0.3-0.5 s of pure driver
    chatter per consumer (measured; the Lloyd's loop had the same
    defect, fixed via `_assign_cell_sql`)."""
    v = f"transform({_ident(vec_col)}, x -> cast(x as double))"
    n = (f"sqrt(aggregate(transform({v}, x -> x * x), 0.0D, "
         f"(acc, x) -> acc + x))")
    dots = ", ".join(
        "aggregate(zip_with({v}, array({c}), (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x) / {n}".format(
            v=v, n=n, c=", ".join(_dlit(x) for x in c))
        for c in centroids)
    sims = f"array({dots})"
    return F.expr(
        f"cast(array_position({sims}, array_max({sims})) - 1 as int)")


def _assign_cell_sql(vec_col: str, cents_col: str, k: int) -> str:
    """:func:`assign_cell` as ONE SQL expression string, with the
    centroid matrix read from a COLUMN (a broadcast 1-row
    array<array<double>> relation) instead of plan literals.
    Bit-identical math — the parser builds the same zip_with/
    aggregate fold tree, same division, same array_position(
    array_max) tie rule (`0.0D` parses to the double literal
    F.lit(0.0) builds; the Column form's reused `sims`/`n` Column
    objects also copy their subtree per use, so inlining them here
    is the identical tree). One string = one py4j round trip: the
    Column-object form spent ~0.5 s PER Lloyd's ITERATION just
    constructing expressions through py4j (measured r15 — that, not
    codegen, was the per-iteration driver cost)."""
    v = f"transform({_ident(vec_col)}, x -> cast(x as double))"
    cs = _ident(cents_col)
    n = (f"sqrt(aggregate(transform({v}, x -> x * x), 0.0D, "
         f"(acc, x) -> acc + x))")
    dots = ", ".join(
        f"aggregate(zip_with({v}, element_at({cs}, {i + 1}), "
        f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x) / {n}"
        for i in range(k))
    sims = f"array({dots})"
    return f"cast(array_position({sims}, array_max({sims})) - 1 as int)"


def _kmeans_fit_inputs(base: DataFrame, k: int) -> tuple[int, list]:
    """ONE job computing BOTH Lloyd's-fit inputs (r14 verdict item 4 —
    this replaces two sequential driver jobs: the |distinct sizes|
    aggregate, then a TakeOrdered seed scan): per well-formed vector
    size d, the row count AND the k seed candidates with the smallest
    md5(id). The per-partition partial is bounded (|sizes| count rows
    + |sizes| x k candidate rows), so the driver merge stays
    model-sized at any corpus scale, and the pass materializes the
    persisted base exactly like the aggregate it replaces. Guide
    §4.5 shape: iterator-of-batches with per-partition state.

    Returns (modal dim, seed vectors), reproducing the two-job form
    exactly: same modal-size rule (higher count, then smaller size),
    same smallest-md5 seed set (NULL hashes sort first, as in the
    orderBy it replaces; md5 collisions are the only tie case either
    form leaves unordered).
    """
    from .text import md5_long

    proj = (base
            .filter(F.size("__v") > 0)
            .select(F.size("__v").alias("__d"),
                    # a NULL id's hash becomes -2^63 so it sorts
                    # first, like the ascending orderBy this pass
                    # replaces; filled JVM-side so __h stays int64
                    F.coalesce(md5_long(F.col("__id").cast("string")),
                               F.lit(-(2 ** 63))).alias("__h"),
                    "__v"))

    def partials(batches):
        counts: dict[int, int] = {}
        tops: dict[int, pd.DataFrame] = {}
        for pdf in batches:
            for d, g in pdf.groupby("__d"):
                d = int(d)
                counts[d] = counts.get(d, 0) + len(g)
                cand = g[["__h", "__v"]]
                prev = tops.get(d)
                if prev is not None:
                    cand = pd.concat([prev, cand], ignore_index=True)
                tops[d] = cand.nsmallest(k, "__h", keep="first")
        out = [(d, c, None, None) for d, c in counts.items()]
        for d, t in tops.items():
            out.extend((d, 0, int(h), list(v))
                       for h, v in zip(t["__h"], t["__v"]))
        if out:
            yield pd.DataFrame(
                out, columns=["__d", "__cnt", "__h", "__v"])

    rows = proj.mapInPandas(
        partials, "__d int, __cnt long, __h long, __v array<double>"
    ).collect()
    counts: dict[int, int] = {}
    cands: dict[int, list] = {}
    for r in rows:
        if r["__v"] is None:
            counts[r["__d"]] = counts.get(r["__d"], 0) + r["__cnt"]
        else:
            cands.setdefault(r["__d"], []).append((r["__h"], r["__v"]))
    if not counts:
        raise ValueError("spherical_kmeans: no well-formed vectors")
    dim = max(counts.items(), key=lambda t: (t[1], -t[0]))[0]
    seed = sorted(cands.get(dim, []), key=lambda t: t[0])[:k]
    return dim, [[float(x) for x in v] for _, v in seed]


def spherical_kmeans(df: DataFrame, vec_col: str, id_col: str,
                     k: int = 8, iters: int = 5,
                     train_mod: int | None = None) -> list[list[float]]:
    """Deterministic distributed spherical k-means (Lloyd's):

    - fit inputs: ONE bounded-partial pass (:func:`_kmeans_fit_inputs`)
      yields the modal vector size (the well-formedness guard — r13
      review follow-up: NULL/ragged rows are excluded from the model
      only; their ASSIGNMENT downstream is still whatever assign_cell
      yields) and the k seed vectors with the smallest md5(id) —
      content-stable, order-independent, spread by the hash;
    - assign: nearest-centroid map against a broadcast 1-row centroid
      relation (zero data shuffle; the model rides a broadcast);
    - update: ONE wide groupBy(cell) aggregate — count + per-component
      sums via element_at — the only shuffle per iteration (k x
      (dim+1) partials), k x dim result cells to the driver. This
      replaced the posexplode -> groupBy (cell, pos) form (r13):
      CollapseProject inlined the k interpreted higher-order
      assign_cell lambdas INTO the generate output, re-evaluating the
      assignment PER EXPLODED ROW — dim x the work (measured 6-7 s
      per iteration on 2000x64 vectors at sf0.1; ~0.15 s after). The
      aggregate's child projection evaluates the assignment exactly
      once per row, and the mean is the same sum/count double
      division Spark's avg performs. Since r15 the centroids enter as
      broadcast DATA, not literals, so all ``iters`` iterations share
      one compiled plan (the literal form paid a fresh whole-stage
      compile per iteration) while the arithmetic stays bit-identical.

    Only the k x dim model ever reaches the driver — the data path
    stays distributed at any scale.

    ``train_mod``: when set, Lloyd's runs on the deterministic
    md5(id) % train_mod == 0 vector sample — the standard bounded
    quantizer-training move (FAISS trains IVF coarse quantizers on
    ~max(k*39, 2^16) sampled vectors, not the corpus): every
    iteration's corpus scan and (cell, pos) exchange shrink by the
    sample rate while the fitted centroids converge to the same
    cell structure in distribution. Assignment/search downstream
    still covers EVERY vector — only the model fit is sampled.
    """
    from .text import md5_long

    if train_mod is not None:
        df = df.filter(
            F.pmod(md5_long(F.col(id_col).cast("string")),
                   F.lit(train_mod)) == 0)
    # persist: every Lloyd's iteration (and the fit-input pass)
    # re-reads base — without the cache that is iters+1 full scans +
    # casts of the embeddings table
    base = df.select(F.col(id_col).alias("__id"),
                     F.transform(F.col(vec_col), lambda x: x.cast("double"))
                     .alias("__v")).persist()
    try:
        dim, centroids = _kmeans_fit_inputs(base, k)
        well = base.filter(F.size("__v") == dim)
        spark = df.sparkSession
        cell_sql = _assign_cell_sql("__v", "__cs", k=len(centroids))
        agg_exprs = ([F.expr("count(1) as __n")]
                     + [F.expr(f"sum(element_at(__v, {i + 1})) as __s{i}")
                        for i in range(dim)])
        for _ in range(iters):
            # size guard rationale: the old posexplode form silently
            # skipped NULL/empty vectors (zero exploded rows); the
            # wide aggregate would keep them as a NULL-sum row and
            # crash the driver mean.
            cents_row = spark.createDataFrame(
                [(centroids,)], "__cs array<array<double>>")
            assigned = (well
                        .crossJoin(F.broadcast(cents_row))
                        .selectExpr(f"{cell_sql} as __cell", "__v"))
            stats = (assigned.groupBy("__cell")
                     .agg(agg_exprs[0], *agg_exprs[1:])
                     .collect())
            new = [list(c) for c in centroids]  # keep empty cells in place
            for r in stats:
                vec = [r[f"__s{i}"] / r["__n"] for i in range(dim)]
                norm = sum(x * x for x in vec) ** 0.5 or 1.0
                new[r["__cell"]] = [x / norm for x in vec]
            centroids = new
        return centroids
    finally:
        base.unpersist()


def pq_train(df: DataFrame, vec_col: str, id_col: str,
             m: int = 8, ksub: int = 16, sample_n: int = 512,
             iters: int = 8) -> list:
    """Product-quantization codebooks: split the (L2-normalized)
    vector into ``m`` subspaces and fit ``ksub`` codewords per
    subspace with Lloyd's on a bounded training sample.

    The sample is the ``sample_n`` rows with the smallest md5(id) —
    content-stable and order-independent, so the model (and
    everything downstream) is deterministic. Training on a bounded
    sample is the standard PQ recipe (FAISS trains on ~10^5-10^6
    vectors regardless of corpus size): the driver holds
    sample_n x dim floats, a constant independent of corpus scale.
    Seeds are the first ``ksub`` distinct subvectors in hash order;
    argmin ties take the lowest codeword index — no RNG anywhere.

    Returns ``codebooks[m][ksub][dim//m]``.
    """
    import numpy as np
    from .text import md5_long

    sample = (df
              .withColumn("__h", md5_long(F.col(id_col).cast("string")))
              .orderBy("__h")
              .limit(sample_n)
              .select(as_double_array(F.col(vec_col)).alias("v"))
              .collect())
    x = np.array([r["v"] for r in sample], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    books = []
    for s in range(m):
        xs = x[:, s * dsub:(s + 1) * dsub]
        _, seed_idx = np.unique(xs, axis=0, return_index=True)
        cents = xs[np.sort(seed_idx)[:ksub]].copy()
        if len(cents) < ksub:  # degenerate corpus: pad with repeats
            cents = np.vstack([cents, xs[:ksub - len(cents)]])
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cents[c] = xs[mask].mean(axis=0)
        books.append(cents.tolist())
    return books


def pq_encode(df: DataFrame, vec_col: str, id_col: str,
              codebooks: list) -> DataFrame:
    """Encode every vector to ``m`` codeword ids (argmin L2 per
    subspace, ties to the lowest index). One Arrow-batched matmul per
    subspace per batch; output is id + array<int> — at 100 TB the
    encoded table is dim/m * 32/8 ~ 64x smaller than the float
    vectors and is what the ADC scan reads."""
    import numpy as np
    from ..io import widen

    m = len(codebooks)
    dsub = len(codebooks[0][0])

    @F.pandas_udf("array<int>")
    def encode(vec: pd.Series) -> pd.Series:
        books = [np.array(b, dtype=np.float64) for b in codebooks]
        xs = np.stack([np.asarray(v, dtype=np.float64) for v in vec])
        xs /= np.maximum(np.linalg.norm(xs, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(xs), m), dtype=np.int32)
        for s in range(m):
            sub = xs[:, s * dsub:(s + 1) * dsub]
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 constant per row
            d = -2.0 * (sub @ books[s].T) + (books[s] ** 2).sum(axis=1)
            codes[:, s] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return widen(df).select(F.col(id_col).alias("id"),
                            encode(F.col(vec_col)).alias("codes"))


def pq_adc_topk(codes_df: DataFrame, query_vec: list[float],
                codebooks: list, k: int = 10) -> DataFrame:
    """Asymmetric-distance top-k: the query builds an m x ksub
    inner-product lookup table driver-side (model-sized), baked into
    the plan as a literal array; each row's score is m array lookups
    + adds — pure codegen, no UDF, no shuffle — followed by
    TakeOrderedAndProject. The scan reads only (id, codes): at scale
    this is the compressed-index path that never touches the float
    vectors."""
    import numpy as np
    m, ksub = len(codebooks), len(codebooks[0])
    q = np.asarray(query_vec, dtype=np.float64)
    q /= max(float(np.linalg.norm(q)), 1e-12)
    dsub = len(codebooks[0][0])
    lut = []
    for s in range(m):
        qs = q[s * dsub:(s + 1) * dsub]
        lut.extend(float(np.dot(qs, c)) for c in codebooks[s])
    lut_lit = F.array(*[F.lit(x) for x in lut])
    score = None
    for s in range(m):
        term = F.element_at(lut_lit,
                            F.element_at("codes", s + 1) + s * ksub + 1)
        score = term if score is None else score + term
    return (codes_df
            .select("id", F.round(score, 6).alias("pq_score"))
            .orderBy(F.desc("pq_score"), F.asc("id"))
            .limit(k))


def pq_rerank_topk(df: DataFrame, codes_df: DataFrame,
                   vec_col: str, id_col: str, query_vec: list[float],
                   codebooks: list, k: int = 10,
                   shortlist: int = 100) -> DataFrame:
    """Production PQ search: ADC scan over the compressed codes for a
    ``shortlist``-sized candidate set, then exact cosine re-ranking
    of just those rows. The ADC stage never touches the float
    vectors; the re-rank fetch is a broadcast semi-join on a
    k-scaled (not corpus-scaled) id list — the float table is read
    through a pushed-down id filter. This is the shape FAISS/ScaNN
    deployments use: recall comes from the shortlist, latency from
    the compressed scan."""
    cand = pq_adc_topk(codes_df, query_vec, codebooks, k=shortlist) \
        .select(F.col("id").alias(id_col))
    hits = df.join(F.broadcast(cand), id_col, "left_semi")
    return cosine_topk(hits, vec_col, id_col, query_vec, k=k)


def probe_cells(query_vec: list[float], centroids: list[list[float]],
                nprobe: int) -> list[int]:
    """Indices of the ``nprobe`` centroids nearest the query by
    cosine, best first; ties go to the lower index (stable sort). The
    driver-side probe ranking of the learned-centroid IVF searches:
    each term is ``(a / qn) * b`` summed left to right, and a zero
    query vector ranks against norm 1 instead of dividing by zero."""
    qn = sum(x * x for x in query_vec) ** 0.5 or 1.0
    sims = [(i, sum(a / qn * b for a, b in zip(query_vec, c)))
            for i, c in enumerate(centroids)]
    return [i for i, _ in sorted(sims, key=lambda t: -t[1])[:nprobe]]


def ivf_topk(df: DataFrame, vec_col: str, id_col: str,
             query_vec: list[float], centroids: list[list[float]],
             k: int = 10, nprobe: int = 2) -> DataFrame:
    """IVF search: score only the rows whose cell is among the query's
    ``nprobe`` nearest centroids. With the cell precomputed as a
    partition/cluster key, the filter becomes partition pruning and
    the scan touches nprobe/k of the data."""
    probe = probe_cells(query_vec, centroids, nprobe)
    celled = df.withColumn("__cell", assign_cell(vec_col, centroids))
    return cosine_topk(celled.filter(F.col("__cell").isin(probe)),
                       vec_col, id_col, query_vec, k=k)


def recall_receipt(approx: DataFrame, exact: DataFrame, id_col: str,
                   k: int, min_hits: int) -> DataFrame:
    """The one-row check that makes an approximate top-k key
    oracle-checkable: (k_requested, n_results, recall_ok), where
    recall_ok says at least ``min_hits`` of the ``approx`` ids are
    among the ``exact`` ids. An index's recall is not SQL-expressible,
    so the query verifies it and the oracle states the constants."""
    a = approx.select(F.col(id_col).alias("id"))
    hits = a.join(exact.select(F.col(id_col).alias("id")), "id",
                  "left_semi")
    return (a.agg(F.count(F.lit(1)).alias("n_results"))
            .crossJoin(hits.agg(F.count(F.lit(1)).alias("__h")))
            .select(F.lit(k).alias("k_requested"),
                    F.col("n_results").cast("bigint").alias("n_results"),
                    (F.col("__h") >= min_hits).alias("recall_ok")))


def int8_quantize_report(df: DataFrame, vec_col: str,
                         group_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit — the storage tier
    a 100 TB embedding corpus actually ships (4x smaller than float32,
    8x smaller than float64): scale = max|x|/127, code = floor(x/scale
    + 0.5) in [-127, 127], reconstruction x' = code * scale.

    Emits per group: vector count and the worst reconstruction error
    as a fraction of the quantization step (max |x - x'| / scale),
    which the quantizer bounds at 0.5 by construction — an in-query
    pin of the arithmetic that any engine must reproduce bit-for-bit
    (floor-based half-up rounding is spelled out instead of relying on
    engine round() semantics). Everything is JVM-side array math
    (transform/zip-free single lambda); one vocabulary-free shuffle,
    partial-aggregated on the group key.
    """
    xd = as_double_array(F.col(vec_col))
    scale = F.greatest(
        F.array_max(F.transform(xd, lambda x: F.abs(x))),
        F.lit(1e-30)) / F.lit(127.0)
    err_ratio = F.array_max(F.transform(
        xd, lambda x: F.abs(x / scale - F.floor(x / scale + F.lit(0.5)))))
    return (df.select(F.col(group_col), err_ratio.alias("er"))
            .groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.max("er"), 6).alias("max_err_ratio")))


def gram_matrix(df: DataFrame, vec_col: str, scale: int = 8) -> DataFrame:
    """Distributed X^T X (upper triangle): the second-moment matrix
    that PCA / linear probes / whitening start from — THE dense
    linear-algebra primitive a training pipeline runs over an
    embedding corpus.

    Shape: a single narrow codegen map expands each vector to its
    d*(d+1)/2 upper-triangle products (nested ``transform`` +
    ``flatten`` — no self-join, no UDF), each product cast to
    DECIMAL(18,8) so the sum is exact and partition-independent; the
    groupBy(i, j) then collapses map-side to at most d*(d+1)/2 rows
    per task, so shuffle volume is bounded by d^2 x tasks no matter
    how many billions of vectors stream through — the gram matrix is
    sketch-shaped data. (For very large d where the d^2 row expansion
    dominates, the Arrow-batched per-partition matmul variant shuffles
    the same d^2 partials at lower CPU; the expansion form is the
    exact-oracle tier.)

    Elements are cast float->double BEFORE multiplying, mirrored in
    the oracle, so both engines compute identical IEEE products.
    """
    tri = F.explode(F.flatten(F.expr(
        f"transform({vec_col}, (x, i) -> "
        f"  transform(slice({vec_col}, i + 1, size({vec_col}) - i), "
        f"            (y, j) -> named_struct("
        f"      'i', i, 'j', i + j, "
        f"      'p', CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) "
        f"                AS DECIMAL(18,{scale})))))"))).alias("t")
    return (df.select(tri)
            .select(F.col("t.i").alias("i"), F.col("t.j").alias("j"),
                    F.col("t.p").alias("p"))
            .groupBy("i", "j")
            .agg(F.sum("p").cast("double").alias("gram")))


def gram_matrix_arrow(df: DataFrame, vec_col: str) -> DataFrame:
    """The production tier of :func:`gram_matrix`: per-Arrow-batch
    dense ``X^T X`` in numpy (one BLAS matmul per batch instead of
    d(d+1)/2 expanded rows per vector — ~100x less wall at d=64 (0.76 s vs 80 s at 100k vectors, measured), same
    d^2-bounded shuffle), then a double-sum merge of the per-batch
    partials.

    Float64 partial sums are order-dependent in the last ulps, so
    this tier is NOT hash-reproducible across partitionings — which
    is why the registry key runs BOTH tiers and asserts the Arrow
    result lands within float tolerance of the decimal-exact one
    (oracle-checkable by construction), rather than hashing the
    Arrow numbers directly."""
    import numpy as np
    import pandas as pd

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            G = X.T @ X
            d = G.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame({"i": iu.astype("int32"),
                                "j": ju.astype("int32"),
                                "p": G[iu, ju]})

    partials = df.mapInPandas(batches, "i int, j int, p double")
    return (partials.groupBy("i", "j")
            .agg(F.sum("p").alias("gram_arrow")))


def knn_graph_blocked(df: DataFrame, vec_col: str, id_col: str,
                      block_col: str, k: int = 5) -> DataFrame:
    """Blocked k-NN graph: each vector's top-k cosine neighbors
    WITHIN its coarse block (label / IVF cell / LSH bucket) — the
    bounded-candidate construction every embedding-corpus pipeline
    uses for near-dup clustering and retrieval eval. The all-pairs
    graph is O(N^2) and never ships at 100 TB; blocking bounds the
    join at sum(block^2) exactly like the dedup tiers, and the
    per-vector cut is a rank over a window partitioned by the SOURCE
    vector (each task ranks one vector's candidate list — no global
    sort). Similarities are rounded before ranking, ties break on the
    neighbor id: the edge set is engine-deterministic.
    """
    # norms hoisted to the per-vector projections feeding the block
    # join (r13): same doubles as cosine()'s inline form, computed
    # once per vector instead of per candidate pair
    a = df.select(F.col(block_col).alias("blk"),
                  F.col(id_col).alias("src"),
                  as_double_array(F.col(vec_col)).alias("v_a"))
    a = a.withColumn("n_a", l2_norm(F.col("v_a")))
    b = df.select(F.col(block_col).alias("blk"),
                  F.col(id_col).alias("nbr"),
                  as_double_array(F.col(vec_col)).alias("v_b"))
    b = b.withColumn("n_b", l2_norm(F.col("v_b")))
    sim = F.round(dot(F.col("v_a"), F.col("v_b"))
                  / (F.col("n_a") * F.col("n_b")), 6)
    pairs = (a.join(b, "blk")
             .filter(F.col("src") != F.col("nbr"))
             .select("blk", "src", "nbr", sim.alias("sim")))
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("nbr"))
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("src", "nbr", "sim", "rn"))


def pca_project_topk(df: DataFrame, vec_col: str, id_col: str,
                     k: int = 8) -> DataFrame:
    """Distributed (uncentered) PCA, the MLlib shape: the exact
    DECIMAL gram matrix aggregates in one bounded shuffle (d^2
    partials — sketch-sized, never data-sized), the d x d eigensolve
    runs DRIVER-side (model-sized: 64 x 64 here; this is exactly how
    Spark MLlib's PCA computes principal components), and the
    projection onto the top-k eigenvectors is a literal-array codegen
    fold per component — no UDF, no second shuffle.

    Eigendecomposition is not SQL-expressible, so the key is
    oracle-checkable BY CONSTRUCTION (the sim_topk_cosine_pq
    pattern): the query re-verifies the model against the DATA
    in-plan —

    * ``energy_ok``: sum of squared projections (computed over every
      vector, double) must equal the top-k eigenvalue mass lambda_sum
      within float tolerance of the exact decimal trace — the
      Pythagorean identity Σ||P v||² = Σ_top-k λ holds only if the
      eigenvectors actually diagonalize the data's second moment;
    * ``explained_ok``: lambda_sum / trace(G) >= 1.1 * k/d — the
      top-k subspace must beat a FLAT spectrum (k/d exactly) by 10%,
      i.e. the eigensolve found real structure (measured 0.20 at
      sf0.001 and 0.16 at sf0.1 vs the 0.1375 bound).

    Returns ONE row (k, n_vectors, energy_ok, explained_ok); the
    oracle states k and the booleans and recomputes n_vectors.
    """
    import numpy as np

    gram = gram_matrix(df, vec_col)  # (i, j, gram) upper triangle
    rows = gram.collect()            # d*(d+1)/2 rows — model-sized
    d = max(r["j"] for r in rows) + 1
    G = np.zeros((d, d))
    for r in rows:
        G[r["i"], r["j"]] = G[r["j"], r["i"]] = float(r["gram"])
    evals, evecs = np.linalg.eigh(G)      # ascending
    top = evecs[:, ::-1][:, :k]           # (d, k)
    lam_sum = float(np.sum(evals[::-1][:k]))
    trace = float(np.trace(G))
    explained = lam_sum / trace
    v = as_double_array(F.col(vec_col))
    proj_sq = sum(
        (dot(v, F.lit([float(x) for x in top[:, c]])) ** 2
         for c in range(k)),
        F.lit(0.0))
    agg = df.select(proj_sq.alias("psq")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("psq").alias("sum_proj_sq"))
    return agg.select(
        F.lit(k).alias("k"),
        F.col("n_vectors"),
        (F.abs(F.col("sum_proj_sq") - F.lit(lam_sum))
         <= F.lit(max(1e-9 * trace, 1e-6))).alias("energy_ok"),
        F.lit(bool(explained >= 1.1 * k / d)).alias("explained_ok"))


def standardize_stats(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension z-score standardization statistics — the
    feature-preprocessing pass (whitening / probe training /
    quantizer conditioning) every embedding pipeline runs before
    fitting anything: for each dimension, (n, mean, std) plus the
    standardized extremes (z_min, z_max), which certify the
    transform's output range without materializing the standardized
    corpus.

    Scale shape: ONE posexplode pass; the moments aggregate is
    d-bounded (map-side combine collapses each task to d rows —
    same sketch-shaped-exchange argument as gram_matrix, at O(d)
    instead of O(d^2)); the d-row stats broadcast back for the
    extremes pass. Determinism recipe: element sums exact via
    DECIMAL(18,9) casts, squared sums via the gram tier's
    double-product -> DECIMAL(18,8) casts; mean/var/std are then
    UNROUNDED double expressions in one shared operand order (no
    rounding step -> no cross-engine tie surface; IEEE division and
    sqrt are exactly rounded, so identical inputs give identical
    bits on both engines). The oracle mirrors every cast and the
    operand order.

    Known numeric floor (documented, by construction): for a
    near-CONSTANT dimension the quantized moments give
    std ~ sqrt(quantization scale) (~1e-4) instead of exactly 0 —
    quant(x^2) != quant(x)^2. Both engines agree bit-for-bit on that
    value (pinned by the hypothesis Decimal replay), real embedding
    dimensions are never constant, and the exact-zero alternative
    (decimal-squared quantized elements, n*sumsq - sum^2) overflows
    precision 38 once sum carries corpus-scale integer digits.
    """
    ex = df.select(
        F.posexplode(F.transform(F.col(vec_col),
                                 lambda x: x.cast("double")))
        .alias("pos", "x"))
    stats = (ex.groupBy("pos")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("x").cast("decimal(18,9)")).alias("s"),
                  F.sum((F.col("x") * F.col("x"))
                        .cast("decimal(18,8)")).alias("sq")))
    mean = F.col("s").cast("double") / F.col("n")
    var = (F.col("sq").cast("double") / F.col("n")) - mean * mean
    std = F.sqrt(var)
    enriched = stats.select("pos", "n", mean.alias("mean"),
                            std.alias("std"))
    z = (F.col("x") - F.col("mean")) / F.col("std")
    return (ex.join(F.broadcast(enriched), "pos")
            .groupBy("pos")
            .agg(F.first("n").alias("n"),
                 F.first("mean").alias("mean"),
                 F.first("std").alias("std"),
                 F.min(z).alias("z_min"),
                 F.max(z).alias("z_max"))
            .select(F.col("pos").cast("int").alias("pos"),
                    F.col("n").cast("bigint").alias("n"),
                    "mean", "std", "z_min", "z_max"))


# --- SemDeDup-style semantic dedup + coreset / diverse selection -----------

def semantic_dedup_manifest(df: DataFrame, vec_col: str, id_col: str,
                            cell_col: str,
                            threshold: float = 0.3) -> DataFrame:
    """SemDeDup-shaped semantic dedup manifest (Abbas et al. 2023,
    arXiv:2303.09540): pairwise cosine runs WITHIN the coarse
    cluster (cell) only — the published algorithm's move that bounds
    the quadratic term to sum(cell^2) (cells are k-means-sized;
    deployments scale k with sqrt(n)) — and the keep rule is the
    deterministic lowest-id representative: a vector is DROPPED when
    some same-cell vector with a smaller id matches at
    round-6 cosine >= threshold (the same canonical-min convention
    every dedup tier in operators/dedup.py uses).

    Output: the per-vector curation manifest (id, cell, kept) — what
    a corpus-pruning pass joins on — not just the pair list
    (dedup_embedding_cosine's output). Cross-engine exactness rides
    the proven ROUND(cosine, 6) kernel. The default threshold is
    calibrated to the synthetic corpus's similarity range (max
    within-cell cosine ~0.47); real L2-normalized deployments run
    ~0.95.

    Scale: one cell-keyed exchange for the blocked join; the drop
    set is id-only; the manifest join is id-keyed. No cross join,
    no Python, no collect."""
    base = df.select(F.col(id_col).alias("id"),
                     F.col(cell_col).alias("cell"),
                     as_double_array(F.col(vec_col)).alias("v"))
    # norms hoisted per vector (r13): same doubles as cosine()'s
    # inline folds, computed once per vector instead of per pair
    a = base.select(F.col("id").alias("id_a"), "cell",
                    F.col("v").alias("v_a"),
                    l2_norm(F.col("v")).alias("n_a"))
    b = base.select(F.col("id").alias("id_b"),
                    F.col("cell").alias("cell_b"),
                    F.col("v").alias("v_b"),
                    l2_norm(F.col("v")).alias("n_b"))
    dropped = (a.join(b, (F.col("cell") == F.col("cell_b"))
                      & (F.col("id_b") < F.col("id_a")))
               .filter(F.round(dot(F.col("v_a"), F.col("v_b"))
                               / (F.col("n_a") * F.col("n_b")), 6)
                       >= threshold)
               .select(F.col("id_a").alias("id")).distinct()
               .withColumn("__d", F.lit(1)))
    return (base.join(dropped, "id", "left")
            .select("id", "cell", F.col("__d").isNull().alias("kept")))


def quantize_vec(col: Column, scale: int = 1000) -> Column:
    """floor(x*scale + 0.5) per component as bigint — the shared
    half-up integer quantization (hyperplane_lsh_pairs' idiom):
    every downstream dot/distance on quantized vectors is exact
    integer arithmetic, bit-identical on any engine."""
    return F.transform(col, lambda x: F.floor(x.cast("double")
                                              * scale + 0.5)
                       .cast("bigint"))


def kcenter_coreset(df: DataFrame, vec_col: str, id_col: str,
                    seed_id, k: int = 8) -> DataFrame:
    """Greedy k-center / farthest-point sampling (Gonzalez 1985) —
    the classic diversity coreset for data pruning: starting from
    the seed, repeatedly select the point MAXIMIZING its minimum
    squared Euclidean distance to everything already selected.

    Exactness by construction: vectors quantize to integer
    milli-units (quantize_vec), so every pairwise distance is an
    exact integer and the argmax (ties broken on ascending id) can
    never diverge between engines — no float comparison anywhere in
    the selection path.

    Scale: each of the k-1 steps is a narrow codegen map (distances
    to <= k broadcast literal centers) + TakeOrderedAndProject(1) —
    no shuffle, no global sort; only the k model rows ever reach the
    driver (the spherical_kmeans contract). The k scans share the
    persisted quantized base; a caller at corpus scale keeps the
    cache hot for the whole selection.

    Output: (sel_rank, id, min_d2) — min_d2 is the selection-time
    farthest distance (0 for the seed), i.e. the coreset's covering
    radius curve. Inputs with fewer than ``k`` rows return one row
    per available point (the greedy loop exhausts and stops — it
    never crashes; r7 advisory), and each step's single selected row
    is collected ONCE and re-emitted via createDataFrame, so the k
    scans the docstring budgets are the only scans that run."""
    from pyspark.sql import types as T
    base = df.select(F.col(id_col).alias("id"),
                     quantize_vec(F.col(vec_col)).alias("q")).persist()
    try:
        seed_row = base.filter(F.col("id") == seed_id).first()
        if seed_row is None:
            raise KeyError(f"seed id {seed_id!r} not found")
        selected: list[tuple] = [(seed_row["id"], list(seed_row["q"]))]
        out_rows: list[tuple] = [(0, seed_row["id"], 0)]
        for rank in range(1, k):
            dists = [
                F.aggregate(
                    # lit(list): one py4j call per selected point,
                    # not 64 (r15); bigint elements, same integers
                    F.zip_with(F.col("q"),
                               F.lit([int(x) for x in qv]),
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("bigint"), lambda acc, v: acc + v)
                for _, qv in selected]
            mind = F.least(*dists) if len(dists) > 1 else dists[0]
            row = (base.filter(~F.col("id").isin(
                       [sid for sid, _ in selected]))
                   .select("id", mind.alias("min_d2"), "q")
                   .orderBy(F.desc("min_d2"), F.asc("id")).first())
            if row is None:  # fewer than k points: coreset is done
                break
            selected.append((row["id"], list(row["q"])))
            out_rows.append((rank, row["id"], int(row["min_d2"])))
        id_type = base.schema["id"].dataType
        schema = T.StructType([
            T.StructField("sel_rank", T.IntegerType(), False),
            T.StructField("id", id_type, False),
            T.StructField("min_d2", T.LongType(), False)])
        return df.sparkSession.createDataFrame(out_rows, schema)
    finally:
        base.unpersist()


def mmr_rerank(df: DataFrame, vec_col: str, id_col: str,
               query_vec: list[float], shortlist: int = 20,
               k: int = 5, lam_pct: int = 70) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein
    1998): brute-force top-``shortlist`` by cosine relevance, then
    greedily pick ``k`` results maximizing
    lambda*rel - (1-lambda)*max_sim_to_already_picked — the standard
    diversity-aware retrieval pass over an ANN shortlist.

    Exactness: cosines quantize to integer micro-units via the
    shared floor(x*1e6 + 0.5) idiom the moment they are computed;
    the MMR score is then pure integer arithmetic
    (lam_pct*rel_u - (100-lam_pct)*div_u), so the greedy argmax
    (ties on ascending id) is engine-exact.

    Scale: the corpus-sized work is one narrow score map +
    TakeOrderedAndProject(shortlist); the greedy loop runs on the
    shortlist only (model-sized — collected once, the codebook
    convention). Output: (mmr_rank, id, score_micro)."""
    micro = 1_000_000
    rel_u = F.floor(cosine_to_query(F.col(vec_col), query_vec)
                    * micro + 0.5).cast("bigint")
    short = (df.select(F.col(id_col).alias("id"),
                       rel_u.alias("rel_u"),
                       as_double_array(F.col(vec_col)).alias("v"))
             .orderBy(F.desc("rel_u"), F.asc("id")).limit(shortlist)
             .collect())
    cand = {r["id"]: (r["rel_u"], [float(x) for x in r["v"]])
            for r in short}

    def cos_u(a: list[float], b: list[float]) -> int:
        # DELIBERATELY driver-side Python: the diversity cosines are
        # shortlist x picked (<= shortlist*k pairs, model-sized). This
        # is the repo's ONE engine-visible number computed outside
        # Spark/DuckDB — its cross-engine safety is pinned by the
        # 4k-pair differential soak (tests/test_advanced_ops.py
        # test_mmr_python_fold_equals_spark_fold: Python left-fold ==
        # Spark's cosine kernel on every pair, 0 micro-unit
        # mismatches; see NOTES round 7). The oracle additionally
        # assumes DuckDB's list_cosine_similarity folds in index
        # order like this loop — do NOT "fix" this into a different
        # accumulation order without re-running that soak.
        import math
        dp = 0.0
        for x, y in zip(a, b):
            dp += x * y
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return int(math.floor(dp / (na * nb) * micro + 0.5))

    picked: list[tuple[int, int]] = []  # (id, score_micro)
    while len(picked) < k and len(picked) < len(cand):
        chosen = set(pid for pid, _ in picked)
        best = None
        for cid, (rel, v) in cand.items():
            if cid in chosen:
                continue
            div = max((cos_u(v, cand[pid][1]) for pid in chosen),
                      default=0)
            score = lam_pct * rel - (100 - lam_pct) * div
            if best is None or (score, -cid) > (best[1], -best[0]):
                best = (cid, score)
        picked.append(best)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(i, int(pid), int(score))
         for i, (pid, score) in enumerate(picked)],
        "mmr_rank INT, id BIGINT, score_micro BIGINT")
