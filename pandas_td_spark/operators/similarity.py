"""Similarity search over embedding columns (north star L3; PAPERS.md —
brute-force top-k baseline + random-hyperplane LSH scale path per
Charikar '02 / REPOSE ICDE'21).

Embeddings are ``array<float>`` (fixed dim). The dot product is a
``zip_with`` + ``aggregate`` fold evaluated left-to-right in DOUBLE:

* both higher-order functions are ``CodegenFallback`` in Spark 4.1, so
  the fold is interpreted one element at a time (it does avoid the
  janino 64 KB method blowup of an expanded chain — see
  :func:`dot_chain`);
* bit-identical across engines that evaluate IEEE doubles left-to-right —
  which is what lets the DuckDB oracle hash-match exactly (the same sum
  is generated as expanded SQL text by :func:`dot_sql`). :func:`ivf_topk`
  scores in numpy with :func:`_chain_dot`, the same left-to-right double
  order, so its cosines carry the fold's bits without the interpreter.

Scale path: brute-force top-k is a broadcast of the (small) query set
against a full scan — linear, shuffle-free until the final per-query top-k
(TakeOrderedAndProject-shaped via window rank). The LSH variant buckets
vectors by hyperplane sign bits first, turning the scan into a bucket
equi-join; recall is tested against the exact path in tests/test_llm.py.
"""

from __future__ import annotations


import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from pandas_td_spark.engine.store import memo

__all__ = [
    "dot_chain",
    "dot_chain_lit",
    "dot_sql",
    "dot_sql_lit",
    "plane_matrix",
    "bucket_expr",
    "bucket_sql",
    "cosine_topk",
    "cosine_threshold_pairs",
    "bucket_array_udf",
    "lsh_topk",
    "lsh_topk_exact",
    "lsh_index_exact",
    "ivf_topk",
    "pq_topk",
    "mmr_rerank",
]


def dot_chain(a: str, b: str, dim: int) -> Column:
    """Σ a[i]·b[i] in left-assoc DOUBLE order (deterministic), as a
    ``zip_with`` + ``aggregate`` fold.

    The fold adds terms sequentially in index order — numerically
    IDENTICAL to the explicit ``((t1+t2)+t3)+…`` chain (verified
    bitwise on the corpus) and to :func:`dot_sql`'s expanded SQL, but it
    codegens as a LOOP instead of a 64-term expression tree. The
    expanded chain blew janino's 64 KB method limit in every plan that
    used it twice (norms + cosine): a ~1 s failed compile per run, then
    interpreter fallback — measured 3.2 s → 0.7 s for the brute-force
    top-k after the switch. ``dim`` is kept for signature stability
    (the fold handles any length).
    """
    return F.aggregate(
        F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_sql(a: str, b: str, dim: int) -> str:
    """The identical chain as SQL text (for the DuckDB oracle)."""
    return " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))"
        for i in range(1, dim + 1)
    )


def dot_chain_lit(vec: str, coeffs) -> Column:
    """Σ vec[i]·coeffs[i] against a LITERAL coefficient list, in the same
    left-assoc DOUBLE order as :func:`dot_chain` — used for hyperplane
    sign bits whose coefficients must appear verbatim in an oracle SQL."""
    lits = F.array(*[F.lit(float(c)) for c in coeffs])
    return F.aggregate(
        F.zip_with(F.col(vec), lits, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_sql_lit(vec: str, coeffs) -> str:
    """:func:`dot_chain_lit` as SQL text. ``repr(float)`` round-trips
    exactly (shortest decimal that parses back to the same IEEE double),
    so both engines multiply by bit-identical coefficients."""
    return " + ".join(
        f"(CAST({vec}[{i + 1}] AS DOUBLE) * {float(c)!r})"
        for i, c in enumerate(coeffs)
    )


def plane_matrix(
    dim: int, n_planes: int, n_tables: int, seed: int = 7
) -> np.ndarray:
    """The deterministic Gaussian hyperplane matrix shared by the UDF
    bucket path (:func:`bucket_array_udf`), the expression bucket path
    (:func:`bucket_expr`), and oracle SQL generation (:func:`bucket_sql`)
    — one definition so the three can never diverge."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables * n_planes, dim))


def bucket_expr(
    vec: str, planes: np.ndarray, n_planes: int, table_idx: int
) -> Column:
    """Sign-LSH bucket id of one table as a pure expression: bit j set
    iff the left-assoc dot against plane (table_idx·n_planes + j) is
    ≥ 0. Exact-arithmetic twin of the numpy matmul in
    :func:`bucket_array_udf` (same planes, deterministic summation
    order instead of SIMD order — signs can differ only on dots whose
    value depends on addition order, i.e. within rounding of zero)."""
    bits = None
    for j in range(n_planes):
        row = planes[table_idx * n_planes + j]
        bit = F.when(
            dot_chain_lit(vec, row) >= 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
        bits = bit if bits is None else bits + bit
    return bits.cast("bigint")


def bucket_sql(
    vec: str, planes: np.ndarray, n_planes: int, table_idx: int
) -> str:
    """:func:`bucket_expr` as SQL text (same plane literals)."""
    terms = []
    for j in range(n_planes):
        row = planes[table_idx * n_planes + j]
        terms.append(
            f"(CASE WHEN ({dot_sql_lit(vec, row)}) >= 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _with_norm(df: DataFrame, dim: int, vec: str = "embedding") -> DataFrame:
    return df.withColumn("__norm", F.sqrt(dot_chain(vec, vec, dim)))


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
    anti_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbours for each query id (self excluded).

    The query side is a literal-filtered broadcast (tiny); the corpus scan
    is a single pass; ranking is a window over q_id — shuffle bounded by
    |queries| × |corpus| candidate rows, the brute-force baseline.

    ``anti_col``: when set, neighbours sharing the anchor's value in this
    column are excluded — the hard-negative-mining constraint (top-k most
    similar items with a DIFFERENT label/source/cluster).
    """
    # NULL embeddings are excluded up front (SQL aggregate convention:
    # null inputs don't participate) — a None inside an Arrow batch would
    # otherwise break the numpy vstack/matmul kernels
    emb = emb.where(F.col(vec).isNotNull())
    n = _with_norm(emb, dim, vec)
    extra_q = [F.col(anti_col).alias("q_grp")] if anti_col else []
    extra_c = [F.col(anti_col).alias("c_grp")] if anti_col else []
    q = n.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec).alias("q_vec"),
        F.col("__norm").alias("q_norm"),
        *extra_q,
    )
    c = n.select(
        F.col(id_col).alias("n_id"),
        F.col(vec).alias("c_vec"),
        F.col("__norm").alias("c_norm"),
        *extra_c,
    )
    cos = dot_chain("q_vec", "c_vec", dim) / (F.col("q_norm") * F.col("c_norm"))
    pred = F.col("q_id") != F.col("n_id")
    if anti_col:
        pred = pred & (F.col("q_grp") != F.col("c_grp"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(pred)
        .select("q_id", "n_id", cos.alias("cosine"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select("q_id", "n_id", "cosine", "rnk")
    )


def cosine_threshold_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int = 64,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """EXACT all-pairs cosine-threshold self-join, blocked-matmul shaped.

    Provably identical output to the naive ``a × b WHERE cos >= t`` join —
    no LSH recall gamble — but the O(n²) compare work runs as BLAS matmuls
    instead of per-pair expression evaluation, and the bit-exact
    :func:`dot_chain` (what the DuckDB oracle hashes against) is evaluated
    only on the candidate pairs:

    1. **Block**: hash-partition rows into ``n_blocks`` packed blocks
       (``groupBy(id % n_blocks) → collect_list``). Size blocks so one
       block's matrix fits comfortably in a task (64-dim float32 ⇒ ~2.5 MB
       per 10⁴ vectors); at larger corpora raise ``n_blocks`` ∝ n.
    2. **Candidates**: crossJoin of the ``B(B+1)/2`` block pairs (upper
       triangle), one numpy ``A @ B.T`` per pair inside ``mapInPandas``,
       keeping pairs with ``cos >= threshold - 1e-9``. The 1e-9 slack is a
       guaranteed superset margin: a 64-term float64 dot product carries
       ≤ dim·ε·Σ|aᵢbᵢ| ≈ 1e-14 relative error (ε = 2⁻⁵²), five orders
       below the slack, for both the numpy and the chain evaluation order.
    3. **Verify**: join the (tiny) candidate set back to the corpus and
       re-score with the left-associative ``dot_chain`` — bit-identical to
       the oracle SQL — filtering at the exact threshold.

    Replaces round 1's full-corpus BroadcastNestedLoopJoin (the slowest
    bench entry, 11.8 s at sf0.1). The compare count is still inherently
    quadratic — for dense vectors at thresholds in the random-similarity
    regime (θ ≈ 66° at t = 0.4) no exact sub-quadratic filter exists and
    sign-LSH would need more candidates than all-pairs for recall ≈ 1
    (p = 1-θ/π ≈ 0.63 per plane) — but the block×block shape is how exact
    all-pairs is actually run at scale: shuffle is n·B rows (each block
    replicated B times), tasks are independent, and parallelism is
    B(B+1)/2 regardless of cluster size. Genuinely near-dup corpora
    (t ≥ 0.9) should use the LSH/banded paths (:func:`lsh_topk`,
    ``operators/dedup.py``) instead.
    """
    emb = emb.where(F.col(vec).isNotNull())  # null vectors excluded
    margin = 1e-9
    # Pack each block as (array<long> ids, flat array<double> of row-major
    # vectors) rather than an array of structs: Arrow then hands mapInPandas
    # primitive numpy buffers and the worker does ONE reshape per block,
    # instead of a pure-Python float conversion per element (measured: the
    # struct packing spent ~10 s/74-query bench unpacking ~35 M Python
    # floats; flat packing is near-free).
    rows = F.array_sort(F.collect_list(F.struct("id", "v")))
    packed = (
        emb.select(
            F.col(id_col).alias("id"), F.col(vec).cast("array<double>").alias("v")
        )
        .withColumn("__blk", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int"))
        .groupBy("__blk")
        .agg(
            F.transform(rows, lambda r: r["id"]).alias("ids"),
            F.flatten(F.transform(rows, lambda r: r["v"])).alias("flat"),
        )
    )
    left = packed.select(
        F.col("__blk").alias("blk_a"),
        F.col("ids").alias("ids_a"),
        F.col("flat").alias("flat_a"),
    )
    right = packed.select(
        F.col("__blk").alias("blk_b"),
        F.col("ids").alias("ids_b"),
        F.col("flat").alias("flat_b"),
    )
    # literal upper-triangle block-pair table → two equi-joins (no nested-
    # loop join anywhere in the plan, even a B-row one)
    spark = emb.sparkSession
    pair_ids = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "blk_a int, blk_b int",
    )
    block_pairs = (
        pair_ids.join(left, "blk_a")
        .join(right, "blk_b")
        # the joins of B-row inputs land in very few partitions; spread the
        # B(B+1)/2 matmul tasks across the cluster
        .repartition(n_blocks * (n_blocks + 1) // 2)
    )

    def emit(batches):
        for pdf in batches:
            out_a, out_b = [], []
            for ids_a, ids_b, flat_a, flat_b, same in zip(
                pdf["ids_a"],
                pdf["ids_b"],
                pdf["flat_a"],
                pdf["flat_b"],
                pdf["blk_a"] == pdf["blk_b"],
            ):
                ids_a = np.asarray(ids_a, dtype=np.int64)
                ids_b = np.asarray(ids_b, dtype=np.int64)
                A = np.asarray(flat_a, dtype=np.float64).reshape(-1, dim)
                B = np.asarray(flat_b, dtype=np.float64).reshape(-1, dim)
                cos = (A @ B.T) / np.outer(
                    np.sqrt((A * A).sum(axis=1)), np.sqrt((B * B).sum(axis=1))
                )
                ii, jj = np.where(cos >= threshold - margin)
                if same:  # upper triangle only: each unordered pair once
                    keep = ii < jj
                    ii, jj = ii[keep], jj[keep]
                ia, ib = ids_a[ii], ids_b[jj]
                lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
                out_a.append(lo)
                out_b.append(hi)
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a) if out_a else [],
                    "id_b": np.concatenate(out_b) if out_b else [],
                }
            )

    cand = block_pairs.mapInPandas(emit, "id_a long, id_b long")

    n = _with_norm(emb, dim, vec)
    a = n.select(
        F.col(id_col).alias("id_a"),
        F.col(vec).alias("emb_a"),
        F.col("__norm").alias("nrm_a"),
    )
    b = n.select(
        F.col(id_col).alias("id_b"),
        F.col(vec).alias("emb_b"),
        F.col("__norm").alias("nrm_b"),
    )
    cos_exact = dot_chain("emb_a", "emb_b", dim) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        F.broadcast(cand)
        .join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cos_exact.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def bucket_array_udf(dim: int, n_planes: int, n_tables: int, seed: int = 7):
    """Multi-table random-hyperplane bucket ids as a vectorized Pandas UDF.

    Returns an ``array<bigint>`` of ``n_tables`` bucket ids per vector.
    The (n_tables·n_planes × dim) Gaussian plane matrix is derived
    deterministically from ``numpy.random.default_rng(seed)`` — no stored
    model, reproducible on any cluster size.

    Why a UDF here (vs expression chains): a per-plane 64-term expression ×
    32 plane instances exceeds the JVM 64KB method limit and kicks the whole
    stage out of codegen (observed InternalCompilerException + interpreter
    fallback). One Arrow-batched numpy matmul per batch is both faster and
    plan-friendly; the exact cosine path stays expression-based because the
    oracle needs cross-engine bit-determinism, which buckets do not.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    planes = plane_matrix(dim, n_planes, n_tables, seed)
    powers = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def _buckets(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy())  # (batch, dim) float32
        bits = (mat @ planes.T) >= 0  # (batch, n_tables*n_planes)
        bits = bits.reshape(len(mat), n_tables, n_planes)
        ids = (bits * powers).sum(axis=2)  # (batch, n_tables) int64
        return pd.Series(list(ids))

    return _buckets


def _nearest_cell(A: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Index of each row's nearest centroid: argmin of ||x||^2-2x.c (the
    ||c||^2 term is constant per candidate set and drops out of the
    argmin). The one assignment rule of IVF and SemDeDup."""
    d = (A * A).sum(1)[:, None] - 2.0 * (A @ centers.T)
    return d.argmin(1).astype(np.int32)


def _chain_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Σ A[..., i]·B[..., i] over the last axis, accumulated left to right
    in double from 0.0 — :func:`dot_chain`'s order, one IEEE multiply and
    add per term, so the results are its bits. Leading axes broadcast."""
    acc = np.zeros(np.broadcast_shapes(A.shape[:-1], B.shape[:-1]))
    for i in range(A.shape[-1]):
        acc = acc + A[..., i] * B[..., i]
    return acc


def _cell_assigner(centers):
    """Pandas UDF assigning each vector to its nearest centroid by
    :func:`_nearest_cell`, the numpy rule :func:`ivf_topk`'s scoring
    kernel calls too — so SemDeDup's and IVF's cells can never silently
    diverge."""

    @F.pandas_udf("int")
    def cell_of(col: pd.Series) -> pd.Series:
        if len(col) == 0 or len(centers) == 0:
            return pd.Series([], dtype="int32")
        A = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
        return pd.Series(_nearest_cell(A, centers))

    return cell_of


def _train_ivf_quantizer(
    emb: DataFrame,
    id_col: str,
    vec: str,
    n_clusters: int,
    seed: int,
    max_train: int = 4096,
    n_iter: int = 10,
) -> "np.ndarray":
    """Seeded Lloyd k-means on a bounded deterministic training sample.

    The sample is the ``max_train`` rows with the smallest
    ``xxhash64(id, seed)`` — a pure row property, so membership is
    identical on any engine, partition layout, or cluster size (same
    argument as the hash-cut sampler in queries/coverage.py::q77), and the
    TakeOrdered fetch is O(n log k) per partition, never a full sort. The
    sample is re-sorted by id before init so the fit is independent of
    partition arrival order. Returns the (n_clusters × dim) centroid
    matrix — bounded model state, like any broadcast model.
    """
    train = (
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec).cast("array<double>").alias("v"),
        )
        .withColumn("__h", F.xxhash64(F.col("id"), F.lit(seed)))
        .orderBy("__h", "id")
        .limit(max_train)
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    if len(train) == 0:
        # empty corpus (empty time partitions are normal inputs): a
        # 0-centroid model; downstream assignment sees no rows anyway
        return np.zeros((0, 1), dtype=np.float64)
    X = np.vstack([np.asarray(v, dtype=np.float64) for v in train["v"]])
    rng = np.random.default_rng(seed)
    centers = X[rng.choice(len(X), size=min(n_clusters, len(X)), replace=False)]
    for _ in range(n_iter):
        a = _nearest_cell(X, centers)
        for c in range(len(centers)):
            m = a == c
            if m.any():
                centers[c] = X[m].mean(0)
    return centers


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 11,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k via IVF (inverted file): k-means coarse quantizer
    → probe the ``n_probe`` nearest cells per query → exact re-rank.

    The quantizer is seeded Lloyd k-means fit driver-side in numpy on a
    bounded deterministic hash-sample of the corpus (how IVF quantizers
    are actually trained at scale — FAISS samples ~max(10k, 256·k)
    vectors regardless of corpus size; the full corpus is never
    collected). Replaces the round-1 ``pyspark.ml`` KMeans fit whose
    job-per-Lloyd-iteration overhead dominated the query (~4.4 s of
    q66's 8 s at sf0.1).

    Search is one Arrow pass over the corpus with no persisted
    intermediate. The ``len(query_ids)`` query vectors are fetched in
    one small job (the only rows collected besides the training
    sample) and each query's probe list is ranked in numpy by
    ``(squared distance, cell)``. One ``mapInArrow`` kernel then, per
    batch, assigns cells by :func:`_nearest_cell`, scores the rows in a
    probed cell (self excluded) with :func:`_chain_dot` norms and dots —
    the cosines :func:`dot_chain` gives, bit for bit — and emits at most
    k rows per query; a ``row_number`` window over those |Q|·k rows per
    batch makes the final rank. A zero norm product on a scored pair
    raises under ANSI mode and scores NULL otherwise, as SQL division
    does. Each query touches n_probe/n_clusters of the corpus — the
    classic IVF trade. Recall vs the exact path is asserted in
    tests/test_llm.py. ``dim`` is kept for signature stability (the
    vectors' own length is used).
    """
    emb = emb.where(F.col(vec).isNotNull())  # null vectors excluded
    centers = _train_ivf_quantizer(
        emb, id_col=id_col, vec=vec, n_clusters=n_clusters, seed=seed
    )
    qrows = (
        emb.where(F.col(id_col).isin(query_ids))
        .select(id_col, F.col(vec).cast("array<double>"))
        .collect()
    )
    qids = np.array([r[0] for r in qrows])
    Q = np.array([r[1] for r in qrows], dtype=np.float64).reshape(
        len(qrows), centers.shape[1]
    )
    # probe lists: (q-c)*(q-c) summed left to right, ranked (dist, cell)
    D = Q[:, None, :] - centers[None, :, :]
    dist = _chain_dot(D, D)
    probed = np.zeros(dist.shape, dtype=bool)
    for j in range(len(qids)):
        cells = np.lexsort((np.arange(len(centers)), dist[j]))
        probed[j, cells[: max(n_probe, 0)]] = True
    q_norm = np.sqrt(_chain_dot(Q, Q))
    ansi = emb.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"
    id_type = emb.schema[id_col].dataType.simpleString()
    k_cut = max(k, 0)

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            if not len(qids):
                continue
            X = rb.column(1).flatten().to_numpy(zero_copy_only=False)
            X = X.astype(np.float64).reshape(rb.num_rows, Q.shape[1])
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            hit = probed[:, _nearest_cell(X, centers)].T  # (rows, |Q|)
            hit &= ids[:, None] != qids[None, :]
            rows = np.flatnonzero(hit.any(1))
            X, ids, hit = X[rows], ids[rows], hit[rows]
            denom = q_norm[None, :] * np.sqrt(_chain_dot(X, X))[:, None]
            null = hit & (denom == 0)
            if ansi and null.any():
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] ivf_topk: zero-norm vector in a "
                    "scored pair"
                )
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _chain_dot(X[:, None, :], Q[None, :, :]) / denom
            # Spark's DESC order: NaN first, NULL last, ties by n_id
            cls = np.where(null, 2, np.where(np.isnan(cos), 0, 1))
            key = np.where(cls == 1, -cos, 0.0)
            rr, jj = [], []
            for j in range(len(qids)):
                c = np.flatnonzero(hit[:, j])
                top = c[np.lexsort((ids[c], key[c, j], cls[c, j]))[:k_cut]]
                rr.append(top)
                jj.append(np.full(len(top), j))
            r, j = np.concatenate(rr), np.concatenate(jj)
            id_arrow = rb.schema.field(0).type
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[j], type=id_arrow),
                    pa.array(ids[r], type=id_arrow),
                    pa.array(cos[r, j], mask=null[r, j]),
                ],
                names=["q_id", "n_id", "cosine"],
            )

    scored = (
        emb.where(F.col(id_col).isNotNull())
        .select(id_col, vec)
        .mapInArrow(
            score, f"q_id {id_type}, n_id {id_type}, cosine double"
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select("q_id", "n_id", "cosine", "rnk")
    )


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH + exact re-rank.

    Single-table sign-LSH has recall p^b per table with p = 1 - θ/π; for
    weakly-similar corpora (θ ≈ 70° ⇒ p ≈ 0.6) one table is useless, so we
    union candidates over ``n_tables`` independent plane sets (seeded
    deterministically): recall ≈ 1-(1-p^b)^L. Defaults (b=4, L=8) target
    ~0.7 recall at θ≈70°, and much higher on genuinely clustered data.

    Plan shape: per-vector bucket array (one codegen'd scan), posexplode →
    equi-join on (table_idx, bucket) — candidates bounded by L·n/2^b per
    query, never the cross product; distinct before the exact re-rank.
    Recall is measured against cosine_topk in tests/test_llm.py.
    """
    emb = emb.where(F.col(vec).isNotNull())  # null vectors excluded
    buckets = bucket_array_udf(dim, n_planes, n_tables)(F.col(vec))
    # materialized once: the bucket-UDF + norm subtree feeds BOTH sides of
    # the self-join below; without it Spark evaluates the Python stage
    # twice (measured 5.8 s → 2.7 s at sf0.1). Same localCheckpoint
    # rationale/limits as jaccard_pairs — at 100 TB persist or write an
    # intermediate signature table instead.
    n = _with_norm(emb.withColumn("buckets", buckets), dim, vec).localCheckpoint()
    return _lsh_rerank(n, query_ids, k, dim, id_col, vec)


def lsh_index_exact(
    emb: DataFrame,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """The LSH index frame (id, vec, __norm, buckets) with
    EXPRESSION-evaluated sign bits — the materialized signature table a
    production ANN session builds once per corpus and every probe reads.
    The 32 fold-dots per vector are interpreter-evaluated (HOFs don't
    codegen), which is exactly why callers should materialize/memoize
    this frame rather than rebuild it per query."""
    emb = emb.where(F.col(vec).isNotNull())
    planes = plane_matrix(dim, n_planes, n_tables, seed)
    buckets = F.array(
        *[bucket_expr(vec, planes, n_planes, t) for t in range(n_tables)]
    )
    return _with_norm(emb.withColumn("buckets", buckets), dim, vec)


def lsh_topk_exact(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec: str = "embedding",
    seed: int = 7,
    index: DataFrame | None = None,
) -> DataFrame:
    """:func:`lsh_topk` with EXPRESSION-evaluated sign bits
    (:func:`bucket_expr`): every dot against a plane is the deterministic
    left-assoc chain, so a SQL oracle carrying the same plane literals
    (:func:`bucket_sql`) reproduces buckets, candidates, and ranks
    bit-for-bit — the oracle-checkable form of the hyperplane-LSH path
    (VERDICT r9 #4). The UDF form stays the throughput default for wide
    plane banks (one Arrow matmul per batch). ``index``: a
    memoized/checkpointed :func:`lsh_index_exact` frame — sessions
    running several probes over one corpus pass it so the interpreted
    bucket build runs once per corpus, not once per probe."""
    if index is None:
        index = lsh_index_exact(
            emb, dim, n_planes, n_tables, id_col, vec, seed
        ).localCheckpoint()
    return _lsh_rerank(index, query_ids, k, dim, id_col, vec)


def _lsh_rerank(
    n: DataFrame,
    query_ids: list[int],
    k: int,
    dim: int,
    id_col: str,
    vec: str,
) -> DataFrame:
    """Shared tail of the LSH top-k paths: posexplode buckets →
    (table_idx, bucket) equi-join against the broadcast query side →
    distinct candidates → exact cosine re-rank."""
    exploded = n.select(
        F.col(id_col),
        F.col(vec),
        F.col("__norm"),
        F.posexplode("buckets").alias("table_idx", "bucket"),
    )
    q = exploded.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec).alias("q_vec"),
        F.col("__norm").alias("q_norm"),
        "table_idx",
        "bucket",
    )
    c = exploded.select(
        F.col(id_col).alias("n_id"),
        F.col(vec).alias("c_vec"),
        F.col("__norm").alias("c_norm"),
        "table_idx",
        "bucket",
    )
    cand = (
        F.broadcast(q)
        .join(c, ["table_idx", "bucket"])
        .where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "q_vec", "q_norm", "n_id", "c_vec", "c_norm")
        .dropDuplicates(["q_id", "n_id"])
    )
    cos = dot_chain("q_vec", "c_vec", dim) / (F.col("q_norm") * F.col("c_norm"))
    scored = cand.select("q_id", "n_id", cos.alias("cosine"))
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select("q_id", "n_id", "cosine", "rnk")
    )


def semdedup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_clusters: int = 16,
    seed: int = 11,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): cluster embeddings with a
    seeded k-means coarse quantizer, then search for near-duplicate pairs
    ONLY within each cluster — the compare cost drops from O(n²) to
    Σ_c O(n_c²), and each cluster's work is one independent task.

    The recall trade is explicit and the paper's: a pair split across two
    cells is missed (test_llm pins recall vs the exact q64 path on the
    fixture). Precision is exact: candidates re-score with the
    left-associative :func:`dot_chain` evaluation order at the exact
    threshold, so every emitted pair is a true pair.

    At 100 TB: the quantizer trains on a bounded hash-sample (same
    machinery as IVF), assignment is one vectorized pass, and within-cell
    comparisons shard across the cluster — raise ``n_clusters`` ∝ n to
    bound per-cell quadratic work, exactly how the paper deployed it.
    """
    emb = emb.where(F.col(vec).isNotNull())  # null vectors excluded
    centers = _train_ivf_quantizer(
        emb, id_col=id_col, vec=vec, n_clusters=n_clusters, seed=seed
    )

    cell_of = _cell_assigner(centers)

    assigned = emb.select(
        F.col(id_col), F.col(vec), cell_of(F.col(vec)).alias("__cell")
    )
    return _within_cell_exact_pairs(
        assigned, emb, threshold, dim, id_col, vec
    )


def _within_cell_exact_pairs(
    assigned: DataFrame,
    emb: DataFrame,
    threshold: float,
    dim: int,
    id_col: str,
    vec: str,
) -> DataFrame:
    """Shared two-stage within-cell comparer (semdedup_pairs and the
    anchored variant): numpy-matmul candidates at 1e-9 slack per cell
    task, then the exact left-assoc dot_chain re-score — precision
    exact, pairs identical to enumerating every within-cell pair at the
    true threshold (the q64 discipline: the slack superset cannot miss
    a chain-true pair)."""

    def within_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        empty = pd.DataFrame(
            {"id_a": pd.Series([], dtype="int64"),
             "id_b": pd.Series([], dtype="int64"),
             "__va": pd.Series([], dtype="object"),
             "__vb": pd.Series([], dtype="object")}
        )
        if len(ids) == 0:
            return empty
        A = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec]]
        )
        nrm = np.sqrt((A * A).sum(1))
        S = (A @ A.T) / np.outer(nrm, nrm)
        iu, ju = np.triu_indices(len(ids), k=1)
        # 1e-9 slack superset, exact re-filter below (q64 discipline)
        m = S[iu, ju] >= threshold - 1e-9
        if not m.any():
            return empty
        swap = ids[iu[m]] > ids[ju[m]]
        ai = np.where(swap, ju[m], iu[m])
        bi = np.where(swap, iu[m], ju[m])
        # candidates are FEW (threshold-true pairs + ulp-slack) — carry
        # the vectors through so the exact re-score is a projection,
        # not two corpus joins (r13: the join form cost ~0.7 s of
        # shuffle/probe at sf0.1 for ~250 candidate rows)
        return pd.DataFrame(
            {"id_a": ids[ai], "id_b": ids[bi],
             "__va": [A[i] for i in ai], "__vb": [A[i] for i in bi]}
        )

    # key-hash repartition to core count: the per-cell work is
    # O(cell_size^2 * dim) numpy, but the pre-group shuffle is small in
    # BYTES, so AQE would coalesce it onto few cores (python_udfs.py::
    # _spread_groups rationale); explicit repartition is exempt and
    # still satisfies the grouping (one shuffle total)
    spread_cells = assigned.repartition(
        assigned.sparkSession.sparkContext.defaultParallelism, "__cell"
    )
    cand = spread_cells.groupBy("__cell").applyInPandas(
        within_cell,
        schema=(
            "id_a long, id_b long, __va array<double>, __vb array<double>"
        ),
    )
    # exact re-score with the oracle-bit-identical chain (float->double
    # is exact, so the carried float64 copies feed the chain the same
    # values the corpus columns would)
    nrm_a = F.sqrt(dot_chain("__va", "__va", dim))
    nrm_b = F.sqrt(dot_chain("__vb", "__vb", dim))
    cos = dot_chain("__va", "__vb", dim) / (nrm_a * nrm_b)
    return (
        cand.select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def semdedup_pairs_anchored(
    emb: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_anchors: int = 8,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """SemDeDup with SEEDED INTEGER-GEOMETRY cells (r13, VERDICT r12 #9)
    — the oracle-expressible sibling of :func:`semdedup_pairs`.

    Instead of a learned k-means quantizer (whose BLAS-batched float
    argmin is ULP-sensitive and therefore not replayable in another
    engine), the cells are the Voronoi partition of ``n_anchors``
    ANCHOR VECTORS — the rows with the smallest ``md5(id)`` (the
    engine-portable seeded-sample idiom) — under EXACT integer geometry:
    embeddings quantize to ``round(x * 1e6)`` bigints (float->double is
    exact, both engines round half-away-from-zero, the product is one
    IEEE op), and ``||xq - aq||^2`` sums 64 exact integer terms, so the
    argmin (ties -> lower anchor rank) is bit-identical in ANY engine
    and the whole pipeline — anchors, cells, within-cell pairs, the
    left-assoc :func:`dot_chain` cosine — replays as plain SQL.

    Same compare-plan economics as the paper's k-means cells (within-
    cell quadratic only; raise ``n_anchors`` with corpus size), same
    exact precision, same explicit recall trade for cross-cell pairs.
    The learned-quantizer variant stays the production default where
    cell balance matters more than oracle parity.

    At 100 TB: the anchor probe collects ``n_anchors`` rows (bounded
    model state, the kmeans-init contract); assignment is one
    JVM-codegen pass; within-cell pairs shuffle on the cell key.
    """
    emb = emb.where(F.col(vec).isNotNull())
    qi = emb.select(
        F.col(id_col),
        F.col(vec),
        F.transform(
            F.col(vec),
            lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
        ).alias("__xq"),
    )
    # the anchor probe is a bounded MODEL artifact (n_anchors rows) —
    # memoized per (session, plan, k) in the store beside the model
    # frames, or bench's min-of-N and any multi-query session pays the
    # TakeOrdered job + its codegen on every call (measured ~0.4-2.2 s);
    # register_views evicts it when the files change
    plan = emb._jdf.queryExecution().analyzed().semanticHash()
    anchors = memo(
        emb.sparkSession,
        ("anchors", plan, n_anchors, id_col, vec),
        lambda: qi.select(
            id_col,
            "__xq",
            F.md5(F.col(id_col).cast("string")).alias("__m"),
        )
        .orderBy("__m", id_col)
        .limit(n_anchors)
        .collect(),
    )
    if not anchors:  # empty corpus: no cells, no pairs
        return emb.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    # Assignment: vectorized Arrow batch argmin over EXACT int64
    # geometry — engine-portable because integer arithmetic is
    # order-free (identical to the JVM zip_with/aggregate fold and the
    # oracle's 64-term integer chain), and np.argmin's first-minimum
    # rule IS the lower-anchor-rank tie-break. Envelope guard: with
    # |xq| < 2^25 every diff^2 <= 2^52 and a 64-term sum <= 2^58 —
    # int64-exact with margin; beyond it the batch refuses rather than
    # wrapping (the q183 loud-envelope discipline). A/B vs the 8-fold
    # JVM expression in the r13 close-out; quantization rounds
    # half-AWAY-FROM-ZERO to match Spark/DuckDB round().
    anc = np.array([list(a["__xq"]) for a in anchors], dtype=np.int64)

    @F.pandas_udf("int")
    def cell_of(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="int32")
        A = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
        A = A * 1_000_000.0
        Ai = (np.sign(A) * np.floor(np.abs(A) + 0.5)).astype(np.int64)
        if max(np.abs(Ai).max(initial=0), np.abs(anc).max(initial=0)) >= (
            1 << 25
        ):
            raise ValueError(
                "anchored-cell envelope exceeded (|x*1e6| >= 2^25): "
                "int64 distance sums would not be provably exact"
            )
        d = ((Ai[:, None, :] - anc[None, :, :]) ** 2).sum(2)
        return pd.Series(d.argmin(1).astype(np.int32))

    assigned = emb.select(
        F.col(id_col), F.col(vec), cell_of(F.col(vec)).alias("__cell")
    )
    # within-cell compare runs the SAME two-stage machinery as the
    # learned-kmeans variant: numpy-matmul candidates at 1e-9 slack in
    # each cell task, then the exact left-assoc dot_chain re-score at
    # the true threshold (precision exact — identical to the oracle's
    # all-within-cell-pairs filter; the slack superset cannot miss a
    # chain-true pair, the q64 discipline). The r13 first cut joined
    # cells JVM-side and folded the 64-term chain over EVERY pair —
    # 7.6 s vs ~1 s at sf0.1 because seeded anchors give unbalanced
    # cells and the biggest cell's quadratic pair set all paid the fold.
    return _within_cell_exact_pairs(
        assigned, emb, threshold, dim, id_col, vec
    )


def anchored_cell_sql(
    dim: int = 64,
    n_anchors: int = 8,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """The DuckDB CTE prefix that replays :func:`semdedup_pairs_anchored`
    cell assignment: emits ``cells(vec_id, cell)`` plus ``qi`` with the
    quantized vectors. Kept beside the operator so the SQL and the Spark
    plan evolve together."""
    dist = " + ".join(
        f"(q.xq[{d + 1}] - a.aq[{d + 1}]) * (q.xq[{d + 1}] - a.aq[{d + 1}])"
        for d in range(dim)
    )
    return f"""
    qi AS (
      SELECT {id_col}, {vec},
             list_transform({vec},
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
               AS xq
      FROM {table} WHERE {vec} IS NOT NULL
    ), anch AS (
      SELECT xq AS aq,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}) - 1
               AS rnk
      FROM qi
      ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} LIMIT {n_anchors}
    ), dists AS (
      SELECT q.{id_col}, a.rnk, {dist} AS dist
      FROM qi q CROSS JOIN anch a
    ), cells AS (
      SELECT {id_col}, rnk AS cell FROM (
        SELECT {id_col}, rnk,
               ROW_NUMBER() OVER (PARTITION BY {id_col}
                                  ORDER BY dist, rnk) AS rr
        FROM dists
      ) WHERE rr = 1
    )"""


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid: "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011) — the compressed-domain ANN path.
# Complements IVF (which prunes WHICH vectors to score): PQ compresses HOW
# each comparison is made — m byte codes + a per-query lookup table replace
# the full dim-float dot product, so a 100 TB corpus of 64-dim floats
# (256 B/vec) scans as 8 B/vec codes with table lookups, a 32x scan-byte
# reduction before any pruning.
# ---------------------------------------------------------------------------
def _train_pq_codebooks(
    emb: DataFrame,
    id_col: str,
    vec: str,
    dim: int,
    m: int,
    ksub: int,
    seed: int,
    max_train: int = 4096,
    n_iter: int = 10,
):
    """Seeded per-subspace Lloyd k-means on the same bounded deterministic
    hash-sample discipline as _train_ivf_quantizer (FAISS-style bounded
    training; the corpus is never collected). Vectors are L2-normalized
    before fitting so ADC inner products approximate cosine. Returns
    (m, ksub, dim//m) codebooks."""
    dsub = dim // m
    train = (
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec).cast("array<double>").alias("v"),
        )
        .withColumn("__h", F.xxhash64(F.col("id"), F.lit(seed)))
        .orderBy("__h", "id")
        .limit(max_train)
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    if len(train) == 0:
        return np.zeros((m, ksub, dsub), dtype=np.float64)
    X = np.vstack([np.asarray(v, dtype=np.float64) for v in train["v"]])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        centers = S[rng.choice(len(S), size=min(ksub, len(S)), replace=False)]
        for _ in range(n_iter):
            d = (S * S).sum(1)[:, None] - 2.0 * (S @ centers.T) + (
                centers * centers
            ).sum(1)[None, :]
            a = d.argmin(1)
            for c in range(len(centers)):
                mask = a == c
                if mask.any():
                    centers[c] = S[mask].mean(0)
        books[j, : len(centers)] = centers
    return books


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    m: int = 16,
    ksub: int = 32,
    refine: int = 0,
    seed: int = 17,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via PQ asymmetric distance computation.

    Corpus pass 1 (index build): one Arrow-vectorized pandas_udf encodes
    each normalized vector as ``m`` subspace codes against the broadcast
    codebooks. Search: each query builds its (m x ksub) inner-product
    lookup table executor-side (no query collect), tables broadcast with
    the queries, and the ADC score is computed entirely JVM-side with
    higher-order functions — ``aggregate(zip_with(codes, lut, (c, row) ->
    row[c+1]))`` — so the scan stays in whole-stage codegen, reading only
    the m-byte codes, never the raw vectors. ``refine > 0`` exactly
    re-ranks the top-``refine`` ADC candidates per query (the standard
    PQ+refine pipeline; the exact pass touches refine rows per query, not
    the corpus)."""
    emb = emb.where(F.col(vec).isNotNull())  # null vectors excluded
    books = _train_pq_codebooks(
        emb, id_col=id_col, vec=vec, dim=dim, m=m, ksub=ksub, seed=seed
    )
    dsub = dim // m

    @F.pandas_udf("array<int>")
    def encode(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="object")
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            S = X[:, j * dsub : (j + 1) * dsub]
            C = books[j]
            d = (S * S).sum(1)[:, None] - 2.0 * (S @ C.T) + (C * C).sum(1)[
                None, :
            ]
            codes[:, j] = d.argmin(1)
        return pd.Series(list(codes))

    @F.pandas_udf("array<array<double>>")
    def lut_of(col: pd.Series) -> pd.Series:
        out = []
        for v in col:
            q = np.asarray(v, dtype=np.float64)
            q = q / max(np.linalg.norm(q), 1e-12)
            # lut[j][c] = <q_subj, books[j][c]> — ADC inner product
            out.append(
                [
                    list(q[j * dsub : (j + 1) * dsub] @ books[j].T)
                    for j in range(m)
                ]
            )
        return pd.Series(out)

    coded = emb.select(
        F.col(id_col), F.col(vec), encode(F.col(vec)).alias("__codes")
    )
    q = (
        emb.where(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("q_id"), lut_of(F.col(vec)).alias("__lut")
        )
    )
    cand = coded.join(F.broadcast(q)).where(F.col("q_id") != F.col(id_col))
    adc = F.aggregate(
        F.zip_with(
            "__codes", "__lut", lambda c, row: F.element_at(row, c + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = cand.select(
        "q_id",
        F.col(id_col).alias("n_id"),
        F.col(vec).alias("__nv"),
        adc.alias("score_pq"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("score_pq").desc(), F.col("n_id"))
    if not refine:
        return (
            scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .where(F.col("rnk") <= k)
            .select("q_id", "n_id", "score_pq", "rnk")
        )
    shortlist = (
        scored.withColumn("__arnk", F.row_number().over(w))
        .where(F.col("__arnk") <= refine)
    )
    qv = _with_norm(
        emb.where(F.col(id_col).isin(query_ids)), dim, vec
    ).select(
        F.col(id_col).alias("q_id"),
        F.col(vec).alias("__qv"),
        F.col("__norm").alias("__qn"),
    )
    exact = shortlist.join(F.broadcast(qv), "q_id")
    nnorm = F.sqrt(
        F.aggregate(
            F.transform("__nv", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = dot_chain("__qv", "__nv", dim) / (F.col("__qn") * nnorm)
    w2 = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        exact.select("q_id", "n_id", cos.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w2).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select("q_id", "n_id", "cosine", "rnk")
    )


def mmr_rerank(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein '98):
    from each query's exact top-``pool`` cosine candidates, greedily pick
    ``k`` maximizing ``lam*rel - (1-lam)*max_sim_to_already_selected``.

    The relevance pass is :func:`cosine_topk` (broadcast queries × one
    corpus scan). The greedy step is inherently sequential but only over
    the per-query candidate pool: each group is ``pool`` rows, so the
    ``applyInPandas`` tasks are O(pool²·dim) numpy work, embarrassingly
    parallel across queries — the candidate generation, not the re-rank,
    is the 100 TB cost. Ties break on lowest n_id (argmax keeps the first
    maximum), making the output deterministic.

    Cross-engine reproducibility (r12, the q273 playbook): every float
    that feeds an ordering decision is bit-identical to the DuckDB
    oracle's expression text. The relevance scores come from
    :func:`cosine_topk`'s deterministic left-assoc chain; the pairwise
    candidate similarities below therefore accumulate dim-by-dim
    (left-assoc, matching ``dot_sql``) instead of ``unit @ unit.T``
    (BLAS reassociates sums), and divide by the norm PRODUCT exactly as
    the chain's ``dot/(nrm_i*nrm_j)`` does. The greedy scores are then
    single IEEE mult/sub/max ops on identical doubles — identical in
    numpy, Spark, and DuckDB, so q182 can carry a full unrolled-CTE
    oracle with no tolerance.
    """
    cand = cosine_topk(emb, query_ids, k=pool, dim=dim, id_col=id_col, vec=vec)
    vecs = emb.select(
        F.col(id_col).alias("n_id"), F.col(vec).alias("c_vec")
    )
    joined = cand.join(vecs, "n_id").select(
        "q_id", "n_id", "cosine", "c_vec"
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("n_id").reset_index(drop=True)
        m = np.stack(pdf["c_vec"].map(np.asarray).to_numpy()).astype(
            np.float64
        )
        # left-assoc per-dim accumulation == dot_sql's (+ chain); the
        # 0.0 init matches dot_chain's F.aggregate seed (adding +0.0
        # to the first term is exact)
        dots = np.zeros((len(pdf), len(pdf)))
        for d in range(m.shape[1]):
            dots += m[:, d, None] * m[None, :, d]
        norms = np.sqrt(np.diagonal(dots).copy())
        norms[norms == 0.0] = 1.0
        sims = dots / np.outer(norms, norms)
        rel = pdf["cosine"].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        max_sim = np.full(n, -np.inf)
        out_rows = []
        for step in range(min(k, n)):
            if selected:
                score = lam * rel - (1.0 - lam) * max_sim
            else:
                score = lam * rel
            score[selected] = -np.inf
            pick = int(np.argmax(score))
            out_rows.append(
                (
                    int(pdf["q_id"].iloc[0]),
                    int(pdf["n_id"].iloc[pick]),
                    float(score[pick]),
                    step + 1,
                )
            )
            selected.append(pick)
            max_sim = np.maximum(max_sim, sims[pick])
        return pd.DataFrame(
            out_rows, columns=["q_id", "n_id", "mmr", "sel_rank"]
        )

    # spread the per-query pools across cores before the O(pool^2*dim)
    # greedy walk — same AQE byte-size-coalescing hazard as _spread_groups
    return joined.repartition(
        joined.sparkSession.sparkContext.defaultParallelism, "q_id"
    ).groupBy("q_id").applyInPandas(
        rerank, "q_id long, n_id long, mmr double, sel_rank long"
    )
