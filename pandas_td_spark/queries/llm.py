"""LLM-data-pipeline operator queries (SURVEY.md §2.10 L1-L6, north star).

Backed by ``operators/dedup.py`` and ``operators/similarity.py``. Oracles
exist wherever DuckDB can reproduce the exact semantics: exact dedup,
inverted-index Jaccard, brute-force cosine via the shared left-assoc dot
chain — and, since r10, the sketch family too: MinHash runs the seeded-md5
universal hash family, SimHash the 60-bit md5 bit-vote family, and
hyperplane LSH deterministic left-assoc sign chains against shared plane
literals, so q53/q54/q56 carry FULL hash-match oracles that replay
signatures/buckets, banding, and verify. Recall against the exact paths is
additionally asserted in tests/test_llm.py. Still rows-only by nature:
data-dependent iterative model state (k-means/IVF/PQ codebooks, MMR's
greedy numpy loop) and Spark-native sketches (HLL approx_distinct).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_td_spark.operators.dedup import (
    MINHASH_PRIME,
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_params,
    normalized_text,
    simhash_pairs,
    verify_jaccard_on_pairs,
)
from pandas_td_spark.operators.similarity import (
    bucket_sql,
    cosine_topk,
    dot_sql,
    lsh_topk_exact,
    plane_matrix,
)
from pandas_td_spark.engine.store import memo
from pandas_td_spark.queries.registry import query

_DIM = 64
_QUERY_IDS = [0, 1, 2, 3, 4]


def _near_dup_pairs_cached(spark: SparkSession) -> DataFrame:
    """Word-trigram Jaccard ≥ 0.6 pairs over ``documents``, via the
    candidate-bounded prefix filter, MEMOIZED per (session, registered
    fixture dir) and localCheckpointed — the q80/q235/q65/q159 family
    all consume the same pair set (the prefix filter is EXACT, proven
    by q80 hash-matching the all-pairs oracle), and rebuilding the
    inverted index for each cost ~2 s per query at sf0.1. In production
    this is the materialized candidate-pair table every dedup consumer
    starts from (engine/store.memo owns the key and the eviction). The
    checkpointed frame is bounded by the matching-pair count, never the
    corpus."""
    from pandas_td_spark.operators.dedup import jaccard_pairs_auto

    # size-gated (r8): exact prefix filter at fixture scales, banded
    # MinHash + exact verify above EXACT_PAIRS_MAX_DOCS — the gate's
    # count probe runs ONCE per cache fill, not per consumer
    return memo(
        spark,
        "near_dup_pairs",
        lambda: jaccard_pairs_auto(
            spark.table("documents"), shingle_n=3, threshold=0.6
        ).localCheckpoint(),
    )


def _lsh_index_cached(spark: SparkSession) -> DataFrame:
    """q56's expression-bucket LSH index, MEMOIZED per (session,
    registered fixture dir) and localCheckpointed — the materialized
    ANN index a production session builds once per corpus (the
    interpreted fold-dot bucket build is the expensive part; probes are
    cheap)."""
    from pandas_td_spark.operators.similarity import lsh_index_exact

    return memo(
        spark,
        "lsh_index",
        lambda: lsh_index_exact(
            spark.table("embeddings"), dim=_DIM, n_planes=4, n_tables=8
        ).localCheckpoint(),
    )


def _simhash_sigs_cached(spark: SparkSession) -> DataFrame:
    """q54's 60-bit signature table, MEMOIZED per (session, registered
    fixture dir) and localCheckpointed — the doc-grain materialized
    signature table a production SimHash session builds once per
    corpus."""
    from pandas_td_spark.operators.dedup import simhash_signatures

    return memo(
        spark,
        "simhash_sigs",
        lambda: simhash_signatures(spark.table("documents")).localCheckpoint(),
    )


# ---------------------------------------------------------------------------
# L1 — exact dedup groups over normalized text
# ---------------------------------------------------------------------------
@query(
    "q50_dedup_exact_groups",
    oracle=r"""
    SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper
    FROM documents GROUP BY 1
    """,
)
def q50_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest → group → keeper: the shuffle-narrow exact-dedup plan (hash
    the 128-bit digest, never the full text)."""
    d = spark.table("documents")
    return (
        d.select(F.md5(normalized_text("text")).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper"))
    )


@query(
    "q51_dedup_exact_keep",
    oracle=r"""
    SELECT doc_id, lang, n_chars FROM documents d
    WHERE doc_id = (
      SELECT MIN(doc_id) FROM documents d2
      WHERE md5(regexp_replace(trim(lower(d2.text)), '\s+', ' ', 'g'))
          = md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'))
    )
    """,
)
def q51_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup *result* (surviving rows) via operators.dedup.exact_dedup."""
    d = spark.table("documents")
    return exact_dedup(d).select("doc_id", "lang", "n_chars")


# word-trigram Jaccard >= 0.6 over documents — shared by q52 (naive
# inverted-index twin) and q80 (prefix-filtered scale path): both must
# hash-match the same all-pairs SQL, proving the prefix filter exact.
_JACCARD_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 1, 2)),
           i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))
           AS shingles
  FROM documents
), ex AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n_sh FROM sh
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
FROM pairs
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6
"""

# ---------------------------------------------------------------------------
# L2 — exact n-gram Jaccard near-dup pairs (inverted-index join)
# ---------------------------------------------------------------------------
@query(
    "q52_near_dup_pairs",
    oracle=_JACCARD_ORACLE,
    scale_note=(
        "intentionally quadratic (exact all-pairs verify path); at 100 TB "
        "default to q53_minhash_lsh_pairs (banded LSH) or "
        "q80_near_dup_prefix (candidate-bounded PPJoin)"
    ),
)
def q52_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard ≥ 0.6 — the exact (verify-path) near-dup join."""
    return jaccard_pairs(
        spark.table("documents"), shingle_n=3, threshold=0.6
    )


# ---------------------------------------------------------------------------
# L2 — SAME semantics, prefix-filtered (the exact near-dup SCALE path)
# ---------------------------------------------------------------------------
@query(
    "q80_near_dup_prefix",
    oracle=_JACCARD_ORACLE,
    scale_note=(
        "exact semantics, candidate-bounded via prefix filter — the exact "
        "near-dup SCALE path; still superlinear on pathological corpora "
        "(all-identical docs); q53_minhash_lsh_pairs is the approximate "
        "fallback"
    ),
)
def q80_near_dup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard ≥ 0.6 via PPJoin-style prefix filtering
    (operators/dedup.py::jaccard_pairs_prefix): rarest-first global
    shingle order, prefix-only inverted-index join, length filter, exact
    verify on candidates. Hash-matching the identical all-pairs oracle as
    q52 is the driver-level proof that the prefix filter loses nothing —
    the exact algorithm q52 runs, re-shaped to stay candidate-bounded at
    100 TB."""
    return _near_dup_pairs_cached(spark)


# ---------------------------------------------------------------------------
# L2 scale path — MinHash LSH candidates + exact verify. Oracle-backed
# since r10: the signature hash family is seeded-md5 universal hashing
# (operators/dedup.py minhash_params), so the oracle below rebuilds the
# EXACT signatures, band agreement, and verify — not an approximation.
# ---------------------------------------------------------------------------
_MH_PARAMS = minhash_params(32, 42)
_Q53_SIG_COLS = ",\n         ".join(
    f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}"
    for i, (a, b) in enumerate(_MH_PARAMS)
)
_Q53_BANDS = " OR\n        ".join(
    "("
    + " AND ".join(f"a.mh{b * 4 + j} = b.mh{b * 4 + j}" for j in range(4))
    + ")"
    for b in range(8)
)
_Q53_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 1, 2)),
           i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))
           AS shingles
  FROM documents
), ex AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n_sh FROM sh
), hx AS (
  SELECT doc_id, s,
         (('0x' || substring(md5(s), 1, 15))::BIGINT % {MINHASH_PRIME}) AS h
  FROM ex
), sig AS (
  SELECT doc_id,
         {_Q53_SIG_COLS}
  FROM hx GROUP BY doc_id
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {_Q53_BANDS}
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS inter,
         any_value(ea.n_sh) AS na, any_value(eb.n_sh) AS nb
  FROM cand c
  JOIN ex ea ON ea.doc_id = c.id_a
  JOIN ex eb ON eb.doc_id = c.id_b AND eb.s = ea.s
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
FROM inter
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6
"""


@query(
    "q53_minhash_lsh_pairs",
    oracle=_Q53_ORACLE,
    scale_note=(
        "banded MinHash + exact verify — the approximate near-dup scale "
        "path; candidate set is band-bounded, shuffle keys are uniform "
        "signature tuples (skew-free). The oracle replays the identical "
        "seeded-md5 universal hash family, so the hash match proves the "
        "banding, not just the verify"
    ),
)
def q53_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash (32 hashes, 8 bands × 4) candidates, exact-Jaccard
    verified ≥ 0.6. Seeded-md5 universal hash family → DuckDB oracle
    reproduces signatures exactly; recall vs q52 additionally asserted
    in tests/test_llm.py."""
    docs = spark.table("documents")
    cand = lsh_candidate_pairs(docs, num_hashes=32, bands=8)
    return verify_jaccard_on_pairs(cand, docs, threshold=0.6)


# ---------------------------------------------------------------------------
# L2 — SimHash near-dup pairs. Oracle-backed since r10: the token hash
# is the md5-hex-prefix 60-bit family, so the oracle below rebuilds the
# EXACT bit-vote signatures, the 4x15-bit Manku blocks, and the Hamming
# verify.
# ---------------------------------------------------------------------------
_Q54_SUMS = ",\n         ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(60)
)
_Q54_PACK = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(60)
)
_Q54_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), hx AS (
  SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h FROM tok
), sums AS (
  SELECT doc_id,
         {_Q54_SUMS}
  FROM hx GROUP BY doc_id
), sig AS (
  SELECT doc_id, CAST({_Q54_PACK} AS BIGINT) AS sig FROM sums
), blocks AS (
  SELECT doc_id, sig, b AS block_idx,
         (sig >> (b * 15)) & 32767 AS block_val
  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sa, b.sig AS sb
  FROM blocks a JOIN blocks b
    ON a.block_idx = b.block_idx AND a.block_val = b.block_val
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


@query(
    "q54_simhash_pairs",
    oracle=_Q54_ORACLE,
    scale_note=(
        "doc-grain signatures (one 8-byte sig per doc), 4-block banded "
        "self-join bounds candidates without the cross product; the "
        "oracle replays the identical md5 bit-vote family, so the hash "
        "match proves signatures + banding, not just the verify"
    ),
)
def q54_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit md5 SimHash, Manku-style 15-bit block banding, Hamming ≤ 3
    (the radius the 4-block scheme guarantees: any pair within Hamming 3
    must agree exactly on ≥1 of the 4 blocks). Planted near-dups in the
    fixture sit at low Hamming; ham ≤ 3 recovers the tight ones with ~0
    noise."""
    return simhash_pairs(
        spark.table("documents"),
        max_hamming=3,
        sigs=_simhash_sigs_cached(spark),
    )


# ---------------------------------------------------------------------------
# L3 — brute-force cosine top-k (oracle: identical left-assoc chain)
# ---------------------------------------------------------------------------
_N_SQL = dot_sql("embedding", "embedding", _DIM)
_QC_SQL = dot_sql("q_vec", "c_vec", _DIM)

@query(
    "q55_embedding_topk",
    scale_note=(
        'exact brute-force top-k (broadcast query side x full corpus scan); at 100 TB default to q56_embedding_lsh_topk (bucketed LSH) or q66_embedding_ivf_topk (IVF)'
    ),
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, sqrt({_N_SQL}) AS nrm FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_norm FROM n
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})
    ), c AS (
      SELECT vec_id AS n_id, embedding AS c_vec, nrm AS c_norm FROM n
    ), scored AS (
      SELECT q_id, n_id, ({_QC_SQL}) / (q_norm * c_norm) AS cosine
      FROM q CROSS JOIN c WHERE q_id <> n_id
    )
    SELECT q_id, n_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, n_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def q55_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: broadcast query set × corpus scan, per-query
    window top-k. Cosine evaluated as the shared deterministic chain."""
    return cosine_topk(spark.table("embeddings"), _QUERY_IDS, k=5, dim=_DIM)


# ---------------------------------------------------------------------------
# L3 scale path — hyperplane-LSH bucketed top-k. Oracle-backed since r10:
# sign bits run through the deterministic left-assoc dot chain against
# the SAME Gaussian plane literals the oracle text carries (repr(float)
# round-trips IEEE doubles exactly), so buckets, candidate sets, and
# ranks match bit-for-bit (VERDICT r9 #4).
# ---------------------------------------------------------------------------
_LSH_PLANES = plane_matrix(_DIM, 4, 8, seed=7)
_Q56_BUCKETED = "\n    UNION ALL\n".join(
    f"    SELECT vec_id, embedding, nrm, {t} AS table_idx,\n"
    f"           {bucket_sql('embedding', _LSH_PLANES, 4, t)} AS bucket\n"
    f"    FROM n"
    for t in range(8)
)
_Q56_ORACLE = f"""
WITH n AS (
  SELECT vec_id, embedding, sqrt({_N_SQL}) AS nrm FROM embeddings
  WHERE embedding IS NOT NULL
), b AS (
{_Q56_BUCKETED}
), q AS (
  SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_norm,
         table_idx, bucket
  FROM b WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})
), cand AS (
  SELECT DISTINCT q.q_id, c.vec_id AS n_id
  FROM q JOIN b c USING (table_idx, bucket)
  WHERE q.q_id <> c.vec_id
), scored AS (
  SELECT cand.q_id, cand.n_id,
         ({dot_sql("qq.embedding", "cc.embedding", _DIM)})
           / (qq.nrm * cc.nrm) AS cosine
  FROM cand
  JOIN n qq ON qq.vec_id = cand.q_id
  JOIN n cc ON cc.vec_id = cand.n_id
), ranked AS (
  SELECT q_id, n_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, n_id) AS BIGINT)
           AS rnk
  FROM scored
)
SELECT q_id, n_id, cosine, rnk FROM ranked WHERE rnk <= 5
"""


@query(
    "q56_embedding_lsh_topk",
    oracle=_Q56_ORACLE,
    scale_note=(
        "bucket equi-join bounds candidates to L*n/2^b per query — the "
        "ANN scale path. Expression sign bits here for oracle parity; "
        "at large n_tables*n_planes*dim prefer lsh_topk (Arrow-batched "
        "matmul buckets, same planes)"
    ),
)
def q56_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH (8 tables ×
    4 planes) + exact re-rank over the unioned candidates. Recall vs q55
    asserted in tests/test_llm.py; buckets/ranks oracle-checked."""
    return lsh_topk_exact(
        spark.table("embeddings"),
        _QUERY_IDS,
        k=5,
        dim=_DIM,
        n_planes=4,
        n_tables=8,
        index=_lsh_index_cached(spark),
    )


# ---------------------------------------------------------------------------
# L3 — per-label centroid stats (decimal-exact means)
# Scale 6 (not 12): floats are dyadic rationals, so their exact decimal
# expansions can terminate exactly on a .5 tie at scales >= ~9, where the
# engines' rounding modes (HALF_UP vs HALF_EVEN) diverge — observed once at
# sf0.1/scale 12. A scale-6 tie would need a ~7-bit mantissa: impossible
# for full-precision float inputs.
# ---------------------------------------------------------------------------
@query(
    "q57_label_centroids",
    oracle="""
    SELECT label, COUNT(*) AS n,
           CAST(SUM(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mean_d1,
           CAST(SUM(CAST(CAST(embedding[2] AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mean_d2,
           CAST(SUM(CAST(CAST(embedding[3] AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mean_d3,
           CAST(SUM(CAST(CAST(embedding[4] AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mean_d4
    FROM embeddings GROUP BY label
    """,
)
def q57_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.table("embeddings")
    aggs = [F.count("*").alias("n")]
    for d in range(1, 5):
        aggs.append(
            (
                F.sum(
                    F.element_at("embedding", d).cast("double").cast("decimal(28,6)")
                ).cast("double")
                / F.count("*")
            ).alias(f"mean_d{d}")
        )
    return e.groupBy("label").agg(*aggs)


# ---------------------------------------------------------------------------
# L5 — multimodal/binary column plumbing (metadata over opaque bytes)
# ---------------------------------------------------------------------------
@query(
    "q58_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(length(text) AS BIGINT) AS n_chars_c
    FROM documents
    """,
)
def q58_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column discipline (north star L5): payload as BINARY +
    typed metadata alongside. Decode/feature-extraction over these bytes
    lives in operators/multimodal.py (mapInPandas, stubbed decode)."""
    d = spark.table("documents")
    return d.select(
        "doc_id",
        F.octet_length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes"),
        F.length("text").cast("bigint").alias("n_chars_c"),
    )


# ---------------------------------------------------------------------------
# L2 — collapse near-dup pairs into dedup clusters (connected components)
# ---------------------------------------------------------------------------
@query(
    "q65_near_dup_clusters",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text,' ')) - 1, 2)),
               i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))
               AS shingles
      FROM documents
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n_sh FROM sh
    ), p0 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
             any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM p0
      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
      SELECT a, a FROM e
      UNION SELECT a, b FROM e
      UNION SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
    ), comp AS (
      SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
    )
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component,
           d.doc_id = COALESCE(c.component, d.doc_id) AS keep
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    """,
)
def q65_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete near-dup dedup: exact-Jaccard pairs → connected
    components (iterative min-label propagation, operators/cluster.py) →
    canonical min-id component labels + keep flags. Labels are
    algorithm-independent, so a DuckDB recursive-CTE transitive closure
    verifies the distributed implementation exactly."""
    from pandas_td_spark.operators.cluster import collapse_near_dups

    docs = spark.table("documents")
    pairs = _near_dup_pairs_cached(spark).select("id_a", "id_b")
    return collapse_near_dups(docs, pairs).select("doc_id", "component", "keep")


# ---------------------------------------------------------------------------
# L3 scale path #2 — IVF (k-means inverted file) approximate top-k
# ---------------------------------------------------------------------------
@query("q66_embedding_ivf_topk", oracle=None)
def q66_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: seeded k-means coarse quantizer, probe 4/16 cells, exact
    re-rank (operators/similarity.py::ivf_topk). KMeans is data-dependent →
    rows-only; recall vs q55 asserted in tests/test_llm.py."""
    from pandas_td_spark.operators.similarity import ivf_topk

    return ivf_topk(
        spark.table("embeddings"), _QUERY_IDS, k=5, dim=_DIM,
        n_clusters=16, n_probe=4,
    )


# ---------------------------------------------------------------------------
# L2 — SemDeDup: cluster-then-compare semantic near-dup. r13: FULL
# oracle via seeded integer-geometry cells (anchored_cell_sql replays
# the anchor selection + exact-bigint Voronoi assignment; the pair scan
# reuses q64's left-assoc cosine form).
# ---------------------------------------------------------------------------
def _q109_oracle() -> str:
    from pandas_td_spark.operators.similarity import anchored_cell_sql

    pair = dot_sql("a.embedding", "b.embedding", _DIM)
    return f"""
    WITH {anchored_cell_sql(dim=_DIM, n_anchors=8)},
    n AS (
      SELECT q.vec_id, q.embedding, c.cell, sqrt({_N_SQL}) AS nrm
      FROM qi q JOIN cells c USING (vec_id)
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ({pair}) / (a.nrm * b.nrm) AS cosine
    FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE ({pair}) / (a.nrm * b.nrm) >= 0.4
    ORDER BY id_a, id_b
    """


@query(
    "q109_semdedup_pairs",
    oracle=_q109_oracle(),
    scale_note=(
        "within-cell quadratic only: raise n_anchors with corpus size "
        "to bound per-cell work; exact-recall alternative is q64 "
        "(globally quadratic)"
    ),
)
def q109_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cos >= 0.4, q64's threshold) found
    within cells only — the SemDeDup compare plan. r13 (VERDICT r12 #9,
    rows-only -> FULL oracle): the cells are now the seeded-anchor
    integer-geometry Voronoi partition (operators/similarity.py::
    semdedup_pairs_anchored) — exact bigint distances to the 8 smallest-
    md5(id) anchor vectors — so anchors, cells, and the dot_chain cosine
    all replay as plain SQL and the driver hash-gates the whole
    pipeline. The learned-kmeans variant (semdedup_pairs) remains the
    production default and keeps its precision/recall pin in
    tests/test_llm.py; its BLAS argmin is the documented reason IT
    cannot be oracled (ULP-sensitive float geometry). Recall vs q64 is
    partial by design (cross-cell pairs are the paper's explicit trade);
    precision is exact."""
    from pandas_td_spark.operators.similarity import semdedup_pairs_anchored

    return semdedup_pairs_anchored(
        spark.table("embeddings"), threshold=0.4, n_anchors=8
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# L3 compressed-domain path — product quantization + exact refine
# (rows-only: the codebooks are data-dependent k-means state)
# ---------------------------------------------------------------------------
@query("q116_embedding_pq_topk", oracle=None)
def q116_embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN (Jégou et al. 2011): 16x8-bit codes per 64-dim vector, ADC
    scoring fully JVM-side via zip_with/aggregate lookups, exact re-rank
    of the top-50 shortlist (operators/similarity.py::pq_topk). Recall vs
    q55 asserted in tests/test_llm.py; the scan reads m-byte codes, not
    vectors — the 100 TB byte-reduction path when even IVF's probed cells
    are too big to score raw."""
    from pandas_td_spark.operators.similarity import pq_topk

    return pq_topk(
        spark.table("embeddings"), _QUERY_IDS, k=5, dim=_DIM,
        m=16, ksub=32, refine=50,
    )


# ---------------------------------------------------------------------------
# Full-corpus distributed k-means (rows-only: iterative fit; bit-exact
# determinism + convergence pinned in tests/test_operators.py)
# ---------------------------------------------------------------------------
@query("q118_kmeans_clusters", oracle=None)
def q118_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd fit over the embedding corpus (operators/
    kmeans.py): per-iteration shuffle bounded at k*dim rows per partition
    via posexplode partial aggregation, decimal-exact centroid updates
    (bit-identical under any partitioning), driver holds only the (k x dim)
    model. Output: per-cluster size and mean squared distance."""
    from pandas_td_spark.operators.kmeans import kmeans_assign, kmeans_fit
    from pandas_td_spark.queries._util import davg

    emb = spark.table("embeddings")
    centers = kmeans_fit(emb, k=8, n_iter=5)
    a = kmeans_assign(emb, centers)
    return (
        a.groupBy("cluster")
        .agg(
            F.count("*").alias("n"),
            F.round(davg("sq_dist"), 6).alias("avg_sq_dist"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# L2 — survivorship policy: keep the BEST doc per near-dup cluster
# (longest text, then lowest id), not the arbitrary min-id. The cluster
# labels come from the same exact-Jaccard + connected-components
# pipeline as q65; the survivor pick is one window at cluster grain.
# ---------------------------------------------------------------------------
@query(
    "q159_cluster_survivor",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text,' ')) - 1, 2)),
               i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))
               AS shingles
      FROM documents
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n_sh FROM sh
    ), p0 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
             any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM p0
      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
      SELECT a, a FROM e
      UNION SELECT a, b FROM e
      UNION SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
    ), comp AS (
      SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
    ), labeled AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
             d.n_chars
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, component, CAST(n_chars AS BIGINT) AS n_chars,
           doc_id = first_value(doc_id) OVER (
             PARTITION BY component
             ORDER BY n_chars DESC, doc_id ASC) AS survivor
    FROM labeled
    """,
)
def q159_cluster_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best dedup: component labels from the distributed CC
    pipeline, survivor = (longest, lowest-id) per cluster via one
    cluster-grain window."""
    from pandas_td_spark.operators.cluster import collapse_near_dups
    from pyspark.sql import Window as W

    docs = spark.table("documents")
    pairs = _near_dup_pairs_cached(spark).select("id_a", "id_b")
    labeled = collapse_near_dups(docs, pairs).select(
        "doc_id", "component"
    ).join(docs.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return labeled.select(
        "doc_id",
        "component",
        "n_chars",
        (F.col("doc_id") == F.first("doc_id").over(w)).alias("survivor"),
    )


# ---------------------------------------------------------------------------
# L3g — MMR diversified re-rank. Full oracle since r12 (the q273
# playbook: replay the bounded loop in SQL): the greedy selection is
# k=5 steps, so it UNROLLS as 5 CTE stages — each picks the per-query
# argmax of `lam*rel - (1-lam)*max_sim` (ROW_NUMBER, ties on lowest
# n_id = numpy argmax-first), then folds the pick's similarity row into
# the survivors' running max_sim with GREATEST. Every float feeding an
# ordering decision is bit-identical across engines: rel is q55's
# deterministic cosine chain, pairwise sims use the same left-assoc
# dot_sql chain / norm product (mmr_rerank accumulates dim-by-dim to
# match), and the greedy arithmetic is single IEEE ops on identical
# doubles — no tolerance, no rounding.
# ---------------------------------------------------------------------------
_MMR_LAM = 0.7


def _q182_oracle(k: int, pool: int, lam: float) -> str:
    rel = f"{lam!r} * cosine"
    penal = f"{lam!r} * cosine - {(1.0 - lam)!r} * max_sim"
    steps = []
    for t in range(1, k + 1):
        score = rel if t == 1 else penal
        src = "cand" if t == 1 else f"ms{t - 1}"
        steps.append(
            f"""s{t} AS (
      SELECT q_id, n_id, mmr, CAST({t} AS BIGINT) AS sel_rank FROM (
        SELECT q_id, n_id, {score} AS mmr,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY {score} DESC, n_id) AS rn
        FROM {src}) WHERE rn = 1
    )"""
        )
        if t < k:
            prev_ms = (
                "s.s AS max_sim"
                if t == 1
                else "GREATEST(m.max_sim, s.s) AS max_sim"
            )
            src_ms = "cand m" if t == 1 else f"ms{t - 1} m"
            steps.append(
                f"""ms{t} AS (
      SELECT m.q_id, m.n_id, m.cosine, {prev_ms}
      FROM {src_ms}
      JOIN s{t} ON s{t}.q_id = m.q_id AND m.n_id <> s{t}.n_id
      JOIN sims s ON s.q_id = m.q_id AND s.i = s{t}.n_id
                 AND s.j = m.n_id
    )"""
            )
    union = "\n    UNION ALL ".join(
        f"SELECT q_id, n_id, mmr, sel_rank FROM s{t}" for t in range(1, k + 1)
    )
    return f"""
    WITH n AS (
      SELECT vec_id, embedding, sqrt({_N_SQL}) AS nrm FROM embeddings
      WHERE embedding IS NOT NULL
    ), q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_norm FROM n
      WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})
    ), scored AS (
      SELECT q_id, vec_id AS n_id, ({dot_sql("q_vec", "embedding", _DIM)})
               / (q_norm * nrm) AS cosine
      FROM q CROSS JOIN n WHERE q_id <> vec_id
    ), cand AS (
      SELECT q_id, n_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, n_id) AS rnk
        FROM scored
      ) WHERE rnk <= {pool}
    ), sims AS (
      SELECT a.q_id, a.n_id AS i, b.n_id AS j,
             ({dot_sql("x.embedding", "y.embedding", _DIM)})
               / (x.nrm * y.nrm) AS s
      FROM cand a
      JOIN cand b ON a.q_id = b.q_id
      JOIN n x ON x.vec_id = a.n_id
      JOIN n y ON y.vec_id = b.n_id
    ), {", ".join(steps)}
    {union}
    """


@query(
    "q182_mmr_rerank",
    oracle=_q182_oracle(5, 20, _MMR_LAM),
    scale_note=(
        "greedy step is O(pool^2*dim) numpy per query group; candidate "
        "generation (cosine_topk / lsh_topk) dominates at scale"
    ),
)
def q182_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-5 per query via maximal marginal relevance
    (lambda=0.7) over the exact top-20 cosine pool."""
    from pandas_td_spark.operators.similarity import mmr_rerank

    return mmr_rerank(
        spark.table("embeddings"),
        _QUERY_IDS,
        k=5,
        pool=20,
        lam=_MMR_LAM,
        dim=_DIM,
    )


# ---------------------------------------------------------------------------
# L3h — Johnson-Lindenstrauss random projection (64 → 8 dims). The ±1
# projection matrix is derived driver-side from md5, so it is a shared
# deterministic CONSTANT: the Spark plan folds each output dim into one
# zip_with/aggregate chain over literal signs, and the oracle expands
# the numerically-identical left-assoc chain as SQL text. Pure JVM
# expression work — no UDF, no shuffle, embarrassingly row-parallel.
# ---------------------------------------------------------------------------
_JL_K = 8


def _jl_signs(j: int, dim: int) -> list[float]:
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"jl-7:{j}:{i}".encode()).hexdigest()[0], 16) % 2
        else -1.0
        for i in range(dim)
    ]


def _jl_proj_sql(j: int, dim: int) -> str:
    signs = _jl_signs(j, dim)
    chain = " + ".join(
        f"(CAST(embedding[{i + 1}] AS DOUBLE) * ({signs[i]}))"
        for i in range(dim)
    )
    return f"({chain}) * {1.0 / _JL_K ** 0.5}"


@query(
    "q185_random_projection",
    oracle=(
        "SELECT vec_id, "
        + ", ".join(
            f"{_jl_proj_sql(j, _DIM)} AS p{j}" for j in range(_JL_K)
        )
        + " FROM embeddings"
    ),
)
def q185_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL sketch of every embedding: 8 signed-sum projections scaled by
    1/sqrt(k) — the cheap dimensionality reduction in front of
    clustering / ANN when the full vector is overkill."""
    emb = spark.table("embeddings")
    cols = [F.col("vec_id")]
    for j in range(_JL_K):
        signs = F.array(*[F.lit(s) for s in _jl_signs(j, _DIM)])
        proj = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                signs,
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) * F.lit(1.0 / _JL_K ** 0.5)
        cols.append(proj.alias(f"p{j}"))
    return emb.select(*cols)


# ---------------------------------------------------------------------------
# L3i — embedding whitening: mean-center and unit-variance scale every
# dimension. Corpus mu/sigma are a 64-value aggregate collected
# driver-side (bounded: one row x dim) and re-entered as LITERAL
# arrays, so the normalize pass is pure JVM zip_with over one scan —
# no second shuffle, no UDF. FULL oracle since r12 (extending the
# q119/q182 quantized-fixpoint playbook to the two-phase collect-then-
# literal shape): the CTE recomputes the 6dp-rounded moments the driver
# literalized — identical decimal sums -> identical doubles ->
# identical round() targets — and the whitened norm is an EXPLICIT
# 64-term left-associated chain in both engines (Spark's F.aggregate
# fold and SQL's left-assoc `+` run the same IEEE op sequence, so the
# doubles are bit-identical; no order-ambiguous SUM() touches floats).
# ---------------------------------------------------------------------------
def _q193_oracle() -> str:
    n = "(SELECT COUNT(*) FROM embeddings)"
    cases = ", ".join(
        f"MAX(CASE WHEN d = {k} THEN w END) AS w{k}" for k in range(_DIM)
    )
    chain = " + ".join(f"w{k}*w{k}" for k in range(_DIM))
    return f"""
    WITH stats AS (
      SELECT d,
             round(CAST(SUM(CAST(CAST(embedding[d+1] AS DOUBLE)
                                 AS DECIMAL(28,6))) AS DOUBLE) / {n}, 6)
               AS mu,
             CAST(SUM(CAST(CAST(embedding[d+1] AS DOUBLE)
                           * CAST(embedding[d+1] AS DOUBLE)
                           AS DECIMAL(28,6))) AS DOUBLE) / {n} AS ex2
      FROM embeddings CROSS JOIN range({_DIM}) t(d)
      GROUP BY d
    ), ms AS (
      SELECT d, mu,
             round(sqrt(greatest(ex2 - mu*mu, 1e-12)), 6) AS sigma
      FROM stats
    ), wlines AS (
      SELECT e.vec_id, m.d,
             (CAST(e.embedding[m.d+1] AS DOUBLE) - m.mu) / m.sigma AS w
      FROM embeddings e CROSS JOIN ms m
    ), wv AS (
      SELECT vec_id, {cases} FROM wlines GROUP BY vec_id
    )
    SELECT vec_id, w0, w1, w2, w3,
           sqrt(0.0 + {chain}) AS white_norm
    FROM wv
    """


@query("q193_embedding_whitening", oracle=_q193_oracle())
def q193_embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitened embeddings (x - mu)/sigma per dimension; emits vec_id +
    first-4-dims profile plus the whitened norm (explicit left-assoc
    fold — see the exactness note above)."""
    import math

    emb = spark.table("embeddings")
    n = emb.count()
    dim_stats = (
        emb.select(F.posexplode("embedding").alias("d", "x"))
        .groupBy("d")
        .agg(
            (
                # float -> DOUBLE first, THEN decimal: both engines then
                # round the identical double to 6dp (a direct
                # float->decimal cast would leave the tie behavior
                # engine-specific)
                F.sum(
                    F.col("x").cast("double").cast("decimal(28,6)")
                ).cast("double")
                / n
            ).alias("mu"),
            (
                F.sum(
                    (F.col("x").cast("double") * F.col("x").cast("double"))
                    .cast("decimal(28,6)")
                ).cast("double")
                / n
            ).alias("ex2"),
        )
        .orderBy("d")
        .collect()
    )
    # round mu ONCE and reuse it in the variance — centering with the
    # rounded literal but building sigma from the unrounded mean would
    # whiten with inconsistent moments (E[(x-mu_r)^2] != ex2 - mu_u^2).
    # math.sqrt, not ** 0.5: pow(x, 0.5) is not guaranteed to match the
    # correctly-rounded sqrt() the SQL side computes.
    mu = [round(r.mu, 6) for r in dim_stats]
    sigma = [
        round(math.sqrt(max(r.ex2 - m * m, 1e-12)), 6)
        for r, m in zip(dim_stats, mu)
    ]
    mu_arr = F.array(*[F.lit(m) for m in mu])
    sg_arr = F.array(*[F.lit(s) for s in sigma])
    white = F.zip_with(
        F.zip_with(
            F.col("embedding"),
            mu_arr,
            lambda x, m: x.cast("double") - m,
        ),
        sg_arr,
        lambda c, s: c / s,
    )
    wn = F.aggregate(
        F.transform(F.col("w"), lambda v: v * v),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        emb.select("vec_id", white.alias("w"))
        .select(
            "vec_id",
            F.element_at("w", 1).alias("w0"),
            F.element_at("w", 2).alias("w1"),
            F.element_at("w", 3).alias("w2"),
            F.element_at("w", 4).alias("w3"),
            F.sqrt(wn).alias("white_norm"),
        )
    )


# ---------------------------------------------------------------------------
# L3j — hard-negative mining: per anchor, the top-3 most-similar
# vectors with a DIFFERENT label (the contrastive-training pair
# generator). Same broadcast-anchor x corpus-scan shape as q55 with the
# label-inequality pushed into the join predicate, so excluded
# candidates never reach the ranking window. At 100 TB anchors batch
# through the q56/q66 candidate generators first; the constraint and
# re-rank are unchanged.
# ---------------------------------------------------------------------------
@query(
    "q206_hard_negatives",
    scale_note=(
        "exact brute-force over the corpus per anchor batch; at scale "
        "generate candidates with LSH/IVF (q56/q66) and apply the same "
        "label constraint on the re-rank"
    ),
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label, embedding, sqrt({_N_SQL}) AS nrm
      FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, label AS q_lbl, embedding AS q_vec,
             nrm AS q_norm
      FROM n WHERE vec_id IN ({", ".join(map(str, _QUERY_IDS))})
    ), c AS (
      SELECT vec_id AS n_id, label AS c_lbl, embedding AS c_vec,
             nrm AS c_norm
      FROM n
    ), scored AS (
      SELECT q_id, n_id, ({_QC_SQL}) / (q_norm * c_norm) AS cosine
      FROM q CROSS JOIN c
      WHERE q_id <> n_id AND q_lbl <> c_lbl
    )
    SELECT q_id, n_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, n_id) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def q206_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 different-label nearest neighbours per anchor vector."""
    return cosine_topk(
        spark.table("embeddings"),
        _QUERY_IDS,
        k=3,
        dim=_DIM,
        anti_col="label",
    )


# ---------------------------------------------------------------------------
# L2e — per-source duplication audit: the data-quality table every
# curation pipeline publishes before filtering. "Dup" = has an exact
# word-trigram Jaccard ≥ 0.6 partner with a smaller doc_id (the same
# pairwise semantics q52/q80 certify), so no transitive closure is
# needed and the oracle stays pure SQL. The pair generation is the
# candidate-bounded PPJoin scale path; the audit itself is one
# broadcast-sized distinct + a per-source aggregate.
# ---------------------------------------------------------------------------
@query(
    "q235_dup_rate_by_source",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text,' ')) - 1, 2)),
               i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))
               AS shingles
      FROM documents
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n_sh FROM sh
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
             any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), dup AS (
      SELECT DISTINCT id_b AS doc_id FROM pairs
      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(dup.doc_id) AS BIGINT) AS n_dups,
           ROUND(CAST(COUNT(dup.doc_id) AS DOUBLE) / COUNT(*), 6)
             AS dup_rate
    FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
    GROUP BY 1
    """,
    scale_note=(
        "pair generation is the q80 candidate-bounded PPJoin; the audit "
        "adds one dup-id distinct (bounded by the pair count) and a "
        "source-grain aggregate — at 100 TB swap in q53's banded LSH "
        "pairs for the same audit shape"
    ),
)
def q235_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-duplicate rate: docs with a smaller-id Jaccard
    ≥ 0.6 partner, as a fraction of the source's documents."""
    d = spark.table("documents")
    pairs = _near_dup_pairs_cached(spark)
    dups = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    marked = d.select("doc_id", "source").join(
        dups.withColumn("__dup", F.lit(1)), "doc_id", "left"
    )
    return marked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.coalesce("__dup", F.lit(0))).cast("bigint").alias("n_dups"),
        F.round(
            F.sum(F.coalesce("__dup", F.lit(0))).cast("double")
            / F.count("*"),
            6,
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# L5b — REAL audio codec round-trip, oracle-certified. Each document
# synthesizes a deterministic PCM16 square wave (amplitude from doc_id,
# length from n_chars), encodes it as genuine RIFF/WAVE bytes, then the
def _spread_docs(d: DataFrame, key_mod: int | None = None) -> DataFrame:
    """Hash-spread the narrow doc scan across the cluster before per-row
    / per-class Python codec work (guide §2.5 input skew + §4; the same
    fix operators/dedup.py got in r14): the compact one-row-group
    fixture arrives as ONE input split, so a mapInPandas codec chain
    otherwise runs on a single core regardless of cluster size
    (measured r15: q247 1.23 s / q261 0.97 s / q267 0.91 s / q248
    0.82 s of single-task executor time each). ``key_mod`` spreads by
    the payload-cache key (doc_id % key_mod) so every distinct payload
    is synthesized/encoded by exactly ONE task — total distinct-grain
    codec work is unchanged, only parallelized; ``None`` spreads by
    doc_id (per-row codecs, no cache to preserve). At real scale the
    scan has many splits and this narrow pre-explosion shuffle is
    noise; the partitioning key stays deterministic (never round-robin)
    so plan branches canonicalize and exchanges stay reusable.

    Measured policy (r15, sf0.1 warm): spread pays exactly where the
    PER-ROW codec work is heavy — q247 1.30→0.54 s, q272 0.51→0.41,
    q238 0.49→0.45, q239/q262/q263/q266 ~0.05 s each — and costs more
    than it buys where the work is cache-bound at class grain with a
    trivial per-row loop (q249/q250/q260/q273 regressed ~+0.1 s from
    the added exchange and keep the plain scan: their class-grain work
    is O(distinct classes), corpus-independent, and at real scale the
    scan has many splits natively, so 1-task is a fixture artifact,
    not a scale hazard). The 3-node mapInPandas chains (q248/q261/
    q267) gain little locally because the Python boundary costs
    ~0.2 s/node fixed (measured with an identity 3-chain: 0.87 s at 32
    partitions vs 0.19 s at 1) — kept spread anyway: at scale the
    chain cost is per-byte, not per-node."""
    n = d.sparkSession.sparkContext.defaultParallelism
    if key_mod is None:
        return d.repartition(n, "doc_id")
    return d.repartition(n, F.pmod(F.col("doc_id"), F.lit(key_mod)))


# REAL pure-numpy decoder (operators/codecs.py — chunk walk, int16
# dequantization) recovers samples and computes features. Every feature
# has a closed form the oracle reproduces: the quantized magnitude is
# floor(a*32767 + 0.5)/32767 (k/32767 never lands on a 6-dp rounding
# boundary: 2e6·k = 32767·odd is parity-impossible, so both engines
# round identically), duration is n/8000 in IEEE doubles on both sides,
# and an alternating wave crosses zero every sample. This certifies the
# decode path itself — not a stub — through the driver's hash gate.
# ---------------------------------------------------------------------------
@query(
    "q238_wav_roundtrip",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n,
             ((doc_id % 99) + 1) / 100.0 AS a
      FROM documents
    ), q AS (
      SELECT doc_id, n, floor(a * 32767 + 0.5) / 32767 AS qa FROM base
    )
    SELECT doc_id,
           n AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           ROUND(CAST(n AS DOUBLE) / 8000, 6) AS duration_s,
           ROUND(qa, 6) AS rms,
           ROUND(qa, 6) AS peak,
           CASE WHEN n >= 2 THEN 1.0 ELSE 0.0 END AS zcr
    FROM q
    """,
)
def q238_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize → encode PCM WAV → REAL decode → features, per doc."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import (
        encode_wav_pcm16,
        wav_features,
    )

    d = (
        spark.table("documents")
        .where(F.col("text").isNotNull())  # null docs: nothing to synth
        .select("doc_id", F.length("text").cast("bigint").alias("n"))
    )
    d = _spread_docs(d)
    schema = (
        "doc_id long, n_samples long, sample_rate long, "
        "duration_s double, rms double, peak double, zcr double"
    )

    def _batches(it):
        for pdf in it:
            rows = []
            for doc_id, n in zip(pdf["doc_id"], pdf["n"]):
                a = ((int(doc_id) % 99) + 1) / 100.0
                samples = np.where(
                    np.arange(int(n)) % 2 == 0, a, -a
                )
                payload = encode_wav_pcm16(samples, 8000)
                f = wav_features(payload)
                rows.append(
                    (
                        int(doc_id),
                        f["n_samples"],
                        f["sample_rate"],
                        round(f["duration_s"], 6),
                        round(f["rms"], 6),
                        round(f["peak"], 6),
                        round(f["zcr"], 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "sample_rate",
                    "duration_s", "rms", "peak", "zcr",
                ],
            )

    return d.mapInPandas(_batches, schema=schema)


# ---------------------------------------------------------------------------
# L5c — REAL image codec round-trip (PPM for even doc_ids, 24-bit
# bottom-up padded BMP for odd), oracle-certified the same way:
# constant-color 16×12 frames with channel values derived from doc_id,
# decoded by the real header/stride/BGR-order parsers, features with
# integer closed forms.
# ---------------------------------------------------------------------------
@query(
    "q239_image_roundtrip",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
           CAST(12 AS BIGINT) AS height,
           CAST(16 AS BIGINT) AS width,
           CAST(192 AS BIGINT) AS n_pixels,
           CAST(doc_id % 256 AS DOUBLE) AS mean_r,
           CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
           CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
    FROM documents
    """,
)
def q239_image_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize → encode PPM/BMP → REAL decode → channel stats."""
    import struct

    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import (
        decode_image,
        encode_ppm,
        image_features,
    )

    d = spark.table("documents").select("doc_id")
    schema = (
        "doc_id long, fmt string, height long, width long, "
        "n_pixels long, mean_r double, mean_g double, mean_b double"
    )

    def _encode_bmp(img: np.ndarray) -> bytes:
        h, w = img.shape[:2]
        stride = (w * 3 + 3) & ~3
        rows = b""
        for y in range(h - 1, -1, -1):  # bottom-up
            row = img[y][..., ::-1].tobytes()  # BGR
            rows += row + b"\x00" * (stride - len(row))
        off = 14 + 40
        return (
            b"BM"
            + struct.pack("<IHHI", off + len(rows), 0, 0, off)
            + struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows),
                2835, 2835, 0, 0,
            )
            + rows
        )

    def _batches(it):
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                rgb = (i % 256, (i * 7) % 256, (i * 13) % 256)
                img = np.full((12, 16, 3), rgb, dtype=np.uint8)
                payload = (
                    encode_ppm(img) if i % 2 == 0 else _encode_bmp(img)
                )
                dec = decode_image(payload)
                f = image_features(dec)
                rows.append(
                    (
                        i,
                        "ppm" if i % 2 == 0 else "bmp",
                        f["height"], f["width"], f["n_pixels"],
                        f["mean_r"], f["mean_g"], f["mean_b"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "fmt", "height", "width",
                    "n_pixels", "mean_r", "mean_g", "mean_b",
                ],
            )

    return d.mapInPandas(_batches, schema=schema)


# ---------------------------------------------------------------------------
# L5d — REAL PNG codec round-trip (round 7: stdlib zlib + chunk walk +
# scanline filters, operators/codecs.py::decode_png). Gradient frames
# make the filter predictors non-trivial, and filter_type = doc_id % 5
# pushes EVERY reconstruction path (none/sub/up/average/paeth) through
# the driver's hash gate. Channel means have exact closed forms: the
# x-gradient never wraps (base < 240, width 16) so
# mean_r = base_r + 7.5 exactly (sum of ints in float64, exact /192).
# ---------------------------------------------------------------------------
@query(
    "q247_png_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 5 AS BIGINT) AS filter_type,
           CAST(8 AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS width,
           CAST(64 AS BIGINT) AS n_pixels,
           CAST(doc_id % 248 AS DOUBLE) + 3.5 AS mean_r,
           CAST((doc_id * 7) % 248 AS DOUBLE) + 3.5 AS mean_g,
           CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
    FROM documents
    """,
)
def q247_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize gradient → encode PNG (filter doc_id%5) → REAL decode
    → channel stats."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import (
        decode_png,
        encode_png,
        image_features,
    )

    d = spark.table("documents").select("doc_id")
    d = _spread_docs(d)
    schema = (
        "doc_id long, filter_type long, height long, width long, "
        "n_pixels long, mean_r double, mean_g double, mean_b double"
    )

    def _batches(it):
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                br, bg, bb = i % 248, (i * 7) % 248, (i * 13) % 256
                img = np.empty((8, 8, 3), dtype=np.uint8)
                img[..., 0] = br + np.arange(8)[None, :]
                img[..., 1] = bg + np.arange(8)[:, None]
                img[..., 2] = bb
                dec = decode_png(encode_png(img, filter_type=i % 5))
                assert (dec == img).all()
                f = image_features(dec)
                rows.append(
                    (
                        i, i % 5,
                        f["height"], f["width"], f["n_pixels"],
                        f["mean_r"], f["mean_g"], f["mean_b"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "filter_type", "height", "width",
                    "n_pixels", "mean_r", "mean_g", "mean_b",
                ],
            )

    return d.mapInPandas(_batches, schema=schema)


# ---------------------------------------------------------------------------
# L5e — REAL video frame-sampling (round 7): YUV4MPEG2 is uncompressed
# (text header + raw C420 planes), so the container's "no video codecs"
# constraint only applies to COMPRESSED formats. Synthesize an 8-frame
# Y4M per document, run the real multimodal.sample_frames plumbing with
# the real Y4M extractor (evenly-spaced frames handed on as P5 PGM
# payloads), decode each frame with the real PGM parser, closed-form
# luma means through the driver's hash gate.
# ---------------------------------------------------------------------------
@query(
    "q248_y4m_frames",
    oracle="""
    -- sampled source frames for total=8, n=4 are {0,2,5,7}
    -- (_even_sample_indices: round(j*7/3)); luma base is
    -- (doc_id + 17*src) % 256, so offsets are 17*{0,2,5,7}
    SELECT doc_id, CAST(j AS BIGINT) AS frame_idx,
           CAST(12 AS BIGINT) AS height,
           CAST(16 AS BIGINT) AS width,
           CAST((doc_id + off) % 256 AS DOUBLE) AS mean_y
    FROM documents
    CROSS JOIN (VALUES (0, 0), (1, 34), (2, 85), (3, 119)) AS t(j, off)
    """,
)
def q248_y4m_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize 8-frame Y4M → REAL container parse + frame sample
    (multimodal.sample_frames) → REAL PGM decode → per-frame luma
    mean."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import (
        decode_ppm,
        encode_y4m,
        y4m_frame_extractor,
    )
    from pandas_td_spark.operators.multimodal import sample_frames

    d = spark.table("documents").select("doc_id")

    def _mk(it):
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                y = np.empty((8, 12, 16), dtype=np.uint8)
                for f in range(8):
                    y[f] = (i + 17 * f) % 256
                uv = np.full((8, 6, 8), 128, dtype=np.uint8)
                rows.append((i, encode_y4m(y, uv, uv)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.mapInPandas(_mk, "doc_id long, payload binary")
    frames = sample_frames(
        payloads, n_frames=4, extract_fn=y4m_frame_extractor
    )

    def _feat(it):
        for pdf in it:
            rows = []
            for i, j, fp in zip(
                pdf["doc_id"], pdf["frame_idx"], pdf["frame_payload"]
            ):
                img = decode_ppm(bytes(fp))
                rows.append(
                    (
                        int(i), int(j),
                        img.shape[0], img.shape[1],
                        float(img.astype(np.float64).mean()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "height", "width", "mean_y"
                ],
            )

    return frames.mapInPandas(
        _feat,
        "doc_id long, frame_idx long, height long, width long, "
        "mean_y double",
    )


# ---------------------------------------------------------------------------
# L5f — REAL baseline-JPEG round-trip (round 7): the full JFIF bitstream
# (markers, canonical Huffman from in-file DHT, zigzag, dequant, exact
# matrix IDCT) in operators/codecs.py. For a constant block the DCT has
# only a DC term — 8*(v-128) — and the DC quantization step is 16, so
# EVEN gray values survive the codec exactly: decode = 128 +
# 2*((v-128)/2) = v. The oracle checks that closed form; the entropy
# layer's losslessness on arbitrary images is pinned in
# tests/test_codecs.py against jpeg_reconstruct_gray.
# ---------------------------------------------------------------------------
@query(
    "q249_jpeg_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(8 AS BIGINT) AS height,
           CAST(16 AS BIGINT) AS width,
           CAST((doc_id * 2) % 256 AS DOUBLE) AS mean_gray
    FROM documents
    """,
)
def q249_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize constant gray (even values) → encode baseline JPEG →
    REAL decode → exact mean recovery."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    d = spark.table("documents").select("doc_id")

    def _batches(it):
        # content-dedup before decode: only 128 distinct payloads exist
        # ((i*2) % 256 → even gray values) — round-trip each once per
        # task, serve repeats from the cache (decode is deterministic)
        cache: dict = {}
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                v = (i * 2) % 256
                feat = cache.get(v)
                if feat is None:
                    img = np.full((8, 16), v, dtype=np.uint8)
                    dec = decode_jpeg_gray(encode_jpeg_gray(img))
                    feat = (
                        dec.shape[0],
                        dec.shape[1],
                        float(dec.astype(np.float64).mean()),
                    )
                    cache[v] = feat
                rows.append((i,) + feat)
            yield pd.DataFrame(
                rows, columns=["doc_id", "height", "width", "mean_gray"]
            )

    return d.mapInPandas(
        _batches, "doc_id long, height long, width long, mean_gray double"
    )


# ---------------------------------------------------------------------------
# L5g — REAL color-JPEG round-trip (round 7, part 2): the 3-component
# baseline pipeline (JFIF YCbCr, 4:2:0 chroma subsampling, interleaved
# MCUs, restart markers every 2 MCUs) through the driver's hash gate.
# Achromatic RGB with EVEN values is the closed-form anchor: Y lands on
# v (the JFIF luma weights sum to 1), chroma on neutral 128, both
# DC-only and exactly representable after quantization — so the decoded
# frame equals the input bit-for-bit and every channel mean is v.
# ---------------------------------------------------------------------------
@query(
    "q250_jpeg_color_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(8 AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS width,
           CAST((doc_id * 2) % 256 AS DOUBLE) AS mean_r,
           CAST((doc_id * 2) % 256 AS DOUBLE) AS mean_g,
           CAST((doc_id * 2) % 256 AS DOUBLE) AS mean_b
    FROM documents
    """,
)
def q250_jpeg_color_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize achromatic RGB (even values) → encode 4:2:0 color
    JPEG with restart markers → REAL decode → exact channel means."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import (
        decode_jpeg,
        encode_jpeg_color,
        image_features,
    )

    d = spark.table("documents").select("doc_id")

    def _batches(it):
        # content-dedup before decode: only 128 distinct payloads exist
        # ((i*2) % 256 → even gray values), so each task round-trips a
        # value once and serves repeats from the cache — the standard
        # multimedia-pipeline move (hash payloads, decode distinct
        # ones); decode is deterministic, so rows are value-identical
        cache: dict = {}
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                v = (i * 2) % 256
                feat = cache.get(v)
                if feat is None:
                    img = np.full((8, 8, 3), v, dtype=np.uint8)
                    dec = decode_jpeg(
                        encode_jpeg_color(
                            img, subsample=True, restart_interval=2
                        )
                    )
                    f = image_features(dec)
                    feat = (
                        f["height"], f["width"],
                        f["mean_r"], f["mean_g"], f["mean_b"],
                    )
                    cache[v] = feat
                rows.append((i,) + feat)
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "height", "width",
                    "mean_r", "mean_g", "mean_b",
                ],
            )

    return d.mapInPandas(
        _batches,
        "doc_id long, height long, width long, "
        "mean_r double, mean_g double, mean_b double",
    )


# ---------------------------------------------------------------------------
# L5f — REAL GIF codec round-trip (round 8): GIF's only entropy layer is
# LZW, which needs no external library — variable-width LSB-first codes,
# CLEAR/EOI, 12-bit table cap, 255-byte sub-blocks, global color table,
# GCE extension skip, and 4-pass interlacing (odd doc_ids write the
# interlaced row order; the decoder must undo it). The raster is a
# palette-index x-gradient with closed-form channel means: idx = base+c,
# base = doc_id %% 240 <= 239, c < 16 so no wrap; palette[j] =
# (j, 255-j, 7) makes mean_r = base+7.5, mean_g = 247.5-base, mean_b = 7.
# Every emitted row asserts pixel-exact equality before the stats, so
# the driver hash gate certifies the whole encode->decode path.
# ---------------------------------------------------------------------------
@query(
    "q260_gif_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 2 AS BIGINT) AS interlaced,
           CAST(12 AS BIGINT) AS height,
           CAST(16 AS BIGINT) AS width,
           CAST(192 AS BIGINT) AS n_pixels,
           CAST(doc_id % 240 AS DOUBLE) + 7.5 AS mean_r,
           247.5 - CAST(doc_id % 240 AS DOUBLE) AS mean_g,
           CAST(7 AS DOUBLE) AS mean_b
    FROM documents
    """,
)
def q260_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize palette gradient → encode GIF89a (LZW; odd doc_ids
    interlaced) → REAL decode → channel stats."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import (
        decode_gif,
        encode_gif,
        image_features,
    )

    d = spark.table("documents").select("doc_id")
    schema = (
        "doc_id long, interlaced long, height long, width long, "
        "n_pixels long, mean_r double, mean_g double, mean_b double"
    )
    pal = np.stack(
        [
            np.arange(256, dtype=np.uint8),
            255 - np.arange(256, dtype=np.uint8),
            np.full(256, 7, dtype=np.uint8),
        ],
        axis=1,
    )

    def _batches(it):
        # raster is a pure function of (doc_id % 240, doc_id % 2) —
        # cache the codec round-trip per distinct payload (q249/q250
        # batch pattern)
        cache: dict = {}

        def stats(base: int, inter: bool):
            key = (base, inter)
            if key not in cache:
                idx = (
                    base + np.tile(np.arange(16, dtype=np.uint8), (12, 1))
                ).astype(np.uint8)
                rgb = decode_gif(encode_gif(idx, pal, interlace=inter))
                assert (rgb == pal[idx]).all()
                f = image_features(rgb)
                cache[key] = (
                    f["height"], f["width"], f["n_pixels"],
                    f["mean_r"], f["mean_g"], f["mean_b"],
                )
            return cache[key]

        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                rows.append((i, i % 2, *stats(i % 240, bool(i % 2))))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "interlaced", "height", "width",
                    "n_pixels", "mean_r", "mean_g", "mean_b",
                ],
            )

    return d.mapInPandas(_batches, schema=schema)


# ---------------------------------------------------------------------------
# L5g — animated-GIF frame sampling (round 8): the COMPRESSED-container
# twin of q248's Y4M path. Each doc synthesizes an 8-frame LZW-encoded
# GIF89a animation (NETSCAPE loop + per-frame GCE); the real
# multimodal.sample_frames plumbing runs gif_frame_extractor (decode all
# frames, evenly-spaced pick covering the tail, hand on as P6 PPM), and
# per-frame channel means have closed forms: sampled frame j maps to
# source frame src in {0,2,5,7}, gradient base (i + 11*src) % 240
# (bases <= 239 + x-offset <= 15 never wrap), palette (v, 255-v, 7).
# ---------------------------------------------------------------------------
@query(
    "q261_gif_frames",
    oracle="""
    -- sampled source frames for total=8, n=4 are {0,2,5,7}
    -- (_even_sample_indices); gradient base is (doc_id + 11*src) % 240,
    -- so offsets are 11*{0,2,5,7}
    SELECT doc_id, CAST(j AS BIGINT) AS frame_idx,
           CAST(12 AS BIGINT) AS height,
           CAST(16 AS BIGINT) AS width,
           CAST((doc_id + off) % 240 AS DOUBLE) + 7.5 AS mean_r,
           247.5 - CAST((doc_id + off) % 240 AS DOUBLE) AS mean_g,
           CAST(7 AS DOUBLE) AS mean_b
    FROM documents
    CROSS JOIN (VALUES (0, 0), (1, 22), (2, 55), (3, 77)) AS t(j, off)
    """,
)
def q261_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize 8-frame animated GIF → REAL LZW decode + frame sample
    (multimodal.sample_frames) → REAL PPM decode → per-frame channel
    means."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import (
        decode_ppm,
        encode_gif_animation,
        image_features,
    )
    from pandas_td_spark.operators.codecs import gif_frame_extractor
    from pandas_td_spark.operators.multimodal import sample_frames

    d = spark.table("documents").select("doc_id")
    pal = np.stack(
        [
            np.arange(256, dtype=np.uint8),
            255 - np.arange(256, dtype=np.uint8),
            np.full(256, 7, dtype=np.uint8),
        ],
        axis=1,
    )

    def _mk(it):
        # the animation is a pure function of doc_id % 240 — cache the
        # LZW encode per distinct payload (q249/q250 batch pattern)
        cache: dict = {}

        def payload_of(key: int) -> bytes:
            if key not in cache:
                frames = []
                for f in range(8):
                    base = (key + 11 * f) % 240
                    frames.append(
                        (
                            base
                            + np.tile(np.arange(16, dtype=np.uint8), (12, 1))
                        ).astype(np.uint8)
                    )
                cache[key] = encode_gif_animation(frames, pal)
            return cache[key]

        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                rows.append((i, payload_of(i % 240)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.mapInPandas(_mk, "doc_id long, payload binary")

    # decode side of the same dedup: identical payloads extract to
    # identical frame lists, so memoize the LZW decode per payload
    _xcache: dict = {}

    def _cached_extract(payload: bytes, n: int):
        key = (payload, n)
        if key not in _xcache:
            _xcache[key] = gif_frame_extractor(payload, n)
        return _xcache[key]

    frames = sample_frames(payloads, n_frames=4, extract_fn=_cached_extract)

    def _feat(it):
        for pdf in it:
            rows = []
            for i, j, fp in zip(
                pdf["doc_id"], pdf["frame_idx"], pdf["frame_payload"]
            ):
                img = decode_ppm(bytes(fp))
                f = image_features(img)
                rows.append(
                    (
                        int(i), int(j),
                        f["height"], f["width"],
                        f["mean_r"], f["mean_g"], f["mean_b"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "height", "width",
                    "mean_r", "mean_g", "mean_b",
                ],
            )

    return frames.mapInPandas(
        _feat,
        "doc_id long, frame_idx long, height long, width long, "
        "mean_r double, mean_g double, mean_b double",
    )


# ---------------------------------------------------------------------------
# L5h — IMA ADPCM compressed-audio round-trip (round 8). The codec is
# 4-bit DVI/IMA against the 89-step table in WAVE fmt 0x11 blocks (the
# block header is the spec's resync point). Encode->decode is a pure
# deterministic function but a SEQUENTIAL recurrence over a float-trig
# tone, so THIS row stays rows-only (a 1-ulp sin() difference between
# numpy and the SQL engine would flip an int16 cast and diverge the
# state machine); golden vectors + an SNR floor are pinned in
# tests/test_codecs.py. Since r11 the codec itself IS hash-gated: q273
# below replays the full quantizer state machine in a recursive-CTE
# oracle over an integer signal. Stats are emitted at doc grain:
# compression ratio and quantization SNR per synthesized tone.
# ---------------------------------------------------------------------------
@query("q262_adpcm_roundtrip", oracle=None)
def q262_adpcm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize per-doc int16 tone → IMA-ADPCM encode → REAL decode →
    (n_samples, compressed_bytes, snr_db)."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import (
        decode_wav_ima_adpcm,
        encode_wav_ima_adpcm,
    )

    d = spark.table("documents").select("doc_id")
    schema = (
        "doc_id long, n_samples long, compressed_bytes long, "
        "pcm_bytes long, snr_db double"
    )

    def _batches(it):
        # the tone is a pure function of doc_id % 40 — cache the codec
        # round-trip per distinct waveform (the q249/q250 JPEG-batch
        # pattern): 40 sequential ADPCM recurrences per worker instead
        # of one per document
        cache: dict = {}

        def stats(key: int):
            if key not in cache:
                t = np.arange(2000)
                freq = 100.0 + key * 10.0
                x = (
                    12000 * np.sin(2 * np.pi * freq * t / 8000.0)
                ).astype(np.int16)
                payload = encode_wav_ima_adpcm(x)
                y, _rate = decode_wav_ima_adpcm(payload)
                assert len(y) == len(x)
                err = x.astype(np.float64) - y.astype(np.float64)
                snr = 10.0 * np.log10(
                    (x.astype(np.float64) ** 2).sum()
                    / max((err**2).sum(), 1.0)
                )
                cache[key] = (len(x), len(payload), 2 * len(x), round(snr, 3))
            return cache[key]

        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                rows.append((i, *stats(i % 40)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "compressed_bytes",
                    "pcm_bytes", "snr_db",
                ],
            )

    return d.mapInPandas(_batches, schema=schema)


# ---------------------------------------------------------------------------
# L5h2 — IMA ADPCM EXACT round-trip (round 11, VERDICT r10 #6): the
# hash-gated twin of q262. The per-sample quantizer state machine
# (predictor + step index against the 89-entry table) is exactly the
# recursive-CTE recurrence class the q191/q200/q272 oracles replay —
# here the CTE carries (pred, idx) through all 504 post-header samples
# and reproduces encode→decode bit-for-bit: the decoded stream IS the
# encoder's predictor sequence, so sum/max of decoded PCM and the exact
# integer sum of squared quantization errors are all CTE-computable.
# The signal is a closed-form INTEGER sequence (no trig: a float sin
# differing by 1 ulp between numpy and the SQL engine would flip an
# int16 cast and diverge the state machine); 505 samples = exactly one
# WAVE block (header sample + 504 nibbles, no pad), so the block resync
# logic contributes no state resets and compressed_bytes has the
# closed form 316 the oracle pins. If the codec's step table, index
# rule, clamp, or nibble packing ever drifts, this row goes red.
# ---------------------------------------------------------------------------
def _ima_steps_sql() -> str:
    from pandas_td_spark.operators.codecs import _IMA_STEPS

    return "[" + ",".join(str(s) for s in _IMA_STEPS) + "]"


@query(
    "q273_adpcm_exact_roundtrip",
    oracle=f"""
    WITH RECURSIVE ks AS (
      SELECT DISTINCT doc_id % 40 AS k FROM documents
    ), gen(k, t, pred, idx, acc_sum, acc_max, acc_err) AS (
      SELECT k, 0,
             CAST((k*11) % 8192 - 4096 AS BIGINT), 0,
             CAST((k*11) % 8192 - 4096 AS BIGINT),
             CAST((k*11) % 8192 - 4096 AS BIGINT),
             CAST(0 AS BIGINT)
      FROM ks
      UNION ALL
      SELECT k, tn, predn, idxn,
             acc_sum + predn,
             greatest(acc_max, predn),
             acc_err + (x - predn) * (x - predn)
      FROM (
        SELECT k, tn, acc_sum, acc_max, acc_err, x,
               greatest(-32768, least(32767,
                 pred + CASE WHEN neg THEN -delta ELSE delta END))
                 AS predn,
               greatest(0, least(88, idx +
                 [-1,-1,-1,-1,2,4,6,8][4*CAST(b4 AS INT)
                   + 2*CAST(b2 AS INT) + CAST(b1 AS INT) + 1])) AS idxn
        FROM (
          SELECT *, stp // 8
                 + CASE WHEN b4 THEN stp ELSE 0 END
                 + CASE WHEN b2 THEN stp // 2 ELSE 0 END
                 + CASE WHEN b1 THEN stp // 4 ELSE 0 END AS delta
          FROM (
            SELECT *, r4 >= stp // 2 AS b2,
                   (r4 - CASE WHEN r4 >= stp // 2 THEN stp // 2 ELSE 0 END)
                      >= stp // 4 AS b1
            FROM (
              SELECT *, ad >= stp AS b4,
                     ad - CASE WHEN ad >= stp THEN stp ELSE 0 END AS r4
              FROM (
                SELECT *, abs(x - pred) AS ad, (x - pred) < 0 AS neg
                FROM (
                  SELECT k, t + 1 AS tn, pred, idx,
                         acc_sum, acc_max, acc_err,
                         CAST((k*11 + 5*(t+1)*(t+1)) % 8192 - 4096
                              AS BIGINT) AS x,
                         {{steps}}[idx + 1] AS stp
                  FROM gen WHERE t < 504
                )
              )
            )
          )
        )
      )
    ), stats AS (
      SELECT k, acc_sum, acc_max, acc_err FROM gen WHERE t = 504
    )
    SELECT d.doc_id,
           CAST(505 AS BIGINT) AS n_samples,
           CAST(316 AS BIGINT) AS compressed_bytes,
           s.acc_sum AS sum_pcm,
           s.acc_max AS max_pcm,
           s.acc_err AS sum_sq_err
    FROM documents d JOIN stats s ON d.doc_id % 40 = s.k
    """.replace("{steps}", _ima_steps_sql()),
)
def q273_adpcm_exact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize closed-form integer signal → IMA-ADPCM encode → REAL
    decode → exact integer stats (sum/max PCM, sum of squared
    quantization errors) that the recursive-CTE oracle replays
    bit-for-bit."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import (
        decode_wav_ima_adpcm,
        encode_wav_ima_adpcm,
    )

    d = spark.table("documents").select("doc_id")

    def _batches(it):
        cache: dict = {}

        def stats(k: int):
            if k not in cache:
                t = np.arange(505, dtype=np.int64)
                x = (((k * 11 + 5 * t * t) % 8192) - 4096).astype(np.int16)
                payload = encode_wav_ima_adpcm(x)
                y, rate = decode_wav_ima_adpcm(payload)
                assert rate == 8000 and len(y) == 505, "adpcm shape drift"
                assert len(payload) == 316, "adpcm container drift"
                err = x.astype(np.int64) - y.astype(np.int64)
                cache[k] = (
                    505,
                    len(payload),
                    int(y.astype(np.int64).sum()),
                    int(y.max()),
                    int((err * err).sum()),
                )
            return cache[k]

        for pdf in it:
            rows = [(int(i), *stats(int(i) % 40)) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "compressed_bytes",
                    "sum_pcm", "max_pcm", "sum_sq_err",
                ],
            )

    return d.mapInPandas(
        _batches,
        "doc_id long, n_samples long, compressed_bytes long, "
        "sum_pcm long, max_pcm long, sum_sq_err long",
    )


# ---------------------------------------------------------------------------
# L5i — progressive-JPEG round-trip (round 9): SOF2 spectral-selection /
# successive-approximation entropy scheduling, the last JPEG stub made
# real. Each doc synthesizes a 3x4 mosaic of constant 8x8 blocks with
# EVEN gray values (the q249 exactness anchor: per-block DC quantizes
# exactly, AC is zero), encodes it PROGRESSIVELY with restart_interval=4,
# decodes through the general decode_jpeg dispatch, and ASSERTS
# pixel-exact equality with the input before emitting closed-form
# stats — so the driver's hash gate certifies the whole scan schedule:
# interleavable DC first + refinement scans, EOB-run amortization across
# the mosaic's all-zero AC bands, and DRI/RSTn resets in every scan.
# The AC-dense random round-trips (where refinement carries real
# correction bits) are pinned in tests/test_codecs.py.
# ---------------------------------------------------------------------------
@query(
    "q263_progressive_jpeg",
    oracle="""
    -- block b of the 3x4 mosaic is constant (doc_id*2 + 22*b) % 256;
    -- the decode is asserted pixel-exact in the UDF, so the image mean
    -- is the mean of the 12 block values and the corners are blocks 0/11
    SELECT doc_id,
           CAST(24 AS BIGINT) AS height,
           CAST(32 AS BIGINT) AS width,
           ROUND(list_avg(list_transform(range(12),
                 j -> CAST((doc_id * 2 + 22 * j) % 256 AS DOUBLE))), 6)
             AS mean_gray,
           CAST((doc_id * 2) % 256 AS DOUBLE) AS mean_tl,
           CAST((doc_id * 2 + 242) % 256 AS DOUBLE) AS mean_br
    FROM documents
    """,
)
def q263_progressive_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize block mosaic → encode progressive JPEG (SOF2, DRI=4) →
    REAL multi-scan decode → exact mean recovery."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import (
        decode_jpeg,
        encode_jpeg_progressive_gray,
    )

    d = spark.table("documents").select("doc_id")

    def _batches(it):
        # the mosaic is a pure function of doc_id % 128 ((i*2) % 256 is
        # the only doc-dependent term) — round-trip each distinct
        # payload once per task (the q249/q250 batch pattern)
        cache: dict = {}

        def stats(key: int):
            if key not in cache:
                img = np.empty((24, 32), dtype=np.uint8)
                for b in range(12):
                    by, bx = divmod(b, 4)
                    img[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] = (
                        key * 2 + 22 * b
                    ) % 256
                payload = encode_jpeg_progressive_gray(
                    img, restart_interval=4
                )
                dec = decode_jpeg(payload)
                assert (dec == img).all(), "progressive round-trip drift"
                cache[key] = (
                    dec.shape[0],
                    dec.shape[1],
                    round(float(dec.astype(np.float64).mean()), 6),
                    float(dec[0, 0]),
                    float(dec[-1, -1]),
                )
            return cache[key]

        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                rows.append((i, *stats(i % 128)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "height", "width",
                    "mean_gray", "mean_tl", "mean_br",
                ],
            )

    return d.mapInPandas(
        _batches,
        "doc_id long, height long, width long, "
        "mean_gray double, mean_tl double, mean_br double",
    )


# ---------------------------------------------------------------------------
# L2h — leakage-free split assignment (round 9): the standard
# pretraining contamination guard. A doc-grain hash split LEAKS
# near-duplicate content across train/val/test (two near-dup docs hash
# independently); the fix is to split at CLUSTER grain — every doc
# inherits the split of its near-dup component, so a cluster can never
# straddle splits. The query emits both assignments plus the per-doc
# leak flag under the naive split (component spans >1 naive split),
# certifying the cluster labels, both hash splits, and the audit in one
# hash-gated row set. At 100 TB: the pair/CC pipeline is the gated
# near-dup plan (banded LSH above the exact threshold), the splits are
# pure hashes (no shuffle), and the audit is one component-grain
# aggregate joined back on the CC output's existing partitioning.
# ---------------------------------------------------------------------------
@query(
    "q264_split_leakage",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text,' ')) - 1, 2)),
               i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))
               AS shingles
      FROM documents
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n_sh FROM sh
    ), p0 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
             any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM p0
      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
      SELECT a, a FROM e
      UNION SELECT a, b FROM e
      UNION SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
    ), comp AS (
      SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
    ), labeled AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ), splits AS (
      SELECT doc_id, component,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'cb'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5'
                    THEN 'val'
                  ELSE 'test' END AS naive_split,
             CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 2) <= 'cb'
                    THEN 'train'
                  WHEN substr(md5(CAST(component AS VARCHAR)), 1, 2) <= 'e5'
                    THEN 'val'
                  ELSE 'test' END AS safe_split
      FROM labeled
    ), audit AS (
      SELECT component, COUNT(DISTINCT naive_split) AS n_naive
      FROM splits GROUP BY component
    )
    SELECT s.doc_id, s.component, s.naive_split, s.safe_split,
           a.n_naive > 1 AS leaked
    FROM splits s JOIN audit a USING (component)
    """,
)
def q264_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split: near-dup components from the
    shared CC pipeline, doc-grain vs component-grain md5 splits, and the
    per-doc leak flag a naive split would incur."""
    from pandas_td_spark.operators.cluster import collapse_near_dups

    docs = spark.table("documents")
    pairs = _near_dup_pairs_cached(spark).select("id_a", "id_b")
    labeled = collapse_near_dups(docs, pairs).select("doc_id", "component")

    def _split(col):
        h = F.substring(F.md5(col.cast("string")), 1, 2)
        return (
            F.when(h <= "cb", "train")
            .when(h <= "e5", "val")
            .otherwise("test")
        )

    splits = labeled.select(
        "doc_id",
        "component",
        _split(F.col("doc_id")).alias("naive_split"),
        _split(F.col("component")).alias("safe_split"),
    )
    audit = splits.groupBy("component").agg(
        F.countDistinct("naive_split").alias("n_naive")
    )
    # component-grain audit rides back on the split frame's own
    # aggregation exchange (same key) — one shuffle, broadcast-free
    return splits.join(audit, "component").select(
        "doc_id",
        "component",
        "naive_split",
        "safe_split",
        (F.col("n_naive") > 1).alias("leaked"),
    )


# ---------------------------------------------------------------------------
# L5j — FLAC round-trip (round 9): REAL lossless compressed audio (Rice
# coding + fixed predictors, xiph spec — no external library). Each doc
# synthesizes a deterministic int16 sawtooth, encodes to FLAC, decodes
# through all three integrity layers (CRC-8/CRC-16/MD5), ASSERTS
# bit-exact equality and real compression, and emits closed-form PCM
# stats — lossless means the oracle can state them from the input
# directly. Sawtooth sums are integer/1024, so the 6dp rounding is
# exact in both engines.
# ---------------------------------------------------------------------------
@query(
    "q266_flac_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(1024 AS BIGINT) AS n_samples,
           ROUND(list_avg(list_transform(range(1024),
                 t -> CAST(((doc_id % 48) * 7 + 3 * t) % 2048 - 1024
                      AS DOUBLE))), 6) AS mean_pcm,
           CAST(list_max(list_transform(range(1024),
                 t -> ((doc_id % 48) * 7 + 3 * t) % 2048 - 1024))
             AS BIGINT) AS max_pcm
    FROM documents
    """,
)
def q266_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize sawtooth → FLAC encode → REAL decode (CRC+MD5
    verified) → exact PCM stats."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import decode_flac, encode_flac

    d = spark.table("documents").select("doc_id")

    def _batches(it):
        # payload is a pure function of doc_id % 48 — cache the codec
        # round-trip per distinct waveform (q249/q262 batch pattern;
        # 48 classes keeps per-task encode work bounded like q262's 40)
        cache: dict = {}

        def stats(key: int):
            if key not in cache:
                t = np.arange(1024, dtype=np.int64)
                x = ((key * 7 + 3 * t) % 2048 - 1024).astype(np.int16)
                payload = encode_flac(x, 8000)
                y, rate = decode_flac(payload)
                assert rate == 8000 and (y[:, 0] == x).all(), "flac drift"
                assert len(payload) < x.nbytes, "flac failed to compress"
                cache[key] = (
                    len(x),
                    round(float(y[:, 0].astype(np.float64).mean()), 6),
                    int(y[:, 0].max()),
                )
            return cache[key]

        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                rows.append((i, *stats(i % 48)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_samples", "mean_pcm", "max_pcm"]
            )

    return d.mapInPandas(
        _batches,
        "doc_id long, n_samples long, mean_pcm double, max_pcm long",
    )


# ---------------------------------------------------------------------------
# L5j2 — FLAC LPC round-trip (round 10, VERDICT r9 #8): each doc class
# synthesizes a quantized-sinusoid INTEGER recurrence
# s[0]=0, s[1]=6000, s[t] = ((c_k * s[t-1]) >> 14) - s[t-2] with
# c_k = 20000 + (doc_id % 48)*200 — a marginally-stable 2-tap resonator
# the fixed(0-4) predictors code poorly but an LPC fit nails (measured
# 2.15x smaller). The encoder's LPC branch therefore wins on every
# class, and the decoder's LPC branch runs through the driver hash gate,
# not only property tests. The oracle replays the recurrence exactly:
# (c*s)>>14 is floor(c*s/16384.0) (products < 2^31, double-exact), sums
# stay BIGINT (no rounding ties), and n_lpc_subframes = 1 pins the
# predictor choice — if the encoder ever stops picking LPC here, the
# driver row goes red.
# ---------------------------------------------------------------------------
@query(
    "q272_flac_lpc_roundtrip",
    oracle="""
    WITH RECURSIVE ks AS (
      SELECT DISTINCT doc_id % 48 AS k FROM documents
    ), gen(k, t, prev, cur, acc_sum, acc_max) AS (
      SELECT k, 1, CAST(0 AS BIGINT), CAST(6000 AS BIGINT),
             CAST(6000 AS BIGINT), CAST(6000 AS BIGINT)
      FROM ks
      UNION ALL
      SELECT k, t + 1, cur,
             CAST(floor((20000 + k * 200) * cur / 16384.0) AS BIGINT)
               - prev,
             acc_sum
               + CAST(floor((20000 + k * 200) * cur / 16384.0) AS BIGINT)
               - prev,
             greatest(
               acc_max,
               CAST(floor((20000 + k * 200) * cur / 16384.0) AS BIGINT)
                 - prev)
      FROM gen WHERE t < 1023
    ), stats AS (
      SELECT k, acc_sum, acc_max FROM gen WHERE t = 1023
    )
    SELECT d.doc_id,
           CAST(1024 AS BIGINT) AS n_samples,
           CAST(s.acc_sum AS BIGINT) AS sum_pcm,
           CAST(s.acc_max AS BIGINT) AS max_pcm,
           CAST(1 AS BIGINT) AS n_lpc_subframes
    FROM documents d JOIN stats s ON d.doc_id % 48 = s.k
    """,
)
def q272_flac_lpc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize resonator → FLAC encode (LPC wins) → REAL decode
    (CRC+MD5 verified, subframe types reported) → exact PCM stats +
    LPC-subframe count."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import decode_flac, encode_flac

    d = spark.table("documents").select("doc_id")
    d = _spread_docs(d, key_mod=48)

    def _batches(it):
        cache: dict = {}

        def stats(key: int):
            if key not in cache:
                c = 20000 + key * 200
                s = [0, 6000]
                for _ in range(2, 1024):
                    s.append(((c * s[-1]) >> 14) - s[-2])
                x = np.asarray(s, dtype=np.int16)
                payload = encode_flac(x, 8000)
                y, rate, types = decode_flac(
                    payload, return_subframe_types=True
                )
                assert rate == 8000 and (y[:, 0] == x).all(), "flac drift"
                assert len(payload) < x.nbytes, "flac failed to compress"
                cache[key] = (
                    len(x),
                    int(y[:, 0].astype(np.int64).sum()),
                    int(y[:, 0].max()),
                    sum(1 for t in types if t & 0b100000),
                )
            return cache[key]

        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                rows.append((i, *stats(i % 48)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "sum_pcm", "max_pcm",
                    "n_lpc_subframes",
                ],
            )

    return d.mapInPandas(
        _batches,
        "doc_id long, n_samples long, sum_pcm long, max_pcm long,"
        " n_lpc_subframes long",
    )


# ---------------------------------------------------------------------------
# L5k — audio chunking through the frame-sampling plumbing (round 9):
# the AUDIO twin of q248/q261. Each doc synthesizes the q266 sawtooth as
# FLAC; the real multimodal.sample_frames stage runs flac_chunk_extractor
# (decode through CRC/MD5, partition the PCM into 4 contiguous windows,
# hand each on as PCM16 WAV), and per-chunk means have closed forms —
# FLAC is lossless and the WAV hand-off is int-exact, so the oracle
# states chunk c's mean directly from the sawtooth definition.
# ---------------------------------------------------------------------------
@query(
    "q267_audio_chunks",
    oracle="""
    SELECT doc_id, CAST(c AS BIGINT) AS chunk_idx,
           CAST(256 AS BIGINT) AS n_samples,
           ROUND(list_avg(list_transform(range(c * 256, (c + 1) * 256),
                 t -> CAST(((doc_id % 48) * 7 + 3 * t) % 2048 - 1024
                      AS DOUBLE))), 6) AS mean_pcm
    FROM documents
    CROSS JOIN (SELECT unnest(range(4)) AS c)
    """,
)
def q267_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize FLAC sawtooth → REAL decode + contiguous 4-way chunk
    (multimodal.sample_frames) → WAV decode → per-chunk PCM mean."""
    import numpy as np
    import pandas as pd

    from pandas_td_spark.operators.codecs import (
        decode_wav,
        encode_flac,
        flac_chunk_extractor,
    )
    from pandas_td_spark.operators.multimodal import sample_frames

    d = spark.table("documents").select("doc_id")

    def _mk(it):
        cache: dict = {}

        def payload_of(key: int) -> bytes:
            if key not in cache:
                t = np.arange(1024, dtype=np.int64)
                x = ((key * 7 + 3 * t) % 2048 - 1024).astype(np.int16)
                cache[key] = encode_flac(x, 8000)
            return cache[key]

        for pdf in it:
            rows = [
                (int(i), payload_of(int(i) % 48)) for i in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.mapInPandas(_mk, "doc_id long, payload binary")

    _xcache: dict = {}

    def _cached_extract(payload: bytes, n: int):
        key = (payload, n)
        if key not in _xcache:
            _xcache[key] = flac_chunk_extractor(payload, n)
        return _xcache[key]

    chunks = sample_frames(payloads, n_frames=4, extract_fn=_cached_extract)

    def _feat(it):
        for pdf in it:
            rows = []
            for i, j, fp in zip(
                pdf["doc_id"], pdf["frame_idx"], pdf["frame_payload"]
            ):
                y, _rate = decode_wav(bytes(fp))
                m = y[:, 0]
                ints = np.where(
                    m >= 0,
                    np.floor(m * 32767.0 + 0.5),
                    np.ceil(m * 32767.0 - 0.5),
                )
                rows.append(
                    (
                        int(i), int(j), len(ints),
                        round(float(ints.mean()), 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "chunk_idx", "n_samples", "mean_pcm"],
            )

    return chunks.mapInPandas(
        _feat,
        "doc_id long, chunk_idx long, n_samples long, mean_pcm double",
    )


# ---------------------------------------------------------------------------
# L2 — exact substring dedup (suffix-array class; operators/dedup.py::
# substring_run_pairs). The missing heavyweight next to the Jaccard
# near-dup family at training-data scale: boilerplate/quote overlap that
# set similarity dilutes in long documents. Candidates come from
# winnowing anchors (deterministic completeness for runs >= min_run),
# verify is the exact diagonal-island longest-common-run — the oracle
# below DEFINES the semantics with the unbounded quadratic 12-gram
# self-join + the identical gaps-and-islands arithmetic, so the hash
# match proves the anchor bound loses nothing.
# ---------------------------------------------------------------------------
_SUBSTR_RUN = 12


@query(
    "q274_substring_run_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), g AS (
      SELECT doc_id, i,
             md5(array_to_string(ws[i:i + {_SUBSTR_RUN - 1}], ' ')) AS g
      FROM t, unnest(range(1, len(ws) - {_SUBSTR_RUN - 2})) AS u(i)
      WHERE len(ws) >= {_SUBSTR_RUN}
    ), m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i AS i, b.i AS j
      FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
    ), r AS (
      SELECT id_a, id_b, i - j AS diag, i,
             i - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, i - j
                                    ORDER BY i) AS grp
      FROM m
    ), runs AS (
      SELECT id_a, id_b, COUNT(*) + {_SUBSTR_RUN - 1} AS run
      FROM r GROUP BY id_a, id_b, diag, grp
    )
    SELECT id_a, id_b, CAST(MAX(run) AS BIGINT) AS longest_run
    FROM runs GROUP BY id_a, id_b
    HAVING MAX(run) >= {_SUBSTR_RUN}
    """,
    scale_note=(
        "winnowing-anchor candidates (density ~2/(w+1), uniform md5 join "
        "keys) + exact verify pruned to candidate docs — never the "
        "quadratic gram join the oracle runs; boilerplate-heavy corpora "
        "should df-cap hot fingerprints before the anchor self-join"
    ),
)
def q274_substring_run_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing an exact contiguous run of >= 12 words,
    with the exact longest shared run length (winnowing anchors ->
    diagonal-island verify).

    Scale proof (r13, VERDICT r12 #6): the verbatim-replica 10x audit
    ratio (4.97) was OUTPUT growth, not plan superlinearity — measured,
    not asserted: on a PERTURBED 10x corpus (every replica's words
    suffixed ~i, so true pairs grow exactly 10x: 246 -> 2460) the
    wall-clock ratio is 1.81 (2.41 -> 4.37 s min-of-3). The perturbed
    leg is a standing row in tools/scale_experiment.py.

    FLOOR DECOMPOSITION (r14, VERDICT r13 #2; sf0.1 warm, same-window):
    the committed 3.77 s / 2.67x letter hid a single-core stage — the
    operator never ``spread()`` the compact one-row-group fixture, so
    the winnowing-anchor explode ran on ONE core (1.78 s alone). After
    the spread fix (operators/dedup.py): anchors-checkpoint 0.34 s,
    candidate self-join+checkpoint 0.24 s, candidate-doc gram
    explode+checkpoint 0.56 s, diagonal-island verify 0.39 s — query
    median 2.43 s, of which ~0.9 s is fixed scheduler/checkpoint
    latency across 6 stages, not data work. Same-window DuckDB runs the
    UNBOUNDED quadratic gram join in 0.22 s at this toy scale (250 k
    gram rows fit one hash table; the committed 1.41 s was a slow
    window) — under the 0.3 s letter floor, and the quadratic oracle
    plan is the one that dies at 100 TB, not this one."""
    from pandas_td_spark.operators.dedup import substring_run_pairs

    return substring_run_pairs(
        spark.table("documents"), min_run=_SUBSTR_RUN, anchor_k=9
    )


# ---------------------------------------------------------------------------
# L5j — MP3 entropy-layer EXACT round-trip (r12, VERDICT r11 #5; the
# oracle the verdict scheduled for r13, landed early). Same playbook as
# q273/q263: the Spark side synthesizes closed-form INTEGER ternary
# spectra per doc class (k = doc_id % 40), runs the REAL
# mp3_encode_entropy -> bitstream -> mp3_decode_entropy chain, ASSERTS
# the decoded spectra equal the input bit-for-bit, then emits integer
# stats from the DECODED data — while the DuckDB oracle recomputes the
# same stats straight from the spectra definition PLUS the exact
# Huffman bit accounting (table-1 codeword lengths + sign bits) that
# must equal the decoded side-info's part2_3_length. Any drift in the
# header packing, side-info layout, Huffman coding, or sign-bit
# handling flips an integer and goes red. big_values=288 keeps every
# line in the table-1 region so the SQL bit model is four CASE arms;
# the count1/rzero machinery is pinned separately in tests/test_codecs.
# ---------------------------------------------------------------------------
@query(
    "q275_mp3_entropy_roundtrip",
    oracle="""
    WITH ks AS (
      SELECT DISTINCT doc_id % 40 AS k FROM documents
    ), lines AS (
      SELECT k, f, g, i,
             CASE ((k*7 + 13*f + 29*g + 3*i*i) % 11)
               WHEN 0 THEN 1 WHEN 4 THEN 1 WHEN 7 THEN 1
               WHEN 1 THEN -1 WHEN 5 THEN -1 WHEN 9 THEN -1
               ELSE 0 END AS v
      FROM ks
      CROSS JOIN range(2) tf(f)
      CROSS JOIN range(2) tg(g)
      CROSS JOIN range(576) ti(i)
      WHERE f < 1 + (k % 2)
    ), pairs AS (
      SELECT k, f, g, i // 2 AS p,
             MAX(CASE WHEN i % 2 = 0 THEN abs(v) END) AS ax,
             MAX(CASE WHEN i % 2 = 1 THEN abs(v) END) AS ay
      FROM lines GROUP BY k, f, g, i // 2
    ), bits AS (
      -- ISO table-1 codeword lengths: (0,0)->1, (1,0)->2, (0,1)/(1,1)
      -- ->3, plus one sign bit per nonzero — exactly the encoder's
      -- emission, so SUM() must equal the decoded part2_3_length
      SELECT k, f, g,
             CAST(SUM(CASE WHEN ax = 0 AND ay = 0 THEN 1
                           WHEN ax = 1 AND ay = 0 THEN 3
                           WHEN ax = 0 AND ay = 1 THEN 4
                           ELSE 5 END) AS BIGINT) AS part23
      FROM pairs GROUP BY k, f, g
    ), agg AS (
      SELECT k,
             CAST(SUM(v) AS BIGINT) AS sum_vals,
             CAST(SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonzero,
             CAST(SUM(v * (576*(2*f + g) + i + 1)) AS BIGINT) AS chk
      FROM lines GROUP BY k
    ), b0 AS (
      SELECT k, part23 FROM bits WHERE f = 0 AND g = 0
    )
    SELECT d.doc_id,
           CAST(1 + (d.doc_id % 40) % 2 AS BIGINT) AS n_frames,
           CAST((1 + (d.doc_id % 40) % 2) * 960 AS BIGINT) AS stream_bytes,
           CAST(200 + (d.doc_id % 40) % 21 AS BIGINT) AS global_gain,
           b0.part23 AS part23_g0,
           a.sum_vals, a.n_nonzero, a.chk
    FROM documents d
    JOIN agg a ON a.k = d.doc_id % 40
    JOIN b0 ON b0.k = d.doc_id % 40
    """,
    scale_note=(
        "codec work runs at MODEL grain, not data grain: the 40 distinct "
        "(spectra, stream) classes are computed once in the driver "
        "(0.1 s of numpy, corpus-independent — the same model-grain "
        "budget as the k-means init and BPE merge tables) and broadcast-"
        "joined onto documents, so the doc-grain path is pure JVM hash "
        "join and corpus size never touches the Python codec"
    ),
)
def q275_mp3_entropy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize ternary spectra → REAL MP3 entropy encode → bitstream
    → REAL decode → assert bit-exact → integer stats the SQL oracle
    recomputes from the definition (incl. exact Huffman bit counts)."""
    classes = spark.createDataFrame(
        _q275_classes(),
        "k long, n_frames long, stream_bytes long, global_gain long, "
        "part23_g0 long, sum_vals long, n_nonzero long, chk long",
    )
    d = spark.table("documents").select(
        "doc_id", (F.col("doc_id") % 40).alias("k")
    )
    return d.join(F.broadcast(classes), "k").drop("k")


@lru_cache(maxsize=1)
def _q275_classes() -> tuple:
    """The 40 distinct MP3 round-trip rows (deterministic, so cached
    for the process; the in-UDF asserts still run on first use)."""
    import numpy as np

    from pandas_td_spark.operators.codecs import (
        mp3_decode_entropy,
        mp3_encode_entropy,
    )

    lut = np.array([1, -1, 0, 0, 1, -1, 0, 1, 0, -1, 0], dtype=np.int64)
    rows = []
    for k in range(40):
        n_frames = 1 + k % 2
        gain = 200 + k % 21
        i = np.arange(576, dtype=np.int64)
        sp = np.zeros((n_frames, 2, 576), dtype=np.int64)
        for f in range(n_frames):
            for g in range(2):
                sp[f, g] = lut[(k*7 + 13*f + 29*g + 3*i*i) % 11]
        payload = mp3_encode_entropy(
            sp, sample_rate=48000, bitrate_kbps=320,
            global_gain=gain, big_values=288,
        )
        dec = mp3_decode_entropy(payload)
        assert np.array_equal(dec["spectra"], sp), "mp3 drift"
        assert len(payload) == n_frames * 960, "mp3 CBR drift"
        gr0 = dec["side_info"][0]["granules"][0]
        fg = 576 * (
            2 * np.arange(n_frames)[:, None, None]
            + np.arange(2)[None, :, None]
        ) + i[None, None, :] + 1
        v = dec["spectra"]
        rows.append((
            k, n_frames, len(payload), gr0["global_gain"],
            gr0["part2_3_length"], int(v.sum()),
            int((v != 0).sum()), int((v * fg).sum()),
        ))
    return tuple(rows)


# ---------------------------------------------------------------------------
# L5n — MP3 nonzero-scalefactor + Huffman-tables-2/3 EXACT round-trip
# (r14, VERDICT r13 #6: the two in-reach MP3 boundaries). Extends the
# q275 gate past its zero-scalefactor / table-1 subset: 40 classes emit
# |value| <= 2 spectra through Huffman tables 2/3 (canonical codewords
# from Kraft-complete remembered length tables — see
# operators/codecs.py provenance), REAL scalefactor part2 bits under
# every scalefac_compress 1..15, scalefac_scale, and preflag/pretab;
# the decoder round-trips the spectra bit-exactly and the requantizer
# applies the long-block sfb-geometry power law. The DuckDB oracle
# recomputes (a) part2_3_length from the code-length model + sign bits
# + slen accounting, and (b) an INTEGER exponent checksum: for every
# nonzero line, eq = (global_gain-210) - 2*(1+ss)*(scf[sfb] +
# preflag*pretab[sfb]) recovered on the Spark side from the ACTUAL
# requantized floats via round(4*log2(|xr|/|ix|^(4/3))) — so the sfb
# boundary table, the scalefactor layout, and the requantization
# formula are all pinned end-to-end in exact integers while the
# irrational power law itself stays pytest-gated. Model-grain like
# q275.
# ---------------------------------------------------------------------------
_Q279_LUT_SQL = (
    "CASE ({m}) WHEN 1 THEN 1 WHEN 2 THEN -1 WHEN 3 THEN 2 "
    "WHEN 5 THEN -2 WHEN 6 THEN 1 WHEN 8 THEN -1 WHEN 9 THEN 2 "
    "WHEN 11 THEN 1 WHEN 12 THEN -2 WHEN 14 THEN 1 "
    "WHEN 15 THEN -1 WHEN 16 THEN 2 ELSE 0 END"
)
_Q279_LUT = (0, 1, -1, 2, 0, -2, 1, 0, -1, 2, 0, 1, -2, 0, 1, -1, 2)


def _q279_sql_parts() -> dict:
    from pandas_td_spark.operators.codecs import (
        _MP3_PRETAB,
        _MP3_SFB_LONG,
        _MP3_SLEN,
    )

    edges = _MP3_SFB_LONG[48000]
    sfb = ", ".join(
        f"({b},{edges[b]},{edges[b + 1]},{_MP3_PRETAB[b]})"
        for b in range(21)
    )
    slen1 = "CASE sfc " + " ".join(
        f"WHEN {i} THEN {_MP3_SLEN[i][0]}" for i in range(16)
    ) + " END"
    slen2 = "CASE sfc " + " ".join(
        f"WHEN {i} THEN {_MP3_SLEN[i][1]}" for i in range(16)
    ) + " END"
    t2l = {(0, 0): 1, (0, 1): 3, (0, 2): 6, (1, 0): 3, (1, 1): 3,
           (1, 2): 5, (2, 0): 5, (2, 1): 5, (2, 2): 6}
    t3l = {(0, 0): 2, (0, 1): 2, (0, 2): 6, (1, 0): 3, (1, 1): 2,
           (1, 2): 5, (2, 0): 5, (2, 1): 5, (2, 2): 6}
    a2 = " ".join(
        f"WHEN {x * 3 + y} THEN {t2l[(x, y)]}"
        for x in range(3) for y in range(3)
    )
    a3 = " ".join(
        f"WHEN {x * 3 + y} THEN {t3l[(x, y)]}"
        for x in range(3) for y in range(3)
    )
    hlen = (f"CASE WHEN t = 2 THEN (CASE ax*3+ay {a2} END) "
            f"ELSE (CASE ax*3+ay {a3} END) END")
    return {"sfb": sfb, "slen1": slen1, "slen2": slen2, "hlen": hlen}


_Q279_P = _q279_sql_parts()

_Q279_ORACLE = f"""
    WITH ks AS (
      SELECT DISTINCT doc_id % 40 AS k FROM documents
    ), defs AS (
      SELECT k, 2 + k % 2 AS t, 1 + k % 15 AS sfc, k % 2 AS ss,
             CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS pre,
             200 + k % 12 AS gg, 320 + 16 * (k % 8) AS bound
      FROM ks
    ), defs2 AS (
      SELECT k, t, sfc, ss, pre, gg, bound,
             {_Q279_P["slen1"]} AS slen1, {_Q279_P["slen2"]} AS slen2
      FROM defs
    ), sfb(b, lo, hi, pretab) AS (
      VALUES {_Q279_P["sfb"]}
    ), scf AS (
      SELECT d.k, s.b, s.lo, s.hi, s.pretab,
             (d.k + 3 * s.b + d.t)
               % (1 << (CASE WHEN s.b < 11 THEN d.slen1
                              ELSE d.slen2 END)) AS sf
      FROM defs2 d CROSS JOIN sfb s
    ), lines AS (
      SELECT d.k, g.g, l.l,
             CASE WHEN l.l < d.bound THEN
               {_Q279_LUT_SQL.format(
                   m="(d.k*7 + 11*g.g + l.l*(l.l+3)) % 17")}
             ELSE 0 END AS v
      FROM defs2 d CROSS JOIN range(2) g(g) CROSS JOIN range(576) l(l)
    ), pairs AS (
      SELECT n.k, n.g, n.l // 2 AS p, d.t,
             MAX(CASE WHEN n.l % 2 = 0 THEN abs(n.v) END) AS ax,
             MAX(CASE WHEN n.l % 2 = 1 THEN abs(n.v) END) AS ay
      FROM lines n JOIN defs2 d USING (k)
      GROUP BY n.k, n.g, n.l // 2, d.t
    ), hbits AS (
      SELECT k, g,
             SUM(({_Q279_P["hlen"]})
                 + CASE WHEN ax > 0 THEN 1 ELSE 0 END
                 + CASE WHEN ay > 0 THEN 1 ELSE 0 END) AS bits
      FROM pairs GROUP BY k, g
    ), part23 AS (
      SELECT h.k,
             CAST(SUM(h.bits + 11 * d.slen1 + 10 * d.slen2) AS BIGINT)
               AS part23
      FROM hbits h JOIN defs2 d USING (k) GROUP BY h.k
    ), eq AS (
      SELECT n.k, n.g, n.l, n.v,
             (d.gg - 210)
             - 2 * (1 + d.ss)
               * COALESCE(s.sf + d.pre * s.pretab, 0) AS eqv
      FROM lines n
      JOIN defs2 d USING (k)
      LEFT JOIN scf s ON s.k = n.k AND n.l >= s.lo AND n.l < s.hi
      WHERE n.v <> 0
    ), agg AS (
      SELECT k,
             CAST(COUNT(*) AS BIGINT) AS n_nonzero,
             CAST(SUM(v) AS BIGINT) AS sum_vals,
             CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
             CAST(SUM(eqv * (1 + g * 1000000 + l)) AS BIGINT) AS eq_chk
      FROM eq GROUP BY k
    )
    SELECT doc.doc_id, p.part23, a.n_nonzero, a.sum_vals, a.sum_abs,
           a.eq_chk
    FROM documents doc
    JOIN part23 p ON p.k = doc.doc_id % 40
    JOIN agg a ON a.k = doc.doc_id % 40
"""


@query(
    "q279_mp3_scalefactor_roundtrip",
    oracle=_Q279_ORACLE,
    scale_note=(
        "model-grain like q275: 40 spectra encoded/decoded/requantized "
        "once in the driver, broadcast-joined onto documents"
    ),
)
def q279_mp3_scalefactor_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closed-form |v|<=2 spectra → REAL MP3 entropy encode (Huffman
    tables 2/3, nonzero scalefactors, preflag, scalefac_scale) → decode
    → assert bit-exact → requantize through the sfb geometry → integer
    part2_3/exponent stats the SQL oracle replays."""
    classes = spark.createDataFrame(
        _q279_classes(),
        "k long, part23 long, n_nonzero long, sum_vals long, "
        "sum_abs long, eq_chk long",
    )
    d = spark.table("documents").select(
        "doc_id", (F.col("doc_id") % 40).alias("k")
    )
    return d.join(F.broadcast(classes), "k").drop("k")


@lru_cache(maxsize=1)
def _q279_classes() -> tuple:
    import math

    import numpy as np

    from pandas_td_spark.operators.codecs import (
        _MP3_SLEN,
        mp3_decode_entropy,
        mp3_encode_entropy,
        mp3_requantize,
    )

    rows = []
    for k in range(40):
        t = 2 + k % 2
        sfc = 1 + k % 15
        slen1, slen2 = _MP3_SLEN[sfc]
        scf = [
            (k + 3 * i + t) % (1 << (slen1 if i < 11 else slen2))
            for i in range(21)
        ]
        ss = k % 2
        pre = 1 if k % 3 == 0 else 0
        gg = 200 + k % 12
        bound = 320 + 16 * (k % 8)
        sp = np.zeros((1, 2, 576), dtype=np.int64)
        for g in range(2):
            for ln in range(bound):
                sp[0, g, ln] = _Q279_LUT[
                    (k * 7 + 11 * g + ln * (ln + 3)) % 17
                ]
        payload = mp3_encode_entropy(
            sp, sample_rate=48000, bitrate_kbps=192, global_gain=gg,
            big_values=288, table_select=t, scalefac_compress=sfc,
            scalefactors=scf, scalefac_scale=ss, preflag=pre,
        )
        d = mp3_decode_entropy(payload)
        assert (d["spectra"] == sp).all(), "mp3 scalefactor spectra drift"
        for g in range(2):
            gr = d["side_info"][0]["granules"][g]
            assert gr["scalefac"] == scf, "scalefactor field drift"
            assert gr["preflag"] == pre and gr["scalefac_scale"] == ss
            assert gr["table_select"] == [t] * 3
        xr = mp3_requantize(d["spectra"], d["side_info"], 48000)
        part23 = sum(
            d["side_info"][0]["granules"][g]["part2_3_length"]
            for g in range(2)
        )
        eq_chk = 0
        for g in range(2):
            for ln in range(576):
                ix = int(sp[0, g, ln])
                if ix == 0:
                    continue
                # recover the integer quarter-log2 exponent from the
                # ACTUAL requantized float: the power law contributes
                # |ix|^(4/3) exactly, the rest is 2^(eq/4)
                ratio = abs(xr[0, g, ln]) / (abs(ix) ** (4.0 / 3.0))
                eq_chk += round(4 * math.log2(ratio)) * (
                    1 + g * 1_000_000 + ln
                )
        rows.append((
            k, part23, int((sp != 0).sum()), int(sp.sum()),
            int(np.abs(sp).sum()), eq_chk,
        ))
    return tuple(rows)


# ---------------------------------------------------------------------------
# L5o — MP3 big_values ESCAPE (linbits) round-trip (r15, VERDICT r14
# #4): all 16 escape classes (table_select 16-31, ISO linbits
# assignment) drive the §7.3.2.3.2.3.1 field order — hcod, linbits_x,
# sign_x, linbits_y, sign_y — through the REAL encoder/decoder pair
# while the DuckDB oracle recomputes the spectra, the per-granule
# part2_3 bit accounting (code lengths joined from the shared in-repo
# canonical length surface + linbits + sign fields), and an
# escape-field checksum from the closed-form surface definition.
# Table provenance: the 256-entry ISO length arrays are not reliably
# transcribable from memory, so the LENGTH surfaces are in-repo Huffman
# constructions (codecs._mp3_escape_lengths — Kraft-complete by
# construction); the ESC machinery itself is spec-exact. Model-grain:
# 40 classes in the driver, broadcast-joined onto docs.
# ---------------------------------------------------------------------------
_Q283_LUT = (0, 1, 15, 0, -16, 0, 2, 0, 16, 0, -15, 0, 3, -1, 0, 7, 0,
             -14, 0)
_Q283_LUT_SQL = "CASE ({m}) " + " ".join(
    f"WHEN {i} THEN {v}" for i, v in enumerate(_Q283_LUT) if v
) + " ELSE 0 END"


def _q283_sql_parts() -> dict:
    from pandas_td_spark.operators.codecs import (
        _MP3_HUFF_ESC0,
        _MP3_HUFF_ESC1,
        _MP3_LINBITS,
    )

    hl = ", ".join(
        f"({kind},{x},{y},{len(tab[(x, y)])})"
        for kind, tab in ((0, _MP3_HUFF_ESC0), (1, _MP3_HUFF_ESC1))
        for x in range(16)
        for y in range(16)
    )
    lb = "CASE t " + " ".join(
        f"WHEN {t} THEN {v}" for t, v in sorted(_MP3_LINBITS.items())
    ) + " END"
    return {"hl": hl, "lb": lb}


_Q283_P = _q283_sql_parts()

_Q283_ORACLE = f"""
    WITH ks AS (
      SELECT DISTINCT doc_id % 40 AS k FROM documents
    ), defs AS (
      SELECT k, 16 + k % 16 AS t, 96 + 8 * (k % 12) AS bound
      FROM ks
    ), defs2 AS (
      SELECT k, t, bound, {_Q283_P["lb"]} AS lb,
             CASE WHEN t < 24 THEN 0 ELSE 1 END AS kind
      FROM defs
    ), defs3 AS (
      SELECT k, t, bound, lb, kind,
             15 + (1 << lb) - 1 AS vmax,
             GREATEST(1, (15 + (1 << lb) - 1) // 16) AS step
      FROM defs2
    ), hl(kind, x, y, len) AS (
      VALUES {_Q283_P["hl"]}
    ), lines AS (
      SELECT d.k, g.range AS g, l.range AS l,
             CASE WHEN l.range < d.bound THEN
               CASE WHEN ({_Q283_LUT_SQL.format(
                   m="(d.k*7 + 11*g.range + l.range*(l.range+3)) % 19"
               )}) >= 0 THEN 1 ELSE -1 END
               * LEAST(d.vmax,
                       abs({_Q283_LUT_SQL.format(
                   m="(d.k*7 + 11*g.range + l.range*(l.range+3)) % 19"
                       )}) * d.step)
             ELSE 0 END AS v
      FROM defs3 d CROSS JOIN range(2) g CROSS JOIN range(576) l
    ), pairs AS (
      SELECT n.k, n.g, n.l // 2 AS p, d.kind, d.lb,
             LEAST(MAX(CASE WHEN n.l % 2 = 0 THEN abs(n.v) END),
                   15) AS ax,
             LEAST(MAX(CASE WHEN n.l % 2 = 1 THEN abs(n.v) END),
                   15) AS ay,
             MAX(CASE WHEN n.l % 2 = 0 THEN abs(n.v) END) AS fx,
             MAX(CASE WHEN n.l % 2 = 1 THEN abs(n.v) END) AS fy
      FROM lines n JOIN defs3 d USING (k)
      WHERE n.l < 576
      GROUP BY n.k, n.g, n.l // 2, d.kind, d.lb
    ), hbits AS (
      SELECT p.k,
             SUM(h.len
                 + CASE WHEN p.ax = 15 THEN p.lb ELSE 0 END
                 + CASE WHEN p.fx > 0 THEN 1 ELSE 0 END
                 + CASE WHEN p.ay = 15 THEN p.lb ELSE 0 END
                 + CASE WHEN p.fy > 0 THEN 1 ELSE 0 END) AS bits
      FROM pairs p JOIN hl h
        ON h.kind = p.kind AND h.x = p.ax AND h.y = p.ay
      WHERE p.p < 288
      GROUP BY p.k
    ), agg AS (
      SELECT k,
             CAST(SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonzero,
             CAST(SUM(v) AS BIGINT) AS sum_vals,
             CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
             CAST(SUM(CASE WHEN abs(v) >= 15 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_esc,
             CAST(SUM(CASE WHEN abs(v) >= 15
                      THEN (abs(v) - 15) * (1 + g * 1000000 + l)
                      ELSE 0 END) AS BIGINT) AS esc_chk
      FROM lines GROUP BY k
    )
    SELECT doc.doc_id,
           CAST(h.bits AS BIGINT) AS part23,
           a.n_nonzero, a.sum_vals, a.sum_abs, a.n_esc, a.esc_chk
    FROM documents doc
    JOIN hbits h ON h.k = doc.doc_id % 40
    JOIN agg a ON a.k = doc.doc_id % 40
"""


@query(
    "q283_mp3_linbits_roundtrip",
    oracle=_Q283_ORACLE,
    scale_note=(
        "model-grain like q275/q279: 40 escape-class spectra encoded/"
        "decoded once in the driver, broadcast-joined onto documents"
    ),
)
def q283_mp3_linbits_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Escape-heavy spectra -> REAL MP3 entropy encode across all 16
    linbits classes -> decode -> assert bit-exact -> part2_3/escape
    stats the SQL oracle replays from the closed-form surface."""
    classes = spark.createDataFrame(
        _q283_classes(),
        "k long, part23 long, n_nonzero long, sum_vals long, "
        "sum_abs long, n_esc long, esc_chk long",
    )
    d = spark.table("documents").select(
        "doc_id", (F.col("doc_id") % 40).alias("k")
    )
    return d.join(F.broadcast(classes), "k").drop("k")


@lru_cache(maxsize=1)
def _q283_classes() -> tuple:
    import numpy as np

    from pandas_td_spark.operators.codecs import (
        _MP3_HUFF_TABLES,
        mp3_decode_entropy,
        mp3_encode_entropy,
    )

    rows = []
    for k in range(40):
        t = 16 + k % 16
        vmax = _MP3_HUFF_TABLES[t][1]
        step = max(1, vmax // 16)
        bound = 96 + 8 * (k % 12)
        sp = np.zeros((1, 2, 576), dtype=np.int64)
        for g in range(2):
            for ln in range(bound):
                base = _Q283_LUT[(k * 7 + 11 * g + ln * (ln + 3)) % 19]
                sp[0, g, ln] = (
                    (1 if base >= 0 else -1) * min(vmax, abs(base) * step)
                )
        payload = mp3_encode_entropy(
            sp, bitrate_kbps=320, big_values=288, table_select=t
        )
        d = mp3_decode_entropy(payload)
        assert (d["spectra"] == sp).all(), "mp3 linbits spectra drift"
        part23 = 0
        for g in range(2):
            gr = d["side_info"][0]["granules"][g]
            assert gr["table_select"] == [t] * 3
            part23 += gr["part2_3_length"]
        esc_chk = n_esc = 0
        for g in range(2):
            for ln in range(576):
                a = abs(int(sp[0, g, ln]))
                if a >= 15:
                    n_esc += 1
                    esc_chk += (a - 15) * (1 + g * 1_000_000 + ln)
        rows.append((
            k, part23, int((sp != 0).sum()), int(sp.sum()),
            int(np.abs(sp).sum()), n_esc, esc_chk,
        ))
    return tuple(rows)
