"""Quality gates for the sketch-based (non-oracle-able) operators: the
approximate paths must track their exact counterparts (SURVEY.md §2.10).
Run at sf0.01 where the driver planted 25 near-dup pairs."""

from __future__ import annotations

from pandas_td_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    simhash_pairs,
)
from pandas_td_spark.operators.similarity import cosine_topk, lsh_topk
from pandas_td_spark.sources.io import register_views

SF = "/root/testdata/sf0.01"


def test_minhash_lsh_recall(spark):
    register_views(spark, SF)
    docs = spark.table("documents")
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, threshold=0.6).collect()
    }
    cand = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(docs).collect()}
    assert exact, "fixture should contain planted near-dup pairs"
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, f"MinHash LSH recall {recall:.2f} < 0.9"


def test_simhash_finds_planted_pairs_with_low_noise(spark):
    register_views(spark, SF)
    docs = spark.table("documents")
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, threshold=0.6).collect()
    }
    found = {(r.id_a, r.id_b) for r in simhash_pairs(docs, max_hamming=3).collect()}
    # ham<=3 is tighter than jaccard>=0.6: expect a meaningful subset, little noise
    assert len(found & exact) >= len(exact) * 0.4
    assert len(found - exact) <= len(found) * 0.5


def test_hyperplane_lsh_topk_recall(spark):
    register_views(spark, SF)
    emb = spark.table("embeddings")
    qids = list(range(10))
    exact = {(r.q_id, r.n_id) for r in cosine_topk(emb, qids, k=5).collect()}
    approx = {
        (r.q_id, r.n_id)
        for r in lsh_topk(emb, qids, k=5, n_planes=4, n_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    # weakly-similar corpus (mean top-5 cosine ~0.32 => theta ~71deg):
    # theoretical recall ~0.7 for b=4, L=8
    assert recall >= 0.5, f"multi-table LSH recall {recall:.2f} < 0.5"


def test_connected_components_toy(spark):
    from pandas_td_spark.operators.cluster import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 4)],
        "id_a long, id_b long",
    )
    got = {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (5, 5), (6, 5),
        (8, 8), (9, 8), (10, 8),
    }


def test_ivf_topk_recall(spark):
    from pandas_td_spark.operators.similarity import ivf_topk

    register_views(spark, SF)
    emb = spark.table("embeddings")
    qids = list(range(10))
    exact = {(r.q_id, r.n_id) for r in cosine_topk(emb, qids, k=5).collect()}
    approx = {
        (r.q_id, r.n_id)
        for r in ivf_topk(emb, qids, k=5, n_clusters=16, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall {recall:.2f} < 0.4"


def _bits(rows):
    import struct

    return [
        (r.q_id, r.n_id, r.rnk, struct.unpack("<q", struct.pack("<d", r.cosine))[0])
        for r in rows
    ]


def test_ivf_topk_probing_every_cell_equals_exact(spark):
    """With every cell probed IVF is the exact path: same (q_id, n_id,
    rnk) rows and the same cosine bits as cosine_topk."""
    from pandas_td_spark.operators.similarity import ivf_topk

    register_views(spark, SF)
    emb = spark.table("embeddings")
    qids = list(range(10))
    order = ["q_id", "rnk"]
    exact = cosine_topk(emb, qids, k=5).orderBy(order).collect()
    ivf = ivf_topk(emb, qids, k=5, n_clusters=16, n_probe=16)
    got = ivf.orderBy(order).collect()
    assert len(exact) == 50
    assert _bits(got) == _bits(exact)


def test_ivf_topk_edge_cases(spark):
    from pandas_td_spark.operators.similarity import ivf_topk

    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]),
        (4, None), (5, [0.5, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def run(df, qids, k):
        out = ivf_topk(df, qids, k=k, dim=2, n_clusters=2, n_probe=2)
        return out, {(r.q_id, r.n_id, r.rnk) for r in out.collect()}

    # k above the candidate count returns every candidate; the null
    # embedding (id 4) is neither a query nor a neighbour
    _, got = run(emb, [1, 4], k=10)
    assert got == {(1, 2, 1), (1, 5, 2), (1, 3, 3)}
    # a query id missing from the corpus yields no rows
    assert run(emb, [99], k=5)[1] == set()
    # an empty corpus returns an empty frame with the same schema
    out, got = run(emb.limit(0), [1], k=5)
    assert got == set()
    assert out.schema == ivf_topk(emb, [1], k=5, dim=2, n_clusters=2).schema
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("q_id", "bigint"), ("n_id", "bigint"),
        ("cosine", "double"), ("rnk", "bigint"),
    ]


def test_ivf_topk_leaves_no_cached_data(spark):
    from pandas_td_spark.operators.similarity import ivf_topk

    register_views(spark, SF)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    ivf_topk(spark.table("embeddings"), list(range(10)), k=5).collect()
    assert cache.isEmpty()


def test_prefix_jaccard_equals_naive(spark):
    """jaccard_pairs_prefix must produce EXACTLY the naive inverted-index
    join's output — the prefix filter is a pruning, not an approximation."""
    from pandas_td_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
    )

    register_views(spark, SF)
    d = spark.table("documents")
    naive = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_pairs(d, threshold=0.6).collect()
    }
    pre = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_pairs_prefix(d, threshold=0.6).collect()
    }
    assert naive == pre and len(naive) > 0


def test_shingle_sql_twin_equals_column_form(spark):
    """The q186/q204 bigram builder (`text._BIGRAMS2_SQL`) duplicates
    curation's `_ngrams_sql(2)` with a different CASE nesting — their
    row-wise equality is pinned here so the two modules cannot drift
    apart silently. Row-wise null-safe comparison: ONE job per frame,
    and strictly stronger than a two-way exceptAll (which would pass if
    two rows swapped values). `_shingle_array_sql` splices its column
    name into SQL, so it must reject anything but a plain name."""
    import pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from pandas_td_spark.operators.dedup import _shingle_array_sql
    from pandas_td_spark.queries.curation import _ngrams_sql
    from pandas_td_spark.queries.text import _BIGRAMS2_SQL

    texts = st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12), min_size=1, max_size=24
    )

    @settings(max_examples=12, deadline=None)
    @given(texts=texts)
    def check(texts):
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        bad = (
            df.select(
                F.expr(_BIGRAMS2_SQL).alias("a"),
                F.expr(_ngrams_sql(2)).alias("b"),
            )
            .where("NOT (a <=> b)")
            .count()
        )
        assert bad == 0, "text._BIGRAMS2_SQL diverges from _ngrams_sql(2)"

    check()
    # the SQL twin splices the name verbatim — reject non-identifiers
    with pytest.raises(ValueError):
        _shingle_array_sql("lower(text)", 3)


def test_shingle_fast_path_equals_positional_definition(spark):
    """The lookahead-regex shingle fast path must agree with the
    positional transform+slice definition on ALL inputs, including the
    empty-token shapes that route to the fallback branch (hypothesis over
    a token alphabet that generates doubled/leading/trailing separators)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from pandas_td_spark.operators.dedup import shingle_array

    texts = st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12), min_size=1, max_size=24
    )

    @settings(max_examples=20, deadline=None)
    @given(texts=texts)
    def check(texts):
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        for n in (2, 3):
            words = F.split(F.col("text"), " ")
            ref = F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))
                    ),
                    lambda i: F.concat_ws(" ", F.slice(words, i, n)),
                )
            )
            bad = (
                df.select(shingle_array("text", n).alias("got"), ref.alias("want"))
                .where(F.col("got") != F.col("want"))
                .count()
            )
            assert bad == 0

    check()


def test_semdedup_precision_exact_and_recall_bounded(spark):
    """SemDeDup: every emitted pair is a true exact-threshold pair
    (precision 1.0 — candidates re-score with the exact chain), and
    within-cell recall vs the globally-quadratic q64 path stays above the
    pinned fixture bound (deterministic: seeded quantizer, fixed data)."""
    from pandas_td_spark.operators.similarity import (
        cosine_threshold_pairs,
        semdedup_pairs,
    )
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF)
    emb = spark.table("embeddings")
    exact = {
        (r.id_a, r.id_b) for r in cosine_threshold_pairs(emb, 0.4).collect()
    }
    sd = {
        (r.id_a, r.id_b)
        for r in semdedup_pairs(emb, 0.4, n_clusters=4).collect()
    }
    assert sd <= exact  # precision: no false pairs, ever
    if exact:
        assert len(sd & exact) / len(exact) >= 0.5


def test_pq_topk_recall(spark):
    """PQ+refine vs the exact path: the ADC shortlist (50 per query) must
    recover enough of the true top-5 that refined results match well; the
    refined scores are exact cosines, so any overlap is score-identical."""
    from pandas_td_spark.operators.similarity import cosine_topk, pq_topk

    register_views(spark, SF)
    emb = spark.table("embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.q_id, r.n_id) for r in cosine_topk(emb, qids, k=5).collect()
    }
    refined = pq_topk(emb, qids, k=5, m=16, ksub=32, refine=50)
    approx = {(r.q_id, r.n_id) for r in refined.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"PQ+refine recall {recall:.2f} < 0.7"
    # ADC-only (no refine) still finds a plurality — the compressed-domain
    # ordering is meaningful on its own
    adc = {
        (r.q_id, r.n_id)
        for r in pq_topk(emb, qids, k=5, m=16, ksub=32).collect()
    }
    assert len(exact & adc) / len(exact) >= 0.3


def test_mmr_rerank_matches_numpy_reference(spark):
    import numpy as np

    from pandas_td_spark.operators.similarity import cosine_topk, mmr_rerank

    register_views(spark, SF)
    emb = spark.table("embeddings")
    k, pool, lam, qids = 5, 20, 0.7, [0, 1, 2]
    got = {
        (r.q_id, r.sel_rank): (r.n_id, r.mmr)
        for r in mmr_rerank(emb, qids, k=k, pool=pool, lam=lam).collect()
    }
    # reference: greedy MMR in numpy over the same exact top-pool
    cand = cosine_topk(emb, qids, k=pool).collect()
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    for q in qids:
        rows = sorted(
            [r for r in cand if r.q_id == q], key=lambda r: r.n_id
        )
        ids = [r.n_id for r in rows]
        rel = np.array([r.cosine for r in rows])
        m = np.stack([vecs[i] for i in ids])
        unit = m / np.linalg.norm(m, axis=1)[:, None]
        sims = unit @ unit.T
        selected: list[int] = []
        max_sim = np.full(len(ids), -np.inf)
        for step in range(k):
            score = (
                lam * rel
                if not selected
                else lam * rel - (1 - lam) * max_sim
            )
            score[selected] = -np.inf
            pick = int(np.argmax(score))
            n_id, mmr = got[(q, step + 1)]
            assert n_id == ids[pick], (q, step, n_id, ids[pick])
            assert abs(mmr - score[pick]) < 1e-9
            selected.append(pick)
            max_sim = np.maximum(max_sim, sims[pick])


def test_embedding_whitening_matches_numpy(spark):
    import numpy as np

    from pandas_td_spark.queries.registry import all_queries

    register_views(spark, SF)
    rows = all_queries()["q193_embedding_whitening"].fn(spark, SF).collect()
    emb = spark.table("embeddings").orderBy("vec_id").collect()
    ids = [r.vec_id for r in emb]
    m = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in emb])
    mu = np.round(m.mean(axis=0), 6)
    # engine computes E[x^2]-mu^2 from 6dp-rounded decimal sums; tolerate
    # that with a loose-but-meaningful bound instead of replicating it
    sigma = np.sqrt(np.maximum(m.var(axis=0), 1e-12))
    w = (m - mu) / sigma
    got = {r.vec_id: r for r in rows}
    assert set(got) == set(ids)
    for k, i in [(ids[0], 0), (ids[-1], len(ids) - 1)]:
        r = got[k]
        for j, v in enumerate([r.w0, r.w1, r.w2, r.w3]):
            assert abs(v - w[i, j]) < 1e-2, (k, j, v, w[i, j])
        assert (
            abs(r.white_norm - np.linalg.norm(w[i])) / np.linalg.norm(w[i])
            < 1e-2
        )


def test_jaccard_pairs_auto_gate_switches_and_stays_exact_verified(spark):
    """VERDICT r7 #4: the exact prefix-filter pair plan is measurably
    superlinear; above EXACT_PAIRS_MAX_DOCS the auto dispatcher must
    switch to banded MinHash + exact verify. Pinned at a synthetic
    threshold: with exact_max_docs=1 the gated (LSH) path runs, its
    output must contain NO false positives (every pair exact-verified)
    and must recover >=95% of the exact pairs on the planted corpus."""
    from pandas_td_spark.operators.dedup import (
        jaccard_pairs_auto,
        jaccard_pairs_prefix,
    )

    register_views(spark, SF)
    docs = spark.table("documents")
    exact = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_pairs_prefix(docs, threshold=0.6).collect()
    }
    assert exact, "fixture should contain planted near-dup pairs"

    # below the gate: byte-identical to the exact plan
    low = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_pairs_auto(
            docs, threshold=0.6, exact_max_docs=10**9
        ).collect()
    }
    assert low == exact

    # above the gate: the LSH+verify path — no false positives, and the
    # 16-band/r=2 scheme's theoretical recall at t=0.6 is ~0.9992
    high = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_pairs_auto(
            docs, threshold=0.6, exact_max_docs=1
        ).collect()
    }
    assert high <= exact, f"false positives: {sorted(high - exact)[:5]}"
    recall = len(high) / len(exact)
    assert recall >= 0.95, f"gated-path recall {recall:.3f} < 0.95"


def test_substring_run_pairs_exact_semantics(spark):
    """Constructed corpus pins the operator's exactness at the
    boundary: a shared 12-word run qualifies, 11 words does not, and
    longest_run is the exact maximum (not just >= threshold), including
    a doc pair whose overlap appears at different offsets."""
    from pandas_td_spark.operators.dedup import substring_run_pairs

    run12 = " ".join(f"r{i}" for i in range(12))
    run11 = " ".join(f"s{i}" for i in range(11))
    run20 = " ".join(f"t{i}" for i in range(20))
    pad = lambda p, n: " ".join(f"{p}{i}" for i in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [
            (1, f"{pad('a', 5)} {run12} {pad('b', 4)}"),
            (2, f"{pad('c', 9)} {run12}"),
            (3, f"{run11} {pad('d', 6)}"),
            (4, f"{pad('e', 3)} {run11}"),
            (5, f"{run20} {pad('f', 2)}"),
            (6, f"{pad('g', 7)} {run20} {pad('h', 3)}"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r.id_a, r.id_b): r.longest_run
        for r in substring_run_pairs(docs).collect()
    }
    assert got == {(1, 2): 12, (5, 6): 20}

    # threshold sweep: the same corpus at min_run=11 admits the 11-run
    got11 = {
        (r.id_a, r.id_b): r.longest_run
        for r in substring_run_pairs(docs, min_run=11, anchor_k=9).collect()
    }
    assert got11 == {(1, 2): 12, (3, 4): 11, (5, 6): 20}


def test_semdedup_anchored_precision_and_recall(spark):
    """The oracle-expressible anchored variant (r13): same precision
    guarantee as the learned-kmeans path (every emitted pair is a true
    exact-threshold pair) and comparable within-cell recall on the
    fixture; cells must be a partition of the non-null vectors."""
    from pandas_td_spark.operators.similarity import (
        cosine_threshold_pairs,
        semdedup_pairs_anchored,
    )
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF)
    emb = spark.table("embeddings")
    exact = {
        (r.id_a, r.id_b) for r in cosine_threshold_pairs(emb, 0.4).collect()
    }
    sd = {
        (r.id_a, r.id_b)
        for r in semdedup_pairs_anchored(emb, 0.4, n_anchors=4).collect()
    }
    assert sd <= exact
    # anchored Voronoi recall is LOWER than the learned-kmeans pin
    # (0.5): anchors are raw data points, not fitted centroids, so cell
    # boundaries split more true pairs — the price of oracle
    # expressibility, carried by q109's full driver hash gate. Fixture
    # value at sf0.001/k=4 is 0.36 (deterministic); pin the floor.
    if exact:
        assert len(sd & exact) / len(exact) >= 0.3
