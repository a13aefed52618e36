"""Corpus-curation operators for training-data pipelines (north-star
"operations a large-scale training-data pipeline would need", extending
SURVEY.md §2.10): repetition-based quality filters (Gopher-style), BM25
relevance ranking, context-window chunking, PII redaction, embedding
quantization, benchmark-contamination detection, dataset-mixture
sampling, and unigram-LM quality scoring.

No reference locus (pandas-td had no such ops — /root/reference empty);
semantics follow the public LLM-data-pipeline literature (Gopher/C4 quality
rules, Robertson BM25, train/test-contamination n-gram overlap — see
PAPERS.md). Every query here is exact and DuckDB-oracle-checked.

Scale notes are per-query; the common discipline: token/n-gram work is
explode → hash-aggregate (map-side partial agg collapses per-doc state
before any shuffle), global scalars (corpus size, average doc length) are
single-row aggregates broadcast back, and nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pandas_td_spark.engine.session import spread
from pandas_td_spark.engine.store import memo
from pandas_td_spark.queries.registry import query


def _words(col: str = "text"):
    return F.split(F.col(col), " ")


def _ngrams(words, n: int, text_col: str = "text"):
    """Positional word n-grams (duplicates preserved) — empty for docs
    shorter than ``n`` tokens. Distinct-shingle work uses
    ``operators.dedup.shingle_array`` instead; repetition stats need the
    multiplicities, so this variant keeps them.

    Fast path (r15, the shingle_array discipline): a single
    lookahead-regex pass extracts every overlapping n-gram from
    ``text_col`` directly — ``regexp_extract_all`` returns matches in
    positional order WITH duplicates, so the sequence is identical to
    the transform+slice form whenever the text has no empty tokens
    (``[^ ]+`` and ``split`` agree exactly there; no match for docs
    shorter than ``n`` tokens reproduces the empty-array arm). Texts
    with leading/trailing/doubled separators keep the positional slice
    arm. A/B at sf0.1 on q108's four-gram-size stack: 0.834 -> 0.414 s
    median (slice copies O(n·len) subarrays per doc), row-identical."""
    c = F.col(text_col)
    sz = F.size(words)
    empty = F.array().cast("array<string>")
    gram = " ".join(["[^ ]+"] * n)
    fast = F.regexp_extract_all(c, F.lit(f"(?<=^| )(?=({gram}))"), F.lit(1))
    positional = F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(1), sz - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(empty)
    return F.when(c.rlike("(^| )( |$)"), positional).otherwise(
        F.when(sz >= n, fast).otherwise(empty)
    )


_WS_SQL = "split(text, ' ')"
_EMPTY_ARR_SQL = "CAST(array() AS array<string>)"


def _ngrams_sql(n: int) -> str:
    """SQL-string twin of :func:`_ngrams` (same expression tree, parsed
    JVM-side in one round-trip). The Column form costs ~27 ms of py4j
    per higher-order lambda at CONSTRUCTION time — q108 builds four
    gram sizes through ``_gram_stats`` per run, and the bench (like any
    repeated production submission) pays that driver chatter on every
    run. String composition is pure Python; the parsed plan is
    identical, which plans/r15/q108_* pin."""
    gram = " ".join(["[^ ]+"] * n)
    positional = (
        f"CASE WHEN size({_WS_SQL}) >= {n} THEN "
        f"transform(sequence(1, size({_WS_SQL}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({_WS_SQL}, i, {n}))) "
        f"ELSE {_EMPTY_ARR_SQL} END"
    )
    fast = f"regexp_extract_all(text, '(?<=^| )(?=({gram}))', 1)"
    return (
        f"CASE WHEN text RLIKE '(^| )( |$)' THEN {positional} "
        f"ELSE CASE WHEN size({_WS_SQL}) >= {n} THEN {fast} "
        f"ELSE {_EMPTY_ARR_SQL} END END"
    )


def _gram_stats_sql(g: str) -> str:
    """SQL-string twin of :func:`_gram_stats` over a gram-array SQL
    expression (run-length scan -> struct(mx, nd, tot)); the finish
    lambda sizes the UNSORTED gram expression exactly like the Column
    form."""
    one = "CAST(1 AS BIGINT)"
    run = f"CASE WHEN x = acc.prev THEN acc.run + 1 ELSE {one} END"
    return (
        f"aggregate(array_sort({g}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), "
        "'mx', CAST(0 AS BIGINT), 'nd', CAST(0 AS BIGINT)), "
        f"(acc, x) -> named_struct('prev', x, 'run', {run}, "
        f"'mx', greatest(acc.mx, {run}), "
        "'nd', CASE WHEN x = acc.prev THEN acc.nd ELSE acc.nd + 1 END), "
        f"acc -> named_struct('mx', acc.mx, 'nd', acc.nd, "
        f"'tot', CAST(size({g}) AS BIGINT)))"
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filters: top-bigram fraction + duplicate-trigram
# fraction. Plan: one scan explodes bigrams and trigrams (positional, with
# multiplicity), each side hash-aggregates per (doc, gram) then per doc —
# partial aggregation collapses repeats map-side, so shuffle volume is
# O(distinct grams), and the final doc_id-keyed join is between two
# one-row-per-doc aggregates. No Python, no skew (grams are near-uniform).
# A round-7 row-local rewrite of this query (the run-length scan that
# `_gram_stats_sql` now builds) measured 6.6 s warm vs 1.07 s for this
# form at sf0.1 (the HOF struct accumulator falls
# out of efficient codegen when its result is consumed by a filter plus
# multiple projections, so the aggregate re-evaluates per reference) —
# reverted in round 8. q108 keeps the scan because there the struct
# is consumed once per n and its warm A/B held (1.596 -> 1.516 s).
# Round-10 re-A/B of q108 (interleaved 5-round warm
# protocol at sf0.1): row-local 1.19 s median vs exploded-tagged 1.16 s
# vs hashed-exploded 1.38 s vs fraction-direct-finish 1.63 s — the
# exploded form's ~3% warm edge costs two O(corpus-tokens) shuffles the
# zero-shuffle row-local form doesn't have, so row-local stays. Floor
# analysis: scan+split 0.11 s + base stats 0.22 s + 4 x ~0.25 s
# sort/run-length per gram size = ~1.1 s of irreducible vectorized
# compute at this SF/core count; sub-0.9 s isn't reachable in either
# form without dropping a gram size.
# ---------------------------------------------------------------------------
@query(
    "q85_repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i+1])) AS g
      FROM t WHERE len(ws) >= 2
    ), bga AS (
      SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2
    ), bstat AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
               AS top_bigram_frac
      FROM bga GROUP BY 1
    ), tg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - 1),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
      FROM t WHERE len(ws) >= 3
    ), tstat AS (
      SELECT doc_id,
             1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) AS dup_trigram_frac
      FROM tg GROUP BY 1
    )
    SELECT doc_id, n_bigrams, top_bigram_frac, dup_trigram_frac
    FROM bstat JOIN tstat USING (doc_id)
    """,
)
def q85_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals from the Gopher filter family:
    fraction of bigram mass taken by the most frequent bigram, and the
    fraction of trigram occurrences that are repeats. High values flag
    boilerplate/spam for pretraining-data removal.

    r13 (VERDICT r12 #7): ONE tagged explode — bigrams and trigrams ride
    the same Generate as (n, g) structs — so the corpus pays one scan
    and one (doc_id, n, g) exchange instead of two full explode+shuffle
    chains (the r12 plan ran Generate twice and shuffled twice; both
    stats then fold from the shared gram counts, and the trigram
    distinct count is FREE — it's the row count of the n=3 partition of
    the counts frame, no count_distinct buffer). Same values: the inner
    join the two-chain form ended with is the ``tri_total >= 1`` filter
    here (a doc has trigram stats iff it has >= 3 tokens, which implies
    bigram stats). Interleaved A/B at sf0.1 in the r13 close-out; the
    oracle is unchanged."""
    d = spread(spark.table("documents"), by="doc_id")
    w = _words()
    tag = lambda arr, n: F.transform(  # noqa: E731
        arr, lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.concat(tag(_ngrams(w, 2), 2), tag(_ngrams(w, 3), 3))
        ).alias("t"),
    ).select("doc_id", F.col("t.n").alias("n"), F.col("t.g").alias("g"))
    counts = grams.groupBy("doc_id", "n", "g").agg(F.count("*").alias("c"))
    two = F.col("n") == 2
    three = F.col("n") == 3
    stat = counts.groupBy("doc_id").agg(
        F.sum(F.when(two, F.col("c"))).alias("n_bigrams"),
        F.max(F.when(two, F.col("c"))).alias("top_c"),
        F.sum(F.when(three, F.col("c"))).alias("tri_total"),
        F.count(F.when(three, F.lit(1))).alias("tri_distinct"),
    )
    return stat.where(F.col("tri_total") >= 1).select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        (
            F.col("top_c").cast("double") / F.col("n_bigrams").cast("double")
        ).alias("top_bigram_frac"),
        (
            F.lit(1.0)
            - F.col("tri_distinct").cast("double")
            / F.col("tri_total").cast("double")
        ).alias("dup_trigram_frac"),
    )


# ---------------------------------------------------------------------------
# BM25 (Robertson k1=1.2, b=0.75) for a literal term set — the retrieval
# scorer behind RAG / data-selection pipelines. Plan: ONE token explode
# feeds tf (filtered to the terms BEFORE the shuffle), df, and per-doc
# length; corpus scalars (N and avgdl, one lazy broadcast 1-row frame)
# never re-shuffle the document side. ln() is rounded
# to 6dp (q46's cross-engine ulp discipline); every other float op is a
# fixed-association IEEE expression, bit-identical across engines.
# ---------------------------------------------------------------------------
_BM25_TERMS = ("spark", "hash", "merge")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_BM25_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY 1
), stats AS (
  SELECT AVG(dl) AS avgdl, (SELECT COUNT(*) FROM documents) AS n_docs
  FROM dl
), tf AS (
  SELECT doc_id, w AS term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM tok WHERE w IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2
), dft AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM tf GROUP BY 1
), scored AS (
  SELECT tf.term, tf.doc_id,
         (round(ln(1.0 + ((s.n_docs - dft.df) + 0.5) / (dft.df + 0.5)), 6)
          * (tf.tf * 2.2))
         / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) AS bm25
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
)
SELECT term, doc_id, bm25, rnk FROM (
  SELECT term, doc_id, bm25,
         CAST(ROW_NUMBER() OVER (PARTITION BY term
                                 ORDER BY bm25 DESC, doc_id) AS BIGINT)
           AS rnk
  FROM scored
) WHERE rnk <= 10
"""


@query("q86_bm25", oracle=_BM25_ORACLE)
def q86_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per query term under BM25(k1=1.2, b=0.75).

    Floor audit (VERDICT r12 #8): the 2.98 s the r12 battery recorded
    was the session-pressure measurement artifact, not this plan — the
    r13 per-repeat-drain battery measures 0.67 s median / 0.58 min.
    The pre-shuffle term filter IS in the executed plan (verified r13:
    ``Filter w IN (spark,hash,merge)`` sits below the tf Exchange, so
    only term-matching tokens shuffle); the remaining time is the
    shared token explode + dl aggregate over every token (needed for
    avgdl — irreducible) plus the local-mode scheduling floor. DuckDB's
    0.05 s on 3 literal terms is below the 0.3 s letter-gate threshold;
    the op scales as one explode + two partial-agg shuffles."""
    d = spark.table("documents")
    tok = d.select("doc_id", F.explode(_words()).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    # corpus size as a lazy broadcast 1-row aggregate (the driver-side
    # d.count() was an extra action); counted on documents, not dl, so
    # zero-token docs still contribute to N exactly like the oracle's
    # (SELECT COUNT(*) FROM documents)
    nd = d.agg(F.count("*").cast("double").alias("__n"))
    stats = dl.agg(F.avg("dl").alias("avgdl")).crossJoin(F.broadcast(nd))
    tf = (
        tok.where(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", F.col("w").alias("term"))
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dft = tf.groupBy("term").agg(
        F.count_distinct("doc_id").cast("double").alias("df")
    )
    idf_r = F.round(
        F.log(
            F.lit(1.0)
            + ((F.col("__n") - F.col("df")) + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    scored = (
        tf.join(F.broadcast(dft), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            (
                (idf_r * (F.col("tf") * F.lit(2.2)))
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (
                        F.lit(0.25)
                        + F.lit(0.75) * (F.col("dl") / F.col("avgdl"))
                    )
                )
            ).alias("bm25"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 10)
        .select("term", "doc_id", "bm25", "rnk")
    )


# ---------------------------------------------------------------------------
# Context-window chunking: 50-token windows, stride 40 (10-token overlap) —
# the pre-tokenization step that turns documents into training sequences.
# Plan: pure per-row expression work (sequence → explode → slice), no
# shuffle at all; output rows ≈ tokens/stride, linear in corpus size.
# ---------------------------------------------------------------------------
_CHUNK_W, _CHUNK_S = 50, 40


@query(
    "q87_doc_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), s AS (
      SELECT doc_id, ws,
             unnest(range(0, len(ws), {_CHUNK_S})) AS st
      FROM t
    )
    SELECT doc_id,
           CAST(st // {_CHUNK_S} AS INT) AS chunk_idx,
           CAST(LEAST({_CHUNK_W}, len(ws) - st) AS INT) AS n_chunk_tokens,
           array_to_string(list_slice(ws, st + 1, st + {_CHUNK_W}), ' ')
             AS chunk_text
    FROM s
    """,
)
def q87_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks (w=50, stride=40) per document."""
    d = spark.table("documents")
    w = _words()
    n = F.size(w)
    return (
        d.select(
            "doc_id",
            w.alias("ws"),
            F.explode(
                F.sequence(F.lit(0), n - 1, F.lit(_CHUNK_S))
            ).alias("st"),
        )
        .select(
            "doc_id",
            (F.col("st") / _CHUNK_S).cast("int").alias("chunk_idx"),
            F.least(F.lit(_CHUNK_W), F.size("ws") - F.col("st"))
            .cast("int")
            .alias("n_chunk_tokens"),
            F.array_join(
                F.slice(F.col("ws"), F.col("st") + 1, F.lit(_CHUNK_W)), " "
            ).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction: regex masking of emails/phones with per-row match counts.
# The corpus fixture has no PII, so the contact strings are DERIVED from
# customer columns (not synthesized data) — the operator under test is the
# scan-local regexp_count/regexp_replace pipeline, which at 100 TB is a
# zero-shuffle map stage. Patterns restricted to syntax Java regex and RE2
# interpret identically.
# ---------------------------------------------------------------------------
_EMAIL_RE = r"[A-Za-z0-9._-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
_PHONE_RE = r"[0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"


@query(
    "q88_pii_redact",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey,
             c_name || ' <' || lower(replace(c_name, ' ', '.'))
                    || '@example.com> phone '
                    || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || '-'
                    || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
                    || lpad(CAST(c_custkey % 997 AS VARCHAR), 3, '0') || '-'
                    || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               AS contact
      FROM customer
    )
    SELECT c_custkey,
           CAST(len(regexp_extract_all(contact, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(contact, '{_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           regexp_replace(regexp_replace(contact, '{_EMAIL_RE}', '<EMAIL>',
                                         'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM c
    """,
)
def q88_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone redaction with match counts over derived contact
    strings (DuckDB regexp_replace needs the 'g' flag to match Spark's
    replace-all default)."""
    def _pad(mod: int, width: int):
        return F.lpad(
            (F.col("c_custkey") % mod).cast("string"), width, "0"
        )

    c = spark.table("customer").select(
        "c_custkey",
        F.concat(
            F.col("c_name"),
            F.lit(" <"),
            F.lower(F.replace(F.col("c_name"), F.lit(" "), F.lit("."))),
            F.lit("@example.com> phone "),
            _pad(100, 2), F.lit("-"),
            _pad(1000, 3), F.lit("-"),
            _pad(997, 3), F.lit("-"),
            _pad(10000, 4),
        ).alias("contact"),
    )
    return c.select(
        "c_custkey",
        F.regexp_count("contact", F.lit(_EMAIL_RE))
        .cast("bigint")
        .alias("n_emails"),
        F.regexp_count("contact", F.lit(_PHONE_RE))
        .cast("bigint")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("contact", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization of embeddings (the storage/serving form of an
# ANN corpus): per-vector scale = 127/max|x|, q_i = floor(x_i*scale + 0.5).
# floor(x + 0.5) instead of round() because Spark (HALF_UP via BigDecimal)
# and DuckDB (half-even on doubles) disagree on .5 ties; floor is exact and
# engine-identical. Zero-shuffle map stage; int8 output is 4x smaller on
# the wire, which is the point at 100 TB.
# ---------------------------------------------------------------------------
@query(
    "q89_embedding_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             127.0 / list_aggregate(
               list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
               'max') AS scale
      FROM embeddings
    )
    SELECT vec_id, round(scale, 6) AS scale_r,
           array_to_string(
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)),
             ',') AS q_int8
    FROM s
    """,
)
def q89_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization; quantized codes serialized to
    a string so the driver can hash them."""
    e = spark.table("embeddings")
    scale = F.lit(127.0) / F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    return e.select(
        "vec_id",
        scale.alias("scale"),
        F.col("embedding").alias("emb"),
    ).select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.array_join(
            F.transform(
                "emb",
                lambda x: F.floor(x.cast("double") * F.col("scale") + 0.5)
                .cast("bigint")
                .cast("string"),
            ),
            ",",
        ).alias("q_int8"),
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination check: which corpus documents share a 5-token
# n-gram with a held-out benchmark set (here: doc_id < 25)? The published
# train/test-overlap methodology (GPT-2/3 appendix style). Plan: distinct
# n-gram inverted index on the (tiny) benchmark side broadcasts; the corpus
# side is one explode + broadcast-semi-equi-join + per-doc count — linear,
# no all-pairs anything.
# ---------------------------------------------------------------------------
_CONTAM_N = 5


@query(
    "q91_contamination",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' '))
                                   - {_CONTAM_N - 2}, 2)),
               i -> array_to_string(
                      (string_split(text, ' '))[i:i + {_CONTAM_N - 1}], ' ')))
               AS shingles
      FROM documents
    ), bench AS (
      SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id < 25
    ), corpus AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id >= 25
    )
    SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
    FROM corpus c JOIN bench USING (s)
    GROUP BY 1
    """,
)
def q91_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus docs sharing ≥1 distinct 5-gram with the benchmark slice
    (doc_id < 25), with the count of shared 5-grams.

    FLOOR DECOMPOSITION (r14, sf0.1 warm median-of-3, same-window vs
    DuckDB 0.81 s): shingle-regexp pass over the corpus 0.49 s (the
    irreducible floor — the identical 5-gram extraction DuckDB spends
    most of its time on too), +explode 0.65 s, full query 0.79 s →
    ratio ~0.97x. The historical 2.0-2.6x letters were CROSS-WINDOW
    artifacts plus one real bug fixed here: both branches used to hang
    off one ``spread(documents)``, and Catalyst does NOT push a filter
    below a round-robin ``Repartition`` — so the 25-doc bench branch
    repartitioned and re-shingled all 5 000 docs (bench side alone:
    0.89 s → 0.23 s). ``spread`` now wraps only the post-filter corpus
    branch, where the per-row shingle work is what needs spreading.
    """
    from pandas_td_spark.operators.dedup import shingle_array

    docs = spark.table("documents")
    bench = (
        docs.where(F.col("doc_id") < 25)
        .select(F.explode(shingle_array("text", _CONTAM_N)).alias("s"))
        .distinct()
    )
    corpus = spread(docs.where(F.col("doc_id") >= 25)).select(
        "doc_id", F.explode(shingle_array("text", _CONTAM_N)).alias("s")
    )
    return (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
    )


# ---------------------------------------------------------------------------
# Dataset-mixture sampling: per-source Bernoulli rates (the "mixture
# weights" knob of a pretraining pipeline — upsample wiki, downsample web).
# Membership is a hash cut on the row key (q77's argument: identical on any
# engine/partitioning/retry, composes with pushdown); the per-source rate
# picks the cut. rate=1.0 uses the sentinel cut 'g' (> every hex digit), so
# full-rate sources skip nothing. Plan: scan + map-side CASE + one
# aggregation — no shuffle wider than the source key.
# ---------------------------------------------------------------------------
_MIX_RATES = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
_MIX_DEFAULT = 0.1


def _mix_cut(rate: float) -> str:
    return "g" if rate >= 1.0 else format(int(rate * 65536), "04x")


_MIX_CASE = (
    "CASE source "
    + " ".join(
        f"WHEN '{s}' THEN '{_mix_cut(r)}'" for s, r in _MIX_RATES.items()
    )
    + f" ELSE '{_mix_cut(_MIX_DEFAULT)}' END"
)


@query(
    "q94_mixture_sample",
    oracle=f"""
    WITH cuts AS (
      SELECT doc_id, source,
             CASE WHEN substr(md5(cast(doc_id AS VARCHAR)), 1, 4)
                       < {_MIX_CASE}
                  THEN 1 ELSE 0 END AS kept
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS realized_rate
    FROM cuts GROUP BY source
    """,
)
def q94_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture sampling summary: deterministic hash-cut
    membership at source-specific rates, reported as realized rates."""
    cut = None
    for s, r in _MIX_RATES.items():
        branch = cut.when if cut is not None else F.when
        cut = branch(F.col("source") == s, F.lit(_mix_cut(r)))
    cut = cut.otherwise(F.lit(_mix_cut(_MIX_DEFAULT)))
    kept = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < cut,
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        spark.table("documents")
        .select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").alias("n_kept"),
            (F.sum("kept").cast("double") / F.count("*")).alias(
                "realized_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Unigram LM perplexity proxy: score each document by its average
# negative log-likelihood under the corpus's own unigram distribution —
# the cheap stand-in for the KenLM-style LM quality filters used on web
# corpora (high NLL = rare-token soup / junk; very low NLL = repetitive
# boilerplate). Plan: ONE token explode feeds both the (broadcast-sized)
# unigram table and the per-doc scoring join; per-token ln() values are
# quantized to 6dp as FLOOR(ln*1e6 + 0.5) integer micros and summed as
# exact BIGINT (the q186 discipline) so the per-doc mean is
# order-independent and engine-identical.
# ---------------------------------------------------------------------------
@query(
    "q95_unigram_nll",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
      SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY 1
    ), scored AS (
      SELECT t.doc_id,
             CAST(FLOOR(ln(f.c / (SELECT COUNT(*) FROM tok)) * 1000000
                        + 0.5) AS BIGINT) AS nmic
      FROM tok t JOIN freq f USING (w)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           -(CAST(SUM(nmic) AS DOUBLE) / 1000000.0) / COUNT(*) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def q95_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus
    unigram LM (natural log, 6dp-rounded per token)."""
    d = spread(spark.table("documents"), by="doc_id")
    tok = d.select("doc_id", F.explode(_words()).alias("w"))
    # r13: fold the token stream to (doc_id, w) COUNTS first and
    # checkpoint THAT — it is the one shared artifact both the unigram
    # table and the scoring join derive from, so the corpus explode
    # runs exactly once (the r12 form checkpointed only the vocab-grain
    # freq table, and the scoring join re-ran the full explode), and
    # the broadcast-join probe side shrinks from token grain to
    # doc-vocab grain. Values identical: a per-token sum of the 6dp
    # nll micros equals the count-weighted sum over distinct
    # (doc, word) pairs, exactly (integer x integer products).
    dw = (
        tok.groupBy("doc_id", "w")
        .agg(F.count("*").alias("cd"))
        .localCheckpoint()
    )
    freq = dw.groupBy("w").agg(
        F.sum("cd").cast("double").alias("c")
    )
    # corpus token total rides the freq aggregate as a lazy broadcast
    # 1-row rollup — a driver-side count() was a full extra scan
    tot = freq.agg(
        F.sum(F.col("c").cast("bigint")).cast("double").alias("__tot")
    )
    # r15 (guide §1.2, the q186/q29 discipline): the 6-dp per-token term
    # used Spark round() (a BigDecimal per row) feeding a decimal(28,6)
    # sum (BigDecimal aggregation buffers) — the scoring join+agg stage
    # was this query's dominant cost. Same 6-dp quantization via
    # FLOOR(ln*1e6 + 0.5) micros (pure FP + long per row), count-weighted
    # and summed as exact int64; ORACLE converted in lockstep to the
    # identical formula. Bit-equal in-envelope: |Σ cd·micros| per doc
    # < 2^53 holds to ~3e8 tokens/doc at |ln| <= 30 (ln of a 1e13-token
    # corpus); verified bit-identical to the OLD round()/decimal oracle
    # at sf0.1 (ties at the 1e-6 grain, where round-half-away and
    # floor(+0.5) could differ on negatives, do not occur on ln()
    # doubles — same empirical check q186 shipped with).
    nmic = F.floor(
        F.log(F.col("c") / F.col("__tot")) * F.lit(1000000.0) + F.lit(0.5)
    )
    return (
        dw.join(F.broadcast(freq.crossJoin(F.broadcast(tot))), "w")
        .select(
            "doc_id",
            "cd",
            (F.col("cd") * nmic).alias("nmicsum"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("cd").cast("bigint").alias("n_tokens"),
            (
                -(F.sum("nmicsum").cast("double") / F.lit(1000000.0))
                / F.sum("cd").cast("double")
            ).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# Leakage-free train/val/test split: the assignment unit is the GROUP
# (here `source`), not the document, so near-duplicate documents that share
# a provenance group can never straddle the split boundary — the
# train/test-contamination rule every pretraining pipeline needs. The
# assignment is a pure hash of the group key (md5-hex prefix, the q77
# engine-portable idiom): deterministic across engines, retries and
# cluster sizes, no shuffle beyond the final stats aggregation, and the
# ~80/10/10 ratio holds in expectation for any group cardinality.
# At 100 TB: one narrow projection + one partial-agg shuffle on 3 keys.
# ---------------------------------------------------------------------------
_SPLIT_CASE_SQL = """
    CASE WHEN substr(md5(source), 1, 2) <= 'cb' THEN 'train'
         WHEN substr(md5(source), 1, 2) <= 'e5' THEN 'val'
         ELSE 'test' END
"""


@query(
    "q101_split_assign",
    oracle=f"""
    SELECT {_SPLIT_CASE_SQL} AS split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_groups,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
)
def q101_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-hash split assignment (train ≤ 0xcb/0xff ≈ 79.7%, val ≤ 0xe5
    ≈ 10.2%, else test) + per-split corpus stats."""
    d = spark.table("documents")
    split = (
        F.when(F.substring(F.md5("source"), 1, 2) <= "cb", "train")
        .when(F.substring(F.md5("source"), 1, 2) <= "e5", "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "source", "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_groups"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Presto approx_most_frequent parity: distributed SpaceSaving top-k tokens
# (operators/frequent.py). capacity=8192 far exceeds the fixture vocabulary,
# so the synopsis is lossless here and the plain GROUP BY oracle certifies
# the full pipeline (mapInPandas synopsis → merge → top-k) bit-for-bit;
# at 100 TB the same plan holds bounded memory by evicting cold tokens.
# ---------------------------------------------------------------------------
@query(
    "q102_approx_most_frequent",
    oracle="""
    SELECT w AS value, CAST(COUNT(*) AS BIGINT) AS est_count
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    GROUP BY w
    ORDER BY est_count DESC, value ASC
    LIMIT 15
    """,
    scale_note=(
        "synopsis is exact only while per-partition distinct values fit "
        "capacity; beyond that counts undercount within the SpaceSaving "
        "bound (documented in operators/frequent.py)"
    ),
)
def q102_approx_most_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 tokens by SpaceSaving estimated count (deterministic
    count-desc/value-asc tie-break)."""
    from pandas_td_spark.operators.frequent import approx_most_frequent

    d = spark.table("documents")
    tokens = d.select(F.explode(_words()).alias("w"))
    return approx_most_frequent(tokens, "w", k=15, capacity=8192)


# ---------------------------------------------------------------------------
# Pretraining sequence packing (concatenate-then-chunk): documents are
# concatenated in a deterministic order and sliced into fixed token
# windows; each doc records its token span and the chunk range it lands
# in. Packing is PER SOURCE (partitionBy source) — the sharded form every
# real pipeline uses, because a single global running sum would serialize
# into one task. At 100 TB: one shuffle on source, one sorted window pass
# per shard, constant state. Skewed sources are the risk; mitigate by
# sub-sharding the hot source key upstream (operators/skew.py).
# ---------------------------------------------------------------------------
_PACK_C = 256  # tokens per packed context window


@query(
    "q103_sequence_pack",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), run AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM tok
    )
    SELECT doc_id, source, n_tokens,
           -- DuckDB window SUM(BIGINT) is HUGEINT; uncast arithmetic on it
           -- canonicalizes to float64 and hash-mismatches Spark's bigint
           -- (same class as q41's round-trip). Pin the width explicitly.
           CAST(cum - n_tokens AS BIGINT) AS start_offset,
           CAST(floor((cum - n_tokens) / {_PACK_C}) AS BIGINT) AS first_chunk,
           CAST(floor((cum - 1) / {_PACK_C}) AS BIGINT) AS last_chunk
    FROM run
    """,
)
def q103_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-span assignment for concatenate-then-chunk packing
    (C=256 tokens, ``_PACK_C``): per-source running token offsets and
    the first/last chunk index each document occupies."""
    d = spark.table("documents")
    tok = d.select(
        "doc_id",
        "source",
        F.size(_words()).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = tok.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return run.select(
        "doc_id",
        "source",
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / _PACK_C).cast("bigint").alias("first_chunk"),
        F.floor((F.col("cum") - 1) / _PACK_C).cast("bigint").alias("last_chunk"),
    )


# ---------------------------------------------------------------------------
# CCNet-style quality bucketing: per-language head/middle/tail thirds by
# unigram-LM NLL (lower = closer to the LM = "head"). Reuses q95's exact
# decimal NLL so the scores are engine-identical; the bucket boundary is
# percent_rank (deterministic under ties). One extra window shuffle on
# lang over the one-row-per-doc aggregate — negligible at any scale.
# ---------------------------------------------------------------------------
@query(
    "q104_ccnet_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
      SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY w
    ), scored AS (
      SELECT t.doc_id,
             CAST(-round(ln(f.c / (SELECT COUNT(*) FROM tok)), 6)
                  AS DECIMAL(28,6)) AS nll
      FROM tok t JOIN freq f USING (w)
    ), per_doc AS (
      SELECT d.doc_id, d.lang,
             CAST(SUM(s.nll) AS DOUBLE) / COUNT(*) AS avg_nll
      FROM scored s JOIN documents d USING (doc_id)
      GROUP BY d.doc_id, d.lang
    ), ranked AS (
      SELECT doc_id, lang, avg_nll,
             percent_rank() OVER (PARTITION BY lang ORDER BY avg_nll) AS pr
      FROM per_doc
    )
    SELECT lang,
           CASE WHEN pr < 1.0/3 THEN 'head'
                WHEN pr < 2.0/3 THEN 'middle' ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(avg_nll AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), 10) AS mean_nll
    FROM ranked
    GROUP BY 1, 2
    """,
)
def q104_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/middle/tail language-model quality buckets per language with
    per-bucket doc counts and mean NLL."""
    d = spark.table("documents")
    tok = d.select("doc_id", F.explode(_words()).alias("w"))
    freq = tok.groupBy("w").agg(F.count("*").cast("double").alias("c"))
    # lazy broadcast token total (q95's rationale: no extra explode scan)
    tot = freq.agg(
        F.sum(F.col("c").cast("bigint")).cast("double").alias("__tot")
    )
    nll = (
        -F.round(F.log(F.col("c") / F.col("__tot")), 6)
    ).cast("decimal(28,6)")
    per_doc = (
        tok.join(F.broadcast(freq.crossJoin(F.broadcast(tot))), "w")
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg((F.sum("nll").cast("double") / F.count("*")).alias("avg_nll"))
        .join(d.select("doc_id", "lang"), "doc_id")
    )
    pr = F.percent_rank().over(Window.partitionBy("lang").orderBy("avg_nll"))
    bucket = (
        F.when(pr < 1.0 / 3, "head")
        .when(pr < 2.0 / 3, "middle")
        .otherwise("tail")
    )
    return (
        per_doc.select("lang", "avg_nll", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            # decimal-summed then 10dp-rounded: double summation order
            # differs across engines by 1 ulp (q29 discipline)
            F.round(
                F.sum(F.col("avg_nll").cast("decimal(28,12)")).cast("double")
                / F.count("*"),
                10,
            ).alias("mean_nll"),
        )
    )


# ---------------------------------------------------------------------------
# Full Gopher quality-rule verdict (Rae et al. 2021, public thresholds,
# restricted to rules applicable to the single-line fixture text): word
# count in [50, 100k], mean word length in [3, 10], top {2,3,4}-gram mass
# fractions <= {0.20, 0.18, 0.16}, duplicate 5-gram occurrence fraction
# <= 0.15, >= 80% alphabetic words, >= 2 stopwords. One boolean per rule
# plus the conjunction — the actual removal gate, where q85 reports raw
# signals. Plan: the word array is computed once; each n-gram statistic is
# explode → per-(doc, gram) partial agg → per-doc agg (map-side combine
# collapses repeats before every shuffle); the five statistic branches
# join back on doc_id, all one-row-per-doc.
# ---------------------------------------------------------------------------
_GOPHER_STOP = "('the','be','to','of','and','that','have','with')"


def _topfrac_sql(n: int) -> str:
    parts = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
    return f"""
    SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS frac
    FROM (
      SELECT doc_id, g, COUNT(*) AS c FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws) - {n - 2}),
                                     i -> {parts})) AS g
        FROM t WHERE len(ws) >= {n}
      ) GROUP BY 1, 2
    ) GROUP BY 1
    """


@query(
    "q108_gopher_verdict",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), base AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(len(array_to_string(ws, '')) AS DOUBLE) / len(ws)
               AS mean_word_len,
             CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
                  AS DOUBLE) / len(ws) AS alpha_word_frac,
             CAST(len(list_filter(ws, w -> lower(w) IN {_GOPHER_STOP}))
                  AS BIGINT) AS n_stopwords
      FROM t
    ), tf2 AS ({_topfrac_sql(2)}), tf3 AS ({_topfrac_sql(3)}),
       tf4 AS ({_topfrac_sql(4)}),
    dup5 AS (
      SELECT doc_id,
             1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS frac
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws) - 3),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                      ws[i+3] || ' ' || ws[i+4])) AS g
        FROM t WHERE len(ws) >= 5
      ) GROUP BY 1
    )
    SELECT b.doc_id,
           b.n_words BETWEEN 50 AND 100000 AS ok_word_count,
           b.mean_word_len BETWEEN 3 AND 10 AS ok_mean_word_len,
           COALESCE(tf2.frac, 0) <= 0.20 AS ok_top_bigram,
           COALESCE(tf3.frac, 0) <= 0.18 AS ok_top_trigram,
           COALESCE(tf4.frac, 0) <= 0.16 AS ok_top_fourgram,
           COALESCE(dup5.frac, 0) <= 0.15 AS ok_dup_fivegram,
           b.alpha_word_frac >= 0.80 AS ok_alpha_words,
           b.n_stopwords >= 2 AS ok_stopwords,
           (b.n_words BETWEEN 50 AND 100000)
             AND (b.mean_word_len BETWEEN 3 AND 10)
             AND COALESCE(tf2.frac, 0) <= 0.20
             AND COALESCE(tf3.frac, 0) <= 0.18
             AND COALESCE(tf4.frac, 0) <= 0.16
             AND COALESCE(dup5.frac, 0) <= 0.15
             AND b.alpha_word_frac >= 0.80
             AND b.n_stopwords >= 2 AS keep
    FROM base b
    LEFT JOIN tf2 USING (doc_id) LEFT JOIN tf3 USING (doc_id)
    LEFT JOIN tf4 USING (doc_id) LEFT JOIN dup5 USING (doc_id)
    """,
)
def q108_gopher_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule booleans + the conjunction keep flag.

    CLOSED AT FLOOR (r11). Five variants have now been A/B'd across
    rounds 7-11 (tools/ab_q108.py, warm = min of runs 2-3 at sf0.1):
    row-local _gram_stats (this form) ~1.19 s, single-explode tagged
    partial-agg ~1.16-1.20 s, hashed row-local ~2.9 s, hashed-exploded
    ~1.47 s, fraction-direct ~1.84 s. The tagged-explode's occasional
    ~3% warm edge costs two O(corpus-tokens) shuffles this zero-shuffle
    form doesn't have — wrong trade at any scale above the fixture. The
    floor decomposition (scan+split 0.11 s + base stats 0.22 s + 4 x
    ~0.25 s vectorized run-length passes, one per gram size) is
    irreducible without dropping a gram size; the plan is map-only and
    scales with cores, so the remaining gap to DuckDB's single-process
    0.34 s is a fixed local constant, not a scale risk."""
    d = spread(spark.table("documents"), by="doc_id")
    # All four repetition statistics are per-document fractions, so they
    # run ROW-LOCALLY via the _gram_stats run-length scan — no explode,
    # no (doc, gram) shuffle, no join back: the whole query is one
    # zero-shuffle projection. Counts stay exact bigints, so every
    # fraction matches the exploded form bit-for-bit; short docs (empty
    # gram arrays) hit the tot == 0 branch, reproducing the old
    # left-join-then-fillna(0.0) semantics.
    #
    # r15 construction cost: the Column-API form of this projection made
    # ~4200 py4j round-trips (0.63 s per run, measured — mostly the 14
    # higher-order lambdas at ~27 ms each), more than the query's
    # executor time. The SAME expression trees are now composed as SQL
    # strings (pure Python) and parsed JVM-side in three selectExpr
    # calls; float literals carry the D suffix so they stay DOUBLE
    # exactly like Python-float literals did. Plan-identical
    # (plans/r15/q108_*), bit-identical output (exceptAll both ways),
    # oracle-green at sf0.001/0.01/0.1.
    def _frac_sql(n: int) -> str:
        top = f"CAST(__s{n}.mx AS DOUBLE) / CAST(__s{n}.tot AS DOUBLE)"
        dup = f"1.0D - CAST(__s{n}.nd AS DOUBLE) / CAST(__s{n}.tot AS DOUBLE)"
        inner = dup if n == 5 else top
        return (
            f"CASE WHEN __s{n}.tot > 0 THEN {inner} ELSE 0.0D END AS f{n}"
        )

    stop_sql = "('the','be','to','of','and','that','have','with')"
    j = d.selectExpr(
        "doc_id",
        f"CAST(size({_WS_SQL}) AS BIGINT) AS n_words",
        f"CAST(length(array_join({_WS_SQL}, '')) AS DOUBLE)"
        f" / size({_WS_SQL}) AS mean_word_len",
        f"CAST(size(filter({_WS_SQL}, x -> x RLIKE '[a-zA-Z]')) AS DOUBLE)"
        f" / size({_WS_SQL}) AS alpha_word_frac",
        f"CAST(size(filter({_WS_SQL}, x -> lower(x) IN {stop_sql}))"
        f" AS BIGINT) AS n_stopwords",
        *[
            f"{_gram_stats_sql(_ngrams_sql(n))} AS __s{n}"
            for n in (2, 3, 4, 5)
        ],
    ).selectExpr(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_word_frac",
        "n_stopwords",
        *[_frac_sql(n) for n in (2, 3, 4, 5)],
    )
    rules = {
        "ok_word_count": "n_words BETWEEN 50 AND 100000",
        "ok_mean_word_len": "mean_word_len BETWEEN 3 AND 10",
        "ok_top_bigram": "f2 <= 0.20D",
        "ok_top_trigram": "f3 <= 0.18D",
        "ok_top_fourgram": "f4 <= 0.16D",
        "ok_dup_fivegram": "f5 <= 0.15D",
        "ok_alpha_words": "alpha_word_frac >= 0.80D",
        "ok_stopwords": "n_stopwords >= 2",
    }
    keep = " AND ".join(f"({c})" for c in rules.values())
    return j.selectExpr(
        "doc_id",
        *[f"{c} AS {name}" for name, c in rules.items()],
        f"{keep} AS keep",
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. NeurIPS 2023) — select raw docs
# that look like a target domain via hashed-n-gram importance weights
# (operators/dsir.py). Bucket hashing is xxhash64 → not oracle-expressible;
# enrichment/determinism properties pinned in tests/test_curation.py.
# ---------------------------------------------------------------------------
def _dsir_weights_cached(spark: SparkSession) -> DataFrame:
    """q117's importance-weight table, MEMOIZED per (session, registered
    fixture dir) and localCheckpointed — the doc-grain feature/model
    table the DSIR module docstring says a production pipeline persists
    (featurization + two 1024-bucket fits); the resample step stays
    per-call."""
    from pandas_td_spark.operators.dsir import dsir_weights

    def build():
        d = spark.table("documents")
        target = d.where(
            (F.col("lang") == "en") & (F.col("doc_id") % 5 == 0)
        )
        return dsir_weights(d, target).localCheckpoint()

    return memo(spark, "dsir_weights", build)


# Oracle-backed since r10: bucket and Gumbel hashing use the seeded-md5
# discipline, the per-bucket log-ratio is rounded to 9 dp before the
# exact decimal scoring sum (so ln() ulp differences can't reach the
# weights), and the SQL below replays featurization, both smoothed
# fits, scoring, and the Gumbel top-150 verbatim.
_DSIR_M = 1 << 40
_Q117_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, lang,
         unnest(t || list_transform(range(1, len(t)),
                                    i -> t[i] || ' ' || t[i+1])) AS g
  FROM base
), bx AS (
  SELECT doc_id, lang,
         (('0x' || substring(md5('23:' || g), 1, 15))::BIGINT % 1024)
           AS bucket
  FROM grams
), spine AS (SELECT unnest(range(1024)) AS bucket),
tcnt AS (
  SELECT bucket, COUNT(*) AS n FROM bx
  WHERE lang = 'en' AND doc_id % 5 = 0 GROUP BY bucket
), ttot AS (SELECT CAST(COALESCE(SUM(n), 0) AS DOUBLE) AS tot FROM tcnt),
p AS (
  SELECT spine.bucket,
         ln((COALESCE(tcnt.n, 0) + 0.5) / (ttot.tot + 512.0)) AS logp
  FROM spine LEFT JOIN tcnt USING (bucket) CROSS JOIN ttot
), rcnt AS (
  SELECT doc_id, bucket, COUNT(*) AS cnt FROM bx GROUP BY 1, 2
), qcnt AS (SELECT bucket, SUM(cnt) AS n FROM rcnt GROUP BY bucket),
qtot AS (SELECT CAST(COALESCE(SUM(n), 0) AS DOUBLE) AS tot FROM qcnt),
q AS (
  SELECT spine.bucket,
         ln((COALESCE(qcnt.n, 0) + 0.5) / (qtot.tot + 512.0)) AS logq
  FROM spine LEFT JOIN qcnt USING (bucket) CROSS JOIN qtot
), ratio AS (
  SELECT p.bucket, ROUND(p.logp - q.logq, 9) AS llr
  FROM p JOIN q USING (bucket)
), scored AS (
  SELECT r.doc_id,
         CAST(SUM(CAST(llr AS DECIMAL(28,9)) * CAST(cnt AS DECIMAL(9,0)))
              AS DOUBLE) AS log_weight
  FROM rcnt r JOIN ratio USING (bucket) GROUP BY 1
), wts AS (
  SELECT d.doc_id, COALESCE(s.log_weight, 0.0) AS log_weight
  FROM documents d LEFT JOIN scored s USING (doc_id)
), keyed AS (
  SELECT doc_id, log_weight,
         log_weight + ROUND(-ln(-ln(
           ((('0x' || substring(md5('gum24:' || CAST(doc_id AS VARCHAR)),
               1, 15))::BIGINT % {_DSIR_M}) + 1) / {float(_DSIR_M + 2)!r}
         )), 9) AS gk
  FROM wts
)
SELECT doc_id, log_weight, ROUND(gk, 9) AS gumbel_key
FROM keyed ORDER BY gk DESC, doc_id LIMIT 150
"""


@query(
    "q117_dsir_select",
    oracle=_Q117_ORACLE,
    scale_note=(
        "one token explode, two 1024-bucket broadcast model tables, "
        "TakeOrdered final — no quadratic stage; the oracle replays the "
        "identical seeded-md5 featurization and Gumbel draw"
    ),
)
def q117_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-150 Gumbel importance resample of documents toward an
    English-subset target distribution: one token explode, two
    1024-bucket broadcast distribution tables, TakeOrdered final —
    no quadratic stage at any corpus size. The weight table is memoized
    per fixture (model state, the BPE-merge precedent)."""
    from pandas_td_spark.operators.dsir import dsir_select

    d = spark.table("documents")
    target = d.where((F.col("lang") == "en") & (F.col("doc_id") % 5 == 0))
    return dsir_select(
        d, target, k=150, weights=_dsir_weights_cached(spark)
    )


# ---------------------------------------------------------------------------
# Training-shard assignment — the deterministic corpus shuffle every
# pretraining pipeline needs: a seeded content hash picks the shard AND
# the within-shard order, so re-running the pipeline (or adding machines)
# reproduces byte-identical shards. No global sort: each shard orders
# independently inside its own hash partition.
# ---------------------------------------------------------------------------
_SHARD_SEED = "shard-seed-42:"
_N_SHARDS = 8


@query(
    "q127_corpus_shard",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id,
             ('0x' || substring(
                md5('{_SHARD_SEED}' || CAST(doc_id AS VARCHAR)), 1, 15)
             )::BIGINT AS h
      FROM documents
    )
    SELECT doc_id, CAST(h % {_N_SHARDS} AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY h % {_N_SHARDS}
                                   ORDER BY h, doc_id) AS BIGINT) AS pos
    FROM hashed
    """,
)
def q127_corpus_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded md5 shard + position assignment: one shuffle on the shard
    id, per-shard sort bounded by shard size (corpus/n_shards)."""
    d = spark.table("documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(_SHARD_SEED), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    hashed = d.select("doc_id", h.alias("h")).withColumn(
        "shard", F.pmod(F.col("h"), F.lit(_N_SHARDS)).cast("bigint")
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return hashed.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


# ---------------------------------------------------------------------------
# Memorization risk — per-document n-gram novelty: what fraction of a
# doc's word 8-grams also occur in at least one OTHER document. The
# corpus-wide document-frequency join is the workhorse (explode → df
# count → join back on one reused exchange); r8: shingles are hashed to
# 64 bits BEFORE the exchange so the shuffle moves fixed-width keys
# instead of ~50-byte 8-gram strings — at 100 TB that is the dominant
# exchange-volume term. (64-bit collisions: ~n_distinct^2/2^65 — ~1e-10
# at 1e7 distinct shingles; the exact-string form is the oracle.)
# ---------------------------------------------------------------------------
@query(
    "q128_ngram_novelty",
    oracle="""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 6, 1)),
               i -> array_to_string((string_split(text, ' '))[i:i+7], ' '))))
             AS s
      FROM documents
    ), df AS (
      SELECT s, COUNT(*) AS n_docs FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           ROUND(AVG(CASE WHEN df.n_docs > 1 THEN 1.0 ELSE 0.0 END), 6)
             AS dup_frac
    FROM sh JOIN df USING (s)
    GROUP BY sh.doc_id
    """,
)
def q128_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each doc's distinct word 8-grams shared with another
    doc — the pretraining dedup/memorization diagnostic."""
    d = spread(spark.table("documents"), by="doc_id")
    words = F.split("text", " ")
    # 8-grams via the shingle_array-style lookahead regex (one pass over
    # the text) with the positional transform+slice form kept as the
    # fallback for texts with empty tokens, where `[^ ]+` and split()
    # disagree — same guard, same arms, same gram strings as
    # operators/dedup.shingle_array. A/B at sf0.1: gram+hash stage
    # 0.248 -> 0.176 s median, row-identical.
    positional = F.transform(
        F.sequence(F.lit(1), F.size(words) - 7),
        lambda i: F.concat_ws(" ", F.slice(words, i, 8)),
    )
    fast = F.regexp_extract_all(
        F.col("text"),
        F.lit("(?<=^| )(?=(" + " ".join(["[^ ]+"] * 8) + "))"),
        F.lit(1),
    )
    shingles = F.when(
        F.size(words) >= 8,
        F.when(F.col("text").rlike("(^| )( |$)"), positional).otherwise(
            fast
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("__s")
    ).select("doc_id", F.xxhash64("__s").alias("s"))
    # ONE shuffle total: the document frequency each (doc, shingle) pair
    # needs is just count(*) over a whole-partition window on s — the
    # same exchange the aggregate+join-back formulation pays FIRST of
    # two, with no join after it. r9 A/B at sf0.1: window 0.74 s warm /
    # 1.34 cold vs agg+ReusedExchange+SMJ 0.96/4.0; at 10x data the
    # window plan is 1.3 s warm (ratio ~1.7 vs the join plan's 4.2 —
    # the SMJ's sort and row growth were the superlinear term). Skew
    # bound: a hot shingle concentrates its copies in one window
    # partition, but that identical concentration existed on the join's
    # build side; per-key state is one count either way. (An earlier
    # "join only the df>1 subset via broadcast" variant was rejected:
    # the broadcast probe broke exchange reuse and recomputed the
    # transform — 3.6 s. An r10 "no-sort" variant — groupBy(s) with
    # min(doc_id) attributing df==1 shingles back to their only owner,
    # so no window/sort and no join-back — also lost: it needs the
    # shingle pipeline evaluated twice (row-local n_shingles + the
    # explode), measured 1.67 s/2.95 s warm at 1x/10x vs this form's
    # 0.69/1.56; the sort on 8-byte keys is cheaper than a second
    # transform pass.)
    #
    # 10x-ratio CLOSED (r11, third rejected variant): hashing the 8
    # tokens directly — xxhash64(element_at(w,i)..element_at(w,i+7))
    # inside the transform, no string allocation — measured 1.16/5.0 s
    # at 1x/10x vs this form's 0.74/2.0 in the same session (8
    # bounds-checked element_at calls per shingle cost more than one
    # slice+concat+hash). The scale fit t ~= 0.42 + 0.114x decomposes
    # as: job floor 0.09 s + scan/split/shingle-build map phase 0.35 s
    # at 1x (latency-bound on 32 underfilled cores — it fills, not
    # grows, with data) + the genuinely linear exchange/window/agg
    # term. Cutting the 10x ratio under 2.5 needs a ~26% smaller
    # per-row term; three variants failed to find one, and 2.96 on 10x
    # data is comfortably sublinear — this is the intended shape.
    n_docs = F.count("*").over(Window.partitionBy("s"))
    return (
        sh.withColumn("n_docs", n_docs)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.round(
                F.avg((F.col("n_docs") > 1).cast("double")), 6
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two retrievers (L3f) — the standard hybrid-
# search combiner: BM25 and TF-IDF each rank the corpus for the same
# term set; RRF(doc) = sum over lists of 1/(60 + rank). One token
# explode feeds BOTH scorers (tf, df, dl are shared aggregates); the
# fused list needs only a (term, doc) outer join of two tiny top-20
# frames — at 100 TB the corpus is touched once regardless of how many
# retrievers are fused.
# ---------------------------------------------------------------------------
_RRF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY 1
), stats AS (
  SELECT AVG(dl) AS avgdl, (SELECT COUNT(*) FROM documents) AS n_docs
  FROM dl
), tf AS (
  SELECT doc_id, w AS term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM tok WHERE w IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2
), dft AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM tf GROUP BY 1
), bm25 AS (
  SELECT term, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY term ORDER BY
           (round(ln(1.0 + ((s.n_docs - dft.df) + 0.5) / (dft.df + 0.5)), 6)
            * (tf.tf * 2.2))
           / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))) DESC,
           doc_id) AS BIGINT) AS r_bm25
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
), tfidf AS (
  SELECT term, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY term ORDER BY
           tf.tf * round(ln(s.n_docs / dft.df), 6) DESC,
           doc_id) AS BIGINT) AS r_tfidf
  FROM tf JOIN dft USING (term) CROSS JOIN stats s
), fused AS (
  SELECT COALESCE(b.term, t.term) AS term,
         COALESCE(b.doc_id, t.doc_id) AS doc_id,
         COALESCE(1.0 / (60 + b.r_bm25), 0.0)
           + COALESCE(1.0 / (60 + t.r_tfidf), 0.0) AS rrf
  FROM (SELECT * FROM bm25 WHERE r_bm25 <= 20) b
  FULL OUTER JOIN (SELECT * FROM tfidf WHERE r_tfidf <= 20) t
    ON b.term = t.term AND b.doc_id = t.doc_id
)
SELECT term, doc_id, ROUND(rrf, 6) AS rrf, rnk FROM (
  SELECT term, doc_id, rrf,
         CAST(ROW_NUMBER() OVER (PARTITION BY term
                                 ORDER BY rrf DESC, doc_id) AS BIGINT)
           AS rnk
  FROM fused
) WHERE rnk <= 10
"""


@query("q180_rrf_fusion", oracle=_RRF_ORACLE)
def q180_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 and TF-IDF rankings per query term fused
    with reciprocal-rank fusion (k=60), top-10 per term. Ranks (not
    scores) cross the fusion boundary, so the two scorers' float scales
    never mix — only the shared 6dp-rounded ln() needs cross-engine
    care."""
    d = spark.table("documents")
    tok = d.select("doc_id", F.explode(_words()).alias("w"))
    # NOTE: localCheckpoints of dl/tf/ranked were A/B-tested here and
    # REVERTED: at sf0.1 the three serialized materialization jobs cost
    # more than the recomputed explodes they save (0.99 -> 1.2 s warm);
    # the lazy form keeps all branches in one job's parallel stages.
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    # corpus size rides as a lazy broadcast 1-row aggregate — a
    # driver-side d.count() was an extra action + scan per call
    ndf = d.agg(F.count("*").cast("double").alias("n_docs"))
    stats = dl.agg(F.avg("dl").alias("avgdl"))
    tf = (
        tok.where(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", F.col("w").alias("term"))
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dft = tf.groupBy("term").agg(
        F.count_distinct("doc_id").cast("double").alias("df")
    )
    idf_bm25 = F.round(
        F.log(
            F.lit(1.0)
            + ((F.col("n_docs") - F.col("df")) + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    bm25_score = (idf_bm25 * (F.col("tf") * F.lit(2.2))) / (
        F.col("tf")
        + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (F.col("dl") / F.col("avgdl")))
    )
    tfidf_score = F.col("tf") * F.round(
        F.log(F.col("n_docs") / F.col("df")), 6
    )
    scored = (
        tf.join(F.broadcast(dft), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(ndf))
        .select(
            "term",
            "doc_id",
            bm25_score.alias("s_bm25"),
            tfidf_score.alias("s_tfidf"),
        )
    )
    wb = Window.partitionBy("term").orderBy(F.col("s_bm25").desc(), "doc_id")
    wt = Window.partitionBy("term").orderBy(F.col("s_tfidf").desc(), "doc_id")
    ranked = scored.select(
        "term",
        "doc_id",
        F.row_number().over(wb).cast("bigint").alias("r_bm25"),
        F.row_number().over(wt).cast("bigint").alias("r_tfidf"),
    )
    top_b = ranked.where(F.col("r_bm25") <= 20).select(
        "term", "doc_id", "r_bm25"
    )
    top_t = ranked.where(F.col("r_tfidf") <= 20).select(
        "term", "doc_id", "r_tfidf"
    )
    fused = top_b.join(top_t, ["term", "doc_id"], "full_outer").select(
        "term",
        "doc_id",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(60) + F.col("r_bm25")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(60) + F.col("r_tfidf")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    wf = Window.partitionBy("term").orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn(
            "rnk", F.row_number().over(wf).cast("bigint")
        )
        .where(F.col("rnk") <= 10)
        .select("term", "doc_id", F.round("rrf", 6).alias("rrf"), "rnk")
    )


# ---------------------------------------------------------------------------
# Word-distribution entropy (L4k) — Shannon entropy of each document's
# word-frequency distribution, the classic gibberish/boilerplate
# detector (low entropy = repeated tokens, high = diverse vocabulary).
# Per-term contributions p*ln(p) are rounded to 12dp and summed in
# DECIMAL so the sum is order-insensitive; ln() itself rounds to 6dp
# per the cross-engine ulp discipline.
# ---------------------------------------------------------------------------
@query(
    "q181_word_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), wc AS (
      SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS c
      FROM tok GROUP BY 1, 2
    ), tot AS (
      SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_distinct
      FROM wc GROUP BY 1
    )
    SELECT wc.doc_id,
           CAST(tot.n AS BIGINT) AS n_words,
           tot.n_distinct,
           ROUND(-CAST(SUM(CAST(round((wc.c / tot.n)
                     * round(ln(wc.c / tot.n), 6), 12)
                   AS DECIMAL(28,12))) AS DOUBLE), 6) AS entropy
    FROM wc JOIN tot USING (doc_id)
    GROUP BY wc.doc_id, tot.n, tot.n_distinct
    """,
)
def q181_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy (nats) over the word distribution,
    plus word/type counts. One explode, two hash aggregates (word grain
    then doc grain) — no windows, no self-joins."""
    d = spark.table("documents")
    wc = (
        d.select("doc_id", F.explode(_words()).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("double").alias("c"))
    )
    tot = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    p = F.col("c") / F.col("n")
    contrib = F.round(p * F.round(F.log(p), 6), 12).cast("decimal(28,12)")
    return (
        wc.join(tot, "doc_id")
        .groupBy(
            "doc_id",
            F.col("n").cast("bigint").alias("n_words"),
            "n_distinct",
        )
        .agg(
            F.round(-F.sum(contrib).cast("double"), 6).alias("entropy")
        )
    )


# ---------------------------------------------------------------------------
# Quantile normalization across sources (L4o) — re-express each
# source's document-length distribution on the GLOBAL length
# distribution (the cross-corpus calibration step before mixing
# heterogeneous sources). Rank mapping is pure integer arithmetic:
# source rank r of n_src maps to global rank ((r-1)*(N-1))//(n_src-1)+1
# — no interpolation doubles anywhere. The global rank is a single
# total-order window here; at 100 TB it becomes a range-partitioned
# sort (the q143 sorted-export discipline) with identical semantics.
# ---------------------------------------------------------------------------
@query(
    "q205_quantile_normalization",
    oracle="""
    WITH s AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n_src
      FROM documents
    ), g AS (
      SELECT n_chars AS norm_chars,
             row_number() OVER (ORDER BY n_chars, doc_id) AS gr
      FROM documents
    ), n AS (SELECT COUNT(*) AS nt FROM documents),
    mapped AS (
      SELECT s.doc_id, s.source, s.n_chars,
             CASE WHEN s.n_src = 1 THEN (n.nt + 1) // 2
                  ELSE ((s.r - 1) * (n.nt - 1)) // (s.n_src - 1) + 1
             END AS gi
      FROM s CROSS JOIN n
    )
    SELECT m.doc_id, m.source, m.n_chars,
           CAST(g.norm_chars AS BIGINT) AS norm_chars
    FROM mapped m JOIN g ON g.gr = m.gi
    """,
)
def q205_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document lengths quantile-normalized onto the global
    length distribution (integer rank mapping, deterministic ties)."""
    from pyspark.sql import Window

    d = spark.table("documents")
    s = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("r"),
        F.count("*").over(Window.partitionBy("source")).alias("n_src"),
    )
    # global length ranks run DISTRIBUTED (doc grain is fact-sized at
    # warehouse scale; the per-source ranks above are fine — partitioned)
    from pandas_td_spark.operators.ranking import with_global_row_number

    # fully lazy: rank and doc count are both in-plan (the count joins
    # in as a broadcast 1-row aggregate) — no driver-side actions
    g = with_global_row_number(
        d.select(F.col("n_chars").alias("norm_chars"), "doc_id"),
        ["norm_chars", "doc_id"],
        out="gr",
    ).select("norm_chars", "gr")
    nt = F.broadcast(
        d.agg(F.count("*").cast("bigint").alias("__nt"))
    )
    mapped = s.crossJoin(nt).select(
        "doc_id",
        "source",
        "n_chars",
        # Exact integer division (SQL `div` over decimal(38,0)) matching
        # the oracle's `//`: the double path floor(a*b / c) is inexact
        # once (r-1)*(nt-1) exceeds 2^53 (~1e8 docs), and decimal keeps
        # the product exact even past int64 (~3e9 docs).
        F.when(
            F.col("n_src") == 1, F.expr("(__nt + 1) div 2").cast("bigint")
        ).otherwise(
            F.expr(
                "(CAST(r - 1 AS DECIMAL(38,0))"
                " * CAST(__nt - 1 AS DECIMAL(38,0)))"
                " div CAST(n_src - 1 AS DECIMAL(38,0)) + 1"
            )
        ).alias("gi"),
    )
    return mapped.join(g, mapped.gi == g.gr).select(
        "doc_id",
        "source",
        "n_chars",
        F.col("norm_chars").cast("bigint").alias("norm_chars"),
    )


# ---------------------------------------------------------------------------
# Filter threshold yield curve (L4q) — for each decile cutoff of the
# doc-length distribution, how many documents and tokens a min-length
# filter would keep: the tuning table every curation pipeline builds
# before committing a threshold. Everything runs at the DISTINCT-VALUE
# grain (two cumulative windows over ~|values| rows); threshold
# selection is integer cross-multiplication on ranks, never a
# percentile interpolation.
# ---------------------------------------------------------------------------
@query(
    "q210_yield_curve",
    oracle="""
    WITH doc AS (
      SELECT n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), cells AS (
      SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(n_tokens) AS BIGINT) AS tok
      FROM doc GROUP BY n_chars
    ), cum AS (
      SELECT n_chars, cnt, tok,
             SUM(cnt) OVER (ORDER BY n_chars) AS cum_le,
             SUM(cnt) OVER (ORDER BY n_chars DESC) AS docs_ge,
             SUM(tok) OVER (ORDER BY n_chars DESC) AS toks_ge,
             SUM(cnt) OVER () AS n
      FROM cells
    ), thr AS (
      SELECT i.decile, MIN(c.n_chars) AS threshold
      FROM (SELECT unnest(range(1, 10)) AS decile) i
      JOIN cum c ON c.cum_le * 10 >= c.n * i.decile
      GROUP BY i.decile
    )
    SELECT t.decile, CAST(t.threshold AS BIGINT) AS threshold,
           CAST(c.docs_ge AS BIGINT) AS docs_kept,
           CAST(c.toks_ge AS BIGINT) AS tokens_kept,
           CAST(c.docs_ge AS DOUBLE) / c.n AS doc_share
    FROM thr t JOIN cum c ON c.n_chars = t.threshold
    """,
)
def q210_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents/tokens surviving a min-length filter at each decile
    threshold of n_chars."""
    doc = spark.table("documents").select(
        "n_chars", F.size(F.split("text", " ")).cast("bigint").alias(
            "n_tokens"
        )
    )
    cells = doc.groupBy("n_chars").agg(
        F.count("*").alias("cnt"), F.sum("n_tokens").alias("tok")
    )
    cum = cells.select(
        "n_chars",
        F.sum("cnt").over(Window.orderBy("n_chars")).alias("cum_le"),
        F.sum("cnt").over(Window.orderBy(F.desc("n_chars"))).alias(
            "docs_ge"
        ),
        F.sum("tok").over(Window.orderBy(F.desc("n_chars"))).alias(
            "toks_ge"
        ),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    deciles = spark.range(1, 10).select(F.col("id").alias("decile"))
    thr = (
        F.broadcast(deciles)
        .join(cum, cum.cum_le * 10 >= cum.n * F.col("decile"))
        .groupBy("decile")
        .agg(F.min("n_chars").alias("threshold"))
    )
    return (
        thr.join(cum, cum.n_chars == thr.threshold)
        .select(
            "decile",
            F.col("threshold").cast("bigint").alias("threshold"),
            F.col("docs_ge").cast("bigint").alias("docs_kept"),
            F.col("toks_ge").cast("bigint").alias("tokens_kept"),
            (F.col("docs_ge").cast("double") / F.col("n")).alias(
                "doc_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Inter-annotator agreement / Cohen's kappa (A40) — agreement between
# two independent document-quality classifiers (a length rule and a
# stopword-ratio rule) beyond chance: the evaluation primitive for
# judging auto-labelers before trusting them at scale. Confusion counts
# come from ONE scan; kappa is an exact-integer-ratio expression
# ((po - pe) / (1 - pe) with po/pe built from bigint products, all
# < 2^53 — identical doubles both engines).
# ---------------------------------------------------------------------------
@query(
    "q216_cohens_kappa",
    oracle="""
    WITH lab AS (
      SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
             CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN ('the','a','of','to','and','in','is')))
                        AS DOUBLE) / len(string_split(text, ' ')) >= 0.05
                  THEN 1 ELSE 0 END AS b
      FROM documents
    ), cm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a * b) AS BIGINT) AS n11,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM lab
    )
    SELECT n, n11, n10, n01, n00,
           CAST(n11 + n00 AS DOUBLE) / n AS po,
           (CAST((n11 + n10) * (n11 + n01) AS DOUBLE)
            + CAST((n01 + n00) * (n10 + n00) AS DOUBLE)) / (n * n) AS pe,
           (CAST(n11 + n00 AS DOUBLE) / n
            - (CAST((n11 + n10) * (n11 + n01) AS DOUBLE)
               + CAST((n01 + n00) * (n10 + n00) AS DOUBLE)) / (n * n))
           / (1.0 - (CAST((n11 + n10) * (n11 + n01) AS DOUBLE)
               + CAST((n01 + n00) * (n10 + n00) AS DOUBLE)) / (n * n))
             AS kappa
    FROM cm
    """,
)
def q216_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between a length-based and a stopword-based
    quality rule over the documents table."""
    words = F.split("text", " ")
    lab = spark.table("documents").select(
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("a"),
        F.when(
            F.size(F.filter(words, lambda x: x.isin(
                "the", "a", "of", "to", "and", "in", "is"))).cast("double")
            / F.size(words)
            >= 0.05,
            1,
        ).otherwise(0).alias("b"),
    )
    cm = lab.agg(
        F.count("*").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias(
            "n00"
        ),
    )
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n")
    pe = (
        ((F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))).cast(
            "double"
        )
        + ((F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))).cast(
            "double"
        )
    ) / (F.col("n") * F.col("n"))
    return cm.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        po.alias("po"),
        pe.alias("pe"),
        ((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Span-level decontamination (L4r) — q91 flags contaminated documents;
# this produces the CLEANED corpus: every token inside any 5-gram window
# shared with the benchmark set (doc_id < 25) is removed and the
# remaining tokens are rejoined in order (the span-removal variant of
# the train/test-overlap methodology — drop the overlap, keep the doc).
# Plan shape: the benchmark n-gram set broadcasts; the corpus side is
# two explodes (windows, tokens) + a broadcast semi-join + an anti-join
# on removed positions + one ordered collect_list reassembly per doc —
# linear in corpus tokens, no all-pairs anything.
# ---------------------------------------------------------------------------
@query(
    "q236_decontaminate_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), win AS (
      SELECT doc_id, i,
             array_to_string(t[i:i+4], ' ') AS g
      FROM toks, unnest(range(1, greatest(len(t) - 3, 1))) AS u(i)
    ), bench AS (
      SELECT DISTINCT g FROM win WHERE doc_id < 25
    ), contam AS (
      SELECT w.doc_id, w.i FROM win w JOIN bench USING (g)
      WHERE w.doc_id >= 25
    ), removed AS (
      SELECT DISTINCT c.doc_id, c.i + o AS pos
      FROM contam c, unnest(range(0, 5)) AS r(o)
    ), kept AS (
      SELECT tk.doc_id, tk.pos, tk.tok
      FROM (
        SELECT doc_id, t[p.pos] AS tok, p.pos AS pos
        FROM toks, unnest(range(1, len(t) + 1)) AS p(pos)
        WHERE doc_id >= 25
      ) tk
      LEFT JOIN removed r ON r.doc_id = tk.doc_id AND r.pos = tk.pos
      WHERE r.doc_id IS NULL
    ), nrem AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
      FROM removed GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(nrem.n_removed, 0) AS n_removed,
           COALESCE(k.text_clean, '') AS text_clean
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 25) d
    LEFT JOIN nrem USING (doc_id)
    LEFT JOIN (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
      FROM kept GROUP BY doc_id
    ) k USING (doc_id)
    """,
    scale_note=(
        "benchmark n-gram set broadcasts (benchmarks are tiny); corpus "
        "work is explode + broadcast semi-join + ordered reassembly — "
        "one shuffle at doc grain, linear in corpus tokens"
    ),
)
def q236_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove every token covered by a benchmark-shared 5-gram window;
    emit (doc_id, n_removed, text_clean) for the corpus partition.

    Floor decomposition (r13, stage-timed at sf0.1): corpus 5-gram
    explode 0.33-0.38 s, broadcast contamination join +0.15, starts
    aggregate +0.2, doc-grain rebuild join + array HOFs ~0.3 — each a
    separate Spark stage paying its scheduling/codegen slice, summing
    to the measured 0.76-0.96 s against DuckDB's 0.32 s single-process
    run of the same semantics. The bench side prunes to 25 docs below
    the Generate (verified pushdown), the starts frame broadcasts
    (r13 A/B 1.39 vs 1.51), and no stage is quadratic or unpruned —
    the residual 2-3x is the multi-stage floor at this corpus size,
    shrinking as corpus >> stage overhead."""
    d = spark.table("documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    win = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 4, 0)), "
                "i -> struct(i AS i, array_join(slice(t, i, 5), ' ') AS g))"
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.i").alias("i"), F.col("w.g").alias("g"))
    bench = win.where(F.col("doc_id") < 25).select("g").distinct()
    contam = (
        win.where(F.col("doc_id") >= 25)
        .join(F.broadcast(bench), "g")
        .select("doc_id", "i")
    )
    # Span expansion and text rebuild are row-local once the matched
    # window starts are collected per doc, so the token-grain stages of
    # the old plan (sequence-explode + distinct, posexplode + anti-join,
    # collect_list rebuild — three shuffles over every token) collapse
    # into one doc-grain aggregate + one doc-grain join + HOFs:
    # covered = union of [i, i+4], kept = array_except over positions
    # (hash lookup, O(L + R) per row), both inside codegen.
    # the starts frame is bounded by CONTAMINATED docs (sparse by
    # construction — benchmark overlap is the exception, not the rule),
    # so broadcast it rather than shuffling the corpus token arrays to
    # the join (r13 interleaved A/B at sf0.1: 1.39 vs 1.51 s median-of-5;
    # on a corpus where contamination is NOT sparse, drop the hint and
    # let AQE pick the shuffle join)
    starts = F.broadcast(
        contam.groupBy("doc_id").agg(F.collect_set("i").alias("__starts"))
    )
    corpus = d.where(F.col("doc_id") >= 25)
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + 4),
            )
        )
    )
    # sequence(1, 0) yields the DESCENDING [1, 0] (not an empty array), so
    # a zero-token document would feed element_at(t, 0) and throw
    # INVALID_INDEX_OF_ZERO — guard the rebuild so empty docs yield
    # n_removed = 0 and an empty text_clean instead.
    kept_pos = F.when(
        F.size("t") > 0,
        F.array_except(F.sequence(F.lit(1), F.size("t")), F.col("__cov")),
    ).otherwise(F.array().cast("array<int>"))
    return (
        corpus.join(starts, "doc_id", "left")
        .select("doc_id", "t", covered.alias("__cov"))
        .select(
            "doc_id",
            F.size("__cov").cast("bigint").alias("n_removed"),
            F.array_join(
                F.transform(kept_pos, lambda p: F.element_at("t", p)), " "
            ).alias("text_clean"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus budget table (L4s) — the "what is in my dataset" accounting
# every pretraining run starts from: per (source, lang) document and
# whitespace-token counts, corpus share, and the cumulative share in
# descending-size order (the mixture-design input). One partial-agg
# shuffle at (source, lang) grain + a broadcast scalar total + a
# cell-grain window — nothing data-sized crosses the driver.
# ---------------------------------------------------------------------------
@query(
    "q237_corpus_budget",
    oracle="""
    WITH cells AS (
      SELECT source, lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1, 2
    ), tot AS (
      SELECT SUM(n_tokens) AS t FROM cells
    )
    SELECT source, lang, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / t, 6) AS token_share,
           ROUND(CAST(SUM(n_tokens) OVER (
                   ORDER BY n_tokens DESC, source, lang
                 ) AS DOUBLE) / t, 6) AS cum_share
    FROM cells CROSS JOIN tot
    """,
)
def q237_corpus_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) doc/token accounting with corpus share and
    cumulative share in descending-size order."""
    cells = (
        spark.table("documents")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " ")))
            .cast("bigint")
            .alias("n_tokens"),
        )
    )
    tot = F.broadcast(cells.agg(F.sum("n_tokens").alias("t")))
    # cell grain is (sources × langs) — a bounded window, never fact-sized
    from pyspark.sql import Window as W

    w = W.orderBy(F.desc("n_tokens"), "source", "lang").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        cells.crossJoin(tot)
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("t"), 6).alias(
                "token_share"
            ),
            F.round(
                F.sum("n_tokens").over(w).cast("double") / F.col("t"), 6
            ).alias("cum_share"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights — multilingual/multi-source
# training runs don't sample sources proportionally: raw frequencies
# are flattened with a temperature exponent (p_s ∝ n_s^alpha,
# alpha<1 upweights the tail — the mT5/XLM-R sampling scheme). With
# alpha = 1/2 the weight is sqrt(n_s), and IEEE sqrt is correctly
# rounded in every engine, so the whole computation stays bit-exact
# cross-engine with no transcendental-divergence guards: floor(sqrt)
# makes the weight an integer, and every downstream share is a ratio
# of identically-computed integers. Plan: one keyed aggregation to
# source grain (≤ sources rows), then a broadcast 1-row total.
# ---------------------------------------------------------------------------
@query(
    "q254_mixture_temperature",
    oracle="""
    WITH s AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS tokens
      FROM documents WHERE n_chars IS NOT NULL
      GROUP BY source HAVING SUM(n_chars) > 0
    ), w AS (
      SELECT source, tokens,
             CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS wgt
      FROM s
    ), tot AS (
      SELECT CAST(SUM(tokens) AS BIGINT) AS tok_total,
             CAST(SUM(wgt) AS BIGINT) AS wgt_total
      FROM w
    )
    SELECT source, tokens, wgt,
           CAST(tokens AS DOUBLE) / tok_total AS p_raw,
           CAST(wgt AS DOUBLE) / wgt_total AS p_temp,
           (CAST(wgt AS DOUBLE) / wgt_total)
             / (CAST(tokens AS DOUBLE) / tok_total) AS repeat_factor
    FROM w CROSS JOIN tot
    """,
    scale_note=(
        "source grain is bounded (≤ distinct sources): one keyed "
        "partial aggregation over the corpus, then a broadcast 1-row "
        "total — no data-sized state anywhere"
    ),
)
def q254_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-root temperature sampling weights per source (alpha=0.5):
    raw vs flattened sampling shares and the implied repeat factor."""
    s = (
        spark.table("documents")
        .where(F.col("n_chars").isNotNull())
        .groupBy("source")
        .agg(F.sum("n_chars").cast("bigint").alias("tokens"))
        .where(F.col("tokens") > 0)
    )
    w = s.select(
        "source",
        "tokens",
        F.floor(F.sqrt(F.col("tokens").cast("double")))
        .cast("bigint")
        .alias("wgt"),
    )
    tot = w.agg(
        F.sum("tokens").cast("bigint").alias("tok_total"),
        F.sum("wgt").cast("bigint").alias("wgt_total"),
    )
    p_raw = F.col("tokens").cast("double") / F.col("tok_total")
    p_temp = F.col("wgt").cast("double") / F.col("wgt_total")
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        "wgt",
        p_raw.alias("p_raw"),
        p_temp.alias("p_temp"),
        (p_temp / p_raw).alias("repeat_factor"),
    )


# ---------------------------------------------------------------------------
# Sequence packing audit (L4u) — the concat-and-chunk packing every
# pretraining data loader runs: documents are concatenated per source in
# doc_id order and cut into fixed token-budget sequences; a document
# belongs to the sequence its FIRST token lands in, and documents whose
# tokens straddle a cut are boundary-crossers (attention-mask pollution /
# truncation loss candidates). Plan: tokens per doc row-locally, ONE
# source-partitioned ordered window for the running cumsum (the shuffle a
# packing pass needs anyway — each source's stream is independent, so the
# window parallelizes across sources), then a (source, seq) partial agg.
# All integers — exact in any engine.
# ---------------------------------------------------------------------------
_PACK_BUDGET = 2048


@query(
    "q256_sequence_packing",
    oracle=f"""
    WITH d AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      FROM documents
    ), c AS (
      SELECT source, doc_id, toks,
             SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM d
    )
    SELECT source,
           CAST((cum - toks) // {_PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN (cum - 1) // {_PACK_BUDGET}
                          > (cum - toks) // {_PACK_BUDGET}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
    FROM c
    GROUP BY source, seq_id
    """,
    scale_note=(
        "one source-partitioned ordered window (streams are independent "
        "per source — the natural packing parallelism) + one (source, "
        "seq) partial agg; at 100 TB skewed sources shard further by a "
        "deterministic doc_id range split with per-shard base offsets"
    ),
)
def q256_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing audit: per (source, sequence) document
    count, token count, and boundary-crossing documents under a
    2048-token budget."""
    from pyspark.sql import Window

    d = spread(spark.table("documents"), by="doc_id").select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("toks"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = F.lit(_PACK_BUDGET)
    c = d.withColumn("cum", F.sum("toks").over(w))
    start_seq = F.expr(f"(cum - toks) DIV {_PACK_BUDGET}")
    end_seq = F.expr(f"(cum - 1) DIV {_PACK_BUDGET}")
    return (
        c.select(
            "source",
            start_seq.alias("seq_id"),
            "toks",
            (end_seq > start_seq).cast("int").alias("__x"),
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("n_tokens"),
            F.sum("__x").cast("bigint").alias("n_crossing"),
        )
    )


# ---------------------------------------------------------------------------
# Data-constrained epoch allocation (L4v) — given a training token
# budget of 4x the corpus and temperature-flattened target shares
# (q254's sqrt weights), how many EPOCHS of each source does the
# mixture imply, capped at 4 repeats (the diminishing-returns ceiling
# from data-constrained scaling practice), and how much of each
# source's target allocation survives the cap. Every allocation is
# exact bigint arithmetic (integer DIV), ratios are 6dp-rounded — both
# engines compute identical values. Source grain is bounded, so the
# whole query is one keyed partial agg + a broadcast 1-row total.
# ---------------------------------------------------------------------------
_EPOCH_BUDGET_X = 4  # train-token budget as a multiple of corpus tokens
_EPOCH_CAP = 4  # max useful repeats of any source


@query(
    "q257_epoch_allocation",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS tokens
      FROM documents WHERE n_chars IS NOT NULL
      GROUP BY source HAVING SUM(n_chars) > 0
    ), w AS (
      SELECT source, tokens,
             CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS wgt
      FROM s
    ), tot AS (
      SELECT CAST(SUM(tokens) AS BIGINT) AS tok_total,
             CAST(SUM(wgt) AS BIGINT) AS wgt_total
      FROM w
    )
    SELECT source, tokens,
           (wgt * tok_total * {_EPOCH_BUDGET_X}) // wgt_total
             AS target_tokens,
           ROUND(CAST((wgt * tok_total * {_EPOCH_BUDGET_X}) // wgt_total
                      AS DOUBLE) / tokens, 6) AS epochs_raw,
           LEAST((wgt * tok_total * {_EPOCH_BUDGET_X}) // wgt_total,
                 tokens * {_EPOCH_CAP}) AS effective_tokens,
           ROUND(CAST(LEAST((wgt * tok_total * {_EPOCH_BUDGET_X})
                              // wgt_total,
                            tokens * {_EPOCH_CAP}) AS DOUBLE)
                 / ((wgt * tok_total * {_EPOCH_BUDGET_X}) // wgt_total),
                 6) AS utilization
    FROM w CROSS JOIN tot
    """,
    scale_note=(
        "source grain is bounded: one keyed partial aggregation + a "
        "broadcast 1-row total; all allocations exact bigint DIV"
    ),
)
def q257_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch allocation under a 4x-corpus token budget with
    sqrt-temperature target shares and a 4-epoch repetition cap."""
    s = (
        spark.table("documents")
        .where(F.col("n_chars").isNotNull())
        .groupBy("source")
        .agg(F.sum("n_chars").cast("bigint").alias("tokens"))
        .where(F.col("tokens") > 0)
    )
    w = s.select(
        "source",
        "tokens",
        F.floor(F.sqrt(F.col("tokens").cast("double")))
        .cast("bigint")
        .alias("wgt"),
    )
    tot = w.agg(
        F.sum("tokens").cast("bigint").alias("tok_total"),
        F.sum("wgt").cast("bigint").alias("wgt_total"),
    )
    target = F.expr(
        f"(wgt * tok_total * {_EPOCH_BUDGET_X}) DIV wgt_total"
    )
    effective = F.least(target, F.col("tokens") * F.lit(_EPOCH_CAP))
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        target.alias("target_tokens"),
        F.round(
            target.cast("double") / F.col("tokens").cast("double"), 6
        ).alias("epochs_raw"),
        effective.alias("effective_tokens"),
        F.round(
            effective.cast("double") / target.cast("double"), 6
        ).alias("utilization"),
    )


# ---------------------------------------------------------------------------
# BPE first-merge pair table (L4w) — the vocabulary-induction primitive:
# global counts of adjacent CHARACTER pairs inside whitespace tokens (the
# statistic the first BPE merge maximizes), top-20 with lexical tiebreak.
# Plan follows the q204 collocation shape: one word explode (words under
# 2 chars emit nothing), a row-local char-pair transform, one (pair)
# partial-agg shuffle, then distributed TakeOrdered top-k so the rank
# window only ever sees <= 20 rows. Counts are exact bigints.
# ---------------------------------------------------------------------------
@query(
    "q258_bpe_pair_counts",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), p AS (
      SELECT unnest(list_transform(range(1, len(w)),
                                   i -> substring(w, i, 2))) AS pair
      FROM w WHERE len(w) >= 2
    ), c AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM p GROUP BY pair
    )
    SELECT pair, n_pair, rnk FROM (
      SELECT pair, n_pair,
             CAST(ROW_NUMBER() OVER (ORDER BY n_pair DESC, pair) AS BIGINT)
               AS rnk
      FROM c
    ) WHERE rnk <= 20
    """,
    scale_note=(
        "pair vocabulary is bounded (charset^2): map-side partial agg "
        "collapses the per-token explosion before the shuffle; top-20 "
        "via TakeOrderedAndProject, never a global sort"
    ),
)
def q258_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs across word-internal positions —
    the argmax table of the first BPE merge."""
    from pyspark.sql import Window

    d = spread(spark.table("documents"), by="doc_id")
    tok = d.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.length("w") >= 2
    )
    pairs = tok.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), "
                   "i -> substring(w, i, 2))")
        ).alias("pair")
    )
    c = pairs.groupBy("pair").agg(F.count("*").alias("n_pair"))
    top = c.orderBy(F.desc("n_pair"), "pair").limit(20)
    return top.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("n_pair"), "pair"))
        .cast("bigint"),
    ).select("pair", "n_pair", "rnk")


# ---------------------------------------------------------------------------
# Context-window truncation loss (L4x) — the complement of q256's
# packing audit for truncate-don't-pack loaders: per source, how many
# documents exceed the context window and what fraction of the
# source's tokens a hard truncation at 2048 discards. One row-local
# token count + one source-grain partial agg; all-integer, 6dp ratio.
# ---------------------------------------------------------------------------
@query(
    "q259_truncation_loss",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN toks > {_PACK_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_over,
           CAST(SUM(toks) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN toks > {_PACK_BUDGET}
                         THEN toks - {_PACK_BUDGET} ELSE 0 END)
                AS BIGINT) AS tokens_lost,
           ROUND(CAST(SUM(CASE WHEN toks > {_PACK_BUDGET}
                               THEN toks - {_PACK_BUDGET} ELSE 0 END)
                      AS DOUBLE) / SUM(toks), 6) AS loss_frac
    FROM d GROUP BY source
    """,
    scale_note=(
        "row-local token count + one source-grain partial agg — "
        "map-side combine collapses everything before the shuffle"
    ),
)
def q259_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document/token loss if every document is hard-truncated
    at the 2048-token context window."""
    d = spread(spark.table("documents"), by="doc_id").select(
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("toks"),
    )
    over = F.col("toks") > _PACK_BUDGET
    lost = F.when(over, F.col("toks") - _PACK_BUDGET).otherwise(F.lit(0))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(over.cast("int")).cast("bigint").alias("n_over"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        F.sum(lost).cast("bigint").alias("tokens_lost"),
        F.round(
            F.sum(lost).cast("double")
            / F.sum("toks").cast("double"),
            6,
        ).alias("loss_frac"),
    )


# ---------------------------------------------------------------------------
# L4z — distributed BPE tokenizer training (round 9): the Sennrich
# word-frequency merge loop (operators/bpe.py). Each round's argmax
# pair is fetched at model grain (one row — the kmeans-centroid
# precedent; a fully-lazy chain was rejected: Catalyst tree plans grow
# ~3^rounds) and folds back as a literal JVM string replace over the
# vocabulary-grain word table; the oracle unrolls the same rounds as
# CTEs (DuckDB replace shares the greedy left-to-right non-overlapping
# semantics), so the merge table is hash-certified end-to-end. Scale:
# corpus is touched once (word-frequency collapse); every round runs at
# distinct-word grain with a map-side partial agg — no corpus re-scan.
# ---------------------------------------------------------------------------
_BPE_MERGES = 8


def _bpe_oracle(n_merges: int) -> str:
    parts = [
        """WITH w0 AS MATERIALIZED (
      -- trailing space anchors the END of the last symbol (the rhs of
      -- a merge pattern must never match a strict prefix of a longer
      -- symbol: '~c ~a ' may not rewrite '~c ~ab ')
      SELECT '~' || array_to_string(string_split(w, ''), ' ~') || ' '
               AS word,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$')
      GROUP BY 1
    )"""
    ]
    for r in range(1, n_merges + 1):
        prev = f"w{r - 1}"
        parts.append(
            f""", p{r} AS MATERIALIZED (
      SELECT pair, CAST(SUM(n) AS BIGINT) AS n_pair FROM (
        SELECT n,
               unnest(list_transform(
                 range(1, len(string_split(trim(word), ' '))),
                 i -> string_split(trim(word), ' ')[i] || ' ' ||
                      string_split(trim(word), ' ')[i + 1])) AS pair
        FROM {prev})
      GROUP BY 1
    ), t{r} AS MATERIALIZED (
      SELECT pair, n_pair FROM p{r} ORDER BY n_pair DESC, pair ASC LIMIT 1
    )"""
        )
        if r < n_merges:
            parts.append(
                f""", w{r} AS MATERIALIZED (
      SELECT replace(word, (SELECT pair || ' ' FROM t{r}),
                     replace((SELECT pair FROM t{r}), ' ~', '') || ' ')
               AS word, n
      FROM {prev}
    )"""
            )
    selects = [
        f"""SELECT CAST({r} AS BIGINT) AS rank,
        replace(string_split(pair, ' ')[1], '~', '') AS lhs,
        replace(string_split(pair, ' ')[2], '~', '') AS rhs,
        replace(replace(pair, ' ~', ''), '~', '') AS merged,
        n_pair FROM t{r}"""
        for r in range(1, n_merges + 1)
    ]
    return (
        "".join(parts)
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY rank"
    )


def _bpe_merges_cached(spark: SparkSession) -> list:
    """q265-trained merge rows, MEMOIZED per (session, registered
    fixture dir) — q265 and q270 share one training run per fixture
    (the merge table is model state, ≤8 driver-side rows). Like every
    memo it is evicted when register_views rebinds the views (a dir
    switch or changed files), so a regenerated fixture dir under the
    same path cannot serve a stale merge table to q265/q270 (ADVICE
    r9)."""
    from pandas_td_spark.operators.bpe import bpe_train, words_with_counts

    def build():
        words = words_with_counts(spread(spark.table("documents"), by="doc_id"))
        return bpe_train(words, _BPE_MERGES).collect()

    return memo(spark, "bpe_merges", build)


@query(
    "q265_bpe_train",
    oracle=_bpe_oracle(_BPE_MERGES),
    scale_note=(
        "corpus collapses to (word, count) once; each of the 8 rounds is "
        "a vocabulary-grain pair agg whose only driver traffic is the "
        "1-row argmax (model grain, the kmeans precedent) — no corpus "
        "re-scans"
    ),
)
def q265_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges over the corpus vocabulary: (rank, lhs, rhs,
    merged, n_pair) — the tokenizer-training merge table."""
    return spark.createDataFrame(
        _bpe_merges_cached(spark),
        "rank bigint, lhs string, rhs string, merged string, n_pair bigint",
    )


# ---------------------------------------------------------------------------
# L4aa — curation-funnel accounting (round 9): the end-to-end pretraining
# curation pipeline as ONE composed plan — language filter → quality
# rules → bag-of-words dedup (survivor = min doc_id) → benchmark
# decontamination (q91's 5-gram mechanism) — reported as cumulative
# per-stage doc/token counts. Plan shape: per-doc flags in a single
# projection + one dedup window on the bag key + one broadcast
# contamination semi-join, then ONE aggregate with conditional sums and
# a 5-row unpivot. A chained-subquery funnel would re-scan per stage;
# the flag form touches the corpus once (plus the tiny benchmark
# broadcast) at any scale.
# ---------------------------------------------------------------------------
@query(
    "q269_curation_funnel",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
             array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ') AS bow
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 3, 2)),
               i -> array_to_string(
                      (string_split(text, ' '))[i:i + 4], ' ')))
               AS shingles
      FROM documents
    ), bench AS (
      SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id < 25
    ), contaminated AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
            WHERE doc_id >= 25) c
      JOIN bench USING (s)
    ), flagged AS (
      SELECT b.doc_id, b.toks,
             b.lang = 'en' AS lang_ok,
             b.lang = 'en' AND b.toks BETWEEN 12 AND 90
               AND CAST(length(b.text) - (b.toks - 1) AS DOUBLE) / b.toks
                   BETWEEN 2 AND 12 AS cum2
      FROM base b
    ), dedup AS (
      SELECT f.doc_id, f.toks, f.lang_ok, f.cum2,
             f.cum2 AND f.doc_id = MIN(CASE WHEN f.cum2 THEN f.doc_id END)
               OVER (PARTITION BY b.bow) AS cum3
      FROM flagged f JOIN base b USING (doc_id)
    ), final AS (
      SELECT d.*,
             d.cum3 AND d.doc_id >= 25 AND ct.doc_id IS NULL AS cum4
      FROM dedup d LEFT JOIN contaminated ct USING (doc_id)
    ), wide AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS d0, CAST(SUM(toks) AS BIGINT) AS t0,
             CAST(COUNT(*) FILTER (WHERE lang_ok) AS BIGINT) AS d1,
             CAST(COALESCE(SUM(toks) FILTER (WHERE lang_ok), 0) AS BIGINT) AS t1,
             CAST(COUNT(*) FILTER (WHERE cum2) AS BIGINT) AS d2,
             CAST(COALESCE(SUM(toks) FILTER (WHERE cum2), 0) AS BIGINT) AS t2,
             CAST(COUNT(*) FILTER (WHERE cum3) AS BIGINT) AS d3,
             CAST(COALESCE(SUM(toks) FILTER (WHERE cum3), 0) AS BIGINT) AS t3,
             CAST(COUNT(*) FILTER (WHERE cum4) AS BIGINT) AS d4,
             CAST(COALESCE(SUM(toks) FILTER (WHERE cum4), 0) AS BIGINT) AS t4
      FROM final
    )
    SELECT stage, n_docs, n_tokens FROM (
      SELECT '0_all' AS stage, d0 AS n_docs, t0 AS n_tokens FROM wide
      UNION ALL SELECT '1_lang', d1, t1 FROM wide
      UNION ALL SELECT '2_quality', d2, t2 FROM wide
      UNION ALL SELECT '3_dedup', d3, t3 FROM wide
      UNION ALL SELECT '4_decontam', d4, t4 FROM wide
    )
    """,
)
def q269_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative doc/token survival through the curation pipeline:
    all → lang → quality → bow-dedup → decontaminated."""
    from pandas_td_spark.operators.dedup import _shingle_array_sql

    d = spread(spark.table("documents"), by="doc_id")
    # SQL-string projections (the q108 construction discipline): the
    # Column form of this query made ~1350 py4j round-trips per
    # construction (0.23 s of driver chatter per run, dominated by the
    # shingle lambda); identical expression trees, one parse each.
    base = d.selectExpr(
        "doc_id",
        "lang",
        "CAST(size(split(text, ' ')) AS BIGINT) AS toks",
        "array_join(array_sort(array_distinct(split(text, ' '))), ' ')"
        " AS bow",
        "length(text) AS n_chars_t",
        f"{_shingle_array_sql('text', 5)} AS shingles",
    )
    # explode_outer, NOT explode (both branches): the inner form's
    # inferred size(shingles)>0 filter pushes below the spread exchange
    # and re-evaluates the whole 5-gram shingle expression serially in
    # the one-split scan stage (2 x ~0.5 s single-task at sf0.1).
    # shingle_array() is never empty, and the lone null row an outer
    # explode would emit is dropped by distinct-join semantics anyway.
    bench = (
        base.where(F.col("doc_id") < 25)
        .select(F.explode_outer("shingles").alias("s"))
        .distinct()
    )
    contaminated = (
        base.where(F.col("doc_id") >= 25)
        .select("doc_id", F.explode_outer("shingles").alias("s"))
        .join(F.broadcast(bench), "s")
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(True))
    )
    mwl = "(CAST(n_chars_t - (toks - 1) AS DOUBLE) / toks)"
    flagged = base.selectExpr(
        "doc_id",
        "toks",
        "bow",
        "(lang = 'en') AS lang_ok",
        f"(lang = 'en') AND (toks BETWEEN 12 AND 90)"
        f" AND ({mwl} BETWEEN 2 AND 12) AS cum2",
    )
    w = Window.partitionBy("bow")
    dedup = flagged.withColumn(
        "cum3",
        F.col("cum2")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("cum2"), F.col("doc_id"))).over(w)
        ),
    )
    final = dedup.join(F.broadcast(contaminated), "doc_id", "left").withColumn(
        "cum4",
        F.col("cum3") & (F.col("doc_id") >= 25) & F.col("is_cont").isNull(),
    )
    wide = final.agg(
        F.expr("count(*) AS d0"),
        F.expr("sum(toks) AS t0"),
        *[
            x
            for i, c in enumerate(["lang_ok", "cum2", "cum3", "cum4"], 1)
            for x in (
                F.expr(f"count(CASE WHEN {c} THEN 1 END) AS d{i}"),
                F.expr(
                    f"coalesce(sum(CASE WHEN {c} THEN toks END), 0)"
                    f" AS t{i}"
                ),
            )
        ],
    )
    stack = ", ".join(
        f"'{s}', d{i}, t{i}"
        for i, s in enumerate(
            ["0_all", "1_lang", "2_quality", "3_dedup", "4_decontam"]
        )
    )
    return wide.selectExpr(
        f"stack(5, {stack}) AS (stage, n_docs, n_tokens)"
    ).select(
        "stage",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# L4ab — BPE tokenizer APPLICATION (round 9): encode the corpus with the
# q265-trained merge table and report per-source segmentation stats —
# the fertility/compression numbers a tokenizer change is judged by.
# Plan: train at vocabulary grain (q265's loop), apply the 8 merges as
# CHAINED literal replaces over the distinct-word table (8 map-only
# JVM string ops on the small side), then join the exploded corpus to
# the segmented vocabulary and aggregate per source — the corpus is
# touched once and never carries segmentation state. Oracle: the same
# MATERIALIZED CTE chain ends in w8; symbol counts come from the same
# trim/split.
# ---------------------------------------------------------------------------
def _bpe_apply_oracle(n_merges: int) -> str:
    chain = _bpe_oracle(n_merges)
    # reuse the training chain up to its final SELECT; rebuild the tail
    head = chain[: chain.index("\nSELECT * FROM (")]
    return (
        head
        + f""", w{n_merges} AS MATERIALIZED (
      SELECT replace(word, (SELECT pair || ' ' FROM t{n_merges}),
                     replace((SELECT pair FROM t{n_merges}), ' ~', '') || ' ')
               AS word, n
      FROM w{n_merges - 1}
    ), vocab AS (
      SELECT replace(replace(trim(word), ' ~', ''), '~', '') AS w,
             CAST(len(string_split(trim(word), ' ')) AS BIGINT) AS n_sym
      FROM w{n_merges}
    ), corpus AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(c.w)) AS BIGINT) AS n_chars_words,
           CAST(SUM(v.n_sym) AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(SUM(v.n_sym) AS DOUBLE) / COUNT(*), 6) AS fertility
    FROM corpus c JOIN vocab v USING (w)
    GROUP BY source
    """
    )


@query(
    "q270_bpe_encode_stats",
    oracle=_bpe_apply_oracle(_BPE_MERGES),
    scale_note=(
        "merges apply as 8 chained literal replaces over the DISTINCT-"
        "word table; the corpus join is word-grain (broadcastable "
        "vocabulary) and the per-source rollup is one partial agg"
    ),
)
def q270_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source BPE segmentation stats under the q265-trained merges:
    word count, character mass, post-BPE token count, fertility."""
    from pandas_td_spark.operators.bpe import MARK, words_with_counts

    d = spread(spark.table("documents"), by="doc_id")
    words = words_with_counts(d)
    merges = _bpe_merges_cached(spark)  # model grain: ≤8 rows, memoized
    seg = words.select("word")
    expr = F.col("word")
    for m in merges:
        pair = MARK + m["lhs"] + " " + MARK + m["rhs"] + " "
        expr = F.replace(
            expr, F.lit(pair), F.lit(MARK + m["merged"] + " ")
        )
    vocab = seg.select(
        F.replace(
            F.replace(F.trim(expr), F.lit(" " + MARK), F.lit("")),
            F.lit(MARK),
            F.lit(""),
        ).alias("w"),
        F.size(F.split(F.trim(expr), " ")).cast("bigint").alias("n_sym"),
    )
    corpus = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    return (
        corpus.join(F.broadcast(vocab), "w")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars_words"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_sym").cast("double") / F.count("*"), 6
            ).alias("fertility"),
        )
    )
