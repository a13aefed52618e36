"""Deduplication operators (north star L1/L2; PAPERS.md corpus —
MinHash/LSH per Broder '97, SimHash per Charikar '02 as popularized by the
Google near-dup paper; no reference locus, pandas-td had no dedup and
/root/reference is empty).

All operators are pure DataFrame compositions over built-in expressions
(higher-order array functions + xxhash64) — no Python UDFs — so signature
computation is one codegen'd scan. The only shuffles are the ones the
algorithms require:

* exact dedup            → 1 shuffle (hash agg on the digest)
* MinHash LSH candidates → 1 shuffle (self-join on band key); candidate set
  is band-bounded, never the O(n²) cross product
* SimHash pairs          → banded on hash prefix for the same reason

100 TB notes: band keys are uniformly-distributed hashes → no skew; the
exact-jaccard verify only runs on candidate pairs. `num_hashes`/`bands`
trade recall vs shuffle volume exactly as in the LSH S-curve.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandas_td_spark.engine.session import spread

__all__ = [
    "normalized_text",
    "exact_dedup",
    "shingle_array",
    "minhash_signatures",
    "minhash_band_rows",
    "verify_jaccard_on_pairs",
    "lsh_candidate_pairs",
    "jaccard_pairs",
    "simhash_signatures",
    "simhash_pairs",
    "substring_run_pairs",
]


def normalized_text(col: str | Column = "text") -> Column:
    """Canonical text form for exact dedup: lowercase, trim, collapse
    whitespace runs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """L1: keep the lowest-id row per normalized-text digest.

    groupBy on a 128-bit digest (not the full text) keeps shuffle rows
    narrow; partial aggregation dedups map-side first.
    """
    h = F.md5(normalized_text(text_col)).alias("__h")
    keep = (
        df.select(h, F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .drop("__h")
    )
    return df.join(keep, id_col, "left_semi")


def shingle_array(text_col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles of column ``text_col`` as an array
    column (JVM-side): the expression :func:`_shingle_array_sql` spells.

    Fast path: a single lookahead-regex pass extracts every overlapping
    n-gram directly from the text — measured 5x faster than the
    positional ``transform``+``slice`` form (slice copies O(n·len)
    subarrays per doc). The positional form is kept as the semantic
    definition and runs when the text contains empty tokens (leading /
    trailing / doubled separators), where ``[^ ]+`` and ``split`` would
    disagree; both branches emit the whole doc as one shingle for docs
    shorter than ``n`` tokens.
    """
    return F.expr(_shingle_array_sql(text_col, n))


def _shingle_array_sql(text_col: str = "text", n: int = 3) -> str:
    """SQL-string twin of :func:`shingle_array` (same expression tree,
    parsed JVM-side in one round-trip). The Column form costs ~27 ms of
    py4j lambda setup per call at CONSTRUCTION time; the near-dup
    operators build several shingle trees per query and the driver pays
    that chatter on every submission. q91's call site keeps the Column
    form (its fingerprint must not move); value-parity of the two forms
    is pinned in tests/test_llm.py (n = 2, 3 and q269's 5).

    ``text_col`` must be a plain column NAME (the string is spliced
    into SQL verbatim — unlike the Column twin, an expression or a
    name needing quoting would be mis-parsed, so reject it loudly)."""
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", text_col):
        raise ValueError(
            f"_shingle_array_sql needs a plain column name, got {text_col!r}"
        )
    words = f"split({text_col}, ' ')"
    gram = " ".join(["[^ ]+"] * n)
    positional = (
        f"transform(sequence(1, greatest(size({words}) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice({words}, i, {n})))"
    )
    fast = f"regexp_extract_all({text_col}, '(?<=^| )(?=({gram}))', 1)"
    return (
        f"array_distinct(CASE WHEN {text_col} RLIKE '(^| )( |$)' "
        f"THEN {positional} "
        f"WHEN size({words}) >= {n} THEN {fast} "
        f"ELSE array(array_join({words}, ' ')) END)"
    )


#: modulus of the universal hash family (Mersenne prime 2^31 - 1): keeps
#: every a*h + b product under 2^62 so the arithmetic is exact BIGINT in
#: both Spark and any ANSI-SQL oracle engine.
MINHASH_PRIME = 2147483647


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """The (a_i, b_i) multipliers of the seeded universal hash family
    h_i(x) = (a_i*x + b_i) mod P. A fixed affine formula of (seed, i) —
    not an RNG — so an oracle SQL built from the same list is identical
    by construction."""
    p = MINHASH_PRIME
    return [
        (
            ((seed + 1) * 1000003 + i * 7919) % (p - 1) + 1,
            ((seed + 1) * 998244353 + i * 104729) % p,
        )
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Per-row MinHash signature as ``num_hashes`` BIGINT columns
    (``mh0..mh{k-1}``).

    Hash family (r10): ONE md5 per distinct shingle folded to a 60-bit
    int, reduced mod P = 2^31-1, then ``num_hashes`` exact affine mixes
    (a_i*h + b_i) mod P — the classic universal family. Every step is
    exact integer/md5 arithmetic an ANSI-SQL engine reproduces verbatim
    (the q127/q131 seeded-md5 discipline), which makes banded-LSH
    outputs oracle-checkable; it is also cheaper than the previous
    32-seeded-xxhash64 form (one digest + 32 modmuls per shingle).

    Plan shape: explode shingles → hash-aggregate ``min(h_i)`` per id.
    Partial (map-side) aggregation collapses each doc's shingles to one
    32-slot record before the shuffle, so shuffle volume is
    O(rows × num_hashes), independent of document length — the shape
    that survives 100 TB. (A pure-expression nested-``transform``
    variant was measured 70× slower here: the signature subtree got
    re-evaluated per band and fell out of whole-stage codegen.)
    """
    # Expression trees composed as SQL strings (the q108 construction
    # discipline): the Column form of this builder made ~1000 py4j
    # round-trips per query construction (32 agg expressions + the
    # shingle lambda); the string form parses JVM-side in a handful.
    base = (
        f"CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)"
        f" % {MINHASH_PRIME}"
    )
    # spread(by=) — deterministic partitioning so the signature subtree
    # canonicalizes and both sides of a downstream self-join REUSE one
    # exchange (round-robin here made q53 build signatures twice).
    ex = spread(df, by=id_col).selectExpr(
        id_col,
        f"explode({_shingle_array_sql(text_col, shingle_n)}) AS s",
    ).selectExpr(id_col, f"{base} AS h")
    aggs = [
        F.expr(f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes, seed))
    ]
    return ex.groupBy(id_col).agg(*aggs)


def _band_struct_array(num_hashes: int, bands: int) -> Column:
    """The b-element array of r-slot band-key STRUCTS over signature
    columns ``mh0..mh{k-1}`` — shared by the batch pair join, the static
    band index, and the streaming row-local path, so all three collide
    on identical keys by construction."""
    r = num_hashes // bands
    structs = ", ".join(
        "named_struct("
        + ", ".join(f"'h{j}', mh{b * r + j}" for j in range(r))
        + ")"
        for b in range(bands)
    )
    return F.expr(f"array({structs})")


def minhash_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Banded MinHash keys computed ENTIRELY ROW-LOCALLY: one output row
    per (doc, band) with the same ``(band_idx, band_key)`` values as
    :func:`lsh_candidate_pairs`'s shuffle-aggregated path (same md5-fold
    base hash, same :func:`minhash_params` family, same band structs —
    parity pinned in tests/test_streaming.py).

    This is the STREAMING-SAFE form: append-mode Structured Streaming
    cannot run the explode+groupBy signature plan mid-pipeline, while a
    per-row projection carries no state at all. The trade: the batch
    path's partial aggregation collapses shingles before the shuffle
    (optimal for the all-pairs join), whereas here each row folds its
    own shingle array ``num_hashes`` times — O(shingles x k) modmuls
    inside one projection, no shuffle, which is exactly what a
    per-document stream wants. ``extra_cols`` (e.g. the event-time
    column) ride along untouched."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    base = F.transform(
        shingle_array(text_col, shingle_n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
            "bigint"
        )
        % MINHASH_PRIME,
    )
    # __hs is a non-cheap named column referenced k times: CollapseProject
    # keeps the projection boundary, so the md5 fold runs once per row
    hashed = df.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], base.alias("__hs")
    )
    def _mix(a: int, b: int):
        # a closure per (a, b): transform()'s binder counts the lambda's
        # parameters, so default-arg capture would read as a 3-arg HOF
        return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_PRIME

    mins = [
        F.array_min(F.transform(F.col("__hs"), _mix(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes, seed))
    ]
    sig = hashed.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], *mins
    )
    return sig.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.posexplode(_band_struct_array(num_hashes, bands)).alias(
            "band_idx", "band_key"
        ),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """L2 candidate generation: banded MinHash (b bands × r rows).

    Docs agreeing on all r signature slots of any band collide on that
    band's key; the self-equi-join on (band_idx, band_key) is the only
    extra shuffle and its key space is uniform hashes → skew-free. Returns
    distinct candidate (id_a, id_b) with id_a < id_b.

    Band keys are the r-slot STRUCTS themselves (r10), not a hash of
    them: struct equality in the join is exact — no collision caveat —
    and the candidate set becomes reproducible by a SQL oracle joining
    on the same tuple.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands
    # The signature table feeds BOTH sides of the band self-join. With
    # the deterministic doc_id spread the groupBy inherits clustering and
    # has no exchange of its own, so without materialization each side
    # re-runs the full shingle+md5 signature build (measured 2.5 + 3.4
    # exec-s at sf0.1). Checkpoint the tiny per-doc signature frame
    # (rows × (1+k) bigints) instead — same rationale/limits as the
    # posting-list checkpoint in :func:`jaccard_pairs`.
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n
    ).localCheckpoint()
    banded = sig.select(
        F.col(id_col),
        F.posexplode(_band_struct_array(num_hashes, bands)).alias(
            "band_idx", "band_key"
        ),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def verify_jaccard_on_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact Jaccard computed ONLY on candidate pairs (two hash joins to
    fetch shingle sets + array_intersect per pair) — O(candidates), unlike
    the full inverted-index join in :func:`jaccard_pairs`."""
    # deterministic spread: the shingle frame feeds BOTH pair sides —
    # with a canonical exchange the two branches share one shuffle
    # instead of re-scanning + re-shingling per side. (SQL-string
    # shingle tree: one parse instead of per-call lambda chatter.)
    sh = spread(df, by=id_col).selectExpr(
        f"{id_col} AS __id",
        f"{_shingle_array_sql(text_col, shingle_n)} AS __sh",
    )
    out = (
        pairs.join(
            sh.select(
                F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
    )
    return out.select("id_a", "id_b", "jaccard").where(
        F.col("jaccard") >= threshold
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact shingle-set Jaccard over all colliding pairs (inverted-index
    join on shingle). Exact but shuffle-heavy — the oracle/verify path; LSH
    above is the scale path. Returns (id_a, id_b, jaccard).

    The exploded posting list is checkpointed: it feeds BOTH sides of the
    self-join, and without materialization Spark recomputes shingle
    generation twice (measured 11s → ~4s total at sf0.1). localCheckpoint
    stores blocks on the executors; the 100 TB variant would
    ``persist(DISK_ONLY)`` or write an intermediate table instead.
    """
    sh = (
        spread(df, by=id_col).selectExpr(
            id_col,
            f"{_shingle_array_sql(text_col, shingle_n)} AS shingles",
        )
        .select(
            F.col(id_col),
            # explode_outer, NOT explode: InferFiltersFromGenerate turns
            # an inner explode into a size(..)>0 filter that Catalyst
            # pushes below the spread exchange — re-evaluating the whole
            # shingle expression serially in the one-split scan stage
            # (0.4 s single-task at sf0.1). shingle_array() is never
            # empty (its ELSE arm emits the 1-element whole-text array),
            # so the outer form produces identical rows and no filter.
            F.explode_outer("shingles").alias("s"),
            F.size("shingles").alias("n_sh"),
        )
        .localCheckpoint()
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(
            F.count("*").alias("inter"),
            F.first("a.n_sh").alias("na"),
            F.first("b.n_sh").alias("nb"),
        )
    )
    j = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return inter.select("id_a", "id_b", j.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT shingle-set Jaccard ≥ threshold via prefix filtering — the
    scale-shaped form of :func:`jaccard_pairs` (identical output).

    Prefix-filter principle (Chaudhuri/Bayardo AllPairs/PPJoin family):
    order every document's shingles by one GLOBAL total order; if
    J(A,B) ≥ t, then A and B must share at least one shingle among each
    one's first ``|X| - ceil(t·|X|) + 1`` shingles under that order. So it
    suffices to inverted-index-join only the prefixes, then compute exact
    Jaccard on the surviving candidates. Any consistent order is correct;
    ordering by ascending global document frequency (rarest first) makes
    prefixes collide least, shrinking candidates by orders of magnitude on
    real corpora. A length filter (``t·|B| ≤ |A|``, both directions) prunes
    further — also exactness-preserving since J(A,B) ≥ t bounds the size
    ratio.

    Plan shape at 100 TB: one agg for DF counts, one shuffle to rank
    shingles per doc, a prefix-only self-equi-join on uniform shingle
    keys, then an O(candidates) verify — every stage linear or
    candidate-bounded, vs. the full posting-list self-join of
    :func:`jaccard_pairs` (kept as the oracle-parity twin; equality is
    asserted in tests/test_llm.py).
    """
    t = float(threshold)
    sh = spread(df, by=id_col).select(
        F.col(id_col), shingle_array(text_col, shingle_n).alias("__sh")
    ).withColumn("__n", F.size("__sh"))
    # materialized once: feeds both the DF-count agg and the rank join
    # (same rationale/limits as the localCheckpoint in jaccard_pairs)
    ex = sh.select(
        id_col, "__n", F.explode("__sh").alias("s")
    ).localCheckpoint()
    dfc = ex.groupBy("s").agg(F.count("*").alias("__df"))
    # per-doc prefix under the (df, shingle) global order
    pre = (
        ex.join(dfc, "s")
        .groupBy(id_col)
        .agg(
            F.any_value("__n").alias("__n"),
            F.array_sort(F.collect_list(F.struct("__df", "s"))).alias("__ord"),
        )
        .withColumn(
            "__plen",
            (F.col("__n") - F.ceil(F.lit(t) * F.col("__n")) + 1).cast("int"),
        )
        .select(
            id_col,
            "__n",
            F.explode(
                F.slice(
                    F.transform("__ord", lambda x: x["s"]),
                    F.lit(1),
                    F.col("__plen"),
                )
            ).alias("s"),
        )
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("a.__n") >= F.ceil(F.lit(t) * F.col("b.__n")))
            & (F.col("b.__n") >= F.ceil(F.lit(t) * F.col("a.__n"))),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return verify_jaccard_on_pairs(
        cand, df, id_col, text_col, shingle_n, threshold
    )


#: Above this many documents the exact prefix-filter pair plan hands off
#: to banded MinHash + exact verify. The prefix filter is candidate-
#: bounded but measurably superlinear on real corpora (SCALE audit: q235
#: 8.6x wall at 10x data) — at 100 TB it is a scale-killer, while the
#: banded join's candidate volume stays near-linear. 20k keeps every
#: oracle fixture (sf0.1 = 5k docs) on the exact path while the 10x
#: scale-audit corpus (50k docs) exercises the gated LSH plan — the
#: audit measures the operator a production pipeline would actually run.
EXACT_PAIRS_MAX_DOCS = 20_000


def jaccard_pairs_auto(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.6,
    exact_max_docs: int = EXACT_PAIRS_MAX_DOCS,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Size-gated near-dup pair generation — the operator a 100 TB
    pipeline should call by default.

    At or below ``exact_max_docs`` documents: :func:`jaccard_pairs_prefix`
    (EXACT, oracle-parity). Above: :func:`lsh_candidate_pairs` banded
    MinHash + :func:`verify_jaccard_on_pairs` — every emitted pair is
    still EXACT-verified (zero false positives); only recall is
    probabilistic. With the default 32 hashes in 16 bands of r=2 rows,
    a true pair at the 0.6 threshold collides in some band with
    p = 1-(1-0.6^2)^16 ≈ 0.9992, rising toward 1 above it, while a
    j=0.02 background pair becomes a candidate with p ≈ 0.006 — the
    candidate set stays near-linear where the prefix filter's grows
    superlinearly.

    The row-count probe is a documented model-grain action (it picks the
    plan, so it cannot ride as a lazy column); with parquet aggregate
    pushdown a COUNT probe is metadata-only. Callers that already know
    the corpus size should pass it through ``exact_max_docs`` gating
    logic of their own and call the two plans directly.
    """
    if df.count() <= exact_max_docs:
        return jaccard_pairs_prefix(
            df, id_col, text_col, shingle_n, threshold
        )
    cand = lsh_candidate_pairs(
        df, id_col, text_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n,
    )
    return verify_jaccard_on_pairs(
        cand, df, id_col, text_col, shingle_n, threshold
    )


#: SimHash width (r10): 60 bits — the md5-hex-prefix token hash yields
#: 60 exact bits in BOTH Spark and ANSI-SQL engines (15 hex chars), so
#: signatures, blocks, and Hamming distances are oracle-reproducible.
#: 4 blocks of 15 bits keep the Manku ham<=3 banding guarantee.
SIMHASH_BITS = 60


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-row 60-bit SimHash as a ``sig`` BIGINT column, computed in the
    explode → partial-aggregate shape (same scaling argument as
    :func:`minhash_signatures`): per exploded token, ``getbit(h, i)`` of
    the md5-prefix token hash contributes ±1 to bit-slot i; 60 ``sum``
    aggregates collapse map-side; the final select packs sign bits into
    one BIGINT. The md5 token hash (r10) makes the signature — and the
    banded pair set built on it — reproducible by a SQL oracle."""
    ex = spread(df, by=id_col).select(
        F.col(id_col), F.explode(F.split(text_col, " ")).alias("w")
    ).select(
        F.col(id_col),
        F.conv(F.substring(F.md5("w"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    sums = ex.groupBy(id_col).agg(
        *[
            F.sum(F.getbit("h", F.lit(i)) * 2 - 1).alias(f"b{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    packed = None
    for i in range(SIMHASH_BITS):
        term = F.when(
            F.col(f"b{i}") > 0, F.lit(1 << i).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        packed = term if packed is None else packed.bitwiseXOR(term)
    return sums.select(F.col(id_col), packed.alias("sig"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    prefix_bits: int = 15,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Banded on ``4`` blocks of ``prefix_bits`` bits (Manku et al.'s table
    scheme; 15-bit blocks over the 60-bit md5 signature since r10): a
    pair within Hamming k must agree exactly on at least one of the 4
    blocks when k ≤ 3, so the equi-join on (block_idx, block_value)
    bounds candidates without the O(n²) cross join. Exact Hamming
    verify on candidates via bit_count(xor).
    """
    # One materialization of the signatures: the banded self-join
    # consumes `blocks` on BOTH sides, and without the cut the whole
    # explode + 60-sum signature build runs twice (plan showed the
    # Generate subtree duplicated, zero exchange reuse). The frame is
    # doc-grain (one 8-byte sig per doc) — bounded at any corpus size.
    # ``sigs``: callers that run several probes over one corpus pass a
    # memoized/checkpointed signature table instead (the edge-cache
    # pattern; in production this is the materialized signature table
    # every SimHash consumer starts from).
    if sigs is None:
        sigs = simhash_signatures(df, id_col, text_col).localCheckpoint()
    blocks = sigs.select(
        id_col,
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit((SIMHASH_BITS - 1) // prefix_bits)),
                lambda b: F.call_function(
                    "shiftrightunsigned", F.col("sig"), b * F.lit(prefix_bits)
                ).bitwiseAND(F.lit((1 << prefix_bits) - 1)),
            )
        ).alias("block_idx", "block_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(
        "id_a", "id_b", ham.cast("bigint").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Exact substring dedup (suffix-array class): document pairs sharing a
# contiguous word run of at least ``min_run`` words, with the EXACT
# longest shared run length. The heavyweight next to the set-similarity
# family for training corpora: near-identical boilerplate/quotes that
# Jaccard dilutes in long documents (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — the public algorithm
# family; this is the bounded-candidate Spark formulation, not a port).
# ---------------------------------------------------------------------------
def substring_run_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_run: int = 12,
    anchor_k: int = 9,
    materialize_candidates: bool = True,
) -> DataFrame:
    """(id_a, id_b, longest_run) for every pair sharing a word run of
    >= ``min_run`` words — exact output, candidate-bounded plan.

    **Candidates — winnowing anchors (deterministic completeness).**
    Each doc emits winnowing fingerprints over ``anchor_k``-gram
    xxhash64 values with window ``w = min_run - anchor_k + 1`` (the
    q92/q110 selection, row-local / zero shuffle; xxhash64 instead of
    q92's md5-prefix because anchors are INTERNAL here — the oracle
    defines semantics independently via the quadratic join, so the
    anchor hash only needs determinism, and xxhash64 costs a fraction
    of md5 over the ~n-per-doc gram positions). The winnowing guarantee
    (Schleimer et al. '03): any shared substring of length
    >= w + k - 1 = ``min_run`` words contains a full w-window of shared
    k-grams in BOTH docs, whose window-minimum hash VALUE is selected
    on both sides — so every qualifying pair collides on some
    fingerprint. Selection density is ~2/(w+1) per position, so the
    anchor equi-join is candidate-bounded exactly like the LSH band
    join (uniform hash keys, no all-pairs); false candidates (a shared
    9-gram without a 12-word run) are removed by the exact verify.

    **Verify — diagonal islands (exact).** For candidate pairs only,
    join full ``min_run``-gram hashes of both docs (xxhash64 here, md5
    in the oracle — only gram EQUALITY flows into the result, so any
    injective-in-practice hash yields the identical match set); a
    shared run of R words appears as R - min_run + 1 matches on one
    (i - j) diagonal at consecutive i, so ``longest_run = min_run - 1 +
    max island`` via the gaps-and-islands row_number trick — integer
    arithmetic an ANSI oracle replays verbatim (q274's DuckDB twin
    defines the same semantics with the UNBOUNDED quadratic gram join).

    At 100 TB: anchors are doc-grain bounded arrays; the only data-wide
    shuffles key on uniform md5 values. A fingerprint shared by d docs
    fans out d^2 candidate rows — boilerplate-heavy corpora should cap
    hot fingerprints with a document-frequency filter before the self
    join (trading recall on runs made ONLY of boilerplate), same
    playbook as the prefix filter's stopword bound."""
    w = min_run - anchor_k + 1
    assert w >= 1, "min_run must be >= anchor_k"
    # r14 floor fix: the compact fixture parquet is ONE row group = one
    # input split, so both per-doc explode stages (winnowing anchors
    # here, min_run-grams in the verify) ran on a single core — the
    # anchor stage alone was 1.78 s of q274's 3.62 s at sf0.1. One
    # narrow round-robin shuffle of the raw docs parallelizes every
    # downstream per-row stage (anchors 1.78 -> ~0.25 s); on a real
    # multi-split table it is one wasted small shuffle, noise next to
    # the gram explodes it feeds.
    df = spread(df)
    ws = F.split(F.col(text_col), " ")
    n_grams = F.greatest(F.size(ws) - (anchor_k - 1), F.lit(1))
    hs = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.xxhash64(F.array_join(F.slice(ws, i, anchor_k), " ")),
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("__hs"))),
            lambda j: F.array_min(F.slice(F.col("__hs"), j, w)),
        )
    )
    anchors = (
        df.select(F.col(id_col).alias("id"), hs.alias("__hs"))
        .select("id", F.explode(fps).alias("fp"))
    )
    if materialize_candidates:
        # the self-join below would otherwise evaluate the winnowing
        # expression subtree once per side — materialize the (id, fp)
        # anchor rows (bounded ~2n/(w+1) per doc) so it runs once
        anchors = anchors.localCheckpoint()
    a, b = anchors.alias("a"), anchors.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .distinct()
    )
    if materialize_candidates:
        # pair-grain, bounded by colliding-fingerprint pairs (the
        # _near_dup_pairs_cached discipline) — three consumers below
        # (id pruning x2, match join) must not re-run the anchor join
        cand = cand.localCheckpoint()
    # exact verify on candidate docs ONLY: prune the corpus to ids that
    # appear in some candidate pair BEFORE the min_run-gram explode, so
    # verify cost follows the candidate set, never the corpus
    ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    docs_in = df.join(ids, df[id_col] == ids["id"], "left_semi")
    # name the split array so the three references below share one
    # evaluation (non-cheap named column: CollapseProject keeps it)
    grams = (
        docs_in.select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), " ").alias("__ws"),
        )
        .where(F.size(F.col("__ws")) >= min_run)
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.size(F.col("__ws")) - (min_run - 1),
                    ),
                    lambda i: F.xxhash64(
                        F.array_join(
                            F.slice(F.col("__ws"), i, min_run), " "
                        )
                    ),
                )
            ).alias("p0", "g"),
        )
        .select("id", (F.col("p0") + 1).alias("i"), "g")
    )
    if materialize_candidates:
        # grams feeds BOTH sides of the ga/gb join below — without a cut
        # the explode subtree over candidate docs is planned (and run)
        # once per side, doubling the verify-stage scan (the same
        # re-evaluation hazard the anchors/cand checkpoints close)
        grams = grams.localCheckpoint()
    ga = grams.select(
        F.col("id").alias("id_a"), F.col("i").alias("i"), "g"
    )
    gb = grams.select(
        F.col("id").alias("id_b"), F.col("i").alias("j"), "g"
    )
    matches = cand.join(ga, "id_a").join(gb, ["id_b", "g"])
    from pyspark.sql import Window as W

    diag = (F.col("i") - F.col("j")).alias("diag")
    win = W.partitionBy("id_a", "id_b", "diag").orderBy("i")
    runs = (
        matches.select("id_a", "id_b", diag, "i")
        .withColumn("grp", F.col("i") - F.row_number().over(win))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg((F.count("*") + (min_run - 1)).alias("run"))
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(F.max("run").cast("bigint").alias("longest_run"))
        .where(F.col("longest_run") >= min_run)
    )
