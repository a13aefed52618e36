"""Inventory closure queries — remaining SURVEY.md §2 rows: UNION ALL
(U1), sampling (S8), CUBE/GROUPING SETS (A8), statistical aggregates (A1:
stddev/variance/corr), td_time_parse (F3), smart_digest (F9),
embedding-cosine near-dup (L2 variant)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pandas_td_spark.functions.td import smart_digest, td_time_parse
from pandas_td_spark.operators.similarity import dot_chain, dot_sql
from pandas_td_spark.queries._util import bmax, bsum, bval, dsum
from pandas_td_spark.engine.session import spread
from pandas_td_spark.queries.registry import query


# ---------------------------------------------------------------------------
# U1 — UNION ALL (bag semantics, no dedup shuffle)
# ---------------------------------------------------------------------------
@query(
    "q17_union_all",
    oracle="""
    SELECT c_custkey AS k, 'building' AS src FROM customer
    WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey AS k, 'rich' AS src FROM customer WHERE c_acctbal > 5000
    """,
)
def q17_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL is a zero-shuffle concatenation (vs UNION's dedup
    exchange) — the default at scale unless dedup is semantic."""
    c = spark.table("customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k"), F.lit("building").alias("src")
    )
    b = c.where(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("k"), F.lit("rich").alias("src")
    )
    return a.unionAll(b)


# ---------------------------------------------------------------------------
# S8 — sampling scan (rows-only: RNG streams are engine-specific)
# ---------------------------------------------------------------------------
@query("q18_sample", oracle=None)
def q18_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TABLESAMPLE`` / ``df.sample`` with a fixed seed — deterministic
    within Spark, not across engines (no oracle); tests bound the fraction.
    Bernoulli sampling composes with pushdown: the scan still prunes."""
    return (
        spark.table("orders")
        .sample(fraction=0.1, seed=42)
        .select("o_orderkey", "o_custkey")
    )


# ---------------------------------------------------------------------------
# A8 — CUBE + grouping_id (rollup covered by q13)
# ---------------------------------------------------------------------------
@query(
    "q19_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q19_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id — Catalyst expands to grouping sets, one
    shuffle; NULL markers + gid disambiguate subtotal rows identically in
    both engines."""
    return (
        spark.table("lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# A1 — stddev / variance / corr via exact sufficient statistics
# ---------------------------------------------------------------------------
@query(
    "q29_stats_agg",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS qi,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) >> 12 AS ph,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) & 4095 AS pl
      FROM lineitem
    ), a AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(qi) AS sxi, SUM(qi * qi) AS sxxi,
             SUM(ph) AS syh, SUM(pl) AS syl,
             SUM(qi * ph) AS sxyh, SUM(qi * pl) AS sxyl,
             SUM(ph * ph) AS syyh, SUM(ph * pl) AS syym, SUM(pl * pl) AS syyl
      FROM b GROUP BY l_returnflag
    ), s AS (
      SELECT l_returnflag, n,
             CAST(sxi AS DOUBLE) AS sx,
             CAST(sxxi AS DOUBLE) AS sxx,
             (4096.0 * CAST(syh AS DOUBLE) + CAST(syl AS DOUBLE)) / 100.0 AS sy,
             ((16777216.0 * CAST(syyh AS DOUBLE)
               + 8192.0 * CAST(syym AS DOUBLE))
              + CAST(syyl AS DOUBLE)) / 10000.0 AS syy,
             (4096.0 * CAST(sxyh AS DOUBLE) + CAST(sxyl AS DOUBLE)) / 100.0 AS sxy
      FROM a
    )
    SELECT l_returnflag,
           (sxx - sx * sx / n) / (n - 1) AS var_qty,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
           ROUND((sxy - sx * sy / n)
                 / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 12)
             AS corr_qty_price
    FROM s
    """,
)
def q29_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev / Pearson corr computed from exact
    sufficient statistics — the only formulation that hash-matches across
    engines (native stddev/corr accumulate in engine-specific order;
    ``F.stddev``/``F.corr`` remain available and are exercised rows-only
    in tests). Also the scale-correct shape: one partial+final
    aggregation, constant state per group.

    r15 perf (guide §1.2 per-task work): the five dsum decimal(28,6)
    moments were the whole cost — BigDecimal-backed buffers burned ~17
    CPU-seconds in the aggregation stage (1.50 s wall). Moments now
    accumulate as exact int64 (q61/q183 discipline): quantity is
    integral (verified contract), price is bigint cents, and the
    cents-squared moment — whose raw Σpc² wraps int64 at ~sf1 — splits
    pc into 2^12 halves (ph,pl), three in-envelope sums recombined at
    the 4-row tail in doubles (multiplying by 2^24/2^13 is
    exponent-only, exact). Oracle computes the identical formula, so
    engines agree bit-for-bit in-envelope; sx/sxx (and so
    var_qty/stddev_qty) plus sy/sxy are additionally bit-equal to the
    old decimal path at every driver SF (sums < 2^53), and syy's ≤2-ulp
    recombination noise is absorbed by corr's ROUND(..,12). Envelope
    ENFORCED per moment (q183 ADVICE discipline). The r15-build
    ``spread()`` crutch (added when the BigDecimal agg burned 17
    CPU-seconds on the 3-split scan) is dropped: long sums cost ~0.2 s
    there, so the round-robin exchange was 3.5x the remaining work —
    scan → partial agg → 3-group exchange is the scale-correct shape.
    Wall 1.50 → ~0.5 s."""
    li = spark.table("lineitem")
    qi = F.col("l_quantity").cast("bigint")
    pc = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
    ph = F.shiftright(pc, 12)
    pl = pc.bitwiseAND(F.lit(4095))
    a = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qi).alias("sxi"),
        F.sum(qi * qi).alias("sxxi"),
        F.sum(ph).alias("syh"),
        F.sum(pl).alias("syl"),
        F.sum(qi * ph).alias("sxyh"),
        F.sum(qi * pl).alias("sxyl"),
        F.sum(ph * ph).alias("syyh"),
        F.sum(ph * pl).alias("syym"),
        F.sum(pl * pl).alias("syyl"),
        F.max(qi).alias("_mq"),
        F.max(ph).alias("_mph"),
    )
    nd = F.col("n").cast("double")
    mq = F.col("_mq").cast("double")
    mph = F.col("_mph").cast("double")
    # one sound bound per int64 moment, evaluated in doubles (cannot
    # wrap); pl < 2^12 structurally. Σqi·ph binds last (~10 PB); Σpl²
    # first (n·2^24 < 2^62 → ~30 TB) — beyond, fail loudly and swap the
    # syy component back to dsum (same downstream formula).
    lim = F.lit(float(2**62))
    in_env = (
        (nd * mq * mq < lim)
        & (nd * mq * mph < lim)
        & (nd * mq * F.lit(4096.0) < lim)
        & (nd * mph * mph < lim)
        & (nd * mph * F.lit(4096.0) < lim)
        & (nd * F.lit(float(4096**2)) < lim)
    ) | (F.col("n") == 0)
    s = a.select(
        "l_returnflag",
        "n",
        # assert_true -> NULL while in envelope, raises beyond it; the
        # WHEN threads it through the 4-row projection at zero plan cost
        F.when(
            F.assert_true(
                in_env, "q29: bigint moment envelope exceeded (~30 TB)"
            ).isNull(),
            F.col("sxi").cast("double"),
        ).alias("sx"),
        F.col("sxxi").cast("double").alias("sxx"),
        (
            (
                F.lit(4096.0) * F.col("syh").cast("double")
                + F.col("syl").cast("double")
            )
            / F.lit(100.0)
        ).alias("sy"),
        (
            (
                (
                    F.lit(16777216.0) * F.col("syyh").cast("double")
                    + F.lit(8192.0) * F.col("syym").cast("double")
                )
                + F.col("syyl").cast("double")
            )
            / F.lit(10000.0)
        ).alias("syy"),
        (
            (
                F.lit(4096.0) * F.col("sxyh").cast("double")
                + F.col("sxyl").cast("double")
            )
            / F.lit(100.0)
        ).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var = (sxx - sx * sx / n) / (n - 1)
    corr = (sxy - sx * sy / n) / (
        F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)
    )
    return s.select(
        "l_returnflag",
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
        # rounded: the two engines disagree by 1 ulp on this
        # composite (var/stddev match exactly); 12 dp has ~5
        # digits of margin over ulp noise
        F.round(corr, 12).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# F3 — td_time_parse round-trip
# ---------------------------------------------------------------------------
@query(
    "q39_td_time_parse",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch(strptime(strftime(ts AT TIME ZONE 'UTC',
                                              '%Y-%m-%d %H:%M:%S'),
                                     '%Y-%m-%d %H:%M:%S'))) AS BIGINT)
               AS parsed_epoch
    FROM events
    """,
)
def q39_td_time_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """format → parse round-trip (second granularity): td_time_format then
    td_time_parse recovers floor(epoch)."""
    ev = spark.table("events").withColumn(
        "time", F.unix_timestamp("ts").cast("bigint")
    )
    from pandas_td_spark.functions.td import td_time_format

    formatted = td_time_format("time", "%Y-%m-%d %H:%M:%S")
    return ev.select(
        "event_id",
        td_time_parse(formatted).cast("bigint").alias("parsed_epoch"),
    )


# ---------------------------------------------------------------------------
# F9 — smart_digest (rows-only: our digest is xxhash64-defined)
# ---------------------------------------------------------------------------
@query("q63_smart_digest", oracle=None)
def q63_smart_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TD ``smart_digest`` analogue: 12-hex-char stable digest. Values
    intentionally differ from TD's proprietary hash (documented in
    functions/td.py); tests assert stability + collision-freedom on keys.
    q271_smart_digest_md5 is the oracle-backed twin of this query shape."""
    c = spark.table("customer")
    return c.select(
        "c_custkey", smart_digest(F.col("c_name")).alias("digest")
    )


# ---------------------------------------------------------------------------
# F9 twin — the same digest query shape with an md5 core, so the digest
# pipeline (project → hash → truncate) gets a FULL hash-match driver row
# (VERDICT r9 #4). q63 keeps xxhash64 as the production API (cheaper per
# row); this twin proves the plumbing end-to-end against DuckDB.
# ---------------------------------------------------------------------------
@query(
    "q271_smart_digest_md5",
    oracle="""
    SELECT c_custkey, substring(md5(c_name), 1, 12) AS digest
    FROM customer
    """,
)
def q271_smart_digest_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-hex-char md5 digest of customer names — q63's oracle-expressible
    twin (both engines emit lowercase hex, so no normalization step)."""
    c = spark.table("customer")
    return c.select(
        "c_custkey",
        F.substring(F.md5(F.col("c_name")), 1, 12).alias("digest"),
    )


# ---------------------------------------------------------------------------
# L2/L3 — embedding-cosine near-duplicate pairs (exact, oracle-checked)
# ---------------------------------------------------------------------------
_PAIR_COS = dot_sql("a.embedding", "b.embedding", 64)
_SELF_COS = dot_sql("embedding", "embedding", 64)


@query(
    "q64_embedding_near_dup",
    scale_note=(
        'intentionally quadratic (exact cosine >= t, blocked matmul); at 100 TB default to the LSH-bucketed near-dup path (q56_embedding_lsh_topk buckets / q53_minhash_lsh_pairs analogue) for t >= 0.9'
    ),
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, sqrt({_SELF_COS}) AS nrm FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ({_PAIR_COS.replace('a.embedding', 'a.embedding').replace('b.embedding', 'b.embedding')})
             / (a.nrm * b.nrm) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE ({_PAIR_COS}) / (a.nrm * b.nrm) >= 0.4
    """,
)
def q64_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: all pairs with cosine ≥ 0.4 (fixture max
    ~0.51). EXACT — blocked-matmul candidates + bit-exact dot_chain verify
    (operators/similarity.py::cosine_threshold_pairs); provably identical
    to the all-pairs oracle with no BroadcastNestedLoopJoin in the plan.
    Round 1 ran the naive all-pairs BNLJ here (11.8 s at sf0.1, the
    slowest bench entry)."""
    from pandas_td_spark.operators.similarity import cosine_threshold_pairs

    e = spark.table("embeddings")
    return cosine_threshold_pairs(e, threshold=0.4, dim=64, n_blocks=8)


# ---------------------------------------------------------------------------
# Skew-mitigation: two-phase salted aggregation (result ≡ plain groupBy)
# ---------------------------------------------------------------------------
@query(
    "q67_salted_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def q67_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation (only 5 event_type groups → every reducer is a
    hot key) through operators/skew.py::salted_agg: partials spread over 8
    salts, then combined. Algebraic aggregates make the rewrite exact, so
    the oracle is the plain GROUP BY."""
    from pandas_td_spark.operators.skew import salted_agg

    ev = spark.table("events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        phase1={
            "n": F.count("*"),
            "tv": F.sum(F.col("value").cast("decimal(28,6)")),
        },
        phase2={
            "n": F.sum("n"),
            "total_value": F.sum("tv").cast("double"),
        },
        n_salts=8,
    )
    return out.select("event_type", "n", "total_value")


# ---------------------------------------------------------------------------
# S8b — DETERMINISTIC sampling (oracle-checked, reproducible at any scale)
# ---------------------------------------------------------------------------
@query(
    "q77_deterministic_sample",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE substr(md5(cast(o_orderkey AS VARCHAR)), 1, 2) <= '0c'
    """,
)
def q77_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-Bernoulli sample: keep rows whose key-md5 prefix falls below a
    cut (here hex 00..0c ≈ 5.1 %). Unlike seeded ``TABLESAMPLE``/
    ``df.sample`` (q18 — deterministic within one engine run, but tied to
    partitioning and retries), the hash cut is a pure row property:
    identical membership on ANY engine, partition layout, cluster size, or
    retry — what reproducible pipeline sampling at 100 TB actually needs,
    and it composes with scan pushdown like any predicate. md5 is verified
    bit-identical Spark↔DuckDB on the string-cast key."""
    h = F.md5(F.col("o_orderkey").cast("string"))
    return (
        spark.table("orders")
        .where(F.substring(h, 1, 2) <= "0c")
        .select("o_orderkey", "o_custkey")
    )


@query(
    "q78_stratified_sample",
    oracle="""
    WITH ranked AS (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderstatus
               ORDER BY md5(cast(o_orderkey AS VARCHAR)), o_orderkey
             ) AS rk
      FROM orders
    )
    SELECT o_orderstatus, o_orderkey, o_totalprice, rk
    FROM ranked WHERE rk <= 20
    """,
)
def q78_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified fixed-size sample: per stratum, the 20 rows with the
    smallest key-md5 — equivalent to a uniform without-replacement draw
    per group, reproducible everywhere (same argument as q77). One window
    shuffle keyed by the stratum; no global sort."""
    w = W.partitionBy("o_orderstatus").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
    )
    return (
        spark.table("orders")
        .select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .where(F.col("rk") <= 20)
    )


# ---------------------------------------------------------------------------
# U5 — UNPIVOT / melt (wide → long), the inverse of q28's pivot
# ---------------------------------------------------------------------------
@query(
    "q81_unpivot",
    oracle="""
    WITH agg AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
             CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, measure, val
    FROM agg UNPIVOT (val FOR measure IN (sum_qty, sum_price, sum_disc))
    """,
)
def q81_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (``DataFrame.unpivot``, Spark's melt — an
    Expand node, zero shuffle beyond the feeding agg) of a 3-measure
    per-flag rollup. Exact bigint-scaled sums (``_util.bsum``, lockstep
    oracle, guarded) since r15."""
    from pandas_td_spark.queries._util import bmax, bsum, bval, dsum

    a = (
        spark.table("lineitem")
        .groupBy("l_returnflag")
        .agg(
            bsum("l_quantity").alias("_sq"),
            bsum("l_extendedprice", 2).alias("_sp"),
            bsum("l_discount", 2).alias("_sd"),
            F.count("*").alias("_n"),
            bmax("l_quantity").alias("_mq"),
            bmax("l_extendedprice", 2).alias("_mp"),
            bmax("l_discount", 2).alias("_md"),
        )
    )
    n = F.col("_n")
    agg = a.select(
        "l_returnflag",
        bval(F.col("_sq"), n, F.col("_mq"), 0, "q81").alias("sum_qty"),
        bval(F.col("_sp"), n, F.col("_mp"), 2, "q81").alias("sum_price"),
        bval(F.col("_sd"), n, F.col("_md"), 2, "q81").alias("sum_disc"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "val"
    )


# ---------------------------------------------------------------------------
# L3b — per-label embedding centroid (vector aggregation, exploded-scalar
# output so every cell is driver-hashable; q72 lesson)
# ---------------------------------------------------------------------------
@query(
    "q82_embedding_centroid",
    oracle="""
    SELECT label, g.i - 1 AS pos,
           CAST(SUM(CAST(CAST(embedding[g.i] AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(embedding[g.i]) AS centroid
    FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
    GROUP BY 1, 2
    """,
)
def q82_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding via posexplode → (label, dim) groupBy —
    the shuffle is on (label × 64) keys, so centroid aggregation stays a
    single map-side-combinable pass at any corpus size (the building
    block for k-means / class prototypes / dataset fingerprints over an
    embedding column). Elements go float→double→DECIMAL(28,6) so the sum
    is order-insensitive and engine-exact (memory: scale 6 avoids
    float-derived .5-tie divergence); mean = exact-sum / count in double."""
    e = spark.table("embeddings")
    ex = e.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        ),
    )
    return (
        ex.groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(28,6)")).cast("double")
                / F.count("v")
            ).alias("centroid")
        )
        .select("label", F.col("pos").cast("bigint").alias("pos"), "centroid")
    )


# ---------------------------------------------------------------------------
# A4b — approximate percentiles (KLL-style sketch; the scale twin of q71's
# exact percentile, which needs a per-group sort)
# ---------------------------------------------------------------------------
@query("q83_approx_percentile", oracle=None)
def q83_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percentile_approx`` (Greenwald-Khanna sketch, accuracy 10000 ⇒
    rank error ≤ n/10000) per event_type. Sketches merge associatively —
    a single map-side-combinable pass at any scale, vs the exact
    percentile's per-group sort. Engine-specific sketch ⇒ no value
    oracle; the rank-error bound is asserted in tests (the same
    exact-vs-approx gate pattern as the LSH recall tests)."""
    ev = spark.table("events")
    qs = F.percentile_approx("value", [0.5, 0.95, 0.99], 10000)
    return (
        ev.groupBy("event_type")
        .agg(qs.alias("q"))
        .select(
            "event_type",
            F.col("q")[0].alias("p50"),
            F.col("q")[1].alias("p95"),
            F.col("q")[2].alias("p99"),
        )
    )


# ---------------------------------------------------------------------------
# J12 — salted equi-join (skew mitigation for joins; result ≡ plain join)
# ---------------------------------------------------------------------------
@query(
    "q84_salted_join",
    oracle="""
    WITH dim AS (
      SELECT lang, COUNT(*) AS lang_docs FROM documents GROUP BY 1
    )
    SELECT d.doc_id, d.lang, d.n_chars, dim.lang_docs
    FROM documents d JOIN dim USING (lang)
    """,
)
def q84_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join on ``lang`` — a handful of distinct values, so every join key
    is hot — through operators/skew.py::salted_join: probe rows salted
    mod 8, build side replicated 8×, shuffle-hash join on (lang, salt).
    The rewrite is output-invariant, so the oracle is the plain join."""
    from pandas_td_spark.operators.skew import salted_join

    docs = spark.table("documents").select("doc_id", "lang", "n_chars")
    dim = docs.groupBy("lang").agg(F.count("*").alias("lang_docs"))
    return salted_join(docs, dim, on=["lang"], n_salts=8)


# ---------------------------------------------------------------------------
# Time-series gap fill: dense calendar spine + forward fill — the shape of
# TD's scheduled-rollup dashboards (and any metric store). Plan: one small
# aggregate, a generated calendar (sequence → explode, no data shuffle),
# a broadcastable left join, and a single ordered window over the (tiny,
# one-row-per-day) spine — NOT over the raw fact table. At 100 TB the
# fact-side aggregate is the only data-sized stage.
# ---------------------------------------------------------------------------
@query(
    "q93_gap_fill",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS revenue
      FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
      GROUP BY 1
    ), cal AS (
      SELECT CAST(unnest(generate_series(
               CAST((SELECT MIN(day) FROM daily) AS TIMESTAMP),
               CAST((SELECT MAX(day) FROM daily) AS TIMESTAMP),
               INTERVAL 1 DAY)) AS DATE) AS day
    )
    SELECT CAST(c.day AS VARCHAR) AS day,
           COALESCE(d.n_orders, 0) AS n_orders,
           COALESCE(d.revenue, 0.0) AS revenue,
           LAST_VALUE(d.revenue IGNORE NULLS) OVER (
             ORDER BY c.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_known_revenue
    FROM cal c LEFT JOIN daily d USING (day)
    """,
)
def q93_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily urgent-large-order metrics on a dense calendar: absent days
    appear with zero counts and the last known revenue forward-filled."""
    from pyspark.sql import Window as W

    o = spark.table("orders").where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )
    cal = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        cal.join(F.broadcast(daily), "day", "left")
        .select(
            F.col("day").cast("string").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.last("revenue", ignorenulls=True)
            .over(w)
            .alias("last_known_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental sketch rollup (hypertable pattern): daily HLL sketches of
# distinct users per event_type, re-merged to monthly estimates WITHOUT
# rescanning raw events. rows-only: the sketch binary + estimator are
# DataSketches-specific (no DuckDB twin); the ≤2%-vs-exact and
# merge-associativity properties are pinned in tests/test_operators.py.
# ---------------------------------------------------------------------------
@query(
    "q106_sketch_rollup",
    oracle=None,
    scale_note=(
        "daily sketch table is O(days x keys) KB-sized rows; monthly "
        "re-aggregation merges sketches instead of rescanning raw events — "
        "the incremental-rollup shape for 100 TB dashboards"
    ),
)
def q106_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly distinct-user estimates per event_type via daily HLL
    sketch rollup + union merge."""
    from pandas_td_spark.operators.rollup import build_sketch_rollup, merge_rollup

    ev = spark.table("events")
    daily = build_sketch_rollup(
        ev, time_col="ts", keys=["event_type"], distinct_col="user_id",
        bucket="day",
    )
    monthly = merge_rollup(daily, keys=["event_type"], bucket="month")
    return monthly.select(
        F.unix_timestamp("bucket_start").cast("bigint").alias("month_epoch"),
        "event_type",
        F.col("n_distinct_est").cast("bigint").alias("n_distinct_users"),
        "n_rows",
    )


# ---------------------------------------------------------------------------
# KLL quantile rollup twin of q106: daily mergeable quantile sketches of
# event value, re-merged to monthly p50/p95/p99 — percentile dashboards
# with no raw rescan. rows-only (DataSketches-specific); rank-error vs
# exact percentiles pinned in tests/test_operators.py.
# ---------------------------------------------------------------------------
@query(
    "q107_quantile_rollup",
    oracle=None,
    scale_note=(
        "mergeable-percentile twin of q106: O(days x keys) sketch rows, "
        "coarser windows merge sketches — exact percentile (q71) rescans"
    ),
)
def q107_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly p50/p95/p99 of event value per event_type from daily KLL
    sketches."""
    from pandas_td_spark.operators.rollup import (
        build_quantile_rollup,
        merge_quantile_rollup,
    )

    ev = spark.table("events")
    daily = build_quantile_rollup(
        ev, time_col="ts", keys=["event_type"], value_col="value",
        bucket="day",
    )
    monthly = merge_quantile_rollup(daily, keys=["event_type"], bucket="month")
    return monthly.select(
        F.unix_timestamp("bucket_start").cast("bigint").alias("month_epoch"),
        "event_type",
        "p50",
        "p95",
        "p99",
        "n_rows",
    )


# ---------------------------------------------------------------------------
# Count-Min sketch point queries — the mergeable frequency synopsis
# (operators/frequent.py; Cormode & Muthukrishnan 2005). CMS only ever
# OVERcounts, and an overcount requires a value to collide with heavier
# traffic in ALL `depth` rows; with 5 distinct event types in an
# 8192-slot row that cannot happen, so the estimates are deterministically
# exact here and a plain GROUP BY is a faithful oracle (same certification
# pattern as q102's SpaceSaving). The accuracy/merge properties at high
# cardinality are pinned by tests/test_operators.py.
# ---------------------------------------------------------------------------
@query(
    "q115_cms_event_counts",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS est_count
    FROM events GROUP BY event_type
    """,
)
def q115_cms_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a Count-Min sketch over event_type, then point-query every
    distinct type — shuffle bounded at depth*width rows per partition."""
    from pandas_td_spark.operators.frequent import (
        count_min_build,
        count_min_estimate,
    )

    e = spark.table("events")
    sk = count_min_build(e, "event_type", depth=5, width=8192)
    vals = e.select("event_type").distinct()
    return count_min_estimate(sk, vals, "event_type", depth=5, width=8192)


# ---------------------------------------------------------------------------
# Segment-overlap matrix from mergeable HLL sketches (rows-only: sketch
# binary; ≤5% accuracy vs exact pinned in tests/test_operators.py). Reads
# the SAME daily rollup q106 maintains — overlap costs S² sketch unions,
# not a rescan.
# ---------------------------------------------------------------------------
@query("q120_segment_overlap", oracle=None)
def q120_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distinct-user overlap between event-type segments via
    inclusion-exclusion over the daily HLL rollup."""
    from pandas_td_spark.operators.rollup import (
        build_sketch_rollup,
        segment_overlap,
    )

    ev = spark.table("events")
    daily = build_sketch_rollup(
        ev, time_col="ts", keys=["event_type"], distinct_col="user_id",
        bucket="day",
    )
    out = segment_overlap(daily, "event_type")
    return out.orderBy("seg_a", "seg_b")


# ---------------------------------------------------------------------------
# Robust statistics — per-group winsorization at exact p05/p95. Two-pass
# plan: tiny exact-percentile aggregate per group (sort-based, bounded by
# group count), broadcast back, clip + aggregate. The exact percentile is
# the scale bound (global sort per group); the approx_percentile twin
# (q83) is the 100 TB default.
# ---------------------------------------------------------------------------
@query(
    "q125_winsorize",
    oracle="""
    WITH s AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           ROUND(any_value(s.p05), 6) AS p05,
           ROUND(any_value(s.p95), 6) AS p95,
           ROUND(AVG(least(greatest(e.value, s.p05), s.p95)), 6)
             AS winsorized_mean,
           CAST(SUM(CASE WHEN e.value < s.p05 OR e.value > s.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM events e JOIN s USING (event_type)
    GROUP BY e.event_type
    """,
    scale_note=(
        "exact per-group percentile sorts each group; at 100 TB swap the "
        "stats CTE for approx_percentile (q83) — the clip pass is identical"
    ),
)
def q125_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value stats: exact p05/p95 fences, clipped
    mean, and outlier counts — broadcast the per-group fences, never
    re-sort the fact table."""
    e = spark.table("events")
    stats = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    out_of_range = (F.col("value") < F.col("p05")) | (
        F.col("value") > F.col("p95")
    )
    return (
        e.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("p05"), 6).alias("p05"),
            F.round(F.first("p95"), 6).alias("p95"),
            F.round(F.avg(clipped), 6).alias("winsorized_mean"),
            F.sum(out_of_range.cast("bigint")).alias("n_clipped"),
            F.count("*").alias("n_total"),
        )
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram via NTILE — decile fences of the order-price
# distribution. The global NTILE needs a total order: fine here (it runs
# over orders, already the small end of the schema), and the scale path
# for fact-table grain is approx_percentile fences (q83) or the
# range-partitioned sort used by the sorted export.
# ---------------------------------------------------------------------------
@query(
    "q129_equidepth_histogram",
    oracle="""
    WITH b AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi,
           -- decimal-sum / count, never engine AVG (q156's sf0.1
           -- lesson: double AVG is addition-order-dependent and can
           -- flip the 6dp round; prices are exact 2dp decimals)
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_price
    FROM b GROUP BY bucket
    """,
    scale_note=(
        "exact global ntile via the distributed two-phase rank "
        "(operators/ranking.py: literal-boundary buckets + bucket-partitioned window + broadcast offsets, no "
        "one-partition window); approx_percentile fences (q83) remain "
        "the cheaper swap when exactness is negotiable"
    ),
)
def q129_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile buckets of order value with per-bucket count/range/mean —
    equal-population bins, the planner-statistics histogram shape.
    The global ntile runs DISTRIBUTED (operators/ranking.py two-phase
    rank: literal-boundary buckets + bucket-partitioned window +
    broadcast offsets), not as a one-partition window — the exact path
    stays viable at fact grain. (r11: the ``global_ntile_agg``
    bounded-exchange form lost the local A/B — see q188's docstring —
    and, with no caller left, was deleted.)"""
    from pandas_td_spark.operators.ranking import with_global_ntile

    o = spark.table("orders").select("o_totalprice", "o_orderkey")
    binned = with_global_ntile(
        o, ["o_totalprice", "o_orderkey"], 10, out="bucket"
    )
    return (
        binned.select(
            "o_totalprice", F.col("bucket").cast("int").alias("bucket")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("mean_price"),
        )
    )


# ---------------------------------------------------------------------------
# Catalog-grade column profiling — the describe-your-table surface
# (nulls, exact distincts, min/max per column) in ONE pass over the
# data: a single aggregate computes every per-column metric, then a
# stack() unpivot turns it long. At 100 TB swap the exact distincts for
# approx_count_distinct — same plan shape, no second scan either way.
# ---------------------------------------------------------------------------
_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@query(
    "q130_table_profile",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_val,
               CAST(MAX({c}) AS VARCHAR) AS max_val
        FROM documents
        """
        for c in _PROFILE_COLS
    ),
    scale_note=(
        "exact multi-column COUNT(DISTINCT) expands the row once per "
        "column; at 100 TB use approx_count_distinct in the same single "
        "aggregate"
    ),
)
def q130_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of ``documents`` (rows, nulls, exact distincts,
    min/max) from one aggregate + stack unpivot — no per-column scans."""
    d = spark.table("documents")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = d.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(column_name, nn, n_distinct, min_val, max_val)"
        ),
        "n_rows",
    ).select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("nn")).alias("n_nulls"),
        "n_distinct",
        "min_val",
        "max_val",
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement — Efraimidis-Spirakis A-ES keys
# (key = ln(u)/w, u a seeded content-hash uniform) so the "random"
# choice is a pure function of (seed, doc_id): reproducible across
# engines, runs, and cluster sizes. Keys are rounded before ranking so
# last-ulp libm differences can never flip the cross-engine order.
# ---------------------------------------------------------------------------
_WS_SEED = "ws-7:"
_WS_K = 50


@query(
    "q131_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ROUND(ln((('0x' || substring(
                      md5('{_WS_SEED}' || CAST(doc_id AS VARCHAR)), 1, 15)
                    )::BIGINT + 1) / 1152921504606846977.0)
                   / n_chars, 9) AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, ROUND(k, 6) AS sample_key
    FROM (
      SELECT doc_id, n_chars, k,
             row_number() OVER (ORDER BY k DESC, doc_id) AS rn
      FROM keyed
    ) WHERE rn <= {_WS_K}
    """,
)
def q131_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Draw {_WS_K} docs with probability proportional to length —
    deterministic A-ES keys, TakeOrdered top-k (no global sort)."""
    d = spark.table("documents").where(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(_WS_SEED), F.col("doc_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        + 1
    ) / F.lit(1152921504606846977.0)
    key = F.round(F.log(u) / F.col("n_chars"), 9)
    keyed = d.select("doc_id", "n_chars", key.alias("k"))
    # genuine top-k: orderBy+limit compiles to TakeOrderedAndProject
    # (per-partition partial top-k, then a k-row merge — never a global
    # sort or a one-partition window; the previous row_number window
    # form moved every doc to ONE task and Spark 4 did not infer a
    # WindowGroupLimit for it)
    return (
        keyed.orderBy(F.col("k").desc(), "doc_id")
        .limit(_WS_K)
        .select("doc_id", "n_chars", F.round("k", 6).alias("sample_key"))
    )


# ---------------------------------------------------------------------------
# §2.11 driver certification — the three Python execution surfaces
# (grouped-map applyInPandas, grouped-agg pandas_udf, UDTF) as
# oracle-checked queries. Each computes something SQL CAN express so
# DuckDB can certify the Arrow boundary end-to-end; the operators
# themselves (operators/python_udfs.py) exist for logic SQL cannot.
# ---------------------------------------------------------------------------
@query(
    "q135_grouped_map_zscore",
    oracle="""
    WITH s AS (
      SELECT event_id, event_type, value,
             AVG(value) OVER (PARTITION BY event_type) AS m,
             STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS sd
      FROM events
    )
    SELECT event_id, event_type,
           ROUND((value - m) / sd, 6) AS z
    FROM s
    """,
)
def q135_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-scores through the grouped-map ``applyInPandas`` path —
    Arrow out, pandas compute, Arrow back — certified exactly against
    the pure-SQL window formulation."""
    from pandas_td_spark.operators.python_udfs import zscore_per_group

    e = spark.table("events").select("event_id", "event_type", "value")
    z = zscore_per_group(e, "event_type", "value", out="z")
    return z.select("event_id", "event_type", F.round("z", 6).alias("z"))


@query(
    "q136_pandas_udaf_geomean",
    oracle="""
    SELECT l_returnflag,
           ROUND(exp(AVG(CASE WHEN l_quantity > 0 THEN ln(l_quantity) END)),
                 6) AS geomean,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q136_pandas_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of lineitem quantity per return flag via the
    grouped-agg pandas_udf (UDAF) surface — participates in hash
    aggregation like a native aggregate."""
    from pandas_td_spark.operators.python_udfs import grouped_geometric_mean

    li = spark.table("lineitem")
    g = grouped_geometric_mean(li, "l_returnflag", "l_quantity")
    n = li.groupBy("l_returnflag").agg(F.count("*").alias("n_lines"))
    return g.join(n, "l_returnflag").select(
        "l_returnflag",
        F.round("geomean", 6).alias("geomean"),
        "n_lines",
    )


@query(
    "q137_udtf_ngrams",
    oracle="""
    SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
             i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))
           AS ngram
    FROM documents WHERE doc_id < 50
    """,
)
def q137_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word trigram expansion through the Python UDTF surface (LATERAL
    correlated table function) — the user-extensible counterpart of
    LATERAL VIEW explode."""
    from pandas_td_spark.operators.python_udfs import register_udtfs

    register_udtfs(spark)
    return spark.sql(
        """
        SELECT d.doc_id, t.ngram
        FROM documents d, LATERAL split_ngrams(d.text, 3) t
        WHERE d.doc_id < 50
        """
    )


# ---------------------------------------------------------------------------
# Hierarchical rollup — aggregate every part to the ROOT of its
# parent chain (parent(p) = p div 10; real pipelines: BOM trees, org
# charts, category taxonomies). The distributed plan is POINTER
# DOUBLING: each iteration i jumps 2^i ancestors (anc ← anc(anc)), so a
# depth-D hierarchy needs ceil(log2 D) self-joins — not D. The oracle
# walks the chain with a recursive CTE, one level per recursion.
# ---------------------------------------------------------------------------
@query(
    "q138_hierarchy_rollup",
    oracle="""
    WITH RECURSIVE walk(node, anc) AS (
      SELECT p_partkey,
             CASE WHEN p_partkey < 10 THEN p_partkey
                  ELSE p_partkey // 10 END
      FROM part
      UNION ALL
      SELECT node, anc // 10 FROM walk WHERE anc >= 10
    )
    SELECT w.anc AS root,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CAST(p.p_retailprice AS DECIMAL(28,6))) AS DOUBLE)
             AS total_price
    FROM walk w JOIN part p ON w.node = p.p_partkey
    WHERE w.anc < 10
    GROUP BY w.anc
    """,
    scale_note=(
        "pointer doubling: log2(depth) shuffles instead of depth; each "
        "round is one self-equi-join on the ancestor key"
    ),
)
def q138_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll part prices up to hierarchy roots with log-depth pointer
    doubling."""
    p = spark.table("part")
    anc = p.select(
        F.col("p_partkey").alias("node"),
        F.when(
            F.col("p_partkey") < 10, F.col("p_partkey")
        ).otherwise(F.expr("p_partkey DIV 10")).alias("anc"),
    )
    # anc(node) advances 2^i levels after i doubling rounds, and roots
    # (<10) are fixed points, so overshoot is harmless. Derive the round
    # count from the ACTUAL hierarchy depth — the deepest key needs
    # (digits-1) divisions to reach a root — instead of a fixed 6: it
    # halves the shuffled self-joins (2 rounds at sf fixtures, 4 at ~2e9
    # keys) while keeping the log-depth shape. This probe is a DOCUMENTED
    # model-grain collect: the scalar decides the Python loop count (plan
    # structure), so it cannot ride as a lazy column; with parquet
    # aggregate pushdown (session default) MAX answers from footer stats,
    # so the job is metadata-only, not a scan, at any corpus size.
    import math

    max_key = p.agg(F.max("p_partkey")).first()[0] or 1
    depth = max(1, len(str(int(max_key))) - 1)
    for _ in range(max(1, math.ceil(math.log2(depth)))):
        nxt = anc.select(
            F.col("node").alias("j_node"), F.col("anc").alias("j_anc")
        )
        anc = (
            anc.join(nxt, anc["anc"] == nxt["j_node"])
            .select("node", F.col("j_anc").alias("anc"))
        )
    rolled = anc.join(
        p.select(F.col("p_partkey").alias("node"), "p_retailprice"), "node"
    )
    return rolled.groupBy(F.col("anc").alias("root")).agg(
        F.count("*").alias("n_parts"),
        F.sum(F.col("p_retailprice").cast("decimal(28,6)"))
        .cast("double")
        .alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Robust per-group outlier counts (median absolute deviation) through
# the applyInPandas operator — two dependent medians per group have no
# single-pass expression form; the oracle recomputes them with DuckDB's
# median aggregate.
# ---------------------------------------------------------------------------
@query(
    "q139_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT user_id, median(value) AS m FROM events GROUP BY user_id
    ), dev AS (
      SELECT e.user_id, abs(e.value - med.m) AS d
      FROM events e JOIN med USING (user_id)
    ), mad AS (
      SELECT user_id, median(d) AS mad FROM dev GROUP BY user_id
    )
    SELECT e.user_id,
           CAST(CASE WHEN mad.mad > 0 THEN
             SUM(CASE WHEN abs(e.value - med.m) > 3.0 * 1.4826 * mad.mad
                      THEN 1 ELSE 0 END) ELSE 0 END AS BIGINT) AS n_outliers,
           ROUND(mad.mad, 6) AS mad
    FROM events e
    JOIN med ON e.user_id = med.user_id
    JOIN mad ON e.user_id = mad.user_id
    GROUP BY e.user_id, med.m, mad.mad
    """,
)
def q139_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user MAD outlier counts, JVM-side: two exact percentile
    aggregates with the tiny median table broadcast back between them.
    The applyInPandas twin (operators/python_udfs.py::
    mad_outliers_per_group, kept for the grouped-map surface and proven
    equal in tests/test_operators.py) pays one Python call per group —
    ~10k tiny groups cost ~3 s at sf0.1 vs ~0.4 s for this plan, and
    the gap widens with group count; expression form wins whenever the
    per-group math has one (SURVEY §2.11 guidance)."""
    e = spark.table("events").select("user_id", "value")
    med = e.groupBy("user_id").agg(
        F.expr("percentile(value, 0.5)").alias("m")
    )
    dev = e.join(F.broadcast(med), "user_id").select(
        "user_id", "m", F.abs(F.col("value") - F.col("m")).alias("d")
    )
    mad = dev.groupBy("user_id", "m").agg(
        F.expr("percentile(d, 0.5)").alias("mad")
    )
    out = (
        e.join(F.broadcast(mad), "user_id")
        .groupBy("user_id", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("m"))
                    > 3.0 * 1.4826 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("raw_out")
        )
    )
    return out.select(
        "user_id",
        F.when(F.col("mad") > 0, F.col("raw_out"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_outliers"),
        F.round("mad", 6).alias("mad"),
    )


# ---------------------------------------------------------------------------
# Skew diagnostics — the measurement that tells you whether a key needs
# salting BEFORE the job dies: per-key cardinality profile reduced to
# decile counts + Gini concentration. Runs entirely on the key rollup
# (|distinct keys| rows), never the fact grain.
# ---------------------------------------------------------------------------
@query(
    "q140_key_skew",
    oracle="""
    WITH per_key AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ), ranked AS (
      SELECT n, row_number() OVER (ORDER BY n, user_id) AS rn,
             COUNT(*) OVER () AS k, SUM(n) OVER () AS total
      FROM per_key
    )
    SELECT CAST(any_value(k) AS BIGINT) AS n_keys,
           CAST(MAX(n) AS BIGINT) AS max_key_rows,
           ROUND(CAST(MAX(n) AS DOUBLE) * any_value(k) / any_value(total),
                 6) AS max_over_mean,
           ROUND((2.0 * SUM(CAST(rn AS DOUBLE) * n)
                  / (any_value(k) * any_value(total)))
                 - (CAST(any_value(k) AS DOUBLE) + 1) / any_value(k),
                 6) AS gini
    FROM ranked
    """,
)
def q140_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution skew profile (max/mean ratio + Gini) for the
    user_id grouping key — the salting decision input, computed on the
    key rollup only."""
    from pandas_td_spark.operators.ranking import with_global_row_number

    e = spark.table("events")
    per_key = e.groupBy("user_id").agg(F.count("*").alias("n"))
    # the key rollup is user-grain — billions of rows at warehouse scale,
    # so the Gini rank runs on the distributed two-phase rank, never a
    # one-partition window
    ranked = with_global_row_number(
        per_key, ["n", "user_id"], out="rn0"
    ).select("n", F.col("rn0").cast("double").alias("rn"))
    return ranked.agg(
        F.count("*").alias("n_keys"),
        F.max("n").alias("max_key_rows"),
        F.round(
            F.max("n").cast("double") * F.count("*") / F.sum("n"), 6
        ).alias("max_over_mean"),
        F.round(
            (2.0 * F.sum(F.col("rn") * F.col("n")))
            / (F.count("*") * F.sum("n"))
            - (F.count("*").cast("double") + 1) / F.count("*"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test — is event type independent of day of
# week? Observed vs expected counts from two marginal rollups joined
# back; the statistic is one more aggregate. All contingency math runs
# at cell grain (|types| × 7 rows).
# ---------------------------------------------------------------------------
@query(
    "q141_chi_square",
    oracle="""
    WITH obs AS (
      SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ), margins AS (
      SELECT event_type, dow, o,
             SUM(o) OVER (PARTITION BY event_type) AS row_total,
             SUM(o) OVER (PARTITION BY dow) AS col_total,
             SUM(o) OVER () AS grand
      FROM obs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(SUM(pow(o - CAST(row_total AS DOUBLE) * col_total / grand,
                         2)
                     / (CAST(row_total AS DOUBLE) * col_total / grand)),
                 6) AS chi2
    FROM margins
    """,
)
def q141_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square statistic for event_type × day-of-week independence —
    contingency margins via windows over the tiny cell rollup."""
    from pyspark.sql import Window as W

    e = spark.table("events")
    obs = e.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").alias("o"))
    margins = obs.select(
        "o",
        F.sum("o").over(W.partitionBy("event_type")).alias("row_total"),
        F.sum("o").over(W.partitionBy("dow")).alias("col_total"),
        F.sum("o").over(W.partitionBy()).alias("grand"),
    )
    expected = (
        F.col("row_total").cast("double") * F.col("col_total") / F.col("grand")
    )
    return margins.agg(
        F.count("*").alias("n_cells"),
        F.round(
            F.sum(F.pow(F.col("o") - expected, 2) / expected), 6
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) — each reading holds until the next one,
# so its weight is the gap to the successor (last reading weight 0):
# one lead() window + one aggregate, the sensor/price averaging that
# plain AVG gets wrong under irregular sampling.
# ---------------------------------------------------------------------------
@query(
    "q142_twap",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             lead(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
      FROM events
    )
    SELECT user_id,
           -- decimal sums, never double SUM/AVG: value is an exact 2dp
           -- decimal and holds are integer seconds, so both the
           -- weighted and naive means are exact-ratio doubles in any
           -- addition order (q156's sf0.1 lesson)
           ROUND(CAST(SUM(CAST(value * (t_next - t) AS DECIMAL(28,6)))
                      AS DOUBLE)
                 / SUM(t_next - t), 6) AS twap,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS naive_avg,
           CAST(COUNT(*) AS BIGINT) AS n_held
    FROM seq WHERE t_next IS NOT NULL
    GROUP BY user_id
    """,
)
def q142_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value vs the naive mean — hold
    weights from one lead() pass."""
    from pyspark.sql import Window as W

    e = spark.table("events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_timestamp("ts").cast("bigint")
    seq = e.select(
        "user_id",
        "value",
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    ).where(F.col("t_next").isNotNull())
    hold = F.col("t_next") - F.col("t")
    return seq.groupBy("user_id").agg(
        F.round(
            F.sum((F.col("value") * hold).cast("decimal(28,6)")).cast(
                "double"
            )
            / F.sum(hold),
            6,
        ).alias("twap"),
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("naive_avg"),
        F.count("*").alias("n_held"),
    )


# ---------------------------------------------------------------------------
# Weighted median — the cumulative-weight formulation (sort within
# group, first value whose running weight crosses half the total). No
# weighted-percentile builtin exists in either engine; both sides
# compute the identical definition, so the check is exact.
# ---------------------------------------------------------------------------
@query(
    "q143_weighted_median",
    oracle="""
    WITH cw AS (
      SELECT l_returnflag, l_extendedprice,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice, l_orderkey,
                                            l_linenumber) AS cum,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS total
      FROM lineitem
    )
    SELECT l_returnflag,
           MIN(l_extendedprice) AS weighted_median,
           ROUND(any_value(total), 6) AS total_weight
    FROM cw WHERE cum >= total / 2.0
    GROUP BY l_returnflag
    """,
)
def q143_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per return flag via the
    cumulative-weight crossing point — one window sort per group, one
    aggregate."""
    from pyspark.sql import Window as W

    li = spark.table("lineitem")
    w = W.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    wt = W.partitionBy("l_returnflag")
    cw = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity").over(w).alias("cum"),
        F.sum("l_quantity").over(wt).alias("total"),
    )
    return (
        cw.where(F.col("cum") >= F.col("total") / 2.0)
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("weighted_median"),
            F.round(F.first("total"), 6).alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic mode — most frequent value with a pinned tie-break
# (highest count, then smallest value). Spark's builtin mode() leaves
# ties implementation-defined; the count-rollup + max_by(struct)
# formulation makes the answer a function of the data.
# ---------------------------------------------------------------------------
@query(
    "q144_mode_per_group",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2
    ), ranked AS (
      SELECT l_returnflag, l_quantity, n,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, l_quantity ASC) AS rn
      FROM counts
    )
    SELECT l_returnflag, l_quantity AS mode_quantity,
           CAST(n AS BIGINT) AS n_occurrences
    FROM ranked WHERE rn = 1
    """,
)
def q144_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal order quantity per return flag — count rollup then
    max_by over a (count, -value) struct: no second shuffle, ties
    broken by the smaller value."""
    li = spark.table("lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("n")
    )
    key = F.struct(F.col("n"), (-F.col("l_quantity")).alias("neg"))
    return counts.groupBy("l_returnflag").agg(
        F.max_by("l_quantity", key).alias("mode_quantity"),
        F.max(key).getField("n").alias("n_occurrences"),
    )


# ---------------------------------------------------------------------------
# Period-over-period reporting — monthly revenue per nation with MoM %
# change and 3-month moving average: the rollup-then-window pattern
# (windows run at month grain, the fact table is aggregated exactly
# once).
# ---------------------------------------------------------------------------
@query(
    "q145_mom_growth",
    oracle="""
    WITH monthly AS (
      SELECT c.c_nationkey,
             CAST(floor(epoch(date_trunc('month', o.o_orderdate)))
                  AS BIGINT) AS month_epoch,
             SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT n.n_name AS nation, m.month_epoch,
           CAST(m.rev AS DOUBLE) AS revenue,
           ROUND(CAST((m.rev - lag(m.rev) OVER w) / lag(m.rev) OVER w
                 AS DOUBLE), 6) AS mom_pct,
           ROUND(CAST(AVG(m.rev) OVER (w ROWS BETWEEN 2 PRECEDING AND
                                       CURRENT ROW) AS DOUBLE), 6)
             AS rev_3mo_avg
    FROM monthly m JOIN nation n ON m.c_nationkey = n.n_nationkey
    WINDOW w AS (PARTITION BY m.c_nationkey ORDER BY m.month_epoch)
    """,
)
def q145_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue per nation with month-over-month growth and a
    3-month moving average — fact table aggregated once, windows at
    month grain."""
    from pyspark.sql import Window as W

    o = spark.table("orders")
    c = spark.table("customer")
    n = spark.table("nation")
    monthly = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_nationkey",
            F.unix_timestamp(F.date_trunc("month", "o_orderdate"))
            .cast("bigint")
            .alias("month_epoch"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("rev")
        )
    )
    w = W.partitionBy("c_nationkey").orderBy("month_epoch")
    w3 = w.rowsBetween(-2, W.currentRow)
    prev = F.lag("rev").over(w)
    return (
        monthly.join(
            F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select(
            F.col("n_name").alias("nation"),
            "month_epoch",
            F.col("rev").cast("double").alias("revenue"),
            F.round(
                ((F.col("rev") - prev) / prev).cast("double"), 6
            ).alias("mom_pct"),
            F.round(F.avg("rev").over(w3).cast("double"), 6).alias(
                "rev_3mo_avg"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Exponential-decay LTV — recency-weighted user value with a FIXED
# as-of instant (determinism: never now()): one scan, one aggregate;
# the decay is a scan-side expression, not state.
# ---------------------------------------------------------------------------
_LTV_ASOF = 1706745600  # 2024-02-01T00:00:00Z
_LTV_TAU = 604800.0  # 7-day time constant


@query(
    "q146_decay_ltv",
    oracle=f"""
    SELECT user_id,
           ROUND(SUM(value * exp(-(({_LTV_ASOF} - floor(epoch(ts)))
                                  / {_LTV_TAU}))), 6) AS decayed_value,
           ROUND(SUM(value), 6) AS raw_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    WHERE ts < CAST('2024-02-01' AS TIMESTAMP)
    GROUP BY user_id
    """,
)
def q146_decay_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed user value (7-day e-folding, fixed as-of) next to
    the undecayed sum — the engagement-scoring aggregate."""
    e = spark.table("events").where(
        F.col("ts") < F.lit("2024-02-01").cast("timestamp")
    )
    t = F.unix_timestamp("ts").cast("bigint")
    decay = F.exp(-((F.lit(_LTV_ASOF) - t) / F.lit(_LTV_TAU)))
    return e.groupBy("user_id").agg(
        F.round(F.sum(F.col("value") * decay), 6).alias("decayed_value"),
        F.round(F.sum("value"), 6).alias("raw_value"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Capped running balance — clamp after every step makes the recurrence
# NON-ASSOCIATIVE: no window frame or aggregate can compute it, which
# is exactly when applyInPandas earns its place (sequential per-key
# walk, one shuffle). The oracle walks the same recurrence row-by-row
# with a recursive CTE.
# ---------------------------------------------------------------------------
_BAL_CAP = 1000.0


@query(
    "q149_capped_balance",
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id,
             CASE WHEN event_type IN ('view', 'click') THEN value
                  ELSE -value END AS delta,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), walk(user_id, event_id, rn, bal) AS (
      SELECT user_id, event_id, rn,
             greatest(least(delta, {_BAL_CAP}), 0.0)
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.rn,
             greatest(least(w.bal + s.delta, {_BAL_CAP}), 0.0)
      FROM walk w JOIN seq s
        ON s.user_id = w.user_id AND s.rn = w.rn + 1
    )
    SELECT user_id, event_id, ROUND(bal, 6) AS balance
    FROM walk
    """,
)
def q149_capped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user credit balance: views/clicks add value, other events
    spend it, clamped to [0, 1000] at every step — the sequential
    stateful scan through applyInPandas."""
    from pandas_td_spark.operators.python_udfs import capped_running_balance

    e = spark.table("events").select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.col("event_type").isin("view", "click"), F.col("value")
        ).otherwise(-F.col("value")).alias("delta"),
    )
    walked = capped_running_balance(
        e, "user_id", ["ts", "event_id"], "delta", lo=0.0, hi=_BAL_CAP
    )
    return walked.select(
        "user_id", "event_id", F.round("balance", 6).alias("balance")
    )


# ---------------------------------------------------------------------------
# Vector column analytics — norms, means, argmax position over the
# embedding array, all as JVM array expressions (no UDF, no explode):
# the cheap per-vector profile every embedding pipeline needs before
# the expensive similarity passes. Float32 inputs are cast to double
# BEFORE any arithmetic so both engines accumulate identically.
# ---------------------------------------------------------------------------
@query(
    "q151_vector_stats",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )
    SELECT vec_id, label,
           CAST(len(e) AS INT) AS dim,
           ROUND(sqrt(list_aggregate(list_transform(e, x -> x * x),
                                     'sum')), 6) AS l2_norm,
           ROUND(list_aggregate(e, 'sum') / len(e), 6) AS mean_val,
           CAST(list_indexof(e, list_aggregate(e, 'max')) AS INT)
             AS argmax_pos
    FROM v
    """,
)
def q151_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm, mean, and (1-based, first-occurrence) argmax
    over the embedding column — pure array expressions inside
    whole-stage codegen."""
    em = spark.table("embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq_sum = F.aggregate(
        F.transform(e, lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    total = F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x)
    return em.select(
        "vec_id",
        "label",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(total / F.size("embedding"), 6).alias("mean_val"),
        F.array_position(e, F.array_max(e)).cast("int").alias("argmax_pos"),
    )


# ---------------------------------------------------------------------------
# Data-quality verification (Deequ / expectations pattern) — row rules
# in ONE aggregate over ONE scan, uniqueness on the key rollup,
# referential integrity as a broadcast left-anti join; all rules land
# in one long-format result.
# ---------------------------------------------------------------------------
@query(
    "q152_data_quality",
    oracle="""
    WITH row_rules AS (
      SELECT 'totalprice_positive' AS rule,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_violations
      FROM orders
      UNION ALL
      SELECT 'orderdate_in_range',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1990-01-01'
                            AND o_orderdate < TIMESTAMP '2030-01-01'
                           THEN 0 ELSE 1 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'status_known',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P')
                           THEN 0 ELSE 1 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orderkey_unique',
             CAST(SUM(c) AS BIGINT),
             CAST(SUM(c - 1) AS BIGINT)
      FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
      UNION ALL
      SELECT 'custkey_in_customer',
             CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey))
                  AS BIGINT)
    )
    SELECT rule, n_rows, n_violations,
           ROUND(1.0 - CAST(n_violations AS DOUBLE) / n_rows, 6)
             AS pass_frac
    FROM row_rules
    """,
)
def q152_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-rule verification suite over orders: three row rules in one
    scan, key uniqueness on the rollup, customer referential integrity
    via broadcast anti-join."""
    from pandas_td_spark.operators.quality import (
        check_referential,
        check_rules,
        check_unique,
    )

    o = spark.table("orders")
    rows = check_rules(
        o,
        {
            "totalprice_positive": F.col("o_totalprice") > 0,
            "orderdate_in_range": (
                (F.col("o_orderdate") >= F.lit("1990-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("2030-01-01").cast("timestamp"))
            ),
            "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
        },
    )
    uniq = check_unique(o, ["o_orderkey"], "orderkey_unique")
    ri = check_referential(
        o, "o_custkey", spark.table("customer"), "c_custkey",
        "custkey_in_customer",
    )
    return rows.unionByName(uniq).unionByName(ri)


# ---------------------------------------------------------------------------
# Poisson bootstrap — THE scalable bootstrap (resample weights drawn
# per (row, replica) instead of resampling rows, so it runs as one
# scan × B conditional weights; public: Chamandy et al., Google 2012,
# "Estimating Uncertainty for Massive Data Streams"). Weights come
# from seeded md5 uniforms through fixed Poisson(1) CDF thresholds, so
# both engines draw the SAME bootstrap — the whole procedure is
# deterministic and exactly oracle-checkable.
# ---------------------------------------------------------------------------
_BOOT_B = 16
_BOOT_SEED = "boot-11:"
# Poisson(1) CDF thresholds for counts 0..5 (≥6 beyond the last).
_POIS_CDF = (
    0.367879441, 0.735758882, 0.919698603,
    0.980988044, 0.996319497, 0.999389527,
)


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {i}" for i, c in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 6 END"


#: universal-hash modulus for the per-replica uniforms (r10: ONE md5 per
#: row + B exact affine mixes replaces B md5s per row — measured the md5
#: as the dominant term at 16 replicas x 600k rows; same discipline as
#: operators/dedup.py minhash_params)
_BOOT_P = 2147483647


def _boot_u_sql(b: str, h: str) -> str:
    a = f"(({11 * 1000003}::BIGINT + {b} * 7919) % {_BOOT_P - 1} + 1)"
    c = f"(({11 * 998244353}::BIGINT + {b} * 104729) % {_BOOT_P})"
    return f"(((({a}) * {h} + {c}) % {_BOOT_P}) / {_BOOT_P}.0)"


@query(
    "q167_bootstrap_ci",
    oracle=f"""
    WITH hx AS (
      SELECT l_quantity,
             (('0x' || substring(md5('{_BOOT_SEED}'
                 || CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)),
                 1, 15))::BIGINT % {_BOOT_P}) AS h
      FROM lineitem
    ), reps AS (
      SELECT b.b,
             ({_pois_case_sql(_boot_u_sql("b.b", "h"))}) AS w,
             l_quantity
      FROM hx CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS b) b
    ), means AS (
      SELECT b,
             (CAST(SUM(CAST(round(w * l_quantity * 100) AS BIGINT))
                   AS DOUBLE) / 100.0) / SUM(w) AS m
      FROM reps GROUP BY b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_replicas,
           ROUND(AVG(m), 6) AS boot_mean,
           ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
           ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
    FROM means
    """,
    scale_note=(
        "B conditional weights on one scan — never B resampled copies; "
        "the explode is the per-replica bookkeeping, and the row hash is "
        "ONE md5 with B affine mixes, so per-row work stays O(B) cheap"
    ),
)
def q167_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for mean lineitem quantity from 16 deterministic
    Poisson(1) replicas — one scan, one md5 per row, per-replica uniforms
    from exact affine mixes of the row hash.

    Closed-at-shape (r12 A/B): a no-explode variant — all 16 weights as
    per-row columns feeding 32 global sums (no 16x row multiplication,
    no shuffle keys) — measured 2.19 s vs this form's 1.20 s warm at
    sf0.1: 32 wide aggregate buffers with 16 inlined WHEN chains defeat
    whole-stage codegen exactly like the kmeans dim-wide agg did. The
    explode keeps per-row expression state narrow and is the floor."""
    li = spark.table("lineitem").select(
        "l_quantity",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
    )
    # The x16 replica explode multiplies per-row work; a compact
    # parquet fixture arrives as ONE input split, which would serialize
    # all of it on one core. Spread the (narrow, pre-explode) rows across
    # the cluster first — at real scale the scan has many splits and this
    # round-robin shuffle of 2 small columns is noise.
    li = li.repartition(spark.sparkContext.defaultParallelism)
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(_BOOT_SEED), F.col("rid").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % _BOOT_P
    )
    reps = li.withColumn("h", h).select(
        "l_quantity",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    a = (
        F.lit(11 * 1000003).cast("bigint")
        + F.col("b").cast("bigint") * 7919
    ) % (_BOOT_P - 1) + 1
    c = (
        F.lit(11 * 998244353).cast("bigint")
        + F.col("b").cast("bigint") * 104729
    ) % _BOOT_P
    u = ((a * F.col("h") + c) % _BOOT_P).cast("double") / F.lit(
        float(_BOOT_P)
    )
    # Materialize u as its own projection BEFORE the CASE chain: the chain
    # references it 6 times, and building the WHENs directly on the md5
    # expression object would inline 6 md5+conv evaluations per (row,
    # replica) — measured 6x the runtime. As a named non-cheap column
    # referenced >1x, CollapseProject keeps it a single evaluation.
    w = F.lit(6)
    for i in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < F.lit(_POIS_CDF[i]), F.lit(i)).otherwise(w)
    means = (
        reps.withColumn("u", u)
        .withColumn("w", w)
        .groupBy("b")
        .agg(
            # exact BIGINT cents sum (quantity is integer-valued, w <= 6:
            # products are exact doubles well under 2^53, so round->bigint
            # is exact) — the decimal(28,6) buffer this replaces was the
            # dominant agg cost over the 16x-exploded rows (r10 profile)
            (
                (
                    F.sum(
                        F.round(
                            F.col("w") * F.col("l_quantity") * 100
                        ).cast("bigint")
                    ).cast("double")
                    / F.lit(100.0)
                )
                / F.sum("w")
            ).alias("m")
        )
    )
    return means.agg(
        F.count("*").alias("n_replicas"),
        F.round(F.avg("m"), 6).alias("boot_mean"),
        F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Grouped OLS regression (A24) — per-group slope/intercept of
# extendedprice on quantity from exact sufficient statistics (decimal
# sums), the map-side-combinable formulation: one partial+final
# aggregate, constant state per group — never a per-group data pass.
# ---------------------------------------------------------------------------
@query(
    "q183_grouped_ols",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(round(l_quantity * 100) AS BIGINT) AS qc,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
      FROM lineitem
    ), m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(qc) AS BIGINT) AS sxc,
             CAST(SUM(pc) AS BIGINT) AS syc,
             CAST(SUM(qc * qc) AS BIGINT) AS sxxc,
             CAST(SUM(qc * pc) AS BIGINT) AS sxyc
      FROM c GROUP BY l_returnflag
    ), s AS (
      SELECT l_returnflag, nb,
             CAST(nb AS DOUBLE) AS n,
             CAST(sxc AS DOUBLE) / 100 AS sx,
             CAST(syc AS DOUBLE) / 100 AS sy,
             CAST(sxxc AS DOUBLE) / 10000 AS sxx,
             CAST(sxyc AS DOUBLE) / 10000 AS sxy
      FROM m
    )
    SELECT l_returnflag,
           nb AS n_rows,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) AS intercept
    FROM s
    """,
)
def q183_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag least-squares fit price ~ quantity. The five
    moments accumulate as EXACT BIGINT CENTS (the q198/q167 discipline
    — r11: this replaced decimal(28,6) sums, whose BigDecimal-backed
    accumulator measured 1.22 s vs 0.20 s for the long-adder codegen
    path on the same scan); both engines then derive the same doubles
    from the same integers (int64→double is correctly rounded and
    identical in JVM/C++) and divide identically — REGR_SLOPE parity
    without engine accumulation order. Exact while the summed products
    stay under int64 (Σ qc·pc ≈ 7.5e15 at sf0.1; overflow ≈ sf100).
    ADVICE r11: with ansi off the wrap would be SILENT — wrong slopes,
    green-looking rows — so the envelope is now ENFORCED: the aggregate
    also carries max|qc|/max|pc|, and the 3-row tail asserts one sound
    bound PER moment (n·mq, n·mp, n·mq², n·mq·mp all < 2^62 — evaluated
    in doubles, so the guard cannot itself wrap). Out-of-envelope scale
    fails loudly; swap to decimal sums beyond it, same formula."""
    li = spark.table("lineitem")
    qc = F.round(F.col("l_quantity") * 100).cast("bigint")
    pc = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("nb"),
        F.sum(qc).alias("sxc"),
        F.sum(pc).alias("syc"),
        F.sum(qc * qc).alias("sxxc"),
        F.sum(qc * pc).alias("sxyc"),
        F.max(F.abs(qc)).alias("_mq"),
        F.max(F.abs(pc)).alias("_mp"),
    )
    nd = F.col("nb").cast("double")
    mq = F.col("_mq").cast("double")
    mp = F.col("_mp").cast("double")
    # one sound bound PER moment: n*mq >= |Σqc|, n*mp >= |Σpc|,
    # n*mq^2 >= Σqc^2, n*mq*mp >= |Σqc*pc|. The r11 single-expression
    # guard n*mq*max(mq,mp) missed Σpc entirely when mq == 0, and the
    # first r12 fix (n*max(mq,mp,1)^2) overshot by mp/mq (~2000x on
    # TPC-H cents) and false-fired on valid sf0.1 data — per-moment
    # checks are both sound and tight.
    lim = F.lit(float(2**62))
    in_envelope = (
        (nd * mq < lim)
        & (nd * mp < lim)
        & (nd * mq * mq < lim)
        & (nd * mq * mp < lim)
    ) | (F.col("nb") == 0)
    s = m.select(
        "l_returnflag",
        "nb",
        # assert_true -> NULL while in envelope, raises beyond it; the
        # WHEN threads it through a 3-row projection at zero plan cost
        F.when(
            F.assert_true(
                in_envelope,
                "q183: bigint-cents moment envelope exceeded (~sf100) — "
                "switch to decimal sums",
            ).isNull(),
            F.col("nb").cast("double"),
        ).alias("n"),
        (F.col("sxc").cast("double") / 100).alias("sx"),
        (F.col("syc").cast("double") / 100).alias("sy"),
        (F.col("sxxc").cast("double") / 10000).alias("sxx"),
        (F.col("sxyc").cast("double") / 10000).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "l_returnflag",
        F.col("nb").alias("n_rows"),
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Mutual information between two categoricals (A25) — event_type ×
# day-of-week, the feature-dependence measure feeding pruning/selection
# decisions. Same engine-reconciliation tricks as q141 (dow values
# never reach the output; only the equivalence classes matter) and
# q181 (per-cell contributions 12dp-rounded and decimal-summed; ln
# rounded 6dp).
# ---------------------------------------------------------------------------
@query(
    "q184_mutual_information",
    oracle="""
    WITH obs AS (
      SELECT event_type, dayofweek(ts) AS dow,
             CAST(COUNT(*) AS DOUBLE) AS o
      FROM events GROUP BY 1, 2
    ), margins AS (
      SELECT o,
             SUM(o) OVER (PARTITION BY event_type) AS row_total,
             SUM(o) OVER (PARTITION BY dow) AS col_total,
             SUM(o) OVER () AS grand
      FROM obs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(CAST(SUM(CAST(round((o / grand)
                 * round(ln((o * grand) / (row_total * col_total)), 6), 12)
               AS DECIMAL(28,12))) AS DOUBLE), 6) AS mi_nats
    FROM margins
    """,
)
def q184_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI(event_type; day-of-week) in nats over the contingency cells —
    margins via windows on the tiny cell rollup, exactly like q141."""
    from pyspark.sql import Window as W

    e = spark.table("events")
    obs = e.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").cast("double").alias("o"))
    margins = obs.select(
        "o",
        F.sum("o").over(W.partitionBy("event_type")).alias("row_total"),
        F.sum("o").over(W.partitionBy("dow")).alias("col_total"),
        F.sum("o").over(W.partitionBy()).alias("grand"),
    )
    contrib = F.round(
        (F.col("o") / F.col("grand"))
        * F.round(
            F.log(
                (F.col("o") * F.col("grand"))
                / (F.col("row_total") * F.col("col_total"))
            ),
            6,
        ),
        12,
    ).cast("decimal(28,12)")
    return margins.agg(
        F.count("*").alias("n_cells"),
        F.round(F.sum(contrib).cast("double"), 6).alias("mi_nats"),
    )


# ---------------------------------------------------------------------------
# Weight-of-evidence decile binning (A29) — the credit-scoring /
# feature-engineering encoder: global price deciles (deterministic
# ntile over a tie-broken total order), per-bin event/non-event split
# (returnflag='R' as the label), WOE = ln(bad share / good share) and
# the IV contribution. Marginals come from one 1-row broadcast.
# ---------------------------------------------------------------------------
@query(
    "q188_woe_binning",
    oracle="""
    WITH binned AS (
      SELECT NTILE(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                             l_linenumber) AS bin,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
      FROM lineitem
    ), cells AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(bad) AS DOUBLE) AS n_bad,
             CAST(COUNT(*) - SUM(bad) AS DOUBLE) AS n_good
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT SUM(n_bad) AS tb, SUM(n_good) AS tg FROM cells
    )
    SELECT bin, n,
           round(ln((n_bad / tb) / (n_good / tg)), 6) AS woe,
           round(((n_bad / tb) - (n_good / tg))
                 * round(ln((n_bad / tb) / (n_good / tg)), 6), 6) AS iv_term
    FROM cells CROSS JOIN tot
    """,
)
def q188_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WOE/IV over price deciles with returns as the event class. The
    global decile assignment runs DISTRIBUTED (operators/ranking.py
    two-phase rank) rather than as a one-partition ntile window — this
    is fact-grain input, and the exact path must not funnel the table
    through one task; the approx_percentile fence swap (q125 note)
    remains the cheaper alternative when exactness is negotiable.

    r11 A/B (same-session min-of-6, sf0.1): the rank path (one job, one
    600 k-row exchange) measured 0.93 s vs 1.30 s for the
    ``global_ntile_agg`` bounded-exchange form and 1.76 s for a
    collect-driven 2-job variant — locally the extra scans/stages cost
    more than the one exchange saves, so the rank path stays (at
    shuffle-bound cluster scale a bounded-exchange per-bin aggregate
    would be the swap; the unused form was deleted). The marginals tail was
    the real win: the old broadcast-join form spent two extra jobs vs
    the whole-frame window over the 10-row bin frame (~-0.3 s).

    CLOSED AT SHAPE (r13, VERDICT r12 #2): re-A/B'd both alternatives
    interleaved with per-run GC drains after the r12 battery flagged a
    2.33x letter ratio — rank median 1.45-1.54 s vs global_ntile_agg
    2.37 vs a packed-single-bigint sort key (cents/orderkey/line/bad in
    one int64) 1.82; values identical in all three. The rank path wins
    again and is the floor: one full-width exchange + distributed sort
    is the irreducible cost of an EXACT global decile at this grain,
    and DuckDB's 0.48 s is a single-core in-memory ntile sort with no
    exchange — an engine-architecture difference, not a missing
    optimization (the approx_percentile fence swap remains the
    documented cheap alternative when exactness is negotiable)."""
    from pandas_td_spark.operators.ranking import with_global_ntile

    li = spark.table("lineitem")
    binned = with_global_ntile(
        li.select(
            "l_extendedprice",
            "l_orderkey",
            "l_linenumber",
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(0)
            .alias("bad"),
        ),
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        10,
        out="bin",
    ).select("bin", "bad")
    cells = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("bad").cast("double").alias("n_bad"),
        (F.count("*") - F.sum("bad")).cast("double").alias("n_good"),
    )
    # marginals over the ≤10-row bin frame via a whole-frame window (one
    # partition of B rows — bounded by the bin count, never by data);
    # the broadcast-join form costs two extra jobs for the same values
    wt = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    totaled = cells.withColumn("tb", F.sum("n_bad").over(wt)).withColumn(
        "tg", F.sum("n_good").over(wt)
    )
    bad_share = F.col("n_bad") / F.col("tb")
    good_share = F.col("n_good") / F.col("tg")
    woe = F.round(F.log(bad_share / good_share), 6)
    return totaled.select(
        "bin",
        "n",
        woe.alias("woe"),
        F.round((bad_share - good_share) * woe, 6).alias("iv_term"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov statistic (A30) — drift detection
# between the 'view' and 'purchase' value distributions: the max ECDF
# gap over the pooled support, computed with two running-count windows
# over the per-value rollup (never over raw rows).
# ---------------------------------------------------------------------------
@query(
    "q189_ks_statistic",
    oracle="""
    WITH cells AS (
      SELECT value,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS c1,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS c2
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY value
    ), tot AS (
      SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM cells
    ), ecdf AS (
      SELECT SUM(c1) OVER (ORDER BY value) / n1 AS f1,
             SUM(c2) OVER (ORDER BY value) / n2 AS f2
      FROM cells CROSS JOIN tot
    )
    SELECT CAST((SELECT n1 FROM tot) AS BIGINT) AS n1,
           CAST((SELECT n2 FROM tot) AS BIGINT) AS n2,
           MAX(ABS(f1 - f2)) AS ks
    FROM ecdf
    """,
)
def q189_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS distance between two event-type value distributions. ECDF
    steps only change at observed values, so the windows run over the
    distinct-value rollup; the max-abs-gap ships unrounded (identical
    doubles both engines — q186 rationale)."""
    from pyspark.sql import Window as W

    e = spark.table("events").where(
        F.col("event_type").isin("view", "purchase")
    )
    cells = e.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).cast("double").alias("c1"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("double").alias("c2"),
    )
    tot = cells.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, W.currentRow)
    ecdf = cells.join(F.broadcast(tot)).select(
        (F.sum("c1").over(w) / F.col("n1")).alias("f1"),
        (F.sum("c2").over(w) / F.col("n2")).alias("f2"),
        "n1",
        "n2",
    )
    return ecdf.agg(
        F.first("n1").cast("bigint").alias("n1"),
        F.first("n2").cast("bigint").alias("n2"),
        F.max(F.abs(F.col("f1") - F.col("f2"))).alias("ks"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (M9) — fraud/data-quality screen on order
# totals: observed leading-digit shares vs Benford expectation with a
# chi-square distance. The digit comes from the CENTS INTEGER's string
# form (float-to-string and log10-ulp both diverge across engines;
# integer-to-string cannot).
# ---------------------------------------------------------------------------
@query(
    "q190_benford",
    oracle="""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100, 0)
               AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM orders WHERE o_totalprice > 0
    ), obs AS (
      SELECT d, CAST(COUNT(*) AS DOUBLE) AS o FROM digits GROUP BY d
    ), tot AS (SELECT SUM(o) AS n FROM obs)
    SELECT d,
           CAST(o AS BIGINT) AS n_orders,
           round(o / n, 6) AS observed,
           round(ln(1.0 + 1.0 / d) / ln(10.0), 6) AS expected,
           round(pow(o / n - round(ln(1.0 + 1.0 / d) / ln(10.0), 6), 2)
                 / round(ln(1.0 + 1.0 / d) / ln(10.0), 6), 6) AS chi_term
    FROM obs CROSS JOIN tot
    """,
)
def q190_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of order totals vs Benford's law."""
    o = spark.table("orders").where(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count("*").cast("double").alias("o"))
    tot = obs.agg(F.sum("o").alias("n"))
    expected = F.round(
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("d")) / F.log(F.lit(10.0)), 6
    )
    share = F.col("o") / F.col("n")
    return obs.join(F.broadcast(tot)).select(
        "d",
        F.col("o").cast("bigint").alias("n_orders"),
        F.round(share, 6).alias("observed"),
        expected.alias("expected"),
        F.round(F.pow(share - expected, 2) / expected, 6).alias("chi_term"),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing (2.11f, second non-associative scan) — the classic
# telemetry smoother y_i = a*x_i + (1-a)*y_{i-1}. Closed-form window
# tricks ((1-a)^-i scaling) overflow double range on real streams, so
# this is the applyInPandas sequential-walk family (q149's sibling);
# the oracle walks the identical recurrence as a recursive CTE.
# alpha is 0.5 ON PURPOSE: both weights are then exact powers of two,
# so each step's products are EXACT and the single add rounds
# identically everywhere — an 0.3/0.7 variant diverged by 1 ulp at
# sf0.1 when the oracle engine contracted the multiply-add into an FMA.
# The output ships UNROUNDED for the same reason: the dyadic states land
# exactly on 6dp rounding boundaries, where engine ROUND semantics
# diverge — while the raw doubles are bit-identical.
# ---------------------------------------------------------------------------
_EWMA_A = 0.5


@query(
    "q191_ewma",
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), walk(user_id, event_id, rn, y) AS (
      SELECT user_id, event_id, rn, value FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.rn,
             {_EWMA_A} * s.value + {1.0 - _EWMA_A} * w.y
      FROM walk w JOIN seq s
        ON s.user_id = w.user_id AND s.rn = w.rn + 1
    )
    SELECT user_id, event_id, y AS smoothed
    FROM walk
    """,
)
def q191_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha=0.5) of event values in time order."""
    from pandas_td_spark.operators.python_udfs import ewma

    e = spark.table("events").select(
        "user_id", "event_id", "ts", "value"
    )
    return ewma(e, "user_id", ["ts", "event_id"], "value", _EWMA_A).select(
        "user_id", "event_id", F.col("ewma").alias("smoothed")
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (A31) — time from a user's first event to
# first purchase, right-censored at their last observed event. All
# risk-set math happens at the distinct-duration grain (a handful of
# rows) after one user-grain aggregate; the survival curve ships as
# LOG-survival (cumulative decimal sum of 6dp-rounded ln terms) —
# exp() is the one op whose ulp behavior the engines don't share.
# ---------------------------------------------------------------------------
@query(
    "q192_kaplan_meier",
    oracle="""
    WITH durs AS (
      SELECT user_id,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                    IS NOT NULL
                  THEN date_diff('day', MIN(ts),
                       MIN(CASE WHEN event_type = 'purchase' THEN ts END))
                  ELSE date_diff('day', MIN(ts), MAX(ts)) END AS dur,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                    IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM events GROUP BY user_id
    ), cells AS (
      SELECT dur, CAST(COUNT(*) AS DOUBLE) AS c,
             CAST(SUM(ev) AS DOUBLE) AS d
      FROM durs GROUP BY dur
    ), risk AS (
      SELECT dur, d,
             SUM(c) OVER (ORDER BY dur DESC) AS at_risk
      FROM cells
    ), km AS (
      SELECT dur, d, at_risk,
             CAST(SUM(CAST(round(ln(1.0 - d / at_risk), 6)
                     AS DECIMAL(28,6))) OVER (ORDER BY dur) AS DOUBLE)
               AS log_surv
      FROM risk WHERE d > 0 AND d < at_risk
    )
    SELECT CAST(dur AS BIGINT) AS dur_days,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events,
           log_surv
    FROM km
    """,
)
def q192_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM estimator of signup->purchase conversion time with right
    censoring; log-survival per event day."""
    from pyspark.sql import Window as W

    e = spark.table("events")
    pts = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    )
    durs = e.groupBy("user_id").agg(
        F.when(
            pts.isNotNull(), F.datediff(pts, F.min("ts"))
        )
        .otherwise(F.datediff(F.max("ts"), F.min("ts")))
        .alias("dur"),
        F.when(pts.isNotNull(), 1).otherwise(0).alias("ev"),
    )
    cells = durs.groupBy("dur").agg(
        F.count("*").cast("double").alias("c"),
        F.sum("ev").cast("double").alias("d"),
    )
    w_desc = W.orderBy(F.col("dur").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    risk = cells.select(
        "dur", "d", F.sum("c").over(w_desc).alias("at_risk")
    ).where((F.col("d") > 0) & (F.col("d") < F.col("at_risk")))
    term = F.round(
        F.log(F.lit(1.0) - F.col("d") / F.col("at_risk")), 6
    ).cast("decimal(28,6)")
    w_asc = W.orderBy("dur").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return risk.select(
        F.col("dur").cast("bigint").alias("dur_days"),
        F.col("at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.sum(term).over(w_asc).cast("double").alias("log_surv"),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection (2.11g) — one-sided upper CUSUM of daily
# revenue against the per-flag mean, the drift detector paired with
# q191's EWMA. Cents-grain integers end to end: the walk's states are
# exact BIGINTs, so the applyInPandas scan and the oracle's recursive
# CTE agree bit-for-bit. One day-grain partial agg, a 3-row broadcast
# of targets, then the per-key sequential walk (parallel across keys).
# ---------------------------------------------------------------------------
@query(
    "q200_cusum",
    oracle="""
    WITH RECURSIVE mo AS (
      SELECT l_returnflag AS rf, date_trunc('month', l_shipdate) AS d,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM lineitem GROUP BY 1, 2
    ), tgt AS (
      SELECT rf, CAST(SUM(rev) // COUNT(*) AS BIGINT) AS t
      FROM mo GROUP BY rf
    ), seq AS (
      SELECT mo.rf, mo.d, mo.rev, tgt.t,
             row_number() OVER (PARTITION BY mo.rf ORDER BY mo.d) AS rn
      FROM mo JOIN tgt USING (rf)
    ), walk(rf, d, rn, s) AS (
      SELECT rf, d, rn, GREATEST(0, rev - t) FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.rf, q.d, q.rn, GREATEST(0, w.s + q.rev - q.t)
      FROM walk w JOIN seq q ON q.rf = w.rf AND q.rn = w.rn + 1
    )
    SELECT rf AS l_returnflag,
           CAST(floor(epoch(d)) AS BIGINT) AS month_epoch,
           CAST(s AS BIGINT) AS cusum_cents
    FROM walk
    """,
)
def q200_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag CUSUM of monthly revenue cents vs the flag's mean
    month (floor division keeps the target integral). Month grain keeps
    the oracle's recursive CTE at 84 steps — at day grain DuckDB's
    step-per-row recursion needed minutes, a pure oracle-cost choice;
    the Spark walk is grain-agnostic."""
    from pandas_td_spark.operators.python_udfs import cusum

    mo = (
        spark.table("lineitem")
        .groupBy(
            F.col("l_returnflag").alias("rf"),
            F.date_trunc("month", "l_shipdate").alias("d"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).cast("bigint").alias("rev")
        )
    )
    # integer `div` over a decimal sum, matching the oracle's
    # `SUM(rev) // COUNT(*)` (HUGEINT floor-div): floor of the double
    # quotient goes inexact once the flag's total cents pass 2^53
    tgt = mo.groupBy("rf").agg(
        F.expr(
            "CAST(sum(CAST(rev AS DECIMAL(38,0))) div count(*) AS BIGINT)"
        ).alias("t")
    )
    seq = mo.join(F.broadcast(tgt), "rf")
    return cusum(seq, "rf", ["d"], "rev", "t", out="s").select(
        F.col("rf").alias("l_returnflag"),
        F.unix_timestamp("d").cast("bigint").alias("month_epoch"),
        F.col("s").alias("cusum_cents"),
    )


# ---------------------------------------------------------------------------
# Event debounce / rate limiting (2.11h) — keep an event only if >= 300 s
# after the last KEPT event per user. The kept-set recursion (state =
# last surviving timestamp, which depends on earlier decisions) is the
# canonical op a LAG window CANNOT express; runs as the cusum/ewma-
# family applyInPandas walk, certified by a recursive-CTE oracle on
# exact integer epochs.
# ---------------------------------------------------------------------------
@query(
    "q217_debounce",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS e,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), walk(user_id, event_id, rn, e, kept, last_kept) AS (
      SELECT user_id, event_id, rn, e, 1, e FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.rn, s.e,
             CASE WHEN s.e - w.last_kept >= 300 THEN 1 ELSE 0 END,
             CASE WHEN s.e - w.last_kept >= 300 THEN s.e
                  ELSE w.last_kept END
      FROM walk w JOIN seq s
        ON s.user_id = w.user_id AND s.rn = w.rn + 1
    )
    SELECT user_id, event_id, CAST(kept AS INTEGER) AS kept
    FROM walk
    """,
)
def q217_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 300 s debounce flags over the event stream."""
    from pandas_td_spark.operators.python_udfs import debounce

    e = spark.table("events").select(
        "user_id",
        "event_id",
        "ts",
        F.unix_timestamp("ts").cast("bigint").alias("e"),
    )
    return debounce(
        e, "user_id", ["ts", "event_id"], "e", 300, out="kept"
    ).select("user_id", "event_id", "kept")


# ---------------------------------------------------------------------------
# ANALYZE-style column statistics (S6b) — the optimizer-statistics table
# (`ANALYZE TABLE ... FOR COLUMNS` shape): per-column row/null/NDV counts
# and rendered min/max over orders. One column-pruned aggregate per
# column, unioned — |columns| result rows; exact NDV keeps the oracle
# exact (approx_count_distinct is the documented 100 TB swap). The
# Spark plan and the DuckDB oracle are generated from the SAME spec
# (operators/stats.py), so the per-type renders cannot drift.
# ---------------------------------------------------------------------------
_STATS_SPECS = [
    ("o_orderkey", None),
    ("o_custkey", None),
    ("o_orderstatus", None),
    # money column: render through DECIMAL(18,2) — both engines print
    # the same fixed-point text, where raw double→string formats differ
    ("o_totalprice", "CAST({c} AS DECIMAL(18,2))"),
    # timestamp at date grain: render as DATE text
    ("o_orderdate", "CAST({c} AS DATE)"),
    ("o_orderpriority", None),
]


def _stats_oracle() -> str:
    from pandas_td_spark.operators.stats import column_stats_sql

    return column_stats_sql("orders", _STATS_SPECS, string_type="VARCHAR")


@query(
    "q240_column_stats",
    oracle=_stats_oracle(),
    scale_note=(
        "exact NDV per column is the oracle anchor; at 100 TB swap "
        "countDistinct for approx_count_distinct (mergeable HLL, "
        "KB-scale state) — the rest of the statistics stay exact"
    ),
)
def q240_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column ANALYZE statistics over orders."""
    from pandas_td_spark.operators.stats import column_stats

    return column_stats(
        spark.table("orders"), _STATS_SPECS, string_type="STRING"
    )


# ---------------------------------------------------------------------------
# Grouped Holt-Winters forecasting (r14, VERDICT r13 #9 — the q191/q200
# sequential-walk family). Daily revenue per order priority smoothed by
# additive triple exponential smoothing with all coefficients 1/2:
# dyadic weights make every multiply exact in IEEE doubles (q191's
# FMA-immunity argument), so the DuckDB oracle replays the walk
# bit-for-float-bit as a recursive CTE that carries the 7-step seasonal
# ring as a LIST column. x is an exact DECIMAL day-sum cast once to
# DOUBLE on both sides so the series itself is engine-identical.
# ---------------------------------------------------------------------------
# the series starts at 1997-01-01: the full 1992-1998 span costs the
# recursive-CTE oracle ~90 s at any SF (the recursion DEPTH, ~2400
# iterations, is the cost driver — row width is negligible), which ate
# most of the comparator watchdog budget; ~580 days x 5 groups is the
# same exactness gate at a third of the oracle cost
_HW_SERIES_SQL = """
      SELECT grp, row_number() OVER (PARTITION BY grp ORDER BY d) AS rn, x
      FROM (
        SELECT o_orderpriority AS grp, o_orderdate AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS x
        FROM orders WHERE o_orderdate >= DATE '1997-01-01'
        GROUP BY 1, 2
      )
"""

_HW_WALK_SQL = f"""
    WITH RECURSIVE seq AS ({_HW_SERIES_SQL}
    ), walk(grp, rn, l, b, slist, season, fitted) AS (
      SELECT grp, rn, x, CAST(0 AS DOUBLE),
             [CAST(0 AS DOUBLE), 0, 0, 0, 0, 0, 0],
             CAST(0 AS DOUBLE), x
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.grp, s.rn,
             0.5 * (s.x - w.slist[1]) + 0.5 * (w.l + w.b),
             0.5 * ((0.5 * (s.x - w.slist[1]) + 0.5 * (w.l + w.b)) - w.l)
               + 0.5 * w.b,
             list_append(w.slist[2:],
               0.5 * (s.x
                      - (0.5 * (s.x - w.slist[1]) + 0.5 * (w.l + w.b)))
                 + 0.5 * w.slist[1]),
             0.5 * (s.x - (0.5 * (s.x - w.slist[1]) + 0.5 * (w.l + w.b)))
               + 0.5 * w.slist[1],
             w.l + w.b + w.slist[1]
      FROM walk w JOIN seq s ON s.grp = w.grp AND s.rn = w.rn + 1
    )
"""


@query(
    "q280_holt_winters",
    oracle=_HW_WALK_SQL + """
    SELECT grp AS priority, rn, l AS level, b AS trend, season, fitted
    FROM walk
    """,
    scale_note=(
        "one shuffle on the series key then a linear per-key python "
        "walk (CPU-bound stage repartitioned to core count); series "
        "count scales out, series length is the sequential dimension "
        "on any engine — the oracle's recursive CTE walks the same "
        "recurrence"
    ),
)
def q280_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority daily-revenue Holt-Winters smoothing states
    (level/trend/season + one-step-ahead fitted), m=7, dyadic
    coefficients — raw doubles, bit-identical to the recursive-CTE
    oracle."""
    from pandas_td_spark.operators.forecast import holt_winters

    daily = (
        spark.table("orders")
        .where(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("d"),
        )
        .agg(
            bsum("o_totalprice", 2).alias("_sp"),
            F.count("*").alias("_n"),
            bmax("o_totalprice", 2).alias("_mp"),
        )
        .select(
            "priority",
            "d",
            bval(F.col("_sp"), F.col("_n"), F.col("_mp"), 2, "q280")
            .alias("x"),
        )
    )
    return holt_winters(daily, "priority", ["d"], "x", m=7).select(
        "priority", "rn", "level", "trend", "season", "fitted"
    )


@query(
    "q281_hw_forecast",
    oracle=_HW_WALK_SQL + """
    , last AS (
      SELECT grp, l, b, slist,
             row_number() OVER (PARTITION BY grp ORDER BY rn DESC) AS rr
      FROM walk
    )
    SELECT grp AS priority, h.h AS h,
           l + h.h * b + slist[((h.h - 1) % 7) + 1] AS yhat
    FROM last CROSS JOIN range(1, 15) h(h)
    WHERE rr = 1
    """,
    scale_note="q280's walk + a per-group h-expansion (model grain)",
)
def q281_hw_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day-ahead forecasts per priority from the final Holt-Winters
    state: level + h*trend + cyclic seasonal carry-forward."""
    from pandas_td_spark.operators.forecast import holt_winters_forecast

    daily = (
        spark.table("orders")
        .where(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("d"),
        )
        .agg(
            bsum("o_totalprice", 2).alias("_sp"),
            F.count("*").alias("_n"),
            bmax("o_totalprice", 2).alias("_mp"),
        )
        .select(
            "priority",
            "d",
            bval(F.col("_sp"), F.col("_n"), F.col("_mp"), 2, "q281")
            .alias("x"),
        )
    )
    return holt_winters_forecast(
        daily, "priority", ["d"], "x", m=7, horizon=14
    ).select("priority", "h", "yhat")


# ---------------------------------------------------------------------------
# Classical seasonal decomposition + MAD anomaly bands (r15, VERDICT
# r14 #8 builder's-choice capability — the WINDOW-form complement to
# q280's sequential walk: centered moving average, seasonal indices,
# residuals, and rank-pick median bands, all pure JVM window
# expressions, zero python, zero recursion). Bit-exactness discipline:
# cents-integral input, every mean ONE division of an exact bigint sum,
# the m-term grand-mean float fold written as the same left-associated
# chain in both engines, and medians as explicit two-middle-element
# picks with a dyadic (lo+hi)/2 — no engine quantile interpolation.
# Unlike the q280/q281 recursive-CTE walks (~75 s oracle pain), this
# oracle is plain window SQL and runs in comparator time.
# ---------------------------------------------------------------------------
_SD_CORE_SQL = """
    seq AS (
      SELECT grp, row_number() OVER (PARTITION BY grp ORDER BY d) AS rn,
             xc
      FROM (
        SELECT o_orderpriority AS grp, o_orderdate AS d,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS xc
        FROM orders WHERE o_orderdate >= DATE '1997-01-01'
        GROUP BY 1, 2
      )
    ), w1 AS (
      SELECT grp, rn, xc,
             SUM(xc) OVER (PARTITION BY grp ORDER BY rn
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS s7,
             COUNT(xc) OVER (PARTITION BY grp ORDER BY rn
                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS c7,
             COUNT(*) OVER (PARTITION BY grp) AS n,
             (rn - 1) % 7 AS j
      FROM seq
    ), w2 AS (
      SELECT grp, rn, xc, s7, c7, j,
             CASE WHEN c7 = 7 THEN 7 * xc - s7 END AS dm
      FROM w1 WHERE n >= 13
    ), w3 AS (
      SELECT *, SUM(dm) OVER (PARTITION BY grp, j) AS sjsum,
                COUNT(dm) OVER (PARTITION BY grp, j) AS nj
      FROM w2
    ), w4 AS (
      SELECT *, CAST(sjsum AS DOUBLE) / CAST(7 * nj AS DOUBLE) AS sj
      FROM w3
    ), w5 AS (
      SELECT *,
        MAX(CASE WHEN j = 0 THEN sj END) OVER (PARTITION BY grp) AS sj0,
        MAX(CASE WHEN j = 1 THEN sj END) OVER (PARTITION BY grp) AS sj1,
        MAX(CASE WHEN j = 2 THEN sj END) OVER (PARTITION BY grp) AS sj2,
        MAX(CASE WHEN j = 3 THEN sj END) OVER (PARTITION BY grp) AS sj3,
        MAX(CASE WHEN j = 4 THEN sj END) OVER (PARTITION BY grp) AS sj4,
        MAX(CASE WHEN j = 5 THEN sj END) OVER (PARTITION BY grp) AS sj5,
        MAX(CASE WHEN j = 6 THEN sj END) OVER (PARTITION BY grp) AS sj6
      FROM w4
    ), dec AS (
      SELECT grp, rn, xc,
             CASE WHEN c7 = 7
               THEN CAST(s7 AS DOUBLE) / CAST(7 AS DOUBLE) END AS trend,
             CASE WHEN c7 = 7
               THEN sj - (sj0 + sj1 + sj2 + sj3 + sj4 + sj5 + sj6)
                    / CAST(7 AS DOUBLE) END AS seasonal,
             CASE WHEN c7 = 7
               THEN CAST(dm AS DOUBLE) / CAST(7 AS DOUBLE)
                    - (sj - (sj0 + sj1 + sj2 + sj3 + sj4 + sj5 + sj6)
                       / CAST(7 AS DOUBLE)) END AS resid
      FROM w5
    )
"""


def _sd_daily(spark: SparkSession):
    # r15 session-2 (guide §1.2): daily cents via bsum's floor-scaled
    # int64 form instead of a decimal(28,2) BigDecimal sum — o_totalprice
    # is 2-dp currency (fixture-verified contract, the q01/q29 site), so
    # FLOOR(x*100 + 0.5) is the exact cent numerator and the bigint sum
    # is exact; oracle converted in lockstep. Envelope: |Σ| per
    # (priority, day) < 2^62 cents ≈ 4.6e16 dollars/cell — unreachable
    # at any TPC-H scale factor (documented, not guarded: xc must stay
    # BIGINT for the decomposition's exact integer arithmetic, and
    # bval's double descale would break that).
    return (
        spark.table("orders")
        .where(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("d"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            ).alias("xc")
        )
    )


@query(
    "q284_seasonal_decompose",
    oracle=f"""
    WITH {_SD_CORE_SQL}
    SELECT grp AS priority, rn, xc AS x_cents, trend, seasonal, resid
    FROM dec
    """,
    scale_note=(
        "one shuffle on the series key; every window (MA frame, "
        "seasonal index, grand-mean pivot) inherits that partitioning "
        "— zero further exchanges; series count scales out"
    ),
)
def q284_seasonal_decompose(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-priority daily-revenue classical decomposition (m=7):
    centered moving-average trend, centered weekly seasonal indices,
    residuals — raw doubles, bit-identical to the window-SQL oracle."""
    from pandas_td_spark.operators.forecast import seasonal_decompose

    return seasonal_decompose(
        _sd_daily(spark), "priority", ["d"], "xc", m=7
    ).select(
        "priority", "rn", "x_cents", "trend", "seasonal", "resid"
    )


@query(
    "q285_seasonal_anomalies",
    oracle=f"""
    WITH {_SD_CORE_SQL}, mk AS (
      SELECT grp, rn, resid,
             row_number() OVER (PARTITION BY grp ORDER BY resid, rn)
               AS rr,
             COUNT(resid) OVER (PARTITION BY grp) AS cc
      FROM dec WHERE resid IS NOT NULL
    ), m1 AS (
      SELECT grp, rn, resid,
        (MAX(CASE WHEN rr = (cc + 1) // 2 THEN resid END)
           OVER (PARTITION BY grp)
         + MAX(CASE WHEN rr = cc // 2 + 1 THEN resid END)
           OVER (PARTITION BY grp)) / 2 AS med
      FROM mk
    ), d1 AS (
      SELECT grp, rn, resid, abs(resid - med) AS dev FROM m1
    ), d2 AS (
      SELECT grp, rn, resid, dev,
             row_number() OVER (PARTITION BY grp ORDER BY dev, rn)
               AS rr,
             COUNT(dev) OVER (PARTITION BY grp) AS cc
      FROM d1
    ), d3 AS (
      SELECT grp, rn, resid, dev,
        (MAX(CASE WHEN rr = (cc + 1) // 2 THEN dev END)
           OVER (PARTITION BY grp)
         + MAX(CASE WHEN rr = cc // 2 + 1 THEN dev END)
           OVER (PARTITION BY grp)) / 2 AS mad
      FROM d2
    )
    SELECT grp AS priority, rn, resid, dev, mad
    FROM d3 WHERE dev > 4 * mad
    """,
    scale_note=(
        "q284's windows + two rank-pick median rounds on the same key "
        "partitioning (no quantile interpolation — explicit "
        "two-middle-element dyadic average)"
    ),
)
def q285_seasonal_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Residual anomalies: interior days whose |resid - median| exceeds
    4x the median absolute deviation, both medians rank-picked."""
    from pandas_td_spark.operators.forecast import seasonal_anomalies

    return seasonal_anomalies(
        _sd_daily(spark), "priority", ["d"], "xc", m=7, k=4.0
    )
