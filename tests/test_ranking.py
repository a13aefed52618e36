"""Distributed exact global ranking (operators/ranking.py) must equal
the single-partition window forms bit-for-bit, while keeping the data
spread across partitions (the whole point). The distributed path is the
DEFAULT; the window fast path is opt-in via small_threshold."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pandas_td_spark.operators.ranking import (
    SMALL_THRESHOLD,
    with_global_ntile,
    with_global_row_number,
)


def _fixture(spark, n=100_000):
    # heavy ties on k (1000 distinct), unique tiebreak id, scrambled order
    return (
        spark.range(n, numPartitions=16)
        .select(
            F.col("id").alias("i"),
            F.pmod(F.xxhash64("id"), F.lit(1000)).alias("k"),
        )
        .repartition(16)  # scramble: input order must not matter
    )


def test_global_row_number_matches_window(spark):
    df = _fixture(spark)
    got = with_global_row_number(df, ["k", "i"], out="rn")
    want = df.withColumn(
        "rn", F.row_number().over(W.orderBy("k", "i")).cast("bigint")
    )
    assert (
        got.select("i", "rn")
        .exceptAll(want.select("i", "rn"))
        .count()
        == 0
    )
    # and the rank window is PARTITIONED (by the boundary bucket), never
    # the global "No Partition Defined" form — AQE may still coalesce
    # the small RESULT to one partition, which is fine
    from pandas_td_spark.plans.explain import physical_plan

    plan = physical_plan(got)
    assert "windowspecdefinition(__bkt" in plan, (
        "expected a __bkt-partitioned window in:\n" + plan[:2000]
    )


def test_global_ntile_matches_window(spark):
    df = _fixture(spark)
    for k in (10, 7):  # 7 does not divide 100000: remainder path
        got = with_global_ntile(df, ["k", "i"], k, out="b")
        want = df.withColumn(
            "b", F.ntile(k).over(W.orderBy("k", "i")).cast("bigint")
        )
        assert (
            got.select("i", "b").exceptAll(want.select("i", "b")).count()
            == 0
        ), f"ntile({k}) mismatch"


def test_global_ntile_fewer_rows_than_buckets(spark):
    df = spark.range(3).select(F.col("id").alias("i"))
    got = {
        r["i"]: r["b"]
        for r in with_global_ntile(df, ["i"], 10, out="b").collect()
    }
    assert got == {0: 1, 1: 2, 2: 3}


def test_gated_window_path_matches_distributed(spark):
    df = _fixture(spark, n=5_000)
    # opt-in window path (aggregate-grain caller pattern: threshold +
    # known row count) must equal the distributed default bit-for-bit
    a = with_global_row_number(
        df, ["k", "i"], out="rn",
        small_threshold=SMALL_THRESHOLD, input_rows=5_000,
    )
    b = with_global_row_number(df, ["k", "i"], out="rn")
    assert (
        a.select("i", "rn").exceptAll(b.select("i", "rn")).count() == 0
    )


def test_piggybacked_total_matches_count_both_paths(spark):
    df = _fixture(spark, n=5_000)
    # distributed default and opt-in window path: the last rank is the
    # row count
    for kw in ({}, dict(small_threshold=SMALL_THRESHOLD, input_rows=5_000)):
        ranked = with_global_row_number(df, ["k", "i"], out="rn", **kw)
        assert ranked.agg(F.max("rn")).first()[0] == df.count() == 5_000


def test_distributed_default_runs_no_count_gate(spark):
    """The library default must not launch a hidden count() gate job:
    with small_threshold=0 (default) the input is never counted before
    the range shuffle. Pinned by plan shape: rank over an un-counted
    narrow projection still succeeds and the gate would be the only
    possible full-scan action before it."""
    df = _fixture(spark, n=2_000)
    calls = {"n": 0}
    orig = type(df).count

    def counting(self):
        calls["n"] += 1
        return orig(self)

    type(df).count = counting
    try:
        with_global_row_number(df, ["k", "i"], out="rn").write.format(
            "noop"
        ).mode("overwrite").save()
    finally:
        type(df).count = orig
    assert calls["n"] == 0, "default path ran a hidden DataFrame.count()"


def test_rank_consistent_across_repeated_actions(spark):
    """Regression for the round-6 exchange-reuse design flaw: a lazy
    two-phase rank whose offsets and data branches could materialize a
    range shuffle independently produced silently-wrong ranks (flaky
    under toPandas). The literal-boundary formulation must give
    bit-identical ranks on every re-execution."""
    df = _fixture(spark, n=50_000)
    ranked = with_global_row_number(df, ["k", "i"], out="rn")
    a = sorted((r["i"], r["rn"]) for r in ranked.collect())
    b = sorted(
        (int(r.i), int(r.rn))
        for r in ranked.toPandas().itertuples(index=False)
    )
    c = sorted((r["i"], r["rn"]) for r in ranked.collect())
    assert a == b == c
    # and the rank is a perfect permutation of 1..n every time
    assert [rn for _, rn in sorted(a, key=lambda t: t[1])] == list(
        range(1, 50_001)
    ) or sorted(rn for _, rn in a) == list(range(1, 50_001))


def test_ntile_desc_first_key(spark):
    """DESC leading key exercises the reversed boundary comparison."""
    df = _fixture(spark, n=20_000)
    got = with_global_ntile(
        df, [F.col("k").desc(), "i"], 7, out="b"
    )
    want = df.withColumn(
        "b", F.ntile(7).over(W.orderBy(F.col("k").desc(), "i")).cast("bigint")
    )
    assert got.select("i", "b").exceptAll(want.select("i", "b")).count() == 0


def test_rank_falls_back_for_expression_keys(spark):
    """A non-column leading key can't derive literal boundaries — the
    checkpointed fallback must produce identical values."""
    df = _fixture(spark, n=5_000)
    got = with_global_row_number(
        df, [(F.col("k") * 2).asc(), "i"], out="rn"
    )
    want = df.withColumn(
        "rn",
        F.row_number().over(W.orderBy((F.col("k") * 2).asc(), "i")).cast(
            "bigint"
        ),
    )
    assert got.select("i", "rn").exceptAll(want.select("i", "rn")).count() == 0


def test_rank_nan_null_and_tie_keys(spark):
    """Library edge cases: NaN keys (Spark orders NaN above every other
    double, and its comparison operators agree, so the WHEN-chain bucket
    stays monotone), NULL keys (asc first / desc last), and an all-equal
    key column (every row lands in one bucket; the tiebreak column still
    produces a total order)."""
    rows = [
        (1, 2.0), (2, float("nan")), (3, 1.0),
        (4, float("nan")), (5, 3.0), (6, None),
    ]
    df = spark.createDataFrame(rows, "i bigint, k double")
    for order in (["k", "i"], [F.col("k").desc(), "i"]):
        got = with_global_row_number(df, order, out="rn")
        want = df.withColumn(
            "rn", F.row_number().over(W.orderBy(*[
                F.col(c) if isinstance(c, str) else c for c in order
            ])).cast("bigint")
        )
        assert sorted((r.i, r.rn) for r in got.collect()) == sorted(
            (r.i, r.rn) for r in want.collect()
        ), f"NaN/null order mismatch for {order}"
    ties = spark.range(5_000).select(
        F.col("id").alias("i"), F.lit(7.5).alias("k")
    )
    got = with_global_row_number(ties, ["k", "i"], out="rn")
    assert [
        r.rn for r in got.orderBy("i").collect()
    ] == list(range(1, 5_001))


def test_rank_empty_input(spark):
    df = spark.range(0).select(
        F.col("id").alias("i"), F.col("id").cast("double").alias("k")
    )
    assert with_global_row_number(df, ["k", "i"], out="rn").count() == 0
    assert with_global_ntile(df, ["k", "i"], 10, out="b").count() == 0


# ---------------------------------------------------------------------------
# Distributed prefix aggregate (with_global_prefix_agg)
# ---------------------------------------------------------------------------


def _prefix_fixture(spark, n=60_000):
    # ties on k, NULL values sprinkled into v, scrambled partitions
    return (
        spark.range(n, numPartitions=16)
        .select(
            F.col("id").alias("i"),
            F.pmod(F.xxhash64("id"), F.lit(500)).alias("k"),
            F.when(
                F.pmod("id", F.lit(17)) == 0, F.lit(None)
            ).otherwise(
                F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1000)) - 200
            ).cast("bigint").alias("v"),
        )
        .repartition(16)
    )


def test_prefix_sum_matches_window(spark):
    from pandas_td_spark.operators.ranking import with_global_prefix_agg

    df = _prefix_fixture(spark)
    got = with_global_prefix_agg(
        df, ["k", "i"], "v", agg="sum", out="c", total_out="t"
    )
    w = W.orderBy("k", "i").rowsBetween(W.unboundedPreceding, 0)
    want = df.withColumn("c", F.sum("v").over(w)).withColumn(
        "t", F.sum("v").over(W.partitionBy())
    )
    assert (
        got.select("i", "c", "t")
        .exceptAll(want.select("i", "c", "t"))
        .count()
        == 0
    )
    # the running window must be bucket-partitioned, never global
    from pandas_td_spark.plans.explain import physical_plan

    plan = physical_plan(got)
    assert "windowspecdefinition(__bkt" in plan


def test_prefix_min_max_match_window(spark):
    from pandas_td_spark.operators.ranking import with_global_prefix_agg

    df = _prefix_fixture(spark, n=20_000)
    w = W.orderBy("k", "i").rowsBetween(W.unboundedPreceding, 0)
    for agg, fn in (("min", F.min), ("max", F.max)):
        got = with_global_prefix_agg(df, ["k", "i"], "v", agg=agg, out="c")
        want = df.withColumn("c", fn("v").over(w))
        assert (
            got.select("i", "c").exceptAll(want.select("i", "c")).count()
            == 0
        ), agg


def test_prefix_sum_desc_and_decimal(spark):
    from pandas_td_spark.operators.ranking import with_global_prefix_agg

    df = _prefix_fixture(spark, n=20_000).withColumn(
        "v", F.col("v").cast("decimal(38,0)")
    )
    got = with_global_prefix_agg(
        df, [F.desc("k"), "i"], "v", agg="sum", out="c"
    )
    w = W.orderBy(F.desc("k"), "i").rowsBetween(W.unboundedPreceding, 0)
    want = df.withColumn("c", F.sum("v").over(w))
    assert (
        got.select("i", "c").exceptAll(want.select("i", "c")).count() == 0
    )


def test_prefix_sum_expression_key_fallback(spark):
    from pandas_td_spark.operators.ranking import with_global_prefix_agg

    df = _prefix_fixture(spark, n=10_000)
    # expression first key -> checkpointed repartitionByRange fallback
    got = with_global_prefix_agg(
        df, [(F.col("k") * 2).asc(), F.col("i")], "v", agg="sum", out="c"
    )
    w = W.orderBy((F.col("k") * 2).asc(), "i").rowsBetween(
        W.unboundedPreceding, 0
    )
    want = df.withColumn("c", F.sum("v").over(w))
    assert (
        got.select("i", "c").exceptAll(want.select("i", "c")).count() == 0
    )


def test_prefix_sum_gated_window_path(spark):
    from pandas_td_spark.operators.ranking import with_global_prefix_agg

    df = _prefix_fixture(spark, n=3_000)
    a = with_global_prefix_agg(
        df, ["k", "i"], "v", out="c",
        small_threshold=SMALL_THRESHOLD, input_rows=3_000,
    )
    b = with_global_prefix_agg(df, ["k", "i"], "v", out="c")
    assert a.select("i", "c").exceptAll(b.select("i", "c")).count() == 0


def test_prefix_sum_empty_input(spark):
    from pandas_td_spark.operators.ranking import with_global_prefix_agg

    df = _prefix_fixture(spark, n=2_000).where(F.lit(False))
    got = with_global_prefix_agg(df, ["k", "i"], "v", out="c")
    assert got.count() == 0


def test_prefix_sum_nan_null_and_tie_keys(spark):
    from pandas_td_spark.operators.ranking import with_global_prefix_agg

    rows = [
        (1, 2.0, 10), (2, float("nan"), 20), (3, 1.0, None),
        (4, float("nan"), 40), (5, 3.0, 50), (6, None, 60),
    ]
    df = spark.createDataFrame(rows, "i bigint, k double, v bigint")
    for order in (["k", "i"], [F.col("k").desc(), "i"]):
        got = with_global_prefix_agg(df, order, "v", out="c")
        oc = [F.col(c) if isinstance(c, str) else c for c in order]
        w = W.orderBy(*oc).rowsBetween(W.unboundedPreceding, 0)
        want = df.withColumn("c", F.sum("v").over(w))
        assert sorted((r.i, r.c) for r in got.collect()) == sorted(
            (r.i, r.c) for r in want.collect()
        ), f"NaN/null prefix mismatch for {order}"
    # all-tie key: one bucket, tiebreak column still totals the order
    ties = spark.range(3_000).select(
        F.col("id").alias("i"),
        F.lit(7.5).alias("k"),
        F.lit(1).alias("v"),
    )
    got = with_global_prefix_agg(ties, ["k", "i"], "v", out="c")
    assert [r.c for r in got.orderBy("i").collect()] == list(
        range(1, 3_001)
    )


def test_global_ntile_matches_window_ntile_edge_cases(spark):
    """with_global_ntile must equal Spark's window ntile row for row
    across bin counts, ties, NULL keys, the total-under-buckets (q=0)
    case and the non-numeric-first-key fallback."""
    import random

    def check(df, order, b):
        got = with_global_ntile(df, order, b, out="bin")
        want = df.withColumn(
            "bin", F.ntile(b).over(W.orderBy(*order)).cast("bigint")
        )
        assert sorted((r.k, r.bin) for r in got.collect()) == sorted(
            (r.k, r.bin) for r in want.collect()
        ), f"order={order} bins={b}"

    random.seed(7)
    rows = [(random.randint(0, 50), i, random.randint(0, 1)) for i in range(10_007)]
    rows += [(None, 10_000_000 + j, 1) for j in range(13)]  # NULL keys
    df = spark.createDataFrame(rows, "x int, k long, bad int").repartition(8)
    for b in (1, 3, 10, 32):
        check(df, ["x", "k"], b)
    # q=0 (fewer rows than bins) and the non-numeric-first-key fallback
    tiny = spark.createDataFrame([(1, 1, 0), (2, 2, 1)], "x int, k long, bad int")
    check(tiny, ["x", "k"], 5)
    s = spark.createDataFrame([(str(i % 7), i) for i in range(100)], "s string, k long")
    check(s, ["s", "k"], 4)


def test_first_match_expr_matches_linear_reference(spark):
    """Property: the binary WHEN-tree bucket search equals the flat
    linear scan it replaced (r11 — the flat CaseWhen fell off codegen
    past ~127 branches), across random boundary lists, both directions,
    values on/off/between boundaries."""
    import random

    from pandas_td_spark.operators.ranking import _first_match_expr

    rng = random.Random(11)
    for trial in range(6):
        n = rng.choice([1, 2, 7, 31, 130])
        bounds = sorted(rng.sample(range(-10_000, 10_000), n))
        xs = list(
            {b for b in bounds}
            | {b + 1 for b in bounds}
            | {b - 1 for b in bounds}
            | {rng.randint(-11_000, 11_000) for _ in range(40)}
        )
        df = spark.createDataFrame([(x,) for x in xs], "x int")
        for desc in (False, True):
            vals = list(reversed(bounds)) if desc else bounds

            def ref(x):
                for i, v in enumerate(vals):
                    if (x > v) if desc else (x < v):
                        return i
                return len(vals)

            got = {
                r["x"]: r["b"]
                for r in df.select(
                    "x",
                    _first_match_expr(F.col("x"), vals, desc=desc).alias("b"),
                ).collect()
            }
            for x in xs:
                assert got[x] == ref(x), (trial, n, desc, x)
