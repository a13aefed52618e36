"""Unit tests for library operators against independent references
(pandas merge_asof; determinism properties for the multimodal stub)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandas_td_spark.operators.asof import asof_join
from pandas_td_spark.operators.multimodal import featurize_binary, with_media_meta
from pandas_td_spark.operators.sessionize import with_session_id
from pandas_td_spark.sources.io import register_views

SF = "/root/testdata/sf0.001"


def test_asof_matches_pandas_merge_asof(spark):
    register_views(spark, SF)
    ev = spark.table("events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    got = (
        asof_join(left, right, by="user_id", left_on="ts", value_cols=["value"])
        .select("event_id", "value_asof")
        .toPandas()
        .sort_values("event_id", ignore_index=True)
    )
    lp = left.toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("ts")
    want = (
        pd.merge_asof(
            lp, rp, on="ts", by="user_id", direction="backward"
        )
        .rename(columns={"value": "value_asof"})[["event_id", "value_asof"]]
        .sort_values("event_id", ignore_index=True)
    )
    assert got.equals(want)


def test_asof_tie_breaker_is_deterministic(spark):
    # three right rows share (key, ts); the highest seq must win — and the
    # result must be identical across shuffles/partitionings
    left = spark.createDataFrame([(1, 100), (1, 50)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 100, 10, "a"), (1, 100, 30, "c"), (1, 100, 20, "b"),
         (1, 40, 5, "z")],
        "k long, ts long, seq long, v string",
    )
    for n_parts in (1, 7):
        got = {
            (r.ts, r.v_asof)
            for r in asof_join(
                left,
                right.repartition(n_parts),
                by="k",
                left_on="ts",
                value_cols=["v"],
                tie_breakers=["seq"],
            ).collect()
        }
        assert got == {(100, "c"), (50, "z")}


def test_connected_components_warns_when_not_converged(spark):
    import warnings

    from pandas_td_spark.operators.cluster import connected_components

    # a path graph 0-1-2-...-9 has diameter 9 > max_iterations=2
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    # force the distributed propagation path (the driver-side union-find
    # is exact and cannot fail to converge)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(pairs, max_iterations=2, driver_side_threshold=0)
        assert any("did not converge" in str(x.message) for x in w)
    # and a converging input does NOT warn
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = {
            (r.node, r.component)
            for r in connected_components(
                pairs, max_iterations=20, driver_side_threshold=0
            ).collect()
        }
        assert not any("did not converge" in str(x.message) for x in w)
    assert out == {(i, 0) for i in range(10)}
    # the driver-side path yields the identical labels
    small = {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }
    assert small == out


def test_sessionize_session_ids_are_dense_and_ordered(spark):
    register_views(spark, SF)
    ev = spark.table("events")
    s = with_session_id(ev, key="user_id", ts_col="ts", timeout_sec=1800,
                        order_cols=["event_id"])
    one = (
        s.where(F.col("user_id") == 0)
        .orderBy("ts", "event_id")
        .select("ts", "session_id")
        .toPandas()
    )
    # ids start at 0, never decrease, increment only at >30min gaps
    assert one.session_id.iloc[0] == 0
    gaps = one.ts.diff().dt.total_seconds().fillna(0)
    expect_bump = (gaps > 1800).astype(int).cumsum()
    assert (one.session_id == expect_bump).all()


def test_timestamp_unit_invariance(spark, tmp_path):
    """Fixture regenerations have flipped events.ts between parquet
    TIMESTAMP(NANOS) (read as bigint ns), TIMESTAMP(µs) adjusted-to-UTC
    (read as timestamp) and TIMESTAMP(µs) NTZ (read as timestamp_ntz).
    Sessionize and read_table(time_range=) must produce identical results
    on all three storage flavors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandas_td_spark.sources.io import read_table

    base = pd.DataFrame(
        {
            "event_id": range(8),
            "user_id": [0, 0, 0, 0, 1, 1, 1, 1],
            "ts": pd.to_datetime(
                [
                    "2024-01-05 00:00:00", "2024-01-05 00:10:00",
                    "2024-01-05 01:10:00", "2024-01-09 23:59:59",
                    "2024-01-04 23:59:59", "2024-01-05 00:00:00",
                    "2024-01-07 12:00:00", "2024-01-10 00:00:00",
                ]
            ),
        }
    )
    flavors = {}
    for name, arr in {
        "us_ntz": pa.array(base.ts, type=pa.timestamp("us")),
        "us_utc": pa.array(base.ts, type=pa.timestamp("us", tz="UTC")),
        "ns_ntz": pa.array(base.ts, type=pa.timestamp("ns")),
    }.items():
        d = tmp_path / name
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array(base.event_id, type=pa.int64()),
                "user_id": pa.array(base.user_id, type=pa.int64()),
                "ts": arr,
            }
        )
        pq.write_table(tbl, d / "events.parquet")
        flavors[name] = str(tmp_path / name)

    def run(sf_dir):
        scanned = read_table(
            spark, sf_dir, "events",
            time_range=("2024-01-05", "2024-01-10"), time_col="ts",
        )
        sess = with_session_id(
            read_table(spark, sf_dir, "events"),
            key="user_id", ts_col="ts", timeout_sec=1800,
            order_cols=["event_id"],
        )
        return (
            sorted(r.event_id for r in scanned.collect()),
            sorted(
                (r.event_id, r.session_id) for r in sess.collect()
            ),
        )

    results = {name: run(d) for name, d in flavors.items()}
    expect_scan = [0, 1, 2, 3, 5, 6]  # [2024-01-05, 2024-01-10)
    expect_sess = [
        (0, 0), (1, 0), (2, 1), (3, 2), (4, 0), (5, 0), (6, 1), (7, 2)
    ]
    for name, (scan, sess) in results.items():
        assert scan == expect_scan, f"{name}: scan {scan}"
        assert sess == expect_sess, f"{name}: sessions {sess}"


def test_approx_most_frequent_spacesaving_bound(spark):
    """With capacity far below the distinct-value count, SpaceSaving must
    still rank true heavy hitters correctly: hot values whose counts
    exceed the per-partition eviction bound survive truncation exactly."""
    from pandas_td_spark.operators.frequent import approx_most_frequent

    # 10 hot values (1000 each) drowned in 20k singletons, 8 partitions
    hot = spark.range(10_000).selectExpr("concat('hot', id % 10) AS v")
    cold = spark.range(20_000).selectExpr("concat('cold', id) AS v")
    df = hot.union(cold).repartition(8)
    got = approx_most_frequent(df, "v", k=10, capacity=100).collect()
    assert {r.value for r in got} == {f"hot{i}" for i in range(10)}
    assert all(r.est_count == 1000 for r in got), [
        (r.value, r.est_count) for r in got
    ]
    # deterministic tie-break: count desc then value asc
    assert [r.value for r in got] == sorted(f"hot{i}" for i in range(10))


def test_sketch_rollup_accuracy_and_merge(spark):
    """HLL rollup: daily-sketch → merged estimate within 2% of exact
    distinct count, and merging the daily sketches equals sketching the
    raw data directly (associativity — the property that makes incremental
    rollups correct under backfills)."""
    from pandas_td_spark.operators.rollup import build_sketch_rollup, merge_rollup

    register_views(spark, SF)
    ev = spark.table("events")
    daily = build_sketch_rollup(
        ev, time_col="ts", keys=["event_type"], distinct_col="user_id",
        bucket="day",
    )
    alltime = {
        (r.event_type): r.n_distinct_est
        for r in merge_rollup(daily, keys=["event_type"]).collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(alltime) == set(exact)
    for k, est in alltime.items():
        assert abs(est - exact[k]) / exact[k] <= 0.02, (k, est, exact[k])

    # associativity: direct sketch of raw data gives the same estimates
    direct = {
        r.event_type: r.n_distinct_est
        for r in merge_rollup(
            build_sketch_rollup(
                ev, time_col="ts", keys=["event_type"],
                distinct_col="user_id", bucket="year",
            ),
            keys=["event_type"],
        ).collect()
    }
    assert direct == alltime


def test_multimodal_meta_and_stub_determinism(spark):
    register_views(spark, SF)
    d = spark.table("documents").limit(20).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    meta = with_media_meta(d, "payload").select("doc_id", "media_meta.*")
    m = meta.toPandas()
    assert (m.format == "unknown").all()  # text payloads: no magic bytes
    assert (m.n_bytes > 0).all()
    f1 = featurize_binary(d, out_dim=8).toPandas().sort_values("doc_id")
    f2 = featurize_binary(d, out_dim=8).toPandas().sort_values("doc_id")
    assert all(
        list(a) == list(b) for a, b in zip(f1.feature, f2.feature)
    ), "stub decoder must be deterministic across runs"
    assert all(len(v) == 8 for v in f1.feature)


def test_png_magic_detected(spark):
    df = spark.createDataFrame([(1,)], "id int").select(
        "id", F.unhex(F.lit("89504E470D0A1A0A0000")).alias("payload")
    )
    got = with_media_meta(df, "payload").select("media_meta.format").first()[0]
    assert got == "png"


def test_python_udf_surfaces(spark):
    """SURVEY §2.11: grouped-map applyInPandas, grouped-agg pandas_udf,
    Python UDTF."""
    import math

    from pandas_td_spark.operators.python_udfs import (
        grouped_geometric_mean,
        mad_outliers_per_group,
        register_udtfs,
        zscore_per_group,
    )

    register_views(spark, SF)
    ev = spark.table("events").select("user_id", "value")
    z = zscore_per_group(ev, "user_id", "value")
    stats = z.groupBy("user_id").agg(
        F.round(F.avg("zscore"), 9).alias("mean_z"),
        F.round(F.stddev("zscore"), 6).alias("sd_z"),
    ).toPandas()
    assert (stats.mean_z.abs() < 1e-6).all()
    assert ((stats.sd_z - 1).abs() < 1e-3).all()

    outl = mad_outliers_per_group(ev, "user_id", "value").toPandas()
    assert (outl.mad > 0).all()

    g = grouped_geometric_mean(ev, "user_id", "value").toPandas()
    a = ev.groupBy("user_id").agg(F.avg("value").alias("am")).toPandas()
    m = g.merge(a, on="user_id")
    assert (m.geomean <= m.am + 1e-9).all()  # AM-GM
    assert (m.geomean > 0).all()

    register_udtfs(spark)
    row = spark.sql(
        "SELECT * FROM split_ngrams('a b c d', 2) ORDER BY pos"
    ).collect()
    assert [r.ngram for r in row] == ["a b", "b c", "c d"]


def test_interval_joins_match_naive_and_emit_exactly_once(spark):
    from pandas_td_spark.operators.interval import (
        interval_overlap_join,
        point_in_interval_join,
    )

    pts = spark.createDataFrame(
        [(i, 3 * i % 50) for i in range(40)], "p_id long, p long"
    )
    ivs = spark.createDataFrame(
        [(j, 7 * j % 45, 7 * j % 45 + 1 + (j % 12)) for j in range(30)],
        "i_id long, s long, e long",
    )
    got = {
        (r.p_id, r.i_id)
        for r in point_in_interval_join(pts, ivs, "p", "s", "e", 4).collect()
    }
    want = {
        (p.p_id, i.i_id)
        for p in pts.collect()
        for i in ivs.collect()
        if i.s <= p.p < i.e
    }
    assert got == want
    # exactly-once: list length == set length
    rows = point_in_interval_join(pts, ivs, "p", "s", "e", 4).collect()
    assert len(rows) == len(got)

    lhs = spark.createDataFrame(
        [(j, 5 * j % 37, 5 * j % 37 + 2 + (j % 9)) for j in range(25)],
        "l_id long, ls long, le long",
    )
    got2 = [
        (r.l_id, r.i_id)
        for r in interval_overlap_join(
            lhs, ivs, "ls", "le", "s", "e", 4
        ).collect()
    ]
    want2 = {
        (a.l_id, b.i_id)
        for a in lhs.collect()
        for b in ivs.collect()
        if a.ls < b.e and b.s < a.le
    }
    assert set(got2) == want2 and len(got2) == len(want2)


def test_salted_join_equals_plain_join_and_rejects_outer(spark):
    import pytest

    from pandas_td_spark.operators.skew import salted_join
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF)
    docs = spark.table("documents").select("doc_id", "lang", "n_chars")
    dim = docs.groupBy("lang").agg(F.count("*").alias("lang_docs"))
    got = {tuple(r) for r in salted_join(docs, dim, on=["lang"]).collect()}
    want = {tuple(r) for r in docs.join(dim, "lang").collect()}
    assert got == want and len(got) > 0
    # left join: unmatched probe rows survive exactly once
    dim_part = dim.where(F.col("lang") != dim.select(F.min("lang")).head()[0])
    got_l = {
        tuple(r)
        for r in salted_join(docs, dim_part, on=["lang"], how="left").collect()
    }
    want_l = {tuple(r) for r in docs.join(dim_part, "lang", "left").collect()}
    assert got_l == want_l
    with pytest.raises(ValueError, match="right/full"):
        salted_join(docs, dim, on=["lang"], how="full")


def test_approx_percentile_rank_error_bound(spark):
    """percentile_approx(accuracy=10000) ⇒ rank error ≤ n/10000: the
    fraction of values below the approximate p-quantile must sit within
    p ± max(1/10000, 2/n) + slack for every group and p."""
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF)
    ev = spark.table("events")
    approx = (
        ev.groupBy("event_type")
        .agg(F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("q"))
        .collect()
    )
    for row in approx:
        vals = [
            r.value
            for r in ev.where(F.col("event_type") == row.event_type)
            .select("value")
            .collect()
        ]
        n = len(vals)
        for p, av in zip([0.5, 0.95, 0.99], row.q):
            rank = sum(v <= av for v in vals) / n
            tol = max(1.0 / 10000, 2.0 / n) + 0.01
            assert abs(rank - p) <= tol, (row.event_type, p, rank)


def test_quantile_rollup_rank_error(spark):
    """Merged KLL quantiles must sit within 1% rank error of the exact
    percentiles (k=800 ≈ 0.4% published bound, margin for merge)."""
    from pandas_td_spark.operators.rollup import (
        build_quantile_rollup,
        merge_quantile_rollup,
    )

    register_views(spark, SF)
    ev = spark.table("events")
    daily = build_quantile_rollup(
        ev, time_col="ts", keys=["event_type"], value_col="value",
        bucket="day",
    )
    merged = merge_quantile_rollup(daily, keys=["event_type"]).collect()
    vals = {
        r.event_type: sorted(x.value for x in rows)
        for r in merged
        for rows in [
            ev.where(F.col("event_type") == r.event_type)
            .select("value")
            .collect()
        ]
    }
    for r in merged:
        v = vals[r.event_type]
        n = len(v)
        for q, est in [(0.5, r.p50), (0.95, r.p95), (0.99, r.p99)]:
            lo = v[max(0, int((q - 0.01) * n) - 1)]
            hi = v[min(n - 1, int((q + 0.01) * n))]
            assert lo <= est <= hi, (r.event_type, q, est, lo, hi)


def test_frame_sampling_plumbing(spark):
    """Frame sampling: 1-to-many mapInPandas explode with deterministic
    stub frames — stable across runs/partitionings, frames re-enter the
    binary pipeline (featurize) unchanged."""
    from pandas_td_spark.operators.multimodal import sample_frames

    register_views(spark, SF)
    d = spark.table("documents").limit(30).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    f1 = sample_frames(d, n_frames=4).toPandas().sort_values(
        ["doc_id", "frame_idx"], ignore_index=True
    )
    f2 = sample_frames(d.repartition(7), n_frames=4).toPandas().sort_values(
        ["doc_id", "frame_idx"], ignore_index=True
    )
    assert f1.equals(f2)  # partitioning-independent
    assert set(f1.frame_idx) == {0, 1, 2, 3}
    assert (f1.frame_bytes == f1.frame_payload.map(len)).all()
    # frames feed the downstream binary featurizer unchanged
    frames = sample_frames(d, n_frames=2).withColumnRenamed(
        "frame_payload", "payload"
    )
    frames = frames.withColumn(
        "frame_id", F.col("doc_id") * 10 + F.col("frame_idx")
    )
    feats = featurize_binary(
        frames, payload="payload", id_col="frame_id", out_dim=8
    )
    assert feats.count() == 60
    assert feats.select(F.size("feature")).distinct().first()[0] == 8


def test_range_lookup_contracts(spark):
    """Prefix-bucketed range lookup: exact hit/miss semantics, cardinality
    preservation, malformed-IP NULLs, and bucket-spanning ranges."""
    from pandas_td_spark.operators.lookup import ip_to_int, range_lookup

    rows = spark.createDataFrame(
        [
            (1, "0.0.0.1"),        # first range, lo edge
            (2, "15.255.255.255"), # inside A
            (3, "16.0.0.0"),       # B's lo edge (spans many /8 buckets)
            (4, "200.1.2.3"),      # hole -> NULL
            (5, "255.255.255.255"),# C's hi edge
            (6, "999.1.2.3"),      # malformed -> NULL ip -> NULL country
            (7, "1.2.3"),          # malformed (3 octets)
        ],
        "id bigint, ip string",
    ).withColumn("ip_int", ip_to_int("ip"))
    ranges = spark.createDataFrame(
        [
            (1, 0x0FFFFFFF, "A"),
            (0x10000000, 0x7FFFFFFF, "B"),
            # hole 0x80000000-0xCFFFFFFF
            (0xD0000000, 0xFFFFFFFF, "C"),
        ],
        "lo bigint, hi bigint, country string",
    )
    out = range_lookup(
        rows, "ip_int", ranges, payload=("country",), shift=24
    ).toPandas().set_index("id")
    assert out.loc[1].country == "A"
    assert out.loc[2].country == "A"
    assert out.loc[3].country == "B"
    assert pd.isna(out.loc[4].country)
    assert out.loc[5].country == "C"
    assert pd.isna(out.loc[6].country) and pd.isna(out.loc[6].ip_int)
    assert pd.isna(out.loc[7].country) and pd.isna(out.loc[7].ip_int)
    assert len(out) == 7  # left join preserves fact cardinality


def test_rate_convert_matches_manual_join(spark):
    from pandas_td_spark.operators.lookup import rate_convert

    facts = spark.createDataFrame(
        [
            (1, 86400 * 10 + 5, "EUR", 100.0),
            (2, 86400 * 10 + 99999 % 86400, "USD", 50.0),
            (3, 86400 * 11, "EUR", 10.0),
            (4, 86400 * 10, "CHF", 10.0),  # unlisted currency -> NULL
        ],
        "id bigint, time bigint, currency string, amount double",
    )
    rates = spark.createDataFrame(
        [
            (86400 * 10, "EUR", 1.1),
            (86400 * 10, "USD", 1.0),
            (86400 * 11, "EUR", 1.2),
        ],
        "rate_day bigint, currency string, rate double",
    )
    out = rate_convert(facts, rates).toPandas().set_index("id")
    assert out.loc[1].amount_usd == 100.0 * 1.1
    assert out.loc[2].amount_usd == 50.0
    assert out.loc[3].amount_usd == 10.0 * 1.2
    assert pd.isna(out.loc[4].amount_usd)


def test_count_min_sketch_bounds_and_merge(spark):
    """CMS contract: never underestimates; overestimate bounded by
    2N/width at >=1-2^-depth confidence (checked deterministically well
    inside the bound); merging half-sketches == whole-data sketch."""
    from pandas_td_spark.operators.frequent import (
        count_min_build,
        count_min_estimate,
        count_min_merge,
    )

    register_views(spark, SF)
    e = spark.table("events")
    depth, width = 4, 512  # deliberately narrow -> real collisions
    sk = count_min_build(e, "user_id", depth=depth, width=width)
    # sketch is bounded regardless of input size
    assert sk.count() <= depth * width
    vals = e.select("user_id").distinct()
    est = count_min_estimate(sk, vals, "user_id", depth=depth, width=width)
    exact = e.groupBy("user_id").agg(F.count("*").alias("true_n"))
    j = est.join(exact, "user_id").toPandas()
    n = e.count()
    assert (j.est_count >= j.true_n).all()  # one-sided error
    assert (j.est_count - j.true_n).max() <= 2 * n / width
    # mergeability: two half sketches merge to the whole-data answer
    h1 = count_min_build(
        e.where(F.col("event_id") % 2 == 0), "user_id", depth, width
    )
    h2 = count_min_build(
        e.where(F.col("event_id") % 2 == 1), "user_id", depth, width
    )
    m = count_min_merge(h1, h2)
    est_m = count_min_estimate(
        m, vals, "user_id", depth=depth, width=width
    ).withColumnRenamed("est_count", "est_merged")
    assert (
        est.join(est_m, "user_id")
        .where(F.col("est_count") != F.col("est_merged"))
        .count()
        == 0
    )


def test_kmeans_deterministic_and_converging(spark):
    import numpy as np

    from pandas_td_spark.operators.kmeans import kmeans_assign, kmeans_fit

    register_views(spark, SF)
    emb = spark.table("embeddings")
    c = kmeans_fit(emb, k=4, n_iter=4)
    c2 = kmeans_fit(emb.repartition(7), k=4, n_iter=4)
    assert np.array_equal(c, c2)  # decimal-exact updates -> bit-identical
    a = kmeans_assign(emb, c)
    n = emb.count()
    assert a.count() == n
    assert a.select("cluster").distinct().count() <= 4
    c1 = kmeans_fit(emb, k=4, n_iter=1)
    i1 = kmeans_assign(emb, c1).agg(F.sum("sq_dist")).first()[0]
    i4 = a.agg(F.sum("sq_dist")).first()[0]
    assert i4 <= i1  # Lloyd never increases inertia
    # r12 driver gate: the local Lloyd replay (default gate at fixture
    # scale) and the distributed decimal fit are the SAME function —
    # the int-unit exact sums mirror cast(x as decimal(28,12)) exactly
    c_dist = kmeans_fit(emb, k=4, n_iter=4, small_fit_threshold=0)
    assert np.array_equal(c, c_dist)


def test_pagerank_matches_numpy_reference(spark):
    import numpy as np

    from pandas_td_spark.operators.pagerank import pagerank

    rng = np.random.default_rng(5)
    n_nodes, m = 200, 1500
    src = rng.integers(0, n_nodes, m)
    dst = rng.integers(0, n_nodes, m)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(src, dst)], "src bigint, dst bigint"
    )
    # Both execution paths must match the reference: the driver fast
    # path (default gate) and the distributed fixpoint (gate disabled).
    got = {r.node: r.rank for r in pagerank(edges, n_iter=20).collect()}
    got_dist = {
        r.node: r.rank
        for r in pagerank(
            edges, n_iter=20, small_graph_threshold=0
        ).collect()
    }
    nodes = sorted(set(src) | set(dst))
    idx = {v: i for i, v in enumerate(nodes)}
    N = len(nodes)
    W = np.zeros((N, N))
    for a, b in zip(src, dst):
        W[idx[b], idx[a]] += 1.0
    ow = W.sum(0)
    r = np.full(N, 1.0 / N)
    d = 0.85
    for _ in range(20):
        dangling = r[ow == 0].sum()
        contrib = W @ np.where(ow > 0, r / np.maximum(ow, 1), 0.0)
        r = (1 - d) / N + d * (contrib + dangling / N)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert max(abs(got[v] - r[idx[v]]) for v in nodes) < 1e-12
    assert max(abs(got_dist[v] - r[idx[v]]) for v in nodes) < 1e-12


def test_segment_overlap_accuracy(spark):
    """HLL inclusion-exclusion overlap vs exact distinct intersections:
    within 5% relative error on the fixture's segment sizes."""
    from pandas_td_spark.operators.rollup import (
        build_sketch_rollup,
        segment_overlap,
    )

    register_views(spark, SF)
    ev = spark.table("events")
    daily = build_sketch_rollup(
        ev, time_col="ts", keys=["event_type"], distinct_col="user_id",
        bucket="day",
    )
    got = segment_overlap(daily, "event_type").toPandas()
    users = ev.select("event_type", "user_id").distinct().toPandas()
    by_seg = {
        s: set(g.user_id) for s, g in users.groupby("event_type")
    }
    assert len(got) == len(by_seg) * (len(by_seg) - 1) // 2
    for r in got.itertuples():
        exact = len(by_seg[r.seg_a] & by_seg[r.seg_b])
        assert abs(r.n_overlap_est - exact) <= max(0.05 * exact, 2), (
            r.seg_a, r.seg_b, r.n_overlap_est, exact
        )


def test_triangle_counts_known_graphs(spark):
    from pandas_td_spark.operators.graph import (
        triangle_counts,
        undirected_edges,
    )

    # K4: every node sits in C(3,2) = 3 triangles.
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    # Star on node 100 (a "celebrity"): zero triangles — and with the
    # degree orientation the hub emits zero wedges.
    star = [(100, 200 + i) for i in range(20)]
    # Duplicate/reversed/self-loop noise must be normalized away.
    noisy = k4 + star + [(1, 0), (2, 2), (3, 1)]
    df = spark.createDataFrame(noisy, "x bigint, y bigint")
    edges = undirected_edges(df, "x", "y")
    assert edges.count() == len(k4) + len(star)
    got = {
        r.node: r.n_triangles for r in triangle_counts(edges).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_matches_naive_on_random_graph(spark):
    import itertools
    import random

    from pandas_td_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    nodes = list(range(40))
    edges = sorted(
        {(a, b) for a, b in itertools.combinations(nodes, 2)
         if rng.random() < 0.2}
    )
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expected: dict[int, int] = {}
    for a, b in edges:
        for c in adj[a] & adj[b]:
            if a < b < c:
                for n in (a, b, c):
                    expected[n] = expected.get(n, 0) + 1
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == expected


def test_weighted_sample_is_length_biased(spark):
    from pandas_td_spark.queries.registry import all_queries
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF)
    q = all_queries()["q131_weighted_sample"]
    sample = q.fn(spark, SF).toPandas()
    corpus = spark.table("documents").toPandas()
    assert len(sample) == 50
    # Probability ∝ n_chars ⇒ the sample mean length must exceed the
    # corpus mean decisively (docs vary ~10×; a uniform draw would not).
    assert sample.n_chars.mean() > 1.15 * corpus.n_chars.mean()


def test_q70_hll_on_deduped_pairs_within_5pct(spark):
    """q70's r12 plan sketches the DEDUPED (flag, partkey) pairs — an
    HLL sketch is duplicate-insensitive, so accuracy vs the exact count
    (carried in the same result) is unchanged: <= 5% everywhere."""
    from pandas_td_spark.queries.registry import all_queries

    register_views(spark, SF)
    rows = (
        all_queries()["q70_approx_distinct"].fn(spark, SF).collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx_parts - r.exact_parts) <= 0.05 * r.exact_parts


def test_pagerank_round_to_paths_agree_exactly(spark):
    """The q119 contract: with ``round_to`` set, the driver decimal
    replay and the distributed F.round/decimal-sum fixpoint are the SAME
    well-defined function — bit-identical ranks, any partitioning."""
    import numpy as np

    from pandas_td_spark.operators.pagerank import pagerank

    rng = np.random.default_rng(12)
    src = rng.integers(0, 40, 300)
    dst = rng.integers(0, 40, 300)
    keep = src != dst
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(src[keep], dst[keep])],
        "src bigint, dst bigint",
    )
    drv = {
        r.node: r.rank
        for r in pagerank(edges, n_iter=15, round_to=12).collect()
    }
    dist = {
        r.node: r.rank
        for r in pagerank(
            edges, n_iter=15, round_to=12, small_graph_threshold=0
        ).collect()
    }
    assert drv == dist  # exact float equality, not approx
    # and quantization stays a perturbation, not a different answer:
    exact = {
        r.node: r.rank for r in pagerank(edges, n_iter=15).collect()
    }
    assert max(abs(drv[v] - exact[v]) for v in drv) < 1e-8
    assert abs(sum(drv.values()) - 1.0) < 1e-6


def test_graph_and_pagerank_edge_cases(spark):
    from pandas_td_spark.operators.graph import triangle_counts, undirected_edges
    from pandas_td_spark.operators.pagerank import pagerank

    empty = spark.createDataFrame([], "x bigint, y bigint")
    assert triangle_counts(undirected_edges(empty, "x", "y")).count() == 0
    assert pagerank(empty.selectExpr("x as src", "y as dst")).count() == 0
    # single edge: two nodes, no triangles; ranks sum to 1
    one = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    assert triangle_counts(undirected_edges(one, "src", "dst")).count() == 0
    ranks = pagerank(one, n_iter=5).collect()
    assert abs(sum(r.rank for r in ranks) - 1.0) < 1e-9


def test_quality_checks_detect_synthetic_violations(spark):
    from pandas_td_spark.operators.quality import (
        check_referential,
        check_rules,
        check_unique,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (1, -5.0), (2, None), (3, 7.0)],
        "k bigint, v double",
    )
    rules = check_rules(
        df, {"v_positive": F.col("v") > 0, "k_small": F.col("k") < 3}
    ).toPandas().set_index("rule")
    # NULL comparison result counts as a violation (unknown != pass).
    assert rules.loc["v_positive"].n_violations == 2
    assert rules.loc["k_small"].n_violations == 1
    assert rules.loc["v_positive"].n_rows == 4

    uniq = check_unique(df, ["k"], "k_unique").toPandas().iloc[0]
    assert uniq.n_violations == 1 and uniq.n_rows == 4

    parent = spark.createDataFrame([(1,), (2,)], "pk bigint")
    ri = check_referential(df, "k", parent, "pk", "k_in_parent")
    r = ri.toPandas().iloc[0]
    assert r.n_violations == 1 and r.n_rows == 4


def test_walk_family_matches_python_reference(spark):
    """cusum/debounce/ewma applyInPandas walks vs pure-Python references
    on seeded random per-key sequences — covers multi-key parallelism,
    unsorted input order, and ties in the order column."""
    import random

    rng = random.Random(20260814)
    rows = []
    for k in range(6):
        for i in range(rng.randint(1, 40)):
            rows.append(
                (k, i, rng.randint(-50, 50), rng.randint(0, 5000))
            )
    rng.shuffle(rows)  # operator must sort per key itself
    df = spark.createDataFrame(
        rows, "k bigint, i bigint, x bigint, e bigint"
    )

    from pandas_td_spark.operators.python_udfs import cusum, debounce, ewma

    # pure-python references on the per-key sorted sequences
    by_key = {}
    for k, i, x, e in rows:
        by_key.setdefault(k, []).append((i, x, e))
    for v in by_key.values():
        v.sort()

    got = {
        (r.k, r.i): r.s
        for r in cusum(
            df.withColumn("t", F.lit(0)), "k", ["i"], "x", "t", out="s"
        ).collect()
    }
    for k, seq in by_key.items():
        acc = 0
        for i, x, _ in seq:
            acc = max(0, acc + x)
            assert got[(k, i)] == acc, (k, i)

    got = {
        (r.k, r.i): r.kept
        for r in debounce(df, "k", ["i"], "e", 300).collect()
    }
    for k, seq in by_key.items():
        last = None
        for i, _, e in seq:
            keep = last is None or e - last >= 300
            if keep:
                last = e
            assert got[(k, i)] == int(keep), (k, i)

    got = {
        (r.k, r.i): r.ewma
        for r in ewma(df, "k", ["i"], "x", 0.5).collect()
    }
    for k, seq in by_key.items():
        acc = None
        for i, x, _ in seq:
            acc = float(x) if acc is None else 0.5 * x + 0.5 * acc
            assert abs(got[(k, i)] - acc) < 1e-12, (k, i)


def test_zorder_key_known_values(spark):
    from pandas_td_spark.operators.zorder import morton_interleave

    cases = [(0, 0), (1, 0), (0, 1), (3, 3), (5, 9), (65535, 65535),
             (1234, 4321)]

    def expected(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(cases, "x: long, y: long")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn(
            "z", morton_interleave([F.col("x"), F.col("y")], 16)
        ).collect()
    }
    for x, y in cases:
        assert got[(x, y)] == expected(x, y), (x, y)
    # interleave of the full 16-bit domain is a bijection into 32 bits
    assert got[(65535, 65535)] == (1 << 32) - 1


def test_zorder_quantile_ranks_span_full_range(spark):
    """Quantile ranks are positions in [0, 2^bits): the top rank bit of
    each column splits its rows at the median. If the ranks stop short of
    2^bits, the top Morton split moves off the median and range-written
    files no longer line up with Morton cells."""
    from pandas_td_spark.operators.zorder import with_zorder_key

    n = 200_000
    cols = ["x", "y"]
    df = spark.range(n).selectExpr(
        "pmod(hash(id), 10000) AS x", "pmod(hash(id * 7 + 3), 10000) AS y"
    )
    # 12 bits per column, 2 columns: bit i of column j is z bit 2*i + j,
    # so the top rank bit (i = 11) is z bit 22 for x and 23 for y
    shares = (
        with_zorder_key(df, cols)
        .select(
            *[
                F.avg(F.shiftright("__z", 22 + j).bitwiseAND(1)).alias(c)
                for j, c in enumerate(cols)
            ]
        )
        .first()
    )
    for c in cols:
        tie_share = df.groupBy(c).count().agg(F.max("count")).first()[0] / n
        # approxQuantile(relativeError=0.001) puts the median cut within
        # 0.001 * n ranks of the true median; rows tied at the cut value
        # can move the split by at most one value's share more
        assert abs(shares[c] - 0.5) <= 0.001 + tie_share, (c, shares[c])


def test_zorder_sql_matches_column_form(spark):
    from pandas_td_spark.operators.zorder import (
        morton_interleave,
        morton_interleave_sql,
    )

    df = spark.range(500).select(
        (F.col("id") * 7919 % 65536).alias("x"),
        (F.col("id") * 104729 % 65536).alias("y"),
    )
    expr = morton_interleave_sql(["x", "y"], 16, div="div")
    both = df.select(
        morton_interleave([F.col("x"), F.col("y")], 16).alias("a"),
        F.expr(expr).cast("bigint").alias("b"),
    )
    assert both.where(F.col("a") != F.col("b")).count() == 0


def test_merge_agg_states_equals_full_rebuild(spark):
    from pandas_td_spark.operators.incremental import merge_agg_states

    rows = spark.range(10_000).select(
        (F.col("id") % 37).alias("k"),
        (F.col("id") % 101).alias("v"),
    )
    # three disjoint "partitions" with keys missing from some of them
    parts = [
        rows.where(F.col("id") % 3 == i).groupBy("k").agg(
            F.count("*").alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        for i in range(3)
    ]
    merged = merge_agg_states(
        parts, keys=["k"],
        spec={"n": "count", "s": "sum", "lo": "min", "hi": "max"},
    )
    full = rows.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_merge_agg_states_rejects_unknown_kind(spark):
    import pytest

    from pandas_td_spark.operators.incremental import merge_agg_states

    df = spark.range(1).select(F.col("id").alias("k"), F.lit(1).alias("a"))
    with pytest.raises(ValueError):
        merge_agg_states([df], keys=["k"], spec={"a": "avg"})


def test_morton_sql_property_duckdb():
    """morton_interleave_sql must agree with the bit-level definition on
    ANY input — checked on DuckDB (the oracle engine) with hypothesis,
    so the SQL twin can't silently diverge from the Column form that
    test_zorder_sql_matches_column_form pins against Spark."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pandas_td_spark.operators.zorder import morton_interleave_sql

    con = duckdb.connect()
    expr = morton_interleave_sql(["x", "y"], 16)

    @given(st.integers(0, 65535), st.integers(0, 65535))
    @settings(max_examples=200, deadline=None)
    def check(x, y):
        got = con.execute(
            f"SELECT {expr} FROM (SELECT CAST({x} AS BIGINT) AS x, "
            f"CAST({y} AS BIGINT) AS y)"
        ).fetchone()[0]
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        assert got == z, (x, y)

    check()


def test_bfs_frontier_hint_modes_agree_and_broadcast_is_actionless(spark):
    """The three frontier_hint modes must return identical levels, and
    'broadcast' mode must schedule ZERO Spark jobs while BUILDING the
    plan (the whole expansion runs under the caller's terminal action —
    VERDICT r7 #5: per-round driver actions were pure scheduling
    overhead on short loops)."""
    from pandas_td_spark.operators.graph import bfs_levels, undirected_edges

    # small diamond + tail graph, plus an unreachable island
    rows = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (8, 9)]
    edges = undirected_edges(
        spark.createDataFrame(rows, "a bigint, b bigint"), "a", "b"
    )
    expected = {(1, 0), (2, 1), (3, 1), (4, 2), (5, 3)}

    results = {}
    for hint in ("auto", "broadcast", "shuffle", "fused"):
        df = bfs_levels(
            edges, source=1, max_depth=3, frontier_hint=hint
        )
        if hint == "broadcast":
            # plan construction must not have scheduled any job
            sc = spark.sparkContext
            sc.setJobGroup("bfs_actionless_probe", "probe")
            df2 = bfs_levels(
                edges, source=1, max_depth=3, frontier_hint="broadcast"
            )
            jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
                "bfs_actionless_probe"
            )
            # the undirected_edges materialization (localCheckpoint) is
            # the ONLY permitted job during construction
            assert len(jobs) <= 1, f"broadcast mode scheduled jobs: {jobs}"
            sc.setJobGroup(None, None)
            del df2
        results[hint] = {
            (r["node"], r["level"]) for r in df.collect()
        }
    assert results["auto"] == expected
    assert results["broadcast"] == expected
    assert results["shuffle"] == expected
    assert results["fused"] == expected


def test_bfs_release_cached_evicts_persisted_frames(spark):
    """ADVICE r8: bfs_levels persists the adjacency union and every
    frontier; release_cached must evict them all after the terminal
    action so repeated probes don't leak cached blocks."""
    from pandas_td_spark.operators.graph import (
        bfs_levels,
        release_cached,
        undirected_edges,
    )

    edges = undirected_edges(
        spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5)], "a bigint, b bigint"
        ),
        "a",
        "b",
    )
    out = bfs_levels(edges, source=1, max_depth=3)
    assert out.count() == 4  # nodes 1..4 within 3 hops
    cached = out._graph_cached
    # adjacency + depth-1 frontier + at least one later frontier
    assert len(cached) >= 3
    assert all(df.is_cached for df in cached)
    release_cached(out)
    assert all(not df.is_cached for df in cached)
    # no-op on frames without the marker
    release_cached(edges)


def test_bfs_bad_frontier_hint_raises(spark):
    from pandas_td_spark.operators.graph import bfs_levels, undirected_edges

    edges = undirected_edges(
        spark.createDataFrame([(1, 2)], "a bigint, b bigint"), "a", "b"
    )
    with pytest.raises(ValueError, match="frontier_hint"):
        bfs_levels(edges, source=1, frontier_hint="nope")


def test_bpe_train_matches_pure_python_reference(spark):
    """Distributed BPE vs a direct Sennrich-style reference on a tiny
    corpus: same merges, same counts, same greedy left-to-right apply."""
    from pandas_td_spark.operators.bpe import bpe_train, words_with_counts

    texts = [
        "low low low lower lower newest newest newest newest widest",
        "widest widest low newest",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")

    # pure-python reference over (word, count)
    from collections import Counter

    vocab = Counter(w for t in texts for w in t.split(" "))
    segs = {w: list(w) for w in vocab}
    expected = []
    for rank in range(1, 6):
        pc = Counter()
        for w, n in vocab.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += n
        if not pc:
            break
        # tie-break: count DESC, then the marked-pair string ASC
        best = min(pc.items(), key=lambda kv: (-kv[1], "~" + kv[0][0] + " ~" + kv[0][1]))
        (a, b), n = best
        expected.append((rank, a, b, a + b, n))
        for w in segs:
            s, out, i = segs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    got = [
        tuple(r)
        for r in bpe_train(words_with_counts(docs), 5)
        .orderBy("rank")
        .collect()
    ]
    assert got == expected


def test_bpe_train_exhaustion_and_single_letters(spark):
    """Vocabulary that merges out before n_merges: fewer rows, no error;
    single-letter words contribute nothing."""
    from pandas_td_spark.operators.bpe import bpe_train, words_with_counts

    docs = spark.createDataFrame([("a b ab ab",)], "text string")
    rows = bpe_train(words_with_counts(docs), 10).collect()
    # only one mergeable pair exists: ('a','b') inside "ab" (count 2)
    assert len(rows) == 1
    assert (rows[0]["lhs"], rows[0]["rhs"], rows[0]["n_pair"]) == ("a", "b", 2)


def test_bpe_marker_prevents_substring_false_merges(spark):
    """After merging (a,b)->ab, the pair (b,a) must not match inside the
    new 'ab' symbol — the ~ marker pins symbol boundaries."""
    from pandas_td_spark.operators.bpe import bpe_train, words_with_counts

    # 'abab': round 1 merges (a,b) twice -> [ab, ab]; the (b,a) bridge
    # disappears because 'b a' inside '~ab ~ab' is not '~b ~a'
    docs = spark.createDataFrame([("abab abab abab",)], "text string")
    rows = [tuple(r) for r in bpe_train(words_with_counts(docs), 3).collect()]
    assert rows[0][1:] == ("a", "b", "ab", 6)
    assert rows[1][1:] == ("ab", "ab", "abab", 3)
    assert len(rows) == 2


def test_bpe_rhs_prefix_false_merge_regression(spark):
    """Round-9 review regression: after merging (a,b)->ab, the later
    pair (c,a) must NOT rewrite '~c ~ab' (whose rhs 'ab' has the
    pattern's rhs 'a' as a strict PREFIX) — the trailing-space anchor
    pins the rhs symbol's end. Reference corpus {'ab':5,'cab':1,'ca':1}
    needs THREE merges: (a,b), (c,a), (c,ab)."""
    from pandas_td_spark.operators.bpe import bpe_train, words_with_counts

    docs = spark.createDataFrame(
        [("ab ab ab ab ab cab ca",)], "text string"
    )
    rows = [tuple(r) for r in bpe_train(words_with_counts(docs), 4).collect()]
    assert rows[0][1:] == ("a", "b", "ab", 6)
    assert rows[1][1:] == ("c", "a", "ca", 1)
    assert rows[2][1:] == ("c", "ab", "cab", 1)
    assert len(rows) == 3  # vocabulary fully merged after round 3


def test_bfs_fused_depth_gate(spark):
    """frontier_hint='fused' carries candidate PATHS (no dedup before
    the terminal aggregate, degree^depth growth) — deep traversals must
    fail loudly instead of exploding at runtime (ADVICE r10)."""
    import pytest

    from pandas_td_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "u bigint, v bigint"
    )
    with pytest.raises(ValueError, match="fused.*max_depth"):
        bfs_levels(edges, source=1, max_depth=9, frontier_hint="fused")


def test_holt_winters_constant_series_and_forecast(spark):
    """Contract invariants on a constant series: level == the constant
    at every step, trend == 0, season == 0, fitted == constant, and
    every h-step forecast equals the constant (dyadic coefficients make
    all of this EXACT, not approximate)."""
    import pandas as pd

    from pandas_td_spark.operators.forecast import (
        holt_winters,
        holt_winters_forecast,
    )

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 30 + ["b"] * 30,
            "d": list(range(30)) * 2,
            "x": [100.0] * 30 + [-8.5] * 30,
        }
    )
    df = spark.createDataFrame(pdf)
    out = holt_winters(df, "k", ["d"], "x", m=7).toPandas()
    assert len(out) == 60
    for k, want in (("a", 100.0), ("b", -8.5)):
        g = out[out["k"] == k]
        assert (g["level"] == want).all()
        assert (g["trend"] == 0.0).all()
        assert (g["fitted"] == want).all()
    fc = holt_winters_forecast(df, "k", ["d"], "x", m=7, horizon=14)
    fp = fc.toPandas()
    assert len(fp) == 28
    assert (fp[fp["k"] == "a"]["yhat"] == 100.0).all()
    assert (fp[fp["k"] == "b"]["yhat"] == -8.5).all()


def test_holt_winters_tracks_linear_trend(spark):
    """On x_t = c + g*t the trend state converges toward g and the
    one-step-ahead fitted error shrinks (smoothing actually smooths)."""
    import pandas as pd

    from pandas_td_spark.operators.forecast import holt_winters

    xs = [10.0 + 3.0 * t for t in range(60)]
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["s"] * 60, "d": range(60), "x": xs})
    )
    out = (
        holt_winters(df, "k", ["d"], "x", m=7)
        .toPandas()
        .sort_values("rn")
    )
    assert abs(out["trend"].iloc[-1] - 3.0) < 0.2
    tail_err = (out["fitted"].iloc[-10:] - pd.Series(xs[-10:]).values).abs()
    assert tail_err.max() < 1.5


def test_seasonal_decompose_exact_contract(spark):
    """r15 classical decomposition invariants: a pure weekly pattern
    plus linear trend decomposes EXACTLY — trend recovers the linear
    part on interior rows (the 7-term centered MA of a line is the
    line; the weekly pattern sums to zero over any 7-frame), seasonal
    recovers the centered pattern, residuals are exactly zero. Edge
    rows carry NULLs; short series drop; even m refuses."""
    import pandas as pd
    import pytest

    from pandas_td_spark.operators.forecast import (
        seasonal_anomalies,
        seasonal_decompose,
    )

    pat = [700, -1400, 2100, -700, 1400, -2100, 0]  # sums to 0
    n = 42
    rows = []
    for t in range(n):
        base = 10_000 + 70 * t  # cents; 7-term MA of a line = itself
        rows.append(("a", t, base + pat[t % 7]))
    rows += [("tiny", t, 100) for t in range(10)]  # < 2m-1: dropped
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "d", "xc"])
    )
    out = (
        seasonal_decompose(df, "k", ["d"], "xc", m=7)
        .toPandas()
        .sort_values(["k", "rn"], ignore_index=True)
    )
    assert set(out["k"]) == {"a"}  # the 10-row series dropped
    a = out[out["k"] == "a"]
    assert len(a) == n
    interior = a[a["trend"].notna()]
    assert len(interior) == n - 6
    for _, r in interior.iterrows():
        t = int(r["rn"]) - 1
        assert r["trend"] == 10_000 + 70 * t, r
        assert r["resid"] == 0.0, r
    # seasonal index = centered pattern value for the row's weekday
    for _, r in interior.iterrows():
        assert r["seasonal"] == pat[(int(r["rn"]) - 1) % 7]
    # zero residuals -> mad 0 -> no anomalies
    assert (
        seasonal_anomalies(df, "k", ["d"], "xc", m=7).count() == 0
    )
    with pytest.raises(NotImplementedError, match="odd m"):
        seasonal_decompose(df, "k", ["d"], "xc", m=12)


def test_seasonal_anomalies_flags_planted_spike(spark):
    """A single planted spike on an otherwise exact series is the ONLY
    flagged row, and its residual deviation dominates the band."""
    import pandas as pd

    from pandas_td_spark.operators.forecast import seasonal_anomalies

    rows = []
    for t in range(42):
        x = 5_000 + (300 if t % 7 == 2 else -50)
        if t == 20:
            x += 9_999  # the anomaly
        rows.append(("a", t, x))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "d", "xc"])
    )
    got = seasonal_anomalies(df, "k", ["d"], "xc", m=7, k=4.0).toPandas()
    assert 21 in set(got["rn"])  # rn is 1-based; t=20 -> rn 21
    # the spike leaks into its MA frame AND its weekday's seasonal
    # index (classical decomposition is not robust — that is the
    # documented semantics), so secondary rows may flag against the
    # tiny MAD of an otherwise-exact series; the spike itself must
    # dominate every other deviation by an order of magnitude
    spike = got[got["rn"] == 21].iloc[0]
    rest = got[got["rn"] != 21]
    assert spike["dev"] == got["dev"].max()
    if len(rest):
        assert spike["dev"] > 3 * rest["dev"].max()
