"""Distributed EXACT global ranking (O1-adjacent; SURVEY.md §2.5/§2.6).

``Window.orderBy(...)`` with no PARTITION BY moves every row to ONE
partition (Spark warns "No Partition Defined") — the classic scale
killer for fact-grain global ``row_number``/``ntile``. The exact,
distributed formulation is the two-phase rank every MPP engine uses:
split the total order into contiguous buckets, rank within buckets in
parallel, and add per-bucket offsets.

The DEFAULT path derives the buckets from DETERMINISTIC LITERAL
boundaries (one Greenwald-Khanna ``approxQuantile`` scan over the first
order key, collected driver-side — a bounded ``numPartitions-1``-element
list, never data). Bucket assignment is then a pure expression over
those literals, so the data pass, the offsets pass, and any re-execution
agree by construction — no shared shuffle, no materialization:

1. ``__bkt = #{boundaries ≤ key}`` (reversed for DESC) — monotone in the
   order, so bucket i wholly precedes bucket i+1;
2. within-bucket rank: ``row_number`` over a window PARTITIONED by
   ``__bkt`` (parallel — this is what makes the global window safe);
3. offsets: per-bucket counts + a running-sum window over ≤ buckets+2
   rows (bounded by cluster width), broadcast-joined back.

Approximate quantiles only affect bucket EVENNESS, never rank
correctness. This replaced a round-6 attempt that shared one
``repartitionByRange`` exchange between the data and offsets branches:
exchange reuse is an OPTIMIZATION, not a guarantee — when the two
exchange instances materialized separately they sampled different range
boundaries and the composed ranks were silently wrong (observed flaky
under toPandas). Literal boundaries make consistency unconditional.

Ranks are identical to the single-partition window whenever the order
is a TOTAL order (the repo's tie-break discipline: every global order
ends in a unique key). ``ntile`` follows from the rank with the exact
remainder-to-early-buckets rule both engines implement, computed
in-plan from the broadcast bucket-count total.

Fallback: when the first order key is not a plain numeric column (or
carries a custom NULLS ordering), boundaries can't be derived, and the
operator uses the ``repartitionByRange`` + ``localCheckpoint`` + offsets
formulation (one materialization — the checkpoint is what pins the
sampled boundaries across the two passes).

The one-sorted-partition window fast path is opt-in for callers that
KNOW their input is aggregate-grain: pass
``small_threshold=SMALL_THRESHOLD`` together with ``input_rows``
(q156's pattern); the same call sites auto-switch to the distributed
path when the input outgrows the threshold.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from pandas_td_spark.engine.store import memo

__all__ = [
    "with_global_row_number",
    "with_global_ntile",
    "with_global_prefix_agg",
    "SMALL_THRESHOLD",
]

_PID_SHIFT = 33  # monotonically_increasing_id = partition_id << 33 + pos


SMALL_THRESHOLD = 100_000  # opt-in gate: below this, one sorted partition
# is cheaper than the bucketed shuffle + offsets branch

#: approxQuantile relative error for bucket boundaries — only bucket
#: evenness depends on it (±0.1% of rows per boundary), never rank values
_BOUNDARY_RELERR = 0.001


def _parse_first_key(c: Column | str) -> tuple[str, bool] | None:
    """(column_name, is_desc) when the leading order key is a plain
    column with its direction's DEFAULT null ordering (asc→NULLS FIRST,
    desc→NULLS LAST — what the bucket expression implements); None for
    expressions/custom null orders (callers then take the checkpoint
    fallback)."""
    if isinstance(c, str):
        return c, False
    try:
        s = c._jc.toString()  # e.g. "o_totalprice DESC NULLS LAST"
    except Exception:
        # non-JVM Column impl (e.g. Spark Connect): can't introspect —
        # callers fall back to the checkpointed path
        return None
    m = re.fullmatch(
        r"([A-Za-z_][A-Za-z0-9_]*)"
        r"(?: (ASC|DESC)(?: NULLS (FIRST|LAST))?)?",
        s,
    )
    if not m:
        return None
    name, direction, nulls = m.group(1), m.group(2), m.group(3)
    desc = direction == "DESC"
    if nulls and nulls != ("LAST" if desc else "FIRST"):
        return None
    return name, desc


#: max branches in one flat CaseWhen leaf of the bucket expression —
#: beyond ~hundreds of branches whole-stage codegen degrades hard (a
#: flat 255-branch chain measured 3.8 s vs 0.3 s for 127 on the same
#:  sf0.1 scan), and a cluster-scale n runs to thousands of boundaries
_BUCKET_LEAF = 16


def _first_match_expr(x: Column, vals: list, desc: bool) -> Column:
    """``min{i : x < vals[i]}`` (``x > vals[i]`` for desc), else
    ``len(vals)`` — as a BINARY WHEN tree instead of a flat CaseWhen:
    O(log n) comparisons per row and bounded-size codegen methods, so
    boundary counts in the thousands (cluster-scale ``n``) stay inside
    whole-stage codegen. Evaluation is a textbook binary search over the
    sorted literal list (reverse-sorted for desc); leaves fall back to a
    ≤ ``_BUCKET_LEAF``-branch flat chain. An array-HOF filter was
    measured 3x slower (interpreted per row) — the WHEN tree keeps it
    codegen'd."""

    def cond(v) -> Column:
        return (x > F.lit(v)) if desc else (x < F.lit(v))

    def search(lo: int, hi: int) -> Column:
        # first matching index is known to lie in [lo, hi]
        if hi - lo <= _BUCKET_LEAF:
            e = None
            for i in range(lo, hi):
                e = (
                    F.when(cond(vals[i]), F.lit(i))
                    if e is None
                    else e.when(cond(vals[i]), F.lit(i))
                )
            return F.lit(hi) if e is None else e.otherwise(F.lit(hi))
        mid = (lo + hi) // 2
        # vals sorted so cond is monotone in i: cond(vals[mid]) means
        # the first match is at or below mid
        return F.when(cond(vals[mid]), search(lo, mid)).otherwise(
            search(mid + 1, hi)
        )

    return search(0, len(vals))


def _boundary_buckets(
    df: DataFrame, cols: list[Column | str], n: int
) -> DataFrame | None:
    """``df`` + deterministic ``__bkt`` from literal quantile boundaries
    of the first order key; None when no plain numeric first key."""
    key = _parse_first_key(cols[0])
    if key is None:
        return None
    name, desc = key
    try:
        dtype = df.schema[name].dataType
    except KeyError:  # not a top-level field (PySparkKeyError included)
        return None
    if not isinstance(dtype, NumericType):
        return None
    probs = [i / n for i in range(1, n)]
    # one GK-sketch scan; the collected list is bounded by the partition
    # count. (At extreme scale a .sample() feeding this scan is fine:
    # boundary placement affects only bucket evenness.) Memoized per
    # (session, analyzed plan, key column, bucket count) in the store: a
    # repeated rank over the same frame (bench min-of-N, a production
    # session ranking one table several ways) skips the scan entirely.
    # A stale entry could only unbalance buckets — rank correctness
    # comes from the monotone assignment + exact per-bucket counts, both
    # recomputed per action.
    plan = df._jdf.queryExecution().analyzed().semanticHash()
    bounds = memo(
        df.sparkSession,
        ("bounds", plan, name, n),
        lambda: sorted(
            set(df.stat.approxQuantile(name, probs, _BOUNDARY_RELERR))
        ),
    )
    x = F.col(name)
    if not bounds:
        bucket = F.when(x.isNotNull(), F.lit(0))
    elif desc:
        # bucket = first i with x > rev_bounds[i] (else len) — binary
        # WHEN tree, see below
        bucket = _first_match_expr(x, list(reversed(bounds)), desc=True)
    else:
        # bucket = first i with x < bounds[i] (else len)
        bucket = _first_match_expr(x, bounds, desc=False)
    # NULL keys: asc ranks them first (bucket -1), desc last — Spark's
    # default null ordering for each direction (enforced by the parser).
    null_bucket = F.lit(len(bounds) + 1 if desc else -1)
    return df.withColumn(
        "__bkt",
        F.when(x.isNull(), null_bucket).otherwise(bucket).cast("int"),
    )


def _offsets_frame(bucketed: DataFrame) -> DataFrame:
    """(__bkt, __off, __nt) — running-sum offsets AND the grand total
    over the per-bucket counts, so ntile/consumers never re-aggregate
    the source. ≤ buckets+2 rows: the single-partition windows are
    bounded by cluster width, never by data."""
    counts = bucketed.groupBy("__bkt").agg(F.count("*").alias("__cnt"))
    w = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return counts.select(
        "__bkt",
        F.coalesce(F.sum("__cnt").over(w), F.lit(0)).alias("__off"),
        F.sum("__cnt").over(w_all).cast("bigint").alias("__nt"),
    )


def _rank_bucketed(
    df: DataFrame, cols: list[Column | str], out: str, n: int
):
    """Fully-consistent lazy two-phase rank over literal-boundary
    buckets: returns (ranked, offsets) or None when boundaries can't be
    derived. The only action is the boundary scan — no checkpoint, no
    collect of data-sized state."""
    bucketed = _boundary_buckets(df, cols, n)
    if bucketed is None:
        return None
    offsets = _offsets_frame(bucketed)
    order_cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    wr = Window.partitionBy("__bkt").orderBy(*order_cols)
    # __nt rides along on every row (tiny broadcast): ntile consumers
    # read it instead of re-aggregating the source in a third branch
    ranked = (
        bucketed.join(F.broadcast(offsets), "__bkt")
        .withColumn(
            out,
            (F.col("__off") + F.row_number().over(wr)).cast("bigint"),
        )
        .select(*df.columns, out, "__nt")
    )
    return ranked, offsets


def _rank_checkpointed(
    df: DataFrame, cols: list[Column | str], out: str, n: int
) -> tuple[DataFrame, int]:
    """Fallback for orders without a plain numeric leading key:
    ``repartitionByRange`` + ONE ``localCheckpoint`` (repartitionByRange
    re-samples per action — the checkpoint pins the boundaries across
    the offsets and data passes), then the bounded per-partition counts
    collect driver-side."""
    order_cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    ranged = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
    )
    pid = F.shiftright("__mid", _PID_SHIFT).cast("int")
    local = (
        F.col("__mid")
        - F.shiftleft(F.shiftright("__mid", _PID_SHIFT), _PID_SHIFT)
        + 1
    )
    ranged = (
        ranged.withColumn("__pid", pid)
        .withColumn("__local", local)
        .localCheckpoint()
    )
    counts = {
        r["__pid"]: r["c"]
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("c")).collect()
    }
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    off_expr = (
        F.element_at(
            F.create_map(
                *[
                    x
                    for p in sorted(offsets)
                    for x in (F.lit(p), F.lit(offsets[p]))
                ]
            ),
            F.col("__pid"),
        )
        if offsets
        else F.lit(0)
    )
    ranked = ranged.withColumn(
        out, (off_expr + F.col("__local")).cast("bigint")
    ).select(*df.columns, out)
    return ranked, acc


def _window_rank(df: DataFrame, cols, out: str) -> DataFrame:
    order_cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    return df.withColumn(
        out, F.row_number().over(Window.orderBy(*order_cols)).cast("bigint")
    )


def _window_gate(df, small_threshold, input_rows):
    if small_threshold <= 0:
        return None
    n_rows = df.count() if input_rows is None else input_rows
    return n_rows if n_rows <= small_threshold else None


def with_global_row_number(
    df: DataFrame,
    order: Sequence[Column | str],
    out: str = "rn",
    num_partitions: int | None = None,
    small_threshold: int = 0,
    input_rows: int | None = None,
) -> DataFrame:
    """Append the exact global 1-based row number under ``order`` (which
    must be a total order for deterministic results) without a
    single-partition sort: deterministic literal-boundary buckets + a
    bucket-partitioned window + broadcast offsets. The only driver
    action is the bounded boundary scan.

    Opt-in fast path (``small_threshold>0`` — pass ``input_rows`` with
    it, or the gate itself must run a count job): inputs at or under the
    threshold take the ordinary window form, where one sorted partition
    beats the bucketed shuffle. Values are identical on all paths
    (pinned in tests/test_ranking.py, which forces each)."""
    cols = list(order)
    gate = _window_gate(df, small_threshold, input_rows)
    if gate is not None:
        return _window_rank(df, cols, out)
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    got = _rank_bucketed(df, cols, out, n)
    if got is not None:
        return got[0].drop("__nt")
    return _rank_checkpointed(df, cols, out, n)[0]


def _bin_from_rank(
    frame: DataFrame, rank_col: str, out: str, buckets: int
) -> DataFrame:
    """ntile bin from a 1-based global rank column plus the in-plan
    ``__nt`` total: remainder rows go to the earliest bins (window-ntile
    semantics). Integer SQL ``div`` throughout (double division loses
    exactness past 2^53 rows); the total-under-buckets case (q=0) is
    short-circuited by CASE with the untaken divisor clamped so ANSI
    mode can't divide by zero."""
    staged = (
        frame
        .withColumn("__q", F.expr(f"__nt div {buckets}"))
        .withColumn("__rem", F.col("__nt") % F.lit(buckets))
        .withColumn("__big", F.col("__q") + 1)
        .withColumn("__cut", F.col("__big") * F.col("__rem"))
        .withColumn("__r0", F.col(rank_col) - 1)
    )
    bucket = F.when(F.col("__q") == 0, F.col(rank_col)).otherwise(
        F.when(
            F.col(rank_col) <= F.col("__cut"),
            F.expr("__r0 div __big") + 1,
        ).otherwise(
            F.expr("(__r0 - __cut) div greatest(__q, 1)")
            + F.col("__rem")
            + 1
        )
    )
    return staged.withColumn(out, bucket.cast("bigint")).drop(
        "__q", "__rem", "__big", "__cut", "__r0"
    )


def _ntile_from_int_total(ranked, rn, out, total, buckets):
    q, rem = divmod(total, buckets)
    if q == 0:
        return ranked.withColumn(out, F.col(rn)).drop(rn)
    big = q + 1
    cut = big * rem
    bucket = F.when(
        F.col(rn) <= cut,
        F.expr(f"({rn} - 1) div {big}") + 1,
    ).otherwise(F.expr(f"({rn} - 1 - {cut}) div {q}") + rem + 1)
    return ranked.withColumn(out, bucket.cast("bigint")).drop(rn)


_PREFIX_AGGS = {"sum": F.sum, "min": F.min, "max": F.max}


def _prefix_combine(agg: str, off: Column, within: Column) -> Column:
    """Merge the exclusive cross-bucket prefix (NULL for the first
    bucket) with the within-bucket running value."""
    if agg == "sum":
        # either side may be NULL (first bucket; all-NULL value prefix
        # within a bucket) — NULL+x must not poison the running total,
        # but an all-NULL prefix stays NULL (SQL aggregate semantics)
        return (
            F.when(off.isNull(), within)
            .when(within.isNull(), off)
            .otherwise(off + within)
        )
    # least/greatest skip NULLs (return the extreme non-NULL operand),
    # which is exactly the empty-exclusive-prefix semantics we need
    return (F.least if agg == "min" else F.greatest)(off, within)


def with_global_prefix_agg(
    df: DataFrame,
    order: Sequence[Column | str],
    value: Column | str,
    agg: str = "sum",
    out: str = "cum",
    total_out: str | None = None,
    num_partitions: int | None = None,
    small_threshold: int = 0,
    input_rows: int | None = None,
    inclusive: bool = True,
) -> DataFrame:
    """Append the exact global running ``sum``/``min``/``max`` of
    ``value`` under ``order`` — the distributed form of
    ``agg(value) OVER (ORDER BY ...)`` — without the single-partition
    global window (running totals, Pareto/ABC curves, skyline
    prefix-min). ``order`` must be a TOTAL order (the repo's tie-break
    discipline), which makes ROWS and RANGE frames coincide, so the
    result equals both engines' default RANGE-frame window.

    Same two-phase scheme as the global rank: deterministic
    literal-boundary buckets → within-bucket running window
    (PARTITIONED — parallel) → per-bucket totals → exclusive running
    combine over the ≤ buckets+2-row offsets frame → broadcast join.
    ``total_out`` additionally rides the grand total (sum/min/max over
    ALL rows) on every row from the same bounded offsets branch — no
    second scan, no ``Window.partitionBy()`` global aggregate.

    NULL ``value`` rows contribute nothing (SQL aggregate semantics) but
    still receive the running value over their predecessors. Fallbacks
    mirror ``with_global_row_number``: opt-in single-window fast path
    via ``small_threshold`` + ``input_rows``; ``repartitionByRange`` +
    ``localCheckpoint`` when the leading order key is not a plain
    numeric column."""
    if agg not in _PREFIX_AGGS:
        raise ValueError(f"agg must be one of {sorted(_PREFIX_AGGS)}")
    agg_fn = _PREFIX_AGGS[agg]
    vcol = F.col(value) if isinstance(value, str) else value
    cols = list(order)
    order_cols = [F.col(c) if isinstance(c, str) else c for c in cols]

    # inclusive=False gives the STRICT prefix (rows before, current row
    # excluded — NULL on each order's first row): Pareto frontiers,
    # "best so far" baselines, exclusive running totals
    upper = 0 if inclusive else -1

    def _finish_window(frame: DataFrame, part_col: str | None):
        w = (
            Window.partitionBy(part_col) if part_col else Window
        ).orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, upper)
        return frame.withColumn(out, agg_fn(vcol).over(w))

    gate = _window_gate(df, small_threshold, input_rows)
    if gate is not None:
        res = _finish_window(df, None)
        if total_out:
            tot = df.agg(agg_fn(vcol).alias(total_out))
            res = res.crossJoin(F.broadcast(tot))
        return res

    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    bucketed = _boundary_buckets(df, cols, n)
    if bucketed is None:
        # checkpoint fallback: range-partition once, pin boundaries,
        # then the bounded per-partition aggregates collect driver-side
        ranged = (
            df.repartitionByRange(n, *order_cols)
            .sortWithinPartitions(*order_cols)
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint()
        )
        per = ranged.groupBy("__pid").agg(agg_fn(vcol).alias("__v"))
        woff = Window.orderBy("__pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
        wall = Window.orderBy("__pid").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        offsets = per.select(
            "__pid",
            agg_fn("__v").over(woff).alias("__off"),
            agg_fn("__v").over(wall).alias("__tot"),
        )
        joined = ranged.join(F.broadcast(offsets), "__pid")
        res = _finish_window(joined, "__pid").withColumn(
            out, _prefix_combine(agg, F.col("__off"), F.col(out))
        )
        keep = [*df.columns, out] + ([total_out] if total_out else [])
        if total_out:
            res = res.withColumn(total_out, F.col("__tot"))
        return res.select(*keep)

    per = bucketed.groupBy("__bkt").agg(agg_fn(vcol).alias("__v"))
    woff = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wall = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = per.select(
        "__bkt",
        agg_fn("__v").over(woff).alias("__off"),
        agg_fn("__v").over(wall).alias("__tot"),
    )
    joined = bucketed.join(F.broadcast(offsets), "__bkt")
    res = _finish_window(joined, "__bkt").withColumn(
        out, _prefix_combine(agg, F.col("__off"), F.col(out))
    )
    keep = [*df.columns, out] + ([total_out] if total_out else [])
    if total_out:
        res = res.withColumn(total_out, F.col("__tot"))
    return res.select(*keep)


def with_global_ntile(
    df: DataFrame,
    order: Sequence[Column | str],
    buckets: int,
    out: str = "bucket",
    num_partitions: int | None = None,
    small_threshold: int = 0,
    input_rows: int | None = None,
) -> DataFrame:
    """Append the exact global ``ntile(buckets)`` under ``order`` —
    identical to the window ntile (remainder rows go to the earliest
    buckets). On the bucketed path the ntile arithmetic runs IN-PLAN
    from a broadcast 1-row total derived from the offsets branch — no
    count action. Integer SQL ``div`` throughout (double division loses
    exactness past 2^53 rows), with the total-under-buckets case (q=0)
    short-circuited by CASE and the divisor clamped so the untaken
    branch can't divide by zero under ANSI mode."""
    rn = "__gntile_rn"
    cols = list(order)
    gate = _window_gate(df, small_threshold, input_rows)
    if gate is not None:
        return _ntile_from_int_total(
            _window_rank(df, cols, rn), rn, out, gate, buckets
        )
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    got = _rank_bucketed(df, cols, rn, n)
    if got is None:
        ranked, total = _rank_checkpointed(df, cols, rn, n)
        return _ntile_from_int_total(ranked, rn, out, total, buckets)
    ranked, _offsets = got
    return _bin_from_rank(ranked, rn, out, buckets).drop(rn, "__nt")
