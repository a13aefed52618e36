"""Z-order (Morton-curve) clustered table layout for multi-column
pruning (public Delta OPTIMIZE ZORDER / Hudi clustering pattern; no
reference locus — /root/reference empty).

Range-partitioning on a single key (sources/io.py::write_sorted) gives
perfect pruning on that key and none on any other. Interleaving the bits
of several rank-normalized keys into one Morton code and range-writing on
THAT gives every participating column locality: a point/range predicate
on any one of them touches O(files^(1-1/d)) of the data instead of all of
it — parquet row-group min/max stats do the skipping with zero reader
cooperation.

Implementation is pure JVM expression work:

1. per-column quantile boundaries (``approxQuantile``, driver-side list of
   2^bits cut points — one pass, mergeable sketch under the hood) turn any
   numeric distribution, however skewed, into near-uniform bucket ranks;
2. ``width_bucket`` maps values to ranks; a ``shiftleft``/``|`` chain
   interleaves rank bits into the Morton code (whole-stage codegen — no
   Python);
3. the Morton column feeds ``repartitionByRange`` + ``sortWithinPartitions``
   and is dropped from the files.

At 100 TB the only added costs are the quantile pass and the same single
shuffle any sorted write pays.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "with_zorder_key",
    "zorder_key",
    "write_zordered",
    "morton_interleave",
    "morton_interleave_sql",
]


def morton_interleave(cols: Sequence[Column], bits: int) -> Column:
    """Raw Morton/Z-order bit interleave of the low ``bits`` bits of
    ``d`` non-negative integer columns: bit ``i`` of column ``j`` lands
    at position ``i*d + j``. Pure integer arithmetic — whole-stage
    codegen keeps it in the JVM; the quantile-rank keyer below feeds it
    rank columns, and callers with already-uniform integer keys (q242)
    use it directly."""
    d = len(cols)
    z = F.lit(0).cast("bigint")
    for bit in range(bits):
        for j, c in enumerate(cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c.cast("bigint"), bit).bitwiseAND(
                        F.lit(1)
                    ),
                    bit * d + j,
                )
            )
    return z


def morton_interleave_sql(
    cols: Sequence[str], bits: int, div: str = "//"
) -> str:
    """The same interleave as SQL text (integer divide + modulo — no
    dialect bit operators), for oracle SQL and ``spark.sql`` callers.
    ``div`` is the dialect's integer-division operator: ``//`` (DuckDB,
    the default) or ``div`` (Spark SQL). Exact-integer arithmetic on
    both engines, so it matches :func:`morton_interleave`
    bit-for-bit."""
    d = len(cols)
    terms = []
    for bit in range(bits):
        for j, c in enumerate(cols):
            terms.append(
                f"(({c} {div} {1 << bit}) % 2) * {1 << (bit * d + j)}"
            )
    return "(" + " + ".join(terms) + ")"


def _bucket_rank(col: str, boundaries: list[float]) -> Column:
    """0-based near-uniform bucket rank via precomputed quantile cuts.

    ``boundaries`` is sorted and may repeat a value (ties in the data);
    the rank counts the boundaries <= the value, so it is the value's
    quantile position and spans ``[0, len(boundaries)]``."""
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    # width_bucket over explicit cut points: count boundaries <= value
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, b: acc + F.when(F.col(col).cast("double") >= b, 1).otherwise(0),
    )


def with_zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits_per_col: int = 12,
    out_col: str = "__z",
) -> DataFrame:
    """Append the Morton key of quantile-rank bits of ``cols`` (2-4
    columns; locality dilutes with dimensionality).

    All column quantiles come from ONE ``approxQuantile`` pass (the
    multi-column overload), and each column's rank — an O(n_buckets)
    aggregate fold — is materialized once in a temp column before the bit
    interleave references it ``bits_per_col`` times (no reliance on
    codegen CSE to dedupe the fold)."""
    if not 2 <= len(cols) <= 4:
        raise ValueError("zorder wants 2-4 columns")
    n_buckets = 1 << bits_per_col
    quantiles = [i / n_buckets for i in range(1, n_buckets)]
    all_cuts = df.stat.approxQuantile(list(cols), quantiles, 0.001)
    rank_cols = []
    for j, (c, cuts) in enumerate(zip(cols, all_cuts)):
        # repeated cut points are kept on purpose: a rank is then a
        # quantile position spanning [0, 2^bits), so each rank bit splits
        # the rows evenly; deduping would shrink the range and push the
        # top Morton split off the median
        rc = f"{out_col}_r{j}"
        df = df.withColumn(rc, _bucket_rank(c, sorted(cuts)))
        rank_cols.append(rc)
    z = morton_interleave([F.col(rc) for rc in rank_cols], bits_per_col)
    return df.withColumn(out_col, z).drop(*rank_cols)


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits_per_col: int = 12
) -> Column:
    """Column form of :func:`with_zorder_key` (computes ranks inline —
    prefer the DataFrame form, which materializes each rank once)."""
    keyed = with_zorder_key(df, cols, bits_per_col=bits_per_col)
    return keyed["__z"]


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    num_files: int = 32,
    bits_per_col: int = 12,
    mode: str = "errorifexists",
) -> None:
    """Write ``df`` as ``num_files`` Morton-clustered parquet files;
    predicates on ANY of ``cols`` prune via row-group statistics."""
    (
        with_zorder_key(df, cols, bits_per_col=bits_per_col)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
