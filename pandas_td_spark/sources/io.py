"""Sources & sinks (SURVEY.md §2.1 S1-S8).

Reference parity (all loci UNVERIFIED — /root/reference is empty):

* ``read_table``  ↔ ``pandas_td/td.py::read_td_table`` — projection +
  time-range + limit, generated as SQL text there; expressed declaratively
  here so Catalyst pushes projection/predicate/limit into the parquet scan.
* ``write_table`` ↔ ``pandas_td/td.py::to_td`` + ``StreamingUploader`` —
  ``if_exists`` ∈ {fail, replace, append}, ``time`` column injection.

Scale notes
-----------
* Tables are plain parquet files/directories; at 100 TB they would be
  dt-partitioned directories — :func:`read_table`'s time predicate is a
  simple range conjunction on a stable column, exactly the shape dynamic
  partition pruning consumes.
* ``write_table`` of a Spark DataFrame sizes output files via
  ``maxRecordsPerFile`` (the Spark analogue of the reference's 10 000-row
  upload chunks) instead of repartitioning, so no extra shuffle is
  introduced on the write path.
* ``write_table`` of a pandas frame (``to_td``'s upload path) runs no
  Spark job: the driver-side frame becomes one Arrow table, stored with
  the types, codec and timestamp encoding Spark's writer would use, and
  each file lands with one rename. An append is one file, so it becomes
  visible whole; at scale the uploader's batch is bounded by driver
  memory, as the reference's msgpack chunks were.
"""

from __future__ import annotations

import os
import shutil
import time as _time
import uuid as _uuid
import weakref
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_td_spark.functions.td import (
    TimeLike,
    is_timestamp_dtype,
    td_time_range,
    to_epoch_seconds,
)
from pandas_td_spark.engine import store

__all__ = [
    "table_names",
    "table_path",
    "read_table",
    "write_sorted",
    "write_table",
    "register_views",
    "resolve_data_path",
    "table_versions",
    "read_snapshot",
]

_IF_EXISTS_TO_MODE = {
    "fail": "errorifexists",
    "replace": "overwrite",
    "append": "append",
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_names(dbdir: str) -> list[str]:
    """Sorted names of the ``<name>.parquet`` tables in a database dir."""
    if not os.path.isdir(dbdir):
        return []
    return sorted(
        f[: -len(".parquet")] for f in os.listdir(dbdir) if f.endswith(".parquet")
    )


# --------------------------------------------------------------------------
# Atomic replace: manifest-committed versioned directories.
#
# Plain ``mode("overwrite")`` deletes the old data before the new write
# finishes — a crash mid-replace loses BOTH copies (round-1 SURVEY §7
# risk). Delta/Iceberg solve this with a transaction log; neither is
# installed here, so we hand-roll the same core idea (a one-pointer log):
#
#   table.parquet/
#     _MANIFEST            <- one line: the committed version dir name
#     v-<n>-<uuid>/        <- immutable parquet snapshots
#
# Writers write a NEW version dir, then commit by atomically swapping
# _MANIFEST (os.replace — atomic on POSIX). Readers resolve _MANIFEST
# first; a crash at any point leaves it pointing at a complete snapshot.
# --------------------------------------------------------------------------
_MANIFEST = "_MANIFEST"


def resolve_data_path(path: str) -> str:
    """The directory actually holding committed data: the manifest's
    version dir for manifest-managed tables, ``path`` itself otherwise."""
    version = _committed_version(path)
    return path if version is None else os.path.join(path, version)


def table_versions(path: str) -> list[str]:
    """Retained snapshot versions of a manifest-managed table, oldest
    first (names embed the commit time_ns, so lexicographic order is
    commit order). The last entry is the committed (current) snapshot."""
    if not os.path.isdir(path):
        return []
    current = _committed_version(path)
    vs = sorted(
        e
        for e in os.listdir(path)
        if e.startswith("v-") and os.path.isdir(os.path.join(path, e))
    )
    # a retained-but-uncommitted newer dir (crashed writer) is NOT a
    # readable snapshot; drop anything after the committed version
    if current in vs:
        vs = vs[: vs.index(current) + 1]
    return vs


def read_snapshot(
    spark: SparkSession, path: str, version: str | int = 0
) -> DataFrame:
    """Time-travel read of a manifest-managed table (S5c).

    ``version`` is either an explicit version-dir name from
    :func:`table_versions`, or an integer age: ``0`` = the committed
    snapshot, ``1`` = the one before it, … Raises ``ValueError`` when the
    requested snapshot is not retained (pruned by ``keep_versions``).
    Snapshots are immutable directories, so a reader holding version N is
    unaffected by concurrent ``replace`` commits — the same isolation
    argument as Iceberg/Delta snapshot reads, scoped to the one-pointer
    manifest protocol used here.
    """
    vs = table_versions(path)
    if isinstance(version, int):
        if not vs:
            raise ValueError(f"{path} is not a manifest-managed table")
        if version < 0 or version >= len(vs):
            raise ValueError(
                f"snapshot {version} not retained (have {len(vs)}: 0..{len(vs) - 1})"
            )
        name = vs[-1 - version]
    else:
        if version not in vs:
            raise ValueError(
                f"snapshot {version!r} not retained; available: {vs}"
            )
        name = version
    return spark.read.parquet(os.path.join(path, name))


def _committed_version(path: str) -> str | None:
    m = os.path.join(path, _MANIFEST)
    if os.path.isfile(m):
        with open(m) as fh:
            v = fh.read().strip()
        return v or None
    return None


def _commit_manifest(path: str, version: str) -> None:
    """Atomically point _MANIFEST at ``version`` (write-temp + rename)."""
    tmp = os.path.join(path, f".manifest.{_uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        fh.write(version + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(path, _MANIFEST))


def _atomic_replace(path: str, write_fn, keep_versions: int = 1) -> None:
    """Write a new snapshot under ``path`` and commit it atomically.
    ``write_fn(target_dir)`` performs the actual (errorifexists) write.
    Old snapshots beyond ``keep_versions`` are pruned AFTER the commit —
    in-flight readers of the immediately-previous snapshot keep working."""
    os.makedirs(path, exist_ok=True)
    version = f"v-{_time.time_ns():020d}-{_uuid.uuid4().hex[:8]}"
    write_fn(os.path.join(path, version))
    _commit_manifest(path, version)
    # migration: a pre-manifest plain-parquet table has loose data files at
    # the root — stale now that the manifest is authoritative.
    # Retention: the committed snapshot plus the ``keep_versions`` most
    # recent older ones (version names embed time_ns, so the lexicographic
    # order IS the commit order) — those stay readable via read_snapshot.
    older = sorted(
        (
            e
            for e in os.listdir(path)
            if e.startswith("v-")
            and e != version
            and os.path.isdir(os.path.join(path, e))
        ),
        reverse=True,
    )
    survivors = {version, *older[: max(keep_versions, 0)]}
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        if entry == _MANIFEST or entry in survivors:
            continue
        if entry.startswith("v-") and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        elif os.path.isfile(full) and not entry.startswith("."):
            os.unlink(full)
            # its Hadoop checksum side file (``.<name>.crc``) goes with it;
            # other dot entries (an in-flight temp file) are left alone
            crc = os.path.join(path, f".{entry}.crc")
            if os.path.isfile(crc):
                os.unlink(crc)


def _data_files(path: str) -> Iterator[str]:
    """The data files of a parquet file or directory, in a fixed order
    (sorted, top-down), skipping the ``.``/``_`` entries Spark skips."""
    if not os.path.isdir(path):
        yield path
        return
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d[0] not in "._")
        for f in sorted(f for f in files if f[0] not in "._"):
            yield os.path.join(dirpath, f)


def _ns_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS). Spark 4.x cannot read
    those as timestamps (PARQUET_TYPE_ILLEGAL); with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` they surface as BIGINT
    nanos. A table directory is judged by its first data file. Footer
    inspection is driver-side and O(1 footer), not O(data)."""
    path = next(_data_files(path), None)
    if path is None:
        return []  # empty table
    return [
        field.name
        for field in pq.read_schema(path)
        if str(field.type).startswith("timestamp[ns")
    ]


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: Sequence[str] | None = None,
    time_range: tuple[TimeLike, TimeLike] | None = None,
    time_col: str = "time",
    limit: int | None = None,
) -> DataFrame:
    """S1: scan with projection, time predicate, limit.

    The reference generated ``SELECT {cols} FROM t WHERE td_time_range(time,
    s, e) LIMIT n`` (default limit 10 000) and shipped it to Presto. Here the
    same plan is declared and Catalyst pushes each piece down: check
    ``.explain`` for ``PushedFilters`` + pruned ``ReadSchema``.

    ``time_col`` may name an epoch-seconds BIGINT column (TD convention), a
    TIMESTAMP column, or a raw parquet TIMESTAMP(NANOS) column (the
    ``events.ts`` fixture). In the nanos case the predicate is applied to the
    raw BIGINT **before** normalization, as a plain ``>= / <`` literal
    comparison — the shape the parquet reader pushes down to row-group
    statistics (check ``PushedFilters`` in ``.explain``).
    """
    path = resolve_data_path(table_path(sf_dir, name))
    raw = spark.read.parquet(path)
    ns_cols = [
        c for c in _ns_timestamp_columns(path) if dict(raw.dtypes).get(c) == "bigint"
    ]
    df = raw
    if time_range is not None:
        start, end = time_range
        s, e = to_epoch_seconds(start), to_epoch_seconds(end)
        t = F.col(time_col)
        if time_col in ns_cols:
            # pushable: literal bounds scaled to the stored unit
            cond = F.lit(True)
            if s is not None:
                cond = cond & (t >= F.lit(s * 1_000_000_000))
            if e is not None:
                cond = cond & (t < F.lit(e * 1_000_000_000))
            df = df.where(cond)
        else:
            dtype = dict(df.dtypes).get(time_col)
            if is_timestamp_dtype(dtype):
                # compare the column bare against a constant-folded literal
                # of the SAME timestamp flavor (ntz or tz) — wrapping the
                # column in unix_timestamp() would block parquet pushdown.
                # Session tz is UTC, so ntz wall-clock == UTC instant.
                cond = F.lit(True)
                if s is not None:
                    cond = cond & (t >= F.timestamp_seconds(F.lit(s)).cast(dtype))
                if e is not None:
                    cond = cond & (t < F.timestamp_seconds(F.lit(e)).cast(dtype))
                df = df.where(cond)
            else:
                df = df.where(td_time_range(t, s, e))
    for c in ns_cols:
        # integer `div`: double division would lose precision at ~1.7e18
        # ns (beyond double's 53-bit mantissa)
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    if columns:
        df = df.select(*columns)
    if limit is not None:
        df = df.limit(limit)
    return df


def write_table(
    df: DataFrame | pd.DataFrame,
    path: str,
    if_exists: str = "fail",
    time_col: str | None = None,
    time_value: int | None = None,
    max_records_per_file: int = 1_000_000,
    partition_by: Sequence[str] | None = None,
    keep_versions: int = 1,
) -> None:
    """S5: bulk sink with the reference's ``if_exists`` semantics.

    * ``time_col``: convert that column to epoch-seconds BIGINT ``time``
      (``unix_timestamp`` of a timestamp, which cuts toward zero).
    * neither given: inject ``time_value`` (explicit, deterministic — the
      reference injected wall-clock `now`, which we refuse to do silently).
    * ``replace`` is ATOMIC: the new snapshot is written to a fresh version
      directory and committed by an atomic manifest swap (see
      :func:`_atomic_replace`) — a crash mid-replace leaves the previous
      snapshot committed and readable. ``append``/``fail`` operate on the
      committed snapshot via :func:`resolve_data_path`.

    A Spark DataFrame is written by a Spark job, ``max_records_per_file``
    rows per file at most (``<= 0``: no limit). A pandas frame is written
    by Arrow on the driver, with the stored types, codec and timestamp
    encoding a Spark write of ``createDataFrame(frame)`` would give (see
    :func:`_arrow_table`); ``partition_by`` needs a Spark DataFrame.

    * ``append``/``fail``: ONE file, in row groups of
      ``max_records_per_file`` rows, that lands with one rename — a
      reader sees all of the batch or none of it.
    * ``replace``: files of ``max_records_per_file`` rows (one file when
      ``<= 0``), so a scan of the snapshot keeps its parallelism.
    """
    if if_exists not in _IF_EXISTS_TO_MODE:
        raise ValueError(
            f"if_exists must be one of {sorted(_IF_EXISTS_TO_MODE)}, got {if_exists!r}"
        )
    if time_col is None and "time" not in df.columns and time_value is None:
        raise ValueError(
            "no `time` column: pass time_col= or an explicit time_value="
        )
    if isinstance(df, pd.DataFrame):
        if partition_by:
            raise ValueError("partition_by= needs a Spark DataFrame")
        _write_frame(df, path, if_exists, time_col, time_value,
                     max_records_per_file, keep_versions)
        return
    if time_col is not None:
        src = F.col(time_col)
        if is_timestamp_dtype(dict(df.dtypes).get(time_col)):
            src = F.unix_timestamp(src)
        df = df.withColumn("time", src.cast("bigint"))
    elif "time" not in df.columns:
        df = df.withColumn("time", F.lit(int(time_value)).cast("bigint"))
    def _write(target: str, mode: str) -> None:
        writer = df.write.mode(mode).option(
            "maxRecordsPerFile", max_records_per_file
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)

    if if_exists == "replace":
        _atomic_replace(
            path,
            lambda target: _write(target, "errorifexists"),
            keep_versions=keep_versions,
        )
    else:
        _write(resolve_data_path(path), _IF_EXISTS_TO_MODE[if_exists])


# Spark's parquet codec names -> pyarrow's (Spark's "lz4" is LZ4 with
# Hadoop framing, which pyarrow does not write; its LZ4_RAW reads the same)
_CODECS = {"uncompressed": "none", "lz4_raw": "lz4"}


def _write_frame(
    frame: pd.DataFrame,
    path: str,
    if_exists: str,
    time_col: str | None,
    time_value: int | None,
    rows_per_file: int,
    keep_versions: int,
) -> None:
    """The pandas branch of :func:`write_table`: no Spark job."""
    spark = SparkSession.active()  # whose parquet confs the files follow
    conf = spark.conf
    table = _arrow_table(frame, time_col, time_value,
                         conf.get("spark.sql.session.timeZone"))
    codec = conf.get("spark.sql.parquet.compression.codec").lower()
    options = {"compression": _CODECS.get(codec, codec),
               "use_dictionary": _dictionary_columns(table.schema)}
    ts_type = conf.get("spark.sql.parquet.outputTimestampType")
    if ts_type == "INT96":
        options["use_deprecated_int96_timestamps"] = True
    else:  # TIMESTAMP_MICROS / TIMESTAMP_MILLIS: truncated, as Spark does
        options["coerce_timestamps"] = "ms" if ts_type.endswith("MILLIS") else "us"
        options["allow_truncated_timestamps"] = True
    step = rows_per_file if rows_per_file > 0 else max(table.num_rows, 1)
    if if_exists == "replace":

        def write(target: str) -> None:
            os.makedirs(target)
            for i, lo in enumerate(range(0, table.num_rows, step)):
                _land_file(table.slice(lo, step), target, i, step, options)

        _atomic_replace(path, write, keep_versions=keep_versions)
        return
    target = resolve_data_path(path)
    if if_exists == "fail" and os.path.exists(target):
        raise FileExistsError(f"table {path} already exists (if_exists='fail')")
    os.makedirs(target, exist_ok=True)
    _land_file(table, target, 0, step, options)


def _arrow_table(
    frame: pd.DataFrame,
    time_col: str | None,
    time_value: int | None,
    tz: str,
) -> pa.Table:
    """``frame`` with its ``time`` column as the Arrow table whose parquet
    Spark reads back with the schema ``spark.createDataFrame(frame)``
    would have: unsigned integers widen to BIGINT (Spark has no unsigned
    types) and naive datetimes are wall-clock times of the session zone
    ``tz``. A frame with no rows raises, as ``createDataFrame`` does. So
    does a column of nothing but nulls: Spark stores it as VOID, a type
    only Spark's own footer metadata gives back."""
    if len(frame) == 0:
        raise ValueError("cannot infer a schema from an empty frame")
    table = pa.Table.from_pandas(frame, preserve_index=False)
    fields, columns = [], []
    for field, col in zip(table.schema, table.columns):
        t = field.type
        if pa.types.is_null(t):
            raise TypeError(f"column {field.name!r} holds only nulls: no type to store")
        if pa.types.is_unsigned_integer(t):
            t, col = pa.int64(), col.cast(pa.int64())
        elif pa.types.is_timestamp(t) and t.tz is None:
            col = pc.assume_timezone(col, tz)
            t = col.type
        fields.append(pa.field(field.name, t))
        columns.append(col)
    table = pa.Table.from_arrays(columns, schema=pa.schema(fields))
    if time_col is not None:
        field = pa.field("time", pa.int64())
        time = pa.array(_epoch_seconds(frame[time_col], tz), pa.int64())
    elif "time" in table.column_names:
        return table
    else:  # a literal: NOT NULL, as Spark stores it
        field = pa.field("time", pa.int64(), nullable=False)
        time = pa.array(np.full(len(frame), int(time_value), np.int64))
    i = table.schema.get_field_index("time")
    return table.set_column(i, field, time) if i >= 0 else table.append_column(field, time)


def _epoch_seconds(col: pd.Series, tz: str) -> pd.Series:
    """``col`` as nullable epoch seconds, cut toward zero as Spark cuts
    them: a datetime (naive ones in ``tz``) like ``unix_timestamp``
    (1969-12-31 23:59:59.5 is 0, not -1), anything else like
    ``CAST(… AS BIGINT)``."""
    if pd.api.types.is_datetime64_any_dtype(col):
        if col.dt.tz is None:
            col = col.dt.tz_localize(tz)
        one = pd.Timedelta(seconds=1)
        delta = col - pd.Timestamp(0, tz="UTC")
        secs = delta // one
        secs = secs + ((secs < 0) & (delta % one != pd.Timedelta(0)))
    else:
        secs = pd.to_numeric(col)
        if pd.api.types.is_float_dtype(secs):
            secs = np.trunc(secs)
    return secs.astype("Int64")


def _dictionary_columns(schema: pa.Schema) -> list[str]:
    """Column paths to dictionary-encode: all but floating-point values,
    which rarely repeat, so a dictionary only adds bytes before the
    writer falls back to plain pages. 21k 64-dim float32 embeddings take
    6.13 MB with pyarrow's default and 5.51 MB without, as in Spark's
    files."""
    out = []
    for f in schema:
        if pa.types.is_list(f.type):
            if not pa.types.is_floating(f.type.value_type):
                out.append(f"{f.name}.list.element")
        elif not pa.types.is_floating(f.type):
            out.append(f.name)
    return out


def _land_file(
    table: pa.Table, directory: str, index: int, row_group_size: int, options: dict
) -> None:
    """Write ``table`` as one parquet file of ``directory``: first as a
    dot-prefixed temp file, which Spark's batch and streaming file
    sources skip, then fsynced and renamed into place, as
    :func:`_commit_manifest` commits, so readers see the whole file or
    nothing."""
    name = f"part-{index:05d}-{_uuid.uuid4()}.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    try:
        pq.write_table(table, tmp, row_group_size=row_group_size, **options)
        fd = os.open(tmp, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        os.replace(tmp, os.path.join(directory, name))
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_by: Sequence[str] | None = None,
    keep_versions: int = 1,
) -> tuple[int, int]:
    """S5e: OPTIMIZE-style small-files compaction of a (manifest-managed
    or plain) parquet table — the maintenance op every streaming/CDC
    ingest path needs, since per-microbatch and per-merge writes
    accumulate files far below the scan-efficient size. Rewrites the
    committed snapshot into ``ceil(total_bytes / target_file_mb)`` files
    (per partition directory when hive-partitioned — partition layout is
    preserved) and commits via the atomic manifest swap, so a crash
    mid-compaction leaves the previous snapshot readable and time-travel
    across the compaction keeps working. Data is bit-identical; only the
    file layout changes.

    ``sort_by`` additionally range-clusters rows across the output files
    (one range shuffle — the same cost the rewrite's repartition pays
    anyway) so min/max row-group stats become selective on those columns
    (write_sorted's discipline applied at maintenance time).

    Returns ``(files_before, files_after)``. Scale note: the rewrite is
    one full scan + one shuffle of the table — schedule it like any
    OPTIMIZE; readers are never blocked (snapshot isolation via the
    manifest pointer). Writer exclusion is the caller's job: an append
    committed into the PREVIOUS snapshot while the compaction rewrite is
    in flight is not carried into the compacted snapshot (the same
    lost-update window every last-writer-wins snapshot swap has — Delta/
    Iceberg close it with commit-conflict detection); don't run
    compaction concurrently with writers."""
    import math

    src_dir = resolve_data_path(path)
    files = []
    part_cols: set[str] = set()
    for root, dirs, names in os.walk(src_dir):
        for d in dirs:
            if "=" in d:
                part_cols.add(d.split("=", 1)[0])
        files.extend(
            os.path.join(root, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith(".")
        )
    if not files:
        raise ValueError(f"{path} has no committed parquet data")
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_dir)
    if sort_by:
        cols = [F.col(c) for c in sort_by]
        df = df.repartitionByRange(n_out, *cols).sortWithinPartitions(*cols)
    else:
        df = df.repartition(n_out)

    def _write(target: str) -> None:
        writer = df.write.mode("errorifexists")
        if part_cols:
            writer = writer.partitionBy(*sorted(part_cols))
        writer.parquet(target)

    _atomic_replace(path, _write, keep_versions=keep_versions)
    out_dir = resolve_data_path(path)
    n_after = sum(
        1
        for root, _, names in os.walk(out_dir)
        for n in names
        if n.endswith(".parquet") and not n.startswith(".")
    )
    return len(files), n_after


def write_sorted(
    df: DataFrame,
    path: str,
    by: Sequence[str],
    num_files: int | None = None,
    mode: str = "errorifexists",
) -> None:
    """Globally-ordered export: range-repartition on the sort keys (one
    sampling pass picks balanced split points), then sort within each
    partition — file N's keys all precede file N+1's, and each file is
    internally sorted. This is THE scalable substitute for a global
    ``orderBy`` collect: no single reducer ever sees the full dataset, and
    downstream parquet readers get min/max row-group statistics that make
    key-range predicates prune to a handful of files. At 100 TB the cost
    is one shuffle — the same as any aggregation — instead of a
    driver-side sort that cannot exist."""
    parts = df.repartitionByRange(*by) if num_files is None else (
        df.repartitionByRange(num_files, *by)
    )
    parts.sortWithinPartitions(*by).write.mode(mode).parquet(path)


# weak keys: a dict keyed by id(spark) can alias a NEW session that reuses
# a garbage-collected session's id (falsely skipping registration) and
# leaks an entry per session (round-1 advisor finding)
_CURRENT_VIEWS: "weakref.WeakKeyDictionary[SparkSession, tuple]" = (
    weakref.WeakKeyDictionary()
)


def _views_stamp(sf_dir: str) -> tuple:
    """What the views of ``sf_dir`` would read: per table, its committed
    data path and the ``(relative path, size, mtime_ns)`` of every data
    file under it. Stat-only (plus one manifest read per managed table),
    so it costs microseconds where a rebind costs a schema-inference job
    per table."""
    stamp = []
    for name in table_names(sf_dir):
        path = resolve_data_path(table_path(sf_dir, name))
        files = []
        for f in _data_files(path):
            st = os.stat(f)
            files.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
        stamp.append((name, path, tuple(files)))
    return tuple(stamp)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """S6-adjacent: expose every ``<name>.parquet`` table of ``sf_dir`` as
    a temp view so the SQL surface (``spark.sql``/oracle parity) sees the
    same names DuckDB does.

    Callers bind before every query they run, so it is a no-op while
    the directory's content stamp (:func:`_views_stamp`) equals the one this
    session last bound. Any difference — another dir, a table rewritten,
    appended to, added or removed — rebinds the views, drops the views of
    tables that are gone, and evicts the session's memoized model frames
    (``engine/store``), which were built from the old files.
    """
    stamp = _views_stamp(os.path.abspath(sf_dir))
    old = _CURRENT_VIEWS.get(spark)
    if old == stamp:
        return
    store.evict(spark)
    names = [name for name, _, _ in stamp]
    for name, _, _ in old or ():
        if name not in names:
            spark.catalog.dropTempView(name)
    for name in names:
        view = "`" + name.replace("`", "``") + "`"
        read_table(spark, sf_dir, name).createOrReplaceTempView(view)
    _CURRENT_VIEWS[spark] = stamp
