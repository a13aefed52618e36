"""pandas-td drop-in API over the Spark engine (SURVEY.md §2.1, §2.12, §3).

Function-for-function parity with the reference's public surface
(``pandas_td/__init__.py`` re-exports: connect, create_engine, read_td,
read_td_query, read_td_job, read_td_table, to_td — module::symbol anchors
per SURVEY §0; /root/reference is empty, signatures reconstructed from the
public upstream API):

=====================  =====================================================
reference              here
=====================  =====================================================
``connect(apikey,…)``  :func:`connect` → :class:`Connection` over a local
                       parquet warehouse + SparkSession (no HTTP service)
``create_engine``      :func:`create_engine` — same URL grammar
                       (``presto:db``, ``presto://key@host/db``); the
                       engine type string is recorded but both execute on
                       Spark SQL
``read_td_query``      :func:`read_td_query` — SQL → pandas.DataFrame with
                       ``index_col``/``parse_dates``/``distributed_join``/
                       ``params``
``read_td_table``      :func:`read_td_table` — generated scan with
                       ``columns``/``time_range``/``limit=10000`` default
``read_td_job``        :func:`read_td_job` — re-attach to a job id while
                       its :class:`ResultProxy` is alive
``to_td``              :func:`to_td` — ``if_exists`` ∈ fail/replace/append,
                       ``time_col``/``time_index``/``index``/``chunksize``;
                       Arrow writes the frame on the driver (no Spark
                       job), and an append lands whole with one rename
``ResultProxy``        :class:`ResultProxy` — ``description``, iteration,
                       ``to_dataframe``
=====================  =====================================================

The remote job lifecycle (HTTP POST → poll → msgpack download; SURVEY §3.1
boundaries #1/#2) collapses into Spark job execution; ``show_progress`` is
accepted and not used yet. Each :meth:`QueryEngine.execute` runs in a
throwaway clone of ``Connection.spark`` (which carries its temp views,
``td_*`` functions and SQL conf): views of the database tables the query
names and the ``distributed_join`` conf go into the clone only, and the
clone dies with the call's :class:`ResultProxy`, which ``Connection._jobs``
holds weakly. Every other name (CTEs, the shared session's temp views)
resolves as the clone inherits it.

The upload (``import_data`` of msgpack.gz chunks, SURVEY §3.3) becomes a
local parquet write: :func:`to_td` hands its pandas frame to
``sources.io.write_table``, whose pandas branch stores it through Arrow in
the types a Spark write would give. ``chunksize`` sizes the row groups of
an appended file (one file per call, renamed into place whole) and the
files of a ``replace`` snapshot.
"""

from __future__ import annotations

import datetime as _dt
import os
import re
import time as _time
import uuid
import weakref
from collections.abc import Iterator, Mapping, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from pandas_td_spark.functions.td import TimeLike, to_epoch_seconds
from pandas_td_spark.sources.io import read_table as _read_table
from pandas_td_spark.sources.io import resolve_data_path, table_names
from pandas_td_spark.sources.io import write_table as _write_table

__all__ = [
    "connect",
    "create_engine",
    "read_td",
    "read_td_query",
    "read_td_table",
    "read_td_job",
    "to_td",
    "Connection",
    "QueryEngine",
    "ResultProxy",
]

__version__ = "0.1.0"

#: ``parse_dates``: columns, or ``{column: unit_or_format}``
DateSpec = Sequence[str] | Mapping[str, str]


class Connection:
    """Engine-level handle: SparkSession + warehouse directory of
    ``{database}/{table}.parquet`` (reference: tdclient.Client wrapper,
    ``pandas_td/td.py::Connection``, UNVERIFIED)."""

    def __init__(
        self,
        warehouse: str | None = None,
        spark: SparkSession | None = None,
        default_database: str = "default",
    ) -> None:
        if spark is None:
            from pandas_td_spark.engine.session import get_spark

            spark = get_spark()
        self.spark = spark
        self.warehouse = warehouse or os.path.join(
            os.path.expanduser("~"), ".pandas_td_spark", "warehouse"
        )
        os.makedirs(self.warehouse, exist_ok=True)
        self.default_database = default_database
        self._jobs: weakref.WeakValueDictionary[str, ResultProxy] = (
            weakref.WeakValueDictionary()
        )

    # -- catalog (reference: Connection.databases()/tables(); M1) ----------
    def databases(self) -> pd.DataFrame:
        names = sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
        )
        return pd.DataFrame({"name": names})

    def tables(self, database: str | None = None) -> pd.DataFrame:
        db = database or self.default_database
        dbdir = os.path.join(self.warehouse, db)
        rows = []
        for name in table_names(dbdir):
            path = resolve_data_path(self.table_path(db, name))
            count = self.spark.read.parquet(path).count()
            rows.append({"name": name, "count": count})
        return pd.DataFrame(rows, columns=["name", "count"])

    def table_path(self, database: str, table: str) -> str:
        return os.path.join(self.warehouse, database, f"{table}.parquet")


def connect(
    apikey: str | None = None,
    endpoint: str | None = None,
    warehouse: str | None = None,
    spark: SparkSession | None = None,
    **kwargs,
) -> Connection:
    """Reference-compatible signature; ``apikey``/``endpoint`` are accepted
    and ignored (no hosted service — the engine is local Spark)."""
    return Connection(warehouse=warehouse, spark=spark)


_URL_RE = re.compile(
    r"^(?P<type>presto|hive|spark)(://(?P<apikey>[^@]+)@(?P<host>[^/]+))?[:/]"
    r"(?P<db>[A-Za-z0-9_]+)$"
)


class QueryEngine:
    """Reference: ``pandas_td/td.py::QueryEngine`` (UNVERIFIED) — carries
    (connection, database, engine type, show_progress)."""

    def __init__(
        self,
        con: Connection,
        database: str,
        engine_type: str = "presto",
        show_progress: bool = False,
    ) -> None:
        self.con = con
        self.database = database
        self.type = engine_type
        self.show_progress = show_progress

    def create_header(self, name: str = "") -> str:
        """UA magic comment, as the reference prepended (§3.1 step 2)."""
        return f"-- pandas_td_spark/{__version__}" + (
            f" ({name})\n" if name else "\n"
        )

    def execute(
        self,
        query: str,
        distributed_join: bool | None = None,
        **params,
    ) -> "ResultProxy":
        # the call's own session (module docstring)
        root = self.con.spark
        spark = SparkSession(
            root.sparkContext, root._jsparkSession.cloneSession()
        )
        dbdir = os.path.join(self.con.warehouse, self.database)
        for name in table_names(dbdir):
            # bind a table only where the query names it as a whole
            # identifier: a superset of what it can resolve from the
            # database, subqueries and backquoted names included
            named = r"(?<![A-Za-z0-9_])" + re.escape(name) + r"(?![A-Za-z0-9_])"
            if re.search(named, query, re.I):
                view = "`" + name.replace("`", "``") + "`"  # e.g. my-table
                _read_table(spark, dbdir, name).createOrReplaceTempView(view)
        if distributed_join:
            # Presto session property distributed_join='true' analogue:
            # force partitioned (non-broadcast) joins. The strategy is chosen
            # at action time, so the conf lives in the clone with the frame.
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        sql = self.create_header("read_td_query") + query
        t0 = _time.time()
        df = spark.sql(sql, args=params) if params else spark.sql(sql)
        rp = ResultProxy(df, job_id=uuid.uuid4().hex[:12], started=t0)
        self.con._jobs[rp.job_id] = rp
        return rp


def create_engine(
    url: str, con: Connection | None = None, show_progress: bool = False
) -> QueryEngine:
    """Reference URL grammar: ``presto:db``, ``hive:db``,
    ``presto://apikey@host/db`` (``td.py::create_engine``, UNVERIFIED)."""
    m = _URL_RE.match(url)
    if not m:
        raise ValueError(f"bad engine url: {url!r}")
    if con is None:
        con = connect()
    return QueryEngine(
        con, m.group("db"), m.group("type"), show_progress=show_progress
    )


class ResultProxy:
    """Reference: ``td.py::ResultProxy`` — schema + streamed rows + pandas
    materialization (UNVERIFIED)."""

    def __init__(self, df: DataFrame, job_id: str, started: float) -> None:
        self.df = df
        self.job_id = job_id
        self.started = started

    @property
    def description(self) -> list[tuple[str, str]]:
        return [(f.name, f.dataType.simpleString()) for f in self.df.schema]

    def __iter__(self) -> Iterator[tuple]:
        # streamed iteration (reference: msgpack chunk iterator) —
        # toLocalIterator pulls one partition at a time, never the full set
        for row in self.df.toLocalIterator():
            yield tuple(row)

    def to_dataframe(
        self,
        index_col: str | None = None,
        parse_dates: DateSpec | None = None,
    ) -> pd.DataFrame:
        """``parse_dates`` is a list of columns for plain
        ``pd.to_datetime``, or (``td.py::ResultProxy._parse_dates``,
        UNVERIFIED) a ``{column: spec}`` dict whose spec is the ``unit``
        of a numeric column (``{'time': 's'}`` for TD's epoch seconds)
        and the ``format`` of any other."""
        pdf = self.df.toPandas()  # Arrow path (session default)
        if isinstance(parse_dates, Mapping):
            for c, spec in parse_dates.items():
                key = "unit" if pd.api.types.is_numeric_dtype(pdf[c]) else "format"
                pdf[c] = pd.to_datetime(pdf[c], **{key: spec})
        elif parse_dates:
            for c in parse_dates:
                pdf[c] = pd.to_datetime(pdf[c])
        if index_col is not None:
            pdf = pdf.set_index(index_col)
        return pdf


def read_td_query(
    query: str,
    engine: QueryEngine,
    index_col: str | None = None,
    parse_dates: DateSpec | None = None,
    distributed_join: bool = False,
    params: dict | None = None,
) -> pd.DataFrame:
    """S2 (``td.py::read_td_query``): run SQL, return pandas."""
    rp = engine.execute(query, distributed_join=distributed_join, **(params or {}))
    return rp.to_dataframe(index_col=index_col, parse_dates=parse_dates)


read_td = read_td_query  # reference alias (``pandas_td/__init__.py``)


def read_td_table(
    table_name: str,
    engine: QueryEngine,
    index_col: str | None = None,
    parse_dates: DateSpec | None = None,
    columns: Sequence[str] | None = None,
    time_range: tuple[TimeLike, TimeLike] | None = None,
    limit: int | None = 10000,
) -> pd.DataFrame:
    """S1 (``td.py::read_td_table``): projection + td_time_range + LIMIT
    (default 10 000), declared as a pushdown-friendly DataFrame plan."""
    dbdir = os.path.join(engine.con.warehouse, engine.database)
    df = _read_table(
        engine.con.spark,
        dbdir,
        table_name,
        columns=columns,
        time_range=time_range,
        time_col="time",
        limit=limit,
    )
    return ResultProxy(df, uuid.uuid4().hex[:12], _time.time()).to_dataframe(
        index_col=index_col, parse_dates=parse_dates
    )


def read_td_job(job_id: str, engine: QueryEngine, **kwargs) -> pd.DataFrame:
    """S3 (``td.py::read_td_job``): re-attach to a job whose
    :class:`ResultProxy` is still alive (finished calls pin no frames)."""
    rp = engine.con._jobs.get(job_id)
    if rp is None:
        raise KeyError(f"unknown job id {job_id!r}")
    return rp.to_dataframe(**kwargs)


def to_td(
    frame: pd.DataFrame,
    name: str,
    con: Connection,
    if_exists: str = "fail",
    time_col: str | None = None,
    time_index: int | None = None,
    index: bool = True,
    index_label: str | None = None,
    chunksize: int = 10000,
    time_value: TimeLike | None = None,
) -> None:
    """S5 (``td.py::to_td`` + StreamingUploader): validate ``db.table``,
    normalize index/time, write parquet with if_exists semantics.

    ``time_col`` names a column, or ``time_index`` an index level, that
    becomes the epoch-seconds ``time`` column (one conversion for both:
    datetimes cut toward zero, as Spark's ``unix_timestamp`` cuts them);
    pass one or neither.

    Deviation from reference: when no time source is given the reference
    stamped wall-clock now; pass ``time_value`` to pin it (tests do), else
    now() is used (upload timestamping is legitimately wall-clock).

    The frame goes to :func:`~pandas_td_spark.sources.io.write_table` as
    it is: Arrow writes it on the driver, with no Spark job, and the
    stored types match what Spark would store for it. ``chunksize``
    plays the part of the reference's 10 000-row msgpack.gz upload
    chunks: an ``append`` (or a first ``fail`` write) is ONE file in row
    groups of ``chunksize`` rows that lands with one rename, so a
    concurrent reader sees the whole batch or none of it; a ``replace``
    commits a snapshot of ``chunksize``-row files. ``chunksize <= 0``
    means no split: one file, one row group.
    """
    m = re.fullmatch(r"([A-Za-z0-9_]+)\.([A-Za-z0-9_]+)", name)
    if not m:
        raise ValueError(f"table name must be 'database.table', got {name!r}")
    db, table = m.groups()
    if time_index is not None:
        # reference: use the DataFrame's datetime index (level `time_index`)
        # as the mandatory `time` column (td.py::to_td(time_index=...),
        # UNVERIFIED); it converts as a `time_col` does
        if time_col is not None:
            raise ValueError("pass time_col= or time_index=, not both")
        level = pd.to_datetime(frame.index.get_level_values(time_index))
        frame = frame.assign(time=level)
        time_col = "time"
    if index:
        frame = frame.reset_index(
            names=index_label if index_label is not None else None
        )
    tv = time_value
    if time_col is None and "time" not in frame.columns and tv is None:
        tv = int(_dt.datetime.now(tz=_dt.timezone.utc).timestamp())
    _write_table(
        frame,
        con.table_path(db, table),
        if_exists=if_exists,
        time_col=time_col,
        time_value=None if tv is None else to_epoch_seconds(tv),
        max_records_per_file=chunksize,
    )
