"""TD-compatible SQL function surface (SURVEY.md §2.8, F1-F9).

The reference client generated only ``td_time_range`` itself
(``pandas_td/td.py::read_td_table``, UNVERIFIED — /root/reference is empty);
the rest of the ``td_*`` family was provided server-side by Treasure Data's
Presto/Hive deployments and is part of the query surface pandas-td users
write. Here each function is a **composition of built-in Spark expressions**
— never a Python row UDF — so Catalyst sees through them: ``td_time_range``
on a time-derived partition column still prunes partitions, constant
endpoints still constant-fold, and the whole expression stays inside
whole-stage codegen.

Two surfaces are provided:

* Python ``Column`` helpers (this module's functions) — endpoint
  normalization happens driver-side, producing plain literals, which is what
  lets the parquet reader see ``time >= lit AND time < lit`` as a pushable
  predicate.
* SQL functions registered by :func:`register_td_functions` via Spark 4.x
  ``CREATE TEMPORARY FUNCTION ... RETURN <expr>`` (SQL scalar functions are
  inlined by the analyzer, preserving pushdown), so ``spark.sql`` text reads
  like a TD/Presto query.

Semantics fidelity notes
------------------------
* ``td_time_range(t, s, e)``: start-inclusive, end-exclusive; ``None``/NULL
  endpoint = unbounded (TD docs; SURVEY §2.2 P2).
* Times are epoch **seconds** (TD's mandatory ``time`` column).
* ``tz`` defaults to UTC; string timestamps are interpreted in ``tz``.
* ``td_time_format`` accepts Ruby-strftime patterns (TD dialect) and
  translates them to Spark datetime patterns.
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import Union

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "td_time_range",
    "td_time_format",
    "td_time_parse",
    "td_date_trunc",
    "td_time_add",
    "td_interval",
    "smart_digest",
    "td_first",
    "td_last",
    "to_epoch_seconds",
    "register_td_functions",
]

TimeLike = Union[None, int, float, str, _dt.datetime, _dt.date]

# Ruby strftime → Spark (java.time) datetime pattern tokens. Replacements
# introduce no '%' so a single left-to-right pass over tokens is safe even
# for case-pairs like %m (month) vs %M (minute).
_STRFTIME_MAP = [
    ("%Y", "yyyy"),
    ("%y", "yy"),
    ("%m", "MM"),
    ("%d", "dd"),
    ("%e", "d"),
    ("%H", "HH"),
    ("%I", "hh"),
    ("%M", "mm"),
    ("%S", "ss"),
    ("%L", "SSS"),
    ("%j", "DDD"),
    ("%a", "EEE"),
    ("%A", "EEEE"),
    ("%b", "MMM"),
    ("%B", "MMMM"),
    ("%p", "a"),
    ("%z", "xx"),
    ("%Z", "zz"),
    ("%%", "%"),
]


def strftime_to_spark(fmt: str) -> str:
    """Translate a Ruby-strftime pattern (TD dialect) to a Spark pattern.

    Literal alphabetic runs that are not strftime tokens are single-quoted so
    Spark does not interpret them as pattern letters (e.g. the 'T' in an
    ISO-8601 format).
    """
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            for k, v in _STRFTIME_MAP:
                if tok == k:
                    out.append(v)
                    break
            else:
                raise ValueError(f"unsupported strftime token {tok!r}")
            i += 2
        else:
            j = i
            while j < len(fmt) and fmt[j] != "%":
                j += 1
            lit = fmt[i:j]
            if re.search(r"[A-Za-z']", lit):
                out.append("'" + lit.replace("'", "''") + "'")
            else:
                out.append(lit)
            i = j
    return "".join(out)


def to_epoch_seconds(value: TimeLike, tz: str = "UTC") -> int | None:
    """Driver-side normalization of a time endpoint to epoch seconds.

    Mirrors the reference's endpoint handling (``read_td_table(time_range=
    (s, e))`` accepted None/int/str/datetime — SURVEY §2.2 P2).
    """
    if value is None:
        return None
    if isinstance(value, bool):
        raise TypeError("bool is not a time")
    if isinstance(value, (int, float)):
        return int(value)
    if isinstance(value, _dt.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=_tzinfo(tz))
        return int(value.timestamp())
    if isinstance(value, _dt.date):
        return to_epoch_seconds(
            _dt.datetime(value.year, value.month, value.day), tz
        )
    if isinstance(value, str):
        s = value.strip()
        if re.fullmatch(r"-?\d+", s):
            return int(s)
        # note: all-digit strings ("20240110") were already taken as epoch
        # above — TD's `time` is epoch seconds, so digits mean epoch
        for fmt in (
            "%Y-%m-%d %H:%M:%S",
            "%Y-%m-%dT%H:%M:%S",
            "%Y-%m-%d %H:%M",
            "%Y-%m-%d",
        ):
            try:
                return to_epoch_seconds(_dt.datetime.strptime(s, fmt), tz)
            except ValueError:
                continue
        raise ValueError(f"unparseable time string: {value!r}")
    raise TypeError(f"unsupported time type: {type(value)!r}")


def _tzinfo(tz: str):
    if tz.upper() in ("UTC", "Z", "GMT"):
        return _dt.timezone.utc
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(tz)
    except Exception as exc:  # pragma: no cover
        raise ValueError(f"unknown timezone {tz!r}") from exc


def _col(time: Union[str, Column]) -> Column:
    return F.col(time) if isinstance(time, str) else time


def is_timestamp_dtype(dtype: Union[str, None]) -> bool:
    """True for every Spark timestamp flavor — ``timestamp`` (TZ-aware) AND
    ``timestamp_ntz``. Parquet TIMESTAMP(µs) without isAdjustedToUTC reads
    as NTZ in Spark 4.x, so a literal ``== "timestamp"`` guard silently
    misses it; under this engine's fixed UTC session timezone
    (engine/session.py) the two are interchangeable for epoch math —
    ``unix_timestamp`` accepts both and yields the same epoch seconds."""
    return bool(dtype) and dtype.startswith("timestamp")


# --------------------------------------------------------------------------
# F1  td_time_range(time, start, end[, tz]) — [start, end), NULL = unbounded
# --------------------------------------------------------------------------
def td_time_range(
    time: Union[str, Column],
    start: TimeLike = None,
    end: TimeLike = None,
    tz: str = "UTC",
) -> Column:
    t = _col(time)
    s, e = to_epoch_seconds(start, tz), to_epoch_seconds(end, tz)
    cond = F.lit(True)
    if s is not None:
        cond = cond & (t >= F.lit(s))
    if e is not None:
        cond = cond & (t < F.lit(e))
    return cond


# --------------------------------------------------------------------------
# F2  td_time_format(time, fmt[, tz]) — epoch sec → formatted string in tz
# --------------------------------------------------------------------------
def td_time_format(
    time: Union[str, Column], fmt: str, tz: str = "UTC"
) -> Column:
    t = _col(time)
    pattern = strftime_to_spark(fmt)
    ts = F.from_utc_timestamp(F.timestamp_seconds(t), tz)
    return F.date_format(ts, pattern)


# --------------------------------------------------------------------------
# F3  td_time_parse(str[, tz]) — string → epoch sec
# --------------------------------------------------------------------------
def td_time_parse(s: Union[str, Column], tz: str = "UTC") -> Column:
    c = _col(s) if isinstance(s, Column) else F.col(s)
    ts = F.coalesce(
        F.try_to_timestamp(c),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(c, F.lit("yyyyMMdd")),
    )
    return F.unix_timestamp(F.to_utc_timestamp(ts, tz))


# --------------------------------------------------------------------------
# F4  td_date_trunc(unit, time[, tz]) — truncate epoch to unit boundary in tz
# --------------------------------------------------------------------------
_TRUNC_UNITS = {
    "minute": "minute",
    "hour": "hour",
    "day": "day",
    "week": "week",
    "month": "month",
    "quarter": "quarter",
    "year": "year",
}


def td_date_trunc(
    unit: str, time: Union[str, Column], tz: str = "UTC"
) -> Column:
    u = _TRUNC_UNITS[unit.lower()]
    t = _col(time)
    local = F.from_utc_timestamp(F.timestamp_seconds(t), tz)
    truncated = F.date_trunc(u, local)
    return F.unix_timestamp(F.to_utc_timestamp(truncated, tz))


# --------------------------------------------------------------------------
# F5  td_time_add(time, 'Nd'|'Nh'|'Nm'|'Ns'|'Nw') — epoch ± duration string
# --------------------------------------------------------------------------
_DUR_RE = re.compile(r"^(-?\d+)(s|m|h|d|w)$")
_DUR_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def parse_duration_seconds(dur: str) -> int:
    """``'1d'`` → 86400; ``'-2h'`` → -7200. Calendar-free (TD durations are
    fixed-width; months are intentionally unsupported, matching TD docs)."""
    m = _DUR_RE.match(dur.strip())
    if not m:
        raise ValueError(f"bad duration {dur!r} (want e.g. '1d', '-2h', '30m')")
    return int(m.group(1)) * _DUR_SECONDS[m.group(2)]


def td_time_add(time: Union[str, Column], dur: str) -> Column:
    return _col(time) + F.lit(parse_duration_seconds(dur))


# --------------------------------------------------------------------------
# F6  td_interval(time, '-7d'[, tz], now=...) — relative window ending at
#     `now`. `now` is REQUIRED here (no wall-clock reads inside queries —
#     determinism; SURVEY §7 risks).
# --------------------------------------------------------------------------
def td_interval(
    time: Union[str, Column], dur: str, tz: str = "UTC", *, now: TimeLike
) -> Column:
    n = to_epoch_seconds(now, tz)
    if n is None:
        raise ValueError("td_interval requires an explicit `now`")
    delta = parse_duration_seconds(dur)
    if delta < 0:
        return td_time_range(time, n + delta, n, tz)
    return td_time_range(time, n, n + delta, tz)


# --------------------------------------------------------------------------
# F9  smart_digest(x) — short stable digest. TD's exact hash is proprietary;
#     we define ours as the first 12 hex chars of xxhash64 (JVM-side,
#     codegen'd). Values intentionally differ from TD's (documented).
# --------------------------------------------------------------------------
def smart_digest(col: Union[str, Column]) -> Column:
    c = _col(col)
    return F.lower(F.substring(F.hex(F.xxhash64(c)), 1, 12))


# --------------------------------------------------------------------------
# TD_FIRST / TD_LAST — value of one column at the min/max of another
# (reference: TD UDAFs TD_FIRST(col, cmp) / TD_LAST(col, cmp), public TD
# docs; SURVEY §2.8). Spark's min_by/max_by are the exact semantics and
# stay JVM-side with map-side partial aggregation. Ties on ``cmp`` are
# nondeterministic in both TD and Spark; pass a composite key (e.g.
# time * K + id) when determinism matters.
# --------------------------------------------------------------------------
def td_first(value: Union[str, Column], cmp: Union[str, Column]) -> Column:
    """Aggregate: ``value`` at the smallest ``cmp`` in the group."""
    return F.min_by(_col(value), _col(cmp))


def td_last(value: Union[str, Column], cmp: Union[str, Column]) -> Column:
    """Aggregate: ``value`` at the largest ``cmp`` in the group."""
    return F.max_by(_col(value), _col(cmp))


# --------------------------------------------------------------------------
# SQL registration — Spark 4.x SQL scalar functions (analyzer-inlined).
# --------------------------------------------------------------------------
def _scheduled_time_ddl(epoch: int | None) -> str:
    # F7 td_scheduled_time(): the scheduled execution time of the "job"
    # (reference: TD_SCHEDULED_TIME, epoch seconds). A pin (what TD's
    # scheduler does for a scheduled run) redefines the function with the
    # pinned literal as its body, so it constant-folds into the plan and
    # session clones carry it; unpinned, it is the wall-clock submission
    # time (TD's ad-hoc behavior).
    body = "unix_timestamp(now())" if epoch is None else str(int(epoch))
    return (
        "CREATE OR REPLACE TEMPORARY FUNCTION td_scheduled_time() "
        f"RETURNS BIGINT RETURN {body}"
    )


_SQL_FUNCTIONS = [
    # td_time_range: NULL endpoint = unbounded; endpoints are epoch seconds
    # or timestamp strings, read as wall-clock time in ``tz`` (TD's
    # optional fourth argument, 'UTC' when left out).
    """
    CREATE OR REPLACE TEMPORARY FUNCTION td_time_range(t BIGINT, s STRING, e STRING, tz STRING DEFAULT 'UTC')
    RETURNS BOOLEAN
    RETURN (s IS NULL OR t >= coalesce(try_cast(s AS BIGINT),
                                       unix_timestamp(to_utc_timestamp(try_to_timestamp(s),
                                                                       coalesce(tz, 'UTC')))))
       AND (e IS NULL OR t <  coalesce(try_cast(e AS BIGINT),
                                       unix_timestamp(to_utc_timestamp(try_to_timestamp(e),
                                                                       coalesce(tz, 'UTC')))))
    """,
    # td_time_format: takes a SPARK datetime pattern (the Python helper
    # accepts strftime and translates; SQL callers pass Spark patterns).
    # Here and in td_time_parse / td_date_trunc, ``tz`` may be left out
    # as TD allows: its DEFAULT 'UTC' is inlined like the body.
    """
    CREATE OR REPLACE TEMPORARY FUNCTION td_time_format(t BIGINT, fmt STRING, tz STRING DEFAULT 'UTC')
    RETURNS STRING
    RETURN date_format(from_utc_timestamp(timestamp_seconds(t), coalesce(tz, 'UTC')), fmt)
    """,
    """
    CREATE OR REPLACE TEMPORARY FUNCTION td_time_parse(s STRING, tz STRING DEFAULT 'UTC')
    RETURNS BIGINT
    RETURN unix_timestamp(to_utc_timestamp(coalesce(try_to_timestamp(s),
                                                    try_to_timestamp(s, 'yyyy-MM-dd'),
                                                    try_to_timestamp(s, 'yyyyMMdd')),
                                           coalesce(tz, 'UTC')))
    """,
    """
    CREATE OR REPLACE TEMPORARY FUNCTION td_date_trunc(unit STRING, t BIGINT, tz STRING DEFAULT 'UTC')
    RETURNS BIGINT
    RETURN unix_timestamp(to_utc_timestamp(
        date_trunc(unit, from_utc_timestamp(timestamp_seconds(t), coalesce(tz, 'UTC'))),
        coalesce(tz, 'UTC')))
    """,
    # td_time_add: duration in seconds computed SQL-side for 's|m|h|d|w'.
    """
    CREATE OR REPLACE TEMPORARY FUNCTION td_time_add(t BIGINT, dur STRING)
    RETURNS BIGINT
    RETURN t + cast(regexp_extract(dur, '^(-?\\\\d+)', 1) AS BIGINT) *
        CASE right(dur, 1) WHEN 's' THEN 1 WHEN 'm' THEN 60 WHEN 'h' THEN 3600
                           WHEN 'd' THEN 86400 WHEN 'w' THEN 604800 END
    """,
    """
    CREATE OR REPLACE TEMPORARY FUNCTION smart_digest(x STRING)
    RETURNS STRING
    RETURN lower(substring(hex(xxhash64(x)), 1, 12))
    """,
    _scheduled_time_ddl(None),
    # TD_URL_DECODE: percent-decoding (reference: TD UDF of the same name,
    # public docs; Spark 3.4+ url_decode is the exact semantics).
    """
    CREATE OR REPLACE TEMPORARY FUNCTION td_url_decode(s STRING)
    RETURNS STRING
    RETURN url_decode(s)
    """,
    # TD_PARSE_AGENT(ua)['category'/'name'/'os']: user-agent classification
    # (reference: TD_PARSE_AGENT UDF, public docs — full impl wraps the
    # woothee ruleset; this is the regex core for the major families,
    # analyzer-inlined so it stays JVM-side). Order matters: Edge/OPR ship
    # a Chrome token, bots ship anything.
    """
    CREATE OR REPLACE TEMPORARY FUNCTION td_parse_agent(ua STRING)
    RETURNS MAP<STRING, STRING>
    RETURN map(
      'category',
      CASE
        WHEN ua IS NULL THEN 'unknown'
        WHEN ua RLIKE '(?i)(bot|crawler|spider|slurp|curl|wget|python-requests)'
          THEN 'crawler'
        WHEN ua RLIKE '(?i)(mobile|android|iphone|ipad)' THEN 'smartphone'
        ELSE 'pc'
      END,
      'name',
      CASE
        WHEN ua IS NULL THEN 'unknown'
        WHEN ua RLIKE '(?i)(bot|crawler|spider|slurp|curl|wget|python-requests)'
          THEN 'bot'
        WHEN ua LIKE '%Edg%' THEN 'Edge'
        WHEN ua LIKE '%OPR%' OR ua LIKE '%Opera%' THEN 'Opera'
        WHEN ua LIKE '%Firefox%' THEN 'Firefox'
        WHEN ua LIKE '%Chrome%' THEN 'Chrome'
        WHEN ua LIKE '%Safari%' THEN 'Safari'
        ELSE 'unknown'
      END,
      'os',
      CASE
        WHEN ua IS NULL THEN 'unknown'
        WHEN ua RLIKE '(?i)android' THEN 'Android'
        WHEN ua RLIKE '(?i)(iphone|ipad|ios)' THEN 'iOS'
        WHEN ua LIKE '%Windows%' THEN 'Windows'
        WHEN ua RLIKE '(?i)mac os x' THEN 'macOS'
        WHEN ua RLIKE '(?i)linux' THEN 'Linux'
        ELSE 'unknown'
      END
    )
    """,
]


#: registered last, so its presence means the whole list is registered
_LAST_FUNCTION = re.search(r"FUNCTION (\w+)\(", _SQL_FUNCTIONS[-1]).group(1)


def register_td_functions(spark: SparkSession) -> None:
    """Register the td_* surface as SQL scalar functions (inlined by the
    analyzer — no Python round-trip, pushdown preserved). A session that
    already has them is left as it is, so a re-registration neither
    re-issues the DDLs nor clobbers a :func:`set_scheduled_time` pin."""
    if spark.catalog.functionExists(_LAST_FUNCTION):
        return
    for ddl in _SQL_FUNCTIONS:
        spark.sql(ddl)


def set_scheduled_time(spark: SparkSession, time: TimeLike | None) -> None:
    """Pin ``td_scheduled_time()`` for this session (``None`` unpins —
    reverts to submission-time fallback). Accepts the same time forms as
    the rest of the td_* surface (epoch int, ISO string, datetime)."""
    register_td_functions(spark)
    spark.sql(_scheduled_time_ddl(to_epoch_seconds(time, "UTC")))
