"""Property-based + golden tests for the td_* function family (SURVEY.md
§5 item 3: time-range boundary semantics, tz handling, duration parsing,
strftime translation; plus Python-surface vs SQL-surface equivalence)."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pandas_td_spark.functions.td import (
    parse_duration_seconds,
    strftime_to_spark,
    to_epoch_seconds,
)

# ---------------------------------------------------------------------------
# driver-side normalization (pure python — hypothesis-friendly)
# ---------------------------------------------------------------------------

@given(st.integers(min_value=0, max_value=2**33))
def test_epoch_ints_pass_through(n):
    assert to_epoch_seconds(n) == n
    assert to_epoch_seconds(str(n)) == n


@given(
    st.datetimes(
        min_value=dt.datetime(1970, 1, 2), max_value=dt.datetime(2100, 1, 1)
    )
)
def test_datetime_roundtrip_utc(d):
    d = d.replace(microsecond=0)
    epoch = to_epoch_seconds(d)
    assert dt.datetime.fromtimestamp(epoch, dt.timezone.utc).replace(
        tzinfo=None
    ) == d


def test_date_string_formats_agree():
    assert (
        to_epoch_seconds("2024-01-10")
        == to_epoch_seconds("2024-01-10 00:00:00")
        == to_epoch_seconds(dt.date(2024, 1, 10))
        == 1704844800
    )
    # all-digit strings are epochs (TD: `time` is epoch seconds), never dates
    assert to_epoch_seconds("20240110") == 20240110


def test_timezone_shifts_epoch():
    utc = to_epoch_seconds("2024-01-10", tz="UTC")
    tokyo = to_epoch_seconds("2024-01-10", tz="Asia/Tokyo")
    assert utc - tokyo == 9 * 3600


@given(
    st.integers(min_value=-10_000, max_value=10_000),
    st.sampled_from(list("smhdw")),
)
def test_duration_parse(n, unit):
    secs = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}[unit]
    assert parse_duration_seconds(f"{n}{unit}") == n * secs


@pytest.mark.parametrize("bad", ["", "d", "1x", "1.5h", "h1", "1 d"])
def test_duration_rejects_garbage(bad):
    with pytest.raises(ValueError):
        parse_duration_seconds(bad)


def test_strftime_translation_goldens():
    assert strftime_to_spark("%Y-%m-%d") == "yyyy-MM-dd"
    assert strftime_to_spark("%H:%M:%S") == "HH:mm:ss"
    assert strftime_to_spark("%Y-%m-%dT%H:%M:%S") == "yyyy-MM-dd'T'HH:mm:ss"
    assert strftime_to_spark("%d %B %Y %p") == "dd MMMM yyyy a"
    with pytest.raises(ValueError):
        strftime_to_spark("%Q")


# ---------------------------------------------------------------------------
# engine-side semantics (boundaries + python/SQL surface equivalence)
# ---------------------------------------------------------------------------

def test_time_range_boundaries_on_engine(spark):
    from pandas_td_spark.functions.td import td_time_range

    df = spark.range(5).select((F.col("id") * 100).alias("time"))
    got = sorted(
        r.time for r in df.where(td_time_range("time", 100, 300)).collect()
    )
    assert got == [100, 200]  # start inclusive, end exclusive
    assert df.where(td_time_range("time", None, None)).count() == 5


@settings(max_examples=20, deadline=None)
@given(st.integers(min_value=0, max_value=2**31))
def test_python_and_sql_surfaces_agree_on_format(spark, t):
    from pandas_td_spark.functions.td import td_time_format

    py = (
        spark.range(1)
        .select(td_time_format(F.lit(t), "%Y-%m-%d %H:%M:%S"))
        .first()[0]
    )
    sql = spark.sql(
        f"select td_time_format({t}, 'yyyy-MM-dd HH:mm:ss', 'UTC')"
    ).first()[0]
    assert py == sql == dt.datetime.fromtimestamp(
        t, dt.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")


def test_sql_time_range_matches_python(spark):
    from pandas_td_spark.functions.td import td_time_range

    df = spark.range(10).select((F.col("id") * 86400 + 1704067200).alias("time"))
    df.createOrReplaceTempView("tr_probe")
    a = sorted(
        r.time
        for r in df.where(
            td_time_range("time", "2024-01-03", "2024-01-07")
        ).collect()
    )
    b = sorted(
        r.time
        for r in spark.sql(
            "select time from tr_probe "
            "where td_time_range(time, '2024-01-03', '2024-01-07')"
        ).collect()
    )
    assert a == b and len(a) == 4


def test_sql_time_range_takes_tds_tz_argument(spark):
    """td_time_range(t, s, e, tz) reads string endpoints as wall-clock
    time in ``tz``; epoch endpoints do not move, and the Python helper's
    ``tz=`` selects the same rows."""
    from pandas_td_spark.functions.td import td_time_range

    t = 1704034800  # 2024-01-01 00:00 JST, 2023-12-31 15:00 UTC
    row = spark.sql(
        f"SELECT td_time_range({t}, '2024-01-01', '2024-01-02', 'Asia/Tokyo') AS tokyo, "
        f"td_time_range({t}, '2024-01-01', '2024-01-02') AS utc, "
        f"td_time_range({t}, '2024-01-01', '2024-01-02', 'JST') AS jst, "
        f"td_time_range({t}, '{t}', '{t + 1}', 'Asia/Tokyo') AS epochs"
    ).first()
    assert (row.tokyo, row.utc, row.jst, row.epochs) == (True, False, True, True)

    df = spark.range(72).select((F.col("id") * 3600 + 1703980800).alias("time"))
    df.createOrReplaceTempView("tr_tz_probe")
    for tz in ("Asia/Tokyo", "America/New_York", "UTC"):
        py = sorted(
            r.time
            for r in df.where(
                td_time_range("time", "2024-01-01", "2024-01-02", tz=tz)
            ).collect()
        )
        sql = sorted(
            r.time
            for r in spark.sql(
                "SELECT time FROM tr_tz_probe WHERE "
                f"td_time_range(time, '2024-01-01', '2024-01-02', '{tz}')"
            ).collect()
        )
        assert py == sql and len(py) == 24, tz


def test_tz_may_be_left_out_as_td_allows(spark, tmp_path):
    """td_time_format(t, fmt), td_time_parse(s) and td_date_trunc(unit, t)
    are their 'UTC' forms, also in the session clone a compat call runs
    in."""
    import pandas_td_spark as td

    sql = (
        "SELECT td_time_format(0, 'yyyy-MM-dd HH') AS f, "
        "td_time_format(0, 'yyyy-MM-dd HH', 'UTC') AS f_utc, "
        "td_time_parse('2024-01-02') AS p, "
        "td_time_parse('2024-01-02', 'UTC') AS p_utc, "
        "td_date_trunc('day', 90000) AS d, "
        "td_date_trunc('day', 90000, 'UTC') AS d_utc, "
        "td_date_trunc('day', 90000, 'Asia/Tokyo') AS d_tokyo"
    )
    engine = td.create_engine(
        "presto:nodb", con=td.connect(warehouse=str(tmp_path), spark=spark)
    )
    rows = [spark.sql(sql).first().asDict(),
            td.read_td_query(sql, engine).iloc[0].to_dict()]
    for row in rows:
        assert row["f"] == row["f_utc"] == "1970-01-01 00"
        assert row["p"] == row["p_utc"] == 1704153600
        assert row["d"] == row["d_utc"] == 86400
        assert row["d_tokyo"] == 54000


def test_metadata_surface(spark):
    from pandas_td_spark.engine.metadata import (
        job_group,
        progress_snapshot,
    )
    from pandas_td_spark.sources.io import register_views

    register_views(spark, "/root/testdata/sf0.001")
    with job_group(spark, "meta-test", "catalog listing"):
        assert spark.table("documents").count() > 0
    snap = progress_snapshot(spark)
    assert list(snap.columns)[0] == "stage_id"


def test_presto_scalar_aliases(spark):
    """A Presto-dialect query string runs unchanged (functions/presto_compat)."""
    from pandas_td_spark.functions.presto_compat import register_presto_functions

    register_presto_functions(spark)
    row = spark.sql("""
        SELECT strpos('hello world', 'world')          AS p,
               codepoint('A')                          AS cp,
               json_extract_scalar('{"k": 87}', '$.k') AS k,
               url_extract_host('https://example.com/a?b=1') AS host,
               to_unixtime(timestamp'2024-01-01 00:00:00')   AS ut,
               day_of_week(timestamp'2024-01-01 00:00:00')   AS dow,
               timestampdiff(DAY, timestamp'2024-01-01', timestamp'2024-01-08') AS dd,
               truncate(-3.7) AS tr,
               is_nan(nan())  AS n,
               from_utf8(to_utf8('xyz')) AS rt
    """).first()
    assert (row.p, row.cp, row.k) == (7, 65, "87")
    assert row.host == "example.com"
    assert row.ut == 1704067200.0
    row2 = spark.sql("""
        SELECT levenshtein_distance('kitten', 'sitting')        AS lev,
               split_to_map('a=1;b=2', ';', '=')['b']            AS m,
               to_hex(to_utf8('A'))                              AS hx,
               from_utf8(from_hex('41'))                         AS unhx,
               from_utf8(from_base64(to_base64(to_utf8('xyz')))) AS b64,
               url_extract_protocol('https://h:8080/p?a=1#f')    AS proto,
               url_extract_port('https://h:8080/p?a=1#f')        AS port,
               url_extract_fragment('https://h:8080/p?a=1#f')    AS frag,
               url_extract_parameter('https://h/p?a=1&b=2', 'b') AS param,
               millisecond(timestamp'2024-01-01 00:00:00.123')   AS ms,
               to_iso8601(timestamp'2024-01-01 00:00:00')        AS iso,
               from_iso8601_date('2024-03-05')                   AS d,
               bitwise_and(12, 10)                               AS ba,
               bitwise_xor(12, 10)                               AS bx,
               is_finite(1.5)                                    AS fin,
               is_infinite(infinity())                           AS inf,
               round(cosine_distance(array(1.0d, 0.0d), array(0.0d, 1.0d)), 9) AS cd
    """).first()
    assert row2.lev == 3 and row2.m == "2"
    assert (row2.hx, row2.unhx, row2.b64) == ("41", "A", "xyz")
    assert (row2.proto, row2.port, row2.frag, row2.param) == (
        "https", 8080, "f", "2"
    )
    assert row2.ms == 123 and row2.iso.startswith("2024-01-01T00:00:00.000")
    assert str(row2.d) == "2024-03-05"
    assert (row2.ba, row2.bx) == (8, 6)
    assert row2.fin and row2.inf
    assert row2.cd == 1.0
    assert row.dow == 1  # 2024-01-01 is a Monday; Presto ISO numbering
    assert (row.dd, row.tr, row.n, row.rt) == (7, -3.0, True, "xyz")


def test_td_scheduled_time_pin_unpin(spark):
    import time as _t

    from pandas_td_spark.functions.td import (
        register_td_functions,
        set_scheduled_time,
    )

    register_td_functions(spark)
    set_scheduled_time(spark, 1705708800)
    assert spark.sql("SELECT td_scheduled_time() AS t").first().t == 1705708800
    # re-registration (every query wrapper calls it) must NOT clobber the pin
    register_td_functions(spark)
    assert spark.sql("SELECT td_scheduled_time() AS t").first().t == 1705708800
    # ISO-string pin, same surface as the rest of the td_* helpers
    set_scheduled_time(spark, "2024-01-20 00:00:00")
    assert spark.sql("SELECT td_scheduled_time() AS t").first().t == 1705708800
    # unpin -> ad-hoc fallback: submission wall-clock
    set_scheduled_time(spark, None)
    now = int(_t.time())
    got = spark.sql("SELECT td_scheduled_time() AS t").first().t
    assert abs(got - now) < 120


def test_registration_runs_once_and_pin_reaches_compat_calls(
    spark, tmp_path, monkeypatch
):
    """A session that has the td_* and Presto functions gets no DDL from a
    second ``get_spark()`` or ``__spark_entry__._prepare``, and a
    ``set_scheduled_time`` pin is what a compat call sees through the
    session clone it runs in."""
    import __spark_entry__
    import pandas_td_spark as td
    from pandas_td_spark.engine.session import get_spark
    from pandas_td_spark.functions.td import set_scheduled_time

    issued = []
    sql = spark.sql

    def spy(text, *args, **kwargs):
        issued.append(text)
        return sql(text, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", spy)
    assert get_spark(app_name="pandas_td_spark_tests") is spark
    __spark_entry__._prepare(spark)
    monkeypatch.undo()
    assert issued == []

    engine = td.create_engine(
        "presto:nodb", con=td.connect(warehouse=str(tmp_path), spark=spark)
    )
    set_scheduled_time(spark, 1705708800)
    try:
        got = td.read_td_query("SELECT td_scheduled_time() AS t", engine)
        assert got.t.tolist() == [1705708800]
    finally:
        set_scheduled_time(spark, None)


def test_td_url_decode_and_parse_agent(spark):
    from pandas_td_spark.functions.td import register_td_functions

    register_td_functions(spark)
    row = spark.sql("""
        SELECT td_url_decode('a%20b%2Fc%3Dd') AS dec,
               td_parse_agent('Mozilla/5.0 (Windows NT 10.0; Win64; x64) '
                 || 'AppleWebKit/537.36 (KHTML, like Gecko) '
                 || 'Chrome/120.0.0.0 Safari/537.36') AS chrome,
               td_parse_agent('Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like '
                 || 'Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) '
                 || 'Version/17.0 Mobile/15E148 Safari/604.1') AS iphone,
               td_parse_agent('Googlebot/2.1 (+http://www.google.com/bot.html)')
                 AS bot,
               td_parse_agent(NULL) AS nothing
    """).first()
    assert row.dec == "a b/c=d"
    assert (row.chrome["category"], row.chrome["name"], row.chrome["os"]) == (
        "pc", "Chrome", "Windows"
    )
    assert (row.iphone["category"], row.iphone["name"], row.iphone["os"]) == (
        "smartphone", "Safari", "iOS"
    )
    assert row.bot["category"] == "crawler" and row.bot["name"] == "bot"
    assert row.nothing["category"] == "unknown"
