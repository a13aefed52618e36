"""TD UDF-surface coverage (SURVEY.md §2.8 F1-F7, P2, S1).

These exercise the ``pandas_td_spark.functions.td`` library — the signature
function family of the reference ecosystem (the client generated
``td_time_range`` in ``pandas_td/td.py::read_td_table``; the rest were
server-side TD UDFs its users wrote — loci UNVERIFIED, /root/reference
empty). The epoch `time` column is derived from ``events.ts`` per
FIXTURES.md. Oracle endpoints are precomputed to epoch literals with the
same driver-side normalization the Spark path uses, so both engines compare
identical integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_td_spark.functions.td import (
    td_date_trunc,
    td_interval,
    td_time_add,
    td_time_format,
    td_time_range,
    to_epoch_seconds,
)
from pandas_td_spark.queries._util import bmax, bsum, bval, dsum
from pandas_td_spark.queries.registry import query

_START = to_epoch_seconds("2024-01-10")  # 1704844800
_END = to_epoch_seconds("2024-01-20")  # 1705708800
_NOW = to_epoch_seconds("2024-01-31")


def _events_with_time(spark: SparkSession) -> DataFrame:
    """TD data model adapter: mandatory epoch-seconds `time` column."""
    return spark.table("events").withColumn(
        "time", F.unix_timestamp("ts").cast("bigint")
    )


# ---------------------------------------------------------------------------
# F1/P2/S1 — td_time_range scan predicate
# ---------------------------------------------------------------------------
@query(
    "q30_td_time_range",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS time FROM events)
    WHERE time >= {_START} AND time < {_END}
    GROUP BY event_type
    """,
)
def q30_td_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[start, end) time-slice + aggregate — the reference's core scan
    pattern (read_td_table(time_range=...))."""
    ev = _events_with_time(spark)
    return (
        ev.where(td_time_range("time", "2024-01-10", "2024-01-20"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
    )


# ---------------------------------------------------------------------------
# F2 — td_time_format (strftime dialect) → hourly activity profile
# ---------------------------------------------------------------------------
@query(
    "q31_td_time_format",
    oracle="""
    SELECT strftime(ts AT TIME ZONE 'UTC', '%Y-%m-%d %H') AS hour_str,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def q31_td_time_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ruby-strftime format translated to a Spark pattern driver-side
    (functions/td.py::strftime_to_spark)."""
    ev = _events_with_time(spark)
    return ev.groupBy(
        td_time_format("time", "%Y-%m-%d %H").alias("hour_str")
    ).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# F4 — td_date_trunc: daily rollup on the epoch column
# ---------------------------------------------------------------------------
@query(
    "q32_td_date_trunc",
    oracle="""
    SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS day_value
    FROM events GROUP BY 1
    """,
)
def q32_td_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_with_time(spark)
    return ev.groupBy(
        td_date_trunc("day", "time").alias("day_epoch")
    ).agg(F.count("*").alias("n"), dsum("value").alias("day_value"))


# ---------------------------------------------------------------------------
# F5 — td_time_add: shifted epochs projected per event
# ---------------------------------------------------------------------------
@query(
    "q33_td_time_add",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) + 86400 AS next_day,
           CAST(floor(epoch(ts)) AS BIGINT) - 3600  AS hour_before
    FROM events
    """,
)
def q33_td_time_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_with_time(spark)
    return ev.select(
        "event_id",
        td_time_add("time", "1d").alias("next_day"),
        td_time_add("time", "-1h").alias("hour_before"),
    )


# ---------------------------------------------------------------------------
# F6 — td_interval: trailing-7d window relative to a pinned `now`
# ---------------------------------------------------------------------------
@query(
    "q34_td_interval",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_recent
    FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS time FROM events)
    WHERE time >= {_NOW - 7 * 86400} AND time < {_NOW}
    GROUP BY user_id
    """,
)
def q34_td_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative window with an explicit pinned `now` (determinism — SURVEY
    §7 risks; the reference resolved now() server-side at job start)."""
    ev = _events_with_time(spark)
    return (
        ev.where(td_interval("time", "-7d", now="2024-01-31"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_recent"))
    )


# ---------------------------------------------------------------------------
# F1 via SQL surface — registered td_time_range used in raw SQL text
# ---------------------------------------------------------------------------
@query(
    "q35_td_sql_surface",
    oracle=f"""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users
    FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS time FROM events)
    WHERE time >= {_START} AND time < {_END}
    GROUP BY event_type
    """,
)
def q35_td_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-text path (read_td_query parity): registered td_time_range
    SQL function inside a plain spark.sql string."""
    _events_with_time(spark).createOrReplaceTempView("events_td")
    return spark.sql(
        """
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events_td
        WHERE td_time_range(time, '2024-01-10', '2024-01-20')
        GROUP BY event_type
        """
    )


# ---------------------------------------------------------------------------
# JSON payload path (schemaless `props` — SURVEY §7 risk)
# ---------------------------------------------------------------------------
@query(
    "q36_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS bucket_value
    FROM events GROUP BY 1
    """,
)
def q36_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the JSON `props` string (TD's semi-structured
    record model): get_json_object + cast, grouped."""
    ev = spark.table("events")
    return (
        ev.withColumn(
            "k_bucket",
            (F.get_json_object("props", "$.k").cast("bigint") % 10),
        )
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"), dsum("value").alias("bucket_value"))
    )


# ---------------------------------------------------------------------------
# Scalar-function surface sampler (SURVEY §2.8 standard scalars)
# ---------------------------------------------------------------------------
@query(
    "q37_scalar_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           LENGTH(p_name) AS name_len,
           SUBSTR(p_brand, 7) AS brand_num,
           CONCAT(p_type, ':', CAST(p_size AS VARCHAR)) AS type_size,
           REGEXP_EXTRACT(p_name, '([a-z]+)$', 1) AS last_word,
           ROUND(p_retailprice) AS price_round,
           ABS(p_size - 25) AS size_dist,
           COALESCE(NULLIF(p_brand, 'Brand#1'), 'BASE') AS brand_or_base
    FROM part
    """,
)
def q37_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = spark.table("part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.substring("p_brand", 7, 2147483647).alias("brand_num"),
        F.concat_ws(":", F.col("p_type"), F.col("p_size").cast("string")).alias(
            "type_size"
        ),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.round("p_retailprice").alias("price_round"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        F.coalesce(F.nullif("p_brand", F.lit("Brand#1")), F.lit("BASE")).alias(
            "brand_or_base"
        ),
    )


# ---------------------------------------------------------------------------
# Date-function surface on TIMESTAMP columns
# ---------------------------------------------------------------------------
@query(
    "q38_date_functions",
    oracle="""
    SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS month_total
    FROM orders
    GROUP BY 1, 2
    """,
)
def q38_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.table("orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("bigint").alias("y"),
            F.month("o_orderdate").cast("bigint").alias("m")
        )
        .agg(
            F.count("*").alias("n_orders"),
            bsum("o_totalprice", 2).alias("_sp"),
            bmax("o_totalprice", 2).alias("_mp"),
        )
        .select(
            "y",
            "m",
            "n_orders",
            bval(F.col("_sp"), F.col("n_orders"), F.col("_mp"), 2, "q38")
            .alias("month_total"),
        )
    )


# ---------------------------------------------------------------------------
# F7 — td_scheduled_time(): session-pinned scheduled execution time
# ---------------------------------------------------------------------------
_SCHED = 1705708800  # 2024-01-20T00:00:00Z — pinned-literal oracle twin


@query(
    "q75_td_scheduled_time",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n
    FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS time FROM events)
    WHERE time >= {_SCHED} - 604800 AND time < {_SCHED}
    GROUP BY event_type
    """,
)
def q75_td_scheduled_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: ``TD_SCHEDULED_TIME()`` as a session-parameterized SQL function
    (reference: ``TD_SCHEDULED_TIME`` UDF, scheduled-run semantics;
    UNVERIFIED — /root/reference is empty). ``set_scheduled_time`` pins the
    function exactly as TD's scheduler pins a run's time; the
    trailing-7-day window below is the canonical incremental-job pattern.
    The pinned value constant-folds (analyzer-inlined function with a
    literal body), so the time predicate still pushes down to the scan."""
    from pandas_td_spark.functions.td import set_scheduled_time

    set_scheduled_time(spark, _SCHED)
    return spark.sql(
        """
        SELECT event_type, COUNT(*) AS n
        FROM (SELECT *, unix_timestamp(ts) AS time FROM events)
        WHERE time >= td_scheduled_time() - 604800
          AND time <  td_scheduled_time()
        GROUP BY event_type
        """
    )


# ---------------------------------------------------------------------------
# TD_FIRST / TD_LAST — first/last-touch attribution, the canonical use of
# these UDAFs (reference: TD_FIRST/TD_LAST, public TD docs; SURVEY §2.8).
# min_by/max_by keep the whole aggregate JVM-side with map-side partials —
# one shuffle on user_id, payload is one (value, key) pair per group, not
# the event list. The comparator is a composite epoch*10^7 + event_id so
# ties are impossible and both engines pick identical rows (min_by ties are
# nondeterministic in both engines otherwise).
# ---------------------------------------------------------------------------
@query(
    "q111_first_last_touch",
    oracle="""
    SELECT user_id,
           arg_min(event_type, CAST(floor(epoch(ts)) AS BIGINT) * 10000000
                               + event_id) AS first_touch,
           arg_max(event_type, CAST(floor(epoch(ts)) AS BIGINT) * 10000000
                               + event_id) AS last_touch,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def q111_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event type per user via TD_FIRST/TD_LAST (min_by/max_by
    over a tie-free composite time key)."""
    from pandas_td_spark.functions.td import td_first, td_last

    e = spark.table("events")
    key = (
        F.unix_timestamp("ts").cast("bigint") * F.lit(10000000)
        + F.col("event_id")
    )
    return e.groupBy("user_id").agg(
        td_first(F.col("event_type"), key).alias("first_touch"),
        td_last(F.col("event_type"), key).alias("last_touch"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# TD_CURRENCY_CONV — daily-rate FX conversion as a broadcast equi-join on
# (currency, day) (reference: TD_CURRENCY_CONV(time, currency, amount),
# public TD docs; SURVEY §2.8). The rates dim is synthesized
# deterministically in BOTH engines (4 currencies x each event day, rate =
# 1 + currency_idx*0.25 + (day % 7)*0.01 — exact in binary? no: 0.25 is,
# 0.01 isn't, so the rate is rounded to 6dp via the decimal cast and the
# product is summed with the dsum discipline). At 100 TB the rates side is
# a few thousand rows x currencies — always a broadcast; the fact side
# never shuffles.
# ---------------------------------------------------------------------------
@query(
    "q113_currency_conv",
    oracle="""
    WITH fx AS (
      SELECT d.day AS rate_day, c.cur AS currency,
             CAST(1.0 + c.idx * 0.25 + (d.day % 7) * 0.01
                  AS DECIMAL(18,6)) AS rate
      FROM (SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
            FROM events) d
      CROSS JOIN (VALUES ('USD', 0), ('EUR', 1), ('JPY', 2), ('GBP', 3))
           AS c(cur, idx)
    ), fact AS (
      SELECT ts, value,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CASE user_id % 4 WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR'
                              WHEN 2 THEN 'JPY' ELSE 'GBP' END AS currency
      FROM events
    )
    SELECT f.currency,
           CAST(SUM(CAST(FLOOR(f.value * CAST(fx.rate AS DOUBLE) * 10000 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_usd,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM fact f JOIN fx ON f.day = fx.rate_day AND f.currency = fx.currency
    GROUP BY f.currency
    """,
)
def q113_currency_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FX-convert event values with a deterministic synthetic daily-rates
    dim via operators.lookup.rate_convert, then sum per currency."""
    from pandas_td_spark.operators.lookup import rate_convert

    e = spark.table("events").select(
        "value",
        F.unix_timestamp("ts").cast("bigint").alias("time"),
        F.element_at(
            F.array(F.lit("USD"), F.lit("EUR"), F.lit("JPY"), F.lit("GBP")),
            (F.col("user_id") % 4 + 1).cast("int"),
        ).alias("currency"),
    )
    days = e.select(
        (F.col("time") / 86400).cast("bigint").alias("day")
    ).distinct()
    curs = spark.createDataFrame(
        [("USD", 0), ("EUR", 1), ("JPY", 2), ("GBP", 3)], "cur string, idx int"
    )
    rates = days.crossJoin(F.broadcast(curs)).select(
        (F.col("day") * 86400).alias("rate_day"),
        F.col("cur").alias("currency"),
        (
            F.lit(1.0) + F.col("idx") * F.lit(0.25)
            + (F.col("day") % 7) * F.lit(0.01)
        ).cast("decimal(18,6)").cast("double").alias("rate"),
    )
    converted = rate_convert(
        e, rates, time_col="time", currency_col="currency",
        amount_col="value", out_col="amount_usd",
    )
    return (
        converted.groupBy("currency")
        .agg(
            bsum("amount_usd", 4).alias("_su"),
            F.count("*").alias("n"),
            bmax("amount_usd", 4).alias("_mu"),
        )
        .select(
            "currency",
            bval(F.col("_su"), F.col("n"), F.col("_mu"), 4, "q113")
            .alias("sum_usd"),
            "n",
        )
    )
