"""Presto/Trino scalar-function aliases (SURVEY.md §2.8 "standard scalar
surface").

pandas-td users wrote Presto SQL; this registers Presto function *names*
Spark lacks as SQL scalar functions (analyzer-inlined ``CREATE TEMPORARY
FUNCTION ... RETURN <expr>`` — zero runtime cost, full Catalyst
visibility) so raw query text ports unchanged.

Coverage notes:
* Much of the Presto surface is already native in Spark 3.5/4.x under the
  same name (``cardinality``, ``element_at``, ``regexp_like``, ``chr``,
  ``json_array_length``, ``array_agg``, ``bool_and/bool_or``,
  ``min_by/max_by``, ``any_value``) — those are intentionally NOT
  re-registered (Spark refuses temporary functions that shadow builtins).
* SQL UDFs cannot define aggregates: ``approx_distinct`` must be renamed
  to ``approx_count_distinct`` in query text (documented deviation).
* ``date_diff`` cannot be aliased: Spark ships a builtin ``date_diff(a,b)``
  (2-arg, days); Presto's 3-arg ``date_diff(unit,a,b)`` ports to
  ``timestampdiff(unit, a, b)`` which Spark also provides natively.
* ``day_of_week`` follows Presto/ISO numbering (Mon=1..Sun=7), which is
  NOT Spark's ``dayofweek`` (Sun=1) — implemented via ``weekday()+1``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = ["register_presto_functions", "PRESTO_SCALAR_ALIASES"]

# name -> (args signature, return type, body)
PRESTO_SCALAR_ALIASES: dict[str, tuple[str, str, str]] = {
    # strings
    "strpos": ("s STRING, sub STRING", "INT", "locate(sub, s)"),
    "codepoint": ("s STRING", "INT", "ascii(s)"),
    "from_utf8": ("b BINARY", "STRING", "decode(b, 'UTF-8')"),
    "to_utf8": ("s STRING", "BINARY", "encode(s, 'UTF-8')"),
    "levenshtein_distance": ("a STRING, b STRING", "INT", "levenshtein(a, b)"),
    "split_to_map": (
        "s STRING, entry_delim STRING, kv_delim STRING",
        "MAP<STRING,STRING>",
        "str_to_map(s, entry_delim, kv_delim)",
    ),
    # binary / encoding
    "to_hex": ("b BINARY", "STRING", "hex(b)"),
    "from_hex": ("s STRING", "BINARY", "unhex(s)"),
    "to_base64": ("b BINARY", "STRING", "base64(b)"),
    "from_base64": ("s STRING", "BINARY", "unbase64(s)"),
    # json
    "json_extract_scalar": ("j STRING, p STRING", "STRING", "get_json_object(j, p)"),
    "json_format": ("j STRING", "STRING", "to_json(from_json(j, 'map<string,string>'))"),
    # url
    "url_extract_host": ("u STRING", "STRING", "parse_url(u, 'HOST')"),
    "url_extract_path": ("u STRING", "STRING", "parse_url(u, 'PATH')"),
    "url_extract_query": ("u STRING", "STRING", "parse_url(u, 'QUERY')"),
    "url_extract_protocol": ("u STRING", "STRING", "parse_url(u, 'PROTOCOL')"),
    # parse_url(..., 'PORT') returns NULL in Spark (regex impl gap) —
    # extract the authority port directly, skipping any userinfo@
    "url_extract_port": (
        "u STRING",
        "BIGINT",
        r"cast(nullif(regexp_extract(u, '://(?:[^/@?#]*@)?[^/:?#]*:([0-9]+)', 1), '') as bigint)",
    ),
    "url_extract_fragment": ("u STRING", "STRING", "parse_url(u, 'REF')"),
    "url_extract_parameter": (
        "u STRING, k STRING", "STRING", "parse_url(u, 'QUERY', k)"
    ),
    # datetime
    "to_unixtime": ("t TIMESTAMP", "DOUBLE", "cast(unix_timestamp(t) as double)"),
    "day_of_week": ("t TIMESTAMP", "INT", "weekday(t) + 1"),
    "day_of_year": ("t TIMESTAMP", "INT", "dayofyear(t)"),
    "week_of_year": ("t TIMESTAMP", "INT", "weekofyear(t)"),
    "millisecond": ("t TIMESTAMP", "INT", "cast(date_format(t, 'SSS') as int)"),
    "from_iso8601_timestamp": ("s STRING", "TIMESTAMP", "to_timestamp(s)"),
    "from_iso8601_date": ("s STRING", "DATE", "to_date(s)"),
    "to_iso8601": (
        "t TIMESTAMP",
        "STRING",
        "date_format(t, \"yyyy-MM-dd'T'HH:mm:ss.SSSXXX\")",
    ),
    # bitwise (Presto names; Spark spells these as operators)
    "bitwise_and": ("a BIGINT, b BIGINT", "BIGINT", "a & b"),
    "bitwise_or": ("a BIGINT, b BIGINT", "BIGINT", "a | b"),
    "bitwise_xor": ("a BIGINT, b BIGINT", "BIGINT", "a ^ b"),
    "bitwise_not": ("a BIGINT", "BIGINT", "~a"),
    # math / misc
    "truncate": ("x DOUBLE", "DOUBLE", "cast(cast(x as bigint) as double)"),
    "infinity": ("", "DOUBLE", "cast('Infinity' as double)"),
    "nan": ("", "DOUBLE", "cast('NaN' as double)"),
    "is_nan": ("x DOUBLE", "BOOLEAN", "isnan(x)"),
    "is_finite": (
        "x DOUBLE", "BOOLEAN", "NOT isnan(x) AND abs(x) <> double('Infinity')"
    ),
    "is_infinite": ("x DOUBLE", "BOOLEAN", "abs(x) = double('Infinity')"),
    "cosine_distance": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "DOUBLE",
        # 1 - cos similarity via HOF zip/aggregate — stays JVM-side
        "1.0d - aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)"
        " / (sqrt(aggregate(transform(a, x -> x * x), 0.0d, (acc, v) -> acc + v))"
        " * sqrt(aggregate(transform(b, x -> x * x), 0.0d, (acc, v) -> acc + v)))",
    ),
}


def register_presto_functions(spark: SparkSession) -> None:
    """Register the aliases; a session whose last alias exists already has
    them all and is left as it is."""
    if spark.catalog.functionExists(next(reversed(PRESTO_SCALAR_ALIASES))):
        return
    for name, (args, ret, body) in PRESTO_SCALAR_ALIASES.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
            f"RETURNS {ret} RETURN {body}"
        )
