"""Local replica of the driver's correctness gate (SURVEY.md §5).

Runs a registered Spark query and its DuckDB oracle SQL side-by-side on the
same parquet fixtures and compares row-count + schema (column names) +
order-insensitive values. Comparison is EXACT (the driver hashes values), so
queries must be engineered for bit-identical floats — see the decimal-sum
pattern in queries/relational.py.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from pandas_td_spark.sources.io import table_names, table_path

__all__ = ["duckdb_connection", "run_oracle", "compare_frames", "check_query"]


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # resource guards, matching tools/gen_baseline.py: a runaway oracle
    # (q166's recursive CTE at sf0.1 spilled 80 GB) must fail fast, not
    # fill the disk under pytest
    con.execute("SET memory_limit='24GB'")
    con.execute("SET max_temp_directory_size='8GB'")
    for name in table_names(sf_dir):
        view = '"' + name.replace('"', '""') + '"'
        con.sql(
            f"CREATE OR REPLACE VIEW {view} AS "
            f"SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def run_oracle(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb_connection(sf_dir)
    try:
        return con.sql(sql).df()
    finally:
        con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    # canonicalize cell values to hashable, engine-neutral forms
    for c in df.columns:
        if df[c].dtype == object:
            import numpy as np

            df[c] = df[c].map(
                lambda v: tuple(v)
                if isinstance(v, (list, tuple, np.ndarray))
                else v
            )
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _dtype_class(dtype) -> str:
    """Coarse dtype class used for driver-faithful schema comparison.

    The driver hashes TYPED values, so an int column on one side and a
    float column on the other hash-mismatch even when every value
    compares equal under Python ``==`` (0 == 0.0).  This is exactly the
    class of bug that produced the q41 (r2) and q103 (r4) driver-reds
    while the local suite stayed green.  NULL-widened float64 on BOTH
    sides stays legal because both sides then land in the 'float' class.
    """
    s = str(dtype)
    if s.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if s.startswith(("float", "Float")):
        return "float"
    if s.startswith("bool"):
        return "bool"
    if s.startswith("datetime64"):
        return "datetime"
    return "object"


def compare_frames(
    spark_df: pd.DataFrame, oracle_df: pd.DataFrame
) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass)."""
    problems: list[str] = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(
            f"schema: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
        )
        return problems
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount: spark={len(spark_df)} oracle={len(oracle_df)}")
    for c in sorted(spark_df.columns):
        sc, oc = _dtype_class(spark_df[c].dtype), _dtype_class(oracle_df[c].dtype)
        if sc != oc:
            problems.append(
                f"dtype col {c!r}: spark={spark_df[c].dtype} ({sc}) "
                f"vs oracle={oracle_df[c].dtype} ({oc}) — driver hashes typed "
                f"values; cast both sides to the same class"
            )
    a, b = _canon(spark_df), _canon(oracle_df)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].tolist(), b[c].tolist()
            bad = 0
            first = None
            for i, (x, y) in enumerate(zip(av, bv)):
                same = (
                    x == y
                    or (x is None and y is None)
                    or (
                        isinstance(x, float)
                        and isinstance(y, float)
                        and math.isnan(x)
                        and math.isnan(y)
                    )
                    or (pd.isna(x) is True and pd.isna(y) is True)
                )
                if not same:
                    bad += 1
                    if first is None:
                        first = (i, x, y)
            if bad:
                problems.append(f"col {c!r}: {bad} mismatched values, first={first}")
    return problems


def check_query(spark: SparkSession, sf_dir: str, name: str) -> list[str]:
    """Run query `name` against its oracle; [] = pass, else mismatch notes.
    Queries with no oracle get a rows-only sanity check (runs, rows >= 0)."""
    from pandas_td_spark.queries.registry import all_queries, spark_queries

    q = all_queries()[name]
    sdf = spark_queries()[name](spark, sf_dir).toPandas()
    if q.oracle is None:
        return []  # rows-only: materialization above is the check
    return compare_frames(sdf, run_oracle(sf_dir, q.oracle))
