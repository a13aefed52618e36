"""Zero-row robustness gate: EVERY registry query must execute against
an all-empty fixture (same schemas, no rows) without raising.

An empty time partition is a normal production input — a scheduled
pipeline pointed at a quiet hour must produce empty results, not ANSI
divide-by-zero errors or np.vstack crashes in quantizer init. Round 7
found and fixed 7 offenders (kmeans/IVF/PQ/SemDeDup empty-sample init,
q96/q152 divide-by-zero, q214 None total); this sweep keeps the class
closed."""

from __future__ import annotations

import os
import tempfile

import pytest

from pandas_td_spark.queries.registry import spark_queries
from pandas_td_spark.sources.io import register_views, table_names, table_path

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def empty_dir(spark):
    d = tempfile.mkdtemp(prefix="sf_empty_")
    for t in table_names(SRC):
        spark.read.parquet(table_path(SRC, t)).limit(0).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, f"{t}.parquet"))
    return d


def test_every_query_survives_empty_tables(spark, empty_dir):
    register_views(spark, empty_dir)
    failures = {}
    for name, fn in sorted(spark_queries().items()):
        try:
            fn(spark, empty_dir).limit(5).collect()
        except Exception as e:  # noqa: BLE001 — collect all offenders
            failures[name] = f"{type(e).__name__}: {str(e)[:120]}"
    assert not failures, f"{len(failures)} queries crash on empty input: " + str(
        failures
    )


@pytest.fixture(scope="module")
def null_dir(spark):
    """Same fixture schemas with NULLs injected into the nullable
    payload columns (text, lang, embedding, props) — the mixed-quality
    corpus a production pipeline actually ingests."""
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="sf_nulls_")
    for t in table_names(SRC):
        df = spark.read.parquet(table_path(SRC, t))
        if t == "documents":
            df = df.withColumn(
                "text",
                F.when(F.col("doc_id") % 10 == 3, None).otherwise(
                    F.col("text")
                ),
            ).withColumn(
                "lang",
                F.when(F.col("doc_id") % 13 == 5, None).otherwise(
                    F.col("lang")
                ),
            )
        if t == "embeddings":
            df = df.withColumn(
                "embedding",
                F.when(F.col("vec_id") % 11 == 7, None).otherwise(
                    F.col("embedding")
                ),
            )
        if t == "events":
            df = df.withColumn(
                "props",
                F.when(F.col("event_id") % 9 == 2, None).otherwise(
                    F.col("props")
                ),
            )
        df.write.mode("overwrite").parquet(os.path.join(d, f"{t}.parquet"))
    return d


def test_every_query_survives_null_payloads(spark, null_dir):
    """Round 7 fixed 7 crashers (np.vstack on None vectors, bytes(None)
    in codec UDFs): NULL vectors/payloads are excluded per the SQL
    convention, everything else flows through. This sweep keeps the
    class closed."""
    register_views(spark, null_dir)
    failures = {}
    for name, fn in sorted(spark_queries().items()):
        try:
            fn(spark, null_dir).limit(5).collect()
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {str(e)[:120]}"
    assert not failures, (
        f"{len(failures)} queries crash on NULL payloads: " + str(failures)
    )
