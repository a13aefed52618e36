"""Loud-failure guards added per ADVICE r11.

1. q183's bigint-cents moments are exact only inside an int64 envelope
   (~sf100). With ``spark.sql.ansi.enabled=false`` an overflow would WRAP
   SILENTLY and green wrong regression coefficients — the query now
   asserts ``n * max|qc| * max(|qc|,|pc|) < 2^62`` (a sound upper bound on
   every summed moment, evaluated in doubles so the check itself cannot
   wrap) on its 3-row tail.

2. ``store.release_checkpoint`` walks private pyspark plan surface
   (queryExecution/analyzed/rdd). A failure on a LIVE context means that
   surface drifted and eager block release silently degraded to GC-timed
   release — it must warn once instead of swallowing.
"""

from __future__ import annotations

import warnings

import pytest

from tests.conftest import SF_SMALL


def test_q183_in_envelope_unchanged(spark):
    """The guard is value-transparent on in-envelope data."""
    from pandas_td_spark.queries.coverage import q183_grouped_ols
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF_SMALL)
    rows = q183_grouped_ols(spark, SF_SMALL).collect()
    assert rows and all(r["n_rows"] > 0 for r in rows)


def test_q183_envelope_guard_fires(spark):
    """Out-of-envelope magnitudes fail loudly, not wrap silently.

    One row with l_quantity=1e9 gives qc=1e11 cents, qc^2=1e22 > 2^63.
    Under pyspark 4's default ansi=true the multiply itself raises
    ARITHMETIC_OVERFLOW (also loud — fine); under ansi=false (the silent
    wrap ADVICE r11 worried about) the assert_true envelope guard raises.
    Either way: an error, never wrong coefficients."""
    from pyspark.sql import SparkSession

    from pandas_td_spark.queries.coverage import q183_grouped_ols

    # the override lives in a throwaway clone of the shared session (as
    # QueryEngine.execute scopes a call), so no other test sees it
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    clone.createDataFrame(
        [("A", 1.0e9, 1.0)],
        "l_returnflag string, l_quantity double, l_extendedprice double",
    ).createOrReplaceTempView("lineitem")
    with pytest.raises(Exception) as exc:
        q183_grouped_ols(clone, SF_SMALL).collect()
    msg = str(exc.value)
    assert "envelope" in msg or "ARITHMETIC_OVERFLOW" in msg
    # and the non-ansi wrap path is covered by the guard directly:
    clone.conf.set("spark.sql.ansi.enabled", "false")
    with pytest.raises(Exception, match="envelope"):
        q183_grouped_ols(clone, SF_SMALL).collect()


def test_release_checkpoint_warns_on_live_context_drift(spark):
    """A real DataFrame whose private plan walk breaks under a live
    SparkContext warns ONCE (RuntimeWarning), then stays quiet."""
    from pandas_td_spark.engine import store

    class _Boom:
        def queryExecution(self):
            raise RuntimeError("simulated pyspark API drift")

    df = spark.range(1)
    df._jdf = _Boom()
    prev = store.release_checkpoint._warned
    store.release_checkpoint._warned = False
    try:
        with pytest.warns(RuntimeWarning, match="eager checkpoint-block"):
            store.release_checkpoint(df)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            store.release_checkpoint(df)  # warn-once: second failure silent
    finally:
        store.release_checkpoint._warned = prev


def test_release_checkpoint_silent_for_non_frames():
    """Row lists / None (the BPE cache payloads) are expected no-ops —
    never a drift warning, live context or not."""
    from pandas_td_spark.engine import store

    prev = store.release_checkpoint._warned
    store.release_checkpoint._warned = False
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            store.release_checkpoint([("rank", "l", "r")])
            store.release_checkpoint(None)
    finally:
        store.release_checkpoint._warned = prev
