"""SparkSession factory with scale-aware defaults.

Reference parity: pandas-td's ``Connection``/``QueryEngine`` (SURVEY.md §2.12,
``pandas_td/td.py::Connection`` ≈L60-150, UNVERIFIED — /root/reference is
empty) held an API client + default database. Here the "engine" is an actual
local Spark runtime, so the factory is where cluster-shape decisions live.

Design notes for 100 TB / 1000-executor scale
---------------------------------------------
* AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  shuffle-hash conversion replace hand-tuned ``spark.sql.shuffle.partitions``
  at large scale. We still set a local-friendly floor for tests.
* Arrow on: every pandas edge (``toPandas``, ``pandas_udf``) is
  Arrow-batched, never row-pickled.
* UTC session timezone: TD's ``time`` column is epoch *seconds* (UTC by
  definition); pinning the session tz makes ``timestamp_seconds`` /
  ``unix_timestamp`` round-trips deterministic across hosts.
* Parquet pushdown knobs left at defaults (on) — correctness of our plans is
  asserted in tests via ``explain()`` snapshots instead.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "spread", "DEFAULT_CONFS"]

DEFAULT_CONFS: dict[str, str] = {
    # -- optimizer / execution ------------------------------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # -- pandas / Arrow edge --------------------------------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # -- driver-side call overhead (r15, guide §1.2) --------------------------
    # PySpark 4's DataFrame-debugging hook wraps EVERY Column/DataFrame
    # API call with a Python stack walk plus two extra py4j round-trips
    # (PySparkCurrentOrigin.set/clear) purely to enrich error messages
    # with the user call site. Measured ~35% of query CONSTRUCTION time
    # across the registry (q29 0.35 -> 0.11 s, q01 0.18 -> 0.08 s per
    # construction) — driver-side, scale-independent overhead paid on
    # every submission. Plans, results and error SEMANTICS are
    # unchanged; only the "called from <file>:<line>" context line in
    # error messages is lost. Flip to "true" when debugging a query
    # interactively.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # -- determinism ----------------------------------------------------------
    "spark.sql.session.timeZone": "UTC",
    # parquet TIMESTAMP(NANOS) is unreadable by Spark 4.x as a timestamp;
    # read as LONG nanos and let sources/io.py convert to TIMESTAMP (µs) —
    # lossless for the fixtures (sub-µs components are zero).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # plain MIN/MAX/COUNT probes over parquet answer from footer
    # statistics instead of scanning row groups — exact for parquet
    # (NaN-free stats guaranteed by the writer for the fixture types) and
    # what makes model-grain probes (q138 depth) metadata-cheap at 100 TB
    "spark.sql.parquet.aggregatePushDown": "true",
    # -- local-mode ergonomics ------------------------------------------------
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # managed tables (bucketing tests, compat warehouse experiments) go to
    # /tmp, never the repo working directory
    "spark.sql.warehouse.dir": "/tmp/pandas_td_spark_warehouse",
}


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "pandas_td_spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    ``spark.sql.shuffle.partitions`` defaults to the local core count — the
    right number for local[(N)]; on a real cluster AQE coalescing makes the
    static value mostly a ceiling, so callers would set it to ~2-3× total
    cores through ``extra_confs``.
    """
    n = _cpus()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{n}]"
    )
    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(n)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Every remaining empty-partition window in this engine feeds a frame
    # that is BOUNDED BY CONSTRUCTION — a post-TakeOrdered top-k (≤k rows:
    # q204/q207), a per-bucket offsets frame (≤ cluster-width rows:
    # operators/ranking.py), or an aggregate-grain cumulative (≤ value-domain
    # rows: q210). WindowExec warns per *instantiation* (several times per
    # action under AQE), flooding bench/driver logs with false positives, so
    # that one logger is pinned to ERROR. The actual protections against
    # data-sized single-partition sorts stay active: the distributed
    # rank/prefix operators remove fact-grain global windows from plans,
    # plans/guards.py::warn_if_global_window_input_large fires on large
    # inputs, and tools/gen_plans.py audits every query's physical plan.
    try:
        jvm = spark.sparkContext._jvm
        logger = jvm.org.apache.logging.log4j.LogManager.getLogger(
            "org.apache.spark.sql.execution.window.WindowExec"
        )
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            logger.getName(), jvm.org.apache.logging.log4j.Level.ERROR
        )
    except Exception as exc:  # non-JVM session (Spark Connect), no log4j-core
        logging.getLogger(__name__).warning(
            "WindowExec logger left at its level (pin to ERROR failed: %r)", exc
        )
    # TD-compatible SQL function surface (td_time_range etc.) is registered
    # here so ``spark.sql`` text can use them like the reference's
    # delegated engines did; on a reused session both calls return at once.
    from pandas_td_spark.functions.presto_compat import register_presto_functions
    from pandas_td_spark.functions.td import register_td_functions

    register_td_functions(spark)
    register_presto_functions(spark)
    return spark


def spread(df, partitions: int | None = None, by: str | None = None):
    """Spread a (narrow) DataFrame across the cluster before
    row-multiplying or per-row-expensive work.

    Compact fixture tables arrive as a single parquet row group = ONE
    input split, so an explode/hash/shingle stage directly over the scan
    runs on one core no matter how many executors exist. Repartitioning
    the narrow pre-explosion rows costs one small shuffle and buys full
    parallelism for the expensive stage (measured 4-13x on the shingle
    and bootstrap-replica paths at sf0.1). On a real multi-split table
    the extra shuffle is wasted only if the scan already has enough
    splits — callers apply this ONLY where per-row downstream work, not
    scan size, dominates; there it is noise at any scale.

    ``by`` (r15): hash-partition on a key column instead of round-robin.
    RoundRobinPartitioning is non-deterministic, so two plan branches
    over the same spread() subtree never canonicalize equal and Spark
    can NEVER reuse the exchange — a self-join or a broadcast-rollup
    branch silently computes the whole expensive subtree twice (caught
    on q110: the winnowing pass ran once per join side, 2.07 -> 1.0 s
    when the spread became deterministic). Pass a high-cardinality
    unique key (doc_id) wherever one exists and any downstream plan
    forks; balance is equivalent for a unique key. Bonus: downstream
    groupBy/Window keyed on ``by`` (or a superset) inherits the
    clustering and skips its own exchange entirely (q199: 2.0->0.95 s).
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    if by is not None:
        return df.repartition(n, by)
    return df.repartition(n)
