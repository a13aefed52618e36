#!/usr/bin/env python
"""Session-floor decomposition (VERDICT r15 #7 — settle with evidence).

For a set of representative TAIL queries (sub-0.5 s at sf0.1), split
per-query wall into CONSTRUCT (python builds the DataFrame) and EXECUTE
(noop sink), count scheduled jobs/stages per execution, and time
fixed-shape micro-jobs (0-shuffle / 1-shuffle / 2-shuffle) so the
per-job and per-stage floor constants are measured, not inferred.

Usage: python tools/floor_probe.py [--confs k=v,k=v] [names...]
Writes /tmp/floor_probe_<tag>.json.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_NAMES = [
    "q100_histogram",
    "q16_predicates",
    "q38_date_functions",
    "q114_rolling_zscore",
    "q143_weighted_median",
]


def median_of(fn, n=5):
    ts = []
    for _ in range(n):
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
    return round(statistics.median(ts), 4), [round(t, 4) for t in ts]


def main() -> None:
    args = sys.argv[1:]
    confs = {}
    tag = "base"
    if "--confs" in args:
        i = args.index("--confs")
        if i + 1 == len(args):
            sys.exit("--confs needs a value: k=v[,k=v...]")
        for kv in args[i + 1].split(","):
            k, v = kv.split("=", 1)
            confs[k] = v
        tag = re.sub(
            r"[^A-Za-z0-9._-]", "_", args[i + 1].replace("spark.sql.", "")
        )[:60]
        del args[i : i + 2]
    names = args or DEFAULT_NAMES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pandas_td_spark.engine.session import get_spark
    from pandas_td_spark.queries.registry import spark_queries
    from pandas_td_spark.sources.io import register_views

    spark = get_spark(app_name="floor_probe", extra_confs=confs)
    register_views(spark, sf_dir)
    qs = spark_queries()
    sc = spark.sparkContext
    from pyspark.sql import functions as F

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def gc_drain():
        try:
            sc._jvm.System.gc()
        except Exception:
            pass

    # warm up codegen/backends once
    spark.sql("select count(*) from lineitem").collect()
    noop(spark.range(1_000_000, numPartitions=32))

    out = {"confs": confs, "micro": {}, "queries": {}}

    # --- fixed-shape micro-jobs -------------------------------------
    def j0():  # zero-shuffle single job
        noop(spark.range(1_000, numPartitions=32))

    def j1():  # one tiny shuffle (AQE: 2 jobs)
        noop(spark.range(1_000, numPartitions=32).groupBy(
            F.pmod("id", F.lit(8)).alias("k")).count())

    def j2():  # two tiny shuffles
        noop(
            spark.range(1_000, numPartitions=32)
            .groupBy(F.pmod("id", F.lit(8)).alias("k")).count()
            .groupBy((F.col("k") % 2).alias("k2"))
            .agg(F.sum("count").alias("s"))
        )

    def scan():  # parquet scan only, no shuffle
        noop(spark.table("lineitem").select("l_orderkey"))

    for nm, fn in [("j0_noshuffle", j0), ("j1_1shuffle", j1),
                   ("j2_2shuffle", j2), ("scan_lineitem_1col", scan)]:
        fn()  # warm
        gc_drain()
        med, ts = median_of(fn)
        out["micro"][nm] = {"median": med, "runs": ts}

    # --- per-query construct/execute split + job counts --------------
    st = spark.sparkContext.statusTracker()
    for name in names:
        fn = qs[name]
        noop(fn(spark, sf_dir))  # warm
        gc_drain()
        c_med, c_ts = median_of(lambda: fn(spark, sf_dir))
        dfs = fn(spark, sf_dir)
        gc_drain()
        e_med, e_ts = median_of(lambda: noop(dfs))
        # job count of one fresh execution
        sc.setJobGroup(f"fp-{name}", name)
        noop(fn(spark, sf_dir))
        sc.setJobGroup(None, None)
        njobs = len(st.getJobIdsForGroup(f"fp-{name}") or [])
        out["queries"][name] = {
            "construct_median": c_med,
            "execute_median": e_med,
            "construct_runs": c_ts,
            "execute_runs": e_ts,
            "njobs": njobs,
        }

    path = f"/tmp/floor_probe_{tag}.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["micro"], indent=1))
    for n, d in out["queries"].items():
        print(n, d["construct_median"], d["execute_median"], d["njobs"])
    print("wrote", path)


if __name__ == "__main__":
    main()
