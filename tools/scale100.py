"""100x scaling audit (VERDICT r13 #4) on the worst 10x shapes.

The 10x sweep (tools/scale_experiment.py, SCALE_LATEST.json) is
sublinear everywhere, but a 10x-sublinear curve can still hide a
superlinear term; the brief's question is 100x. This leg replicates the
sf0.1 fact tables 100x with the same key-shift scheme (join structure
preserved; dims verbatim) and times the five worst 10x ratios:

  q208_proration  (10x ratio 3.26 — order-grain window pass)
  q61_range_join  (2.55 — zero-join date_trunc agg)
  q258_bpe_pair_counts (2.34 — char-pair explode, bounded vocab)
  q166_kcore      (2.10 — peel rounds on the cached edge checkpoint;
                   the timed work is the peel, edges memoized, same as
                   the 10x leg)
  q274_substring_run_pairs (PERTURBED replicas — words suffixed ~i so
                   true pairs grow exactly 100x, isolating plan growth
                   from the verbatim-fixture output artifact, same
                   construction as the r13 perturbed 10x leg)

Output: SCALE100.json rows {t_1x, t_10x, t_100x, r_10, r_100,
per_decade} where per_decade = t_100x/t_10x — the second decade's
growth. Linear-at-scale means per_decade ~<= 10; both decades ~2-4 on a
32-thread box mostly means the 1x fixture underfills the machine (fixed
stage latency dominates) and the work only saturates at 10x-100x.

Run: PYTHONPATH=. python tools/scale100.py  (~20-40 min; writes 100x
fixtures to /tmp/sf1x100{,_pert} on first use, ~3 GB)
"""
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from pandas_td_spark.engine.session import get_spark

BASE = "/root/testdata/sf0.1"
BIG10 = "/tmp/sf1x10"
BIG = "/tmp/sf1x100"
PERT = "/tmp/sf1x100_pert"
ALL_T = ("region", "nation", "customer", "supplier", "part",
         "orders", "lineitem", "events", "documents", "embeddings")

spark = get_spark(app_name="scale100")


def _replicate(src, n, shift_col, step):
    """n key-shifted copies via one crossJoin with a range — a 100-branch
    union would bloat the plan; the crossJoin stays one scan. The final
    repartition matters: the compact fixture is ONE input split, so
    without it the whole 100x table lands in a single task = a single
    parquet file with huge row groups, capping every downstream scan's
    parallelism — the first run of this audit measured q61 (a pure
    scan+agg) at 21x per decade purely from that layout artifact. A
    real 100 TB table has thousands of splits; 32 files models that."""
    reps = spark.range(n).select(F.col("id").alias("__rep"))
    out = src.crossJoin(F.broadcast(reps))
    if shift_col:
        out = out.withColumn(
            shift_col, F.col(shift_col) + F.col("__rep") * F.lit(step)
        )
    return out.drop("__rep").repartition(32)


def _build_verbatim() -> None:
    os.makedirs(BIG, exist_ok=True)
    for t in ALL_T:
        dst = f"{BIG}/{t}.parquet"
        if os.path.exists(dst):
            continue
        src = spark.read.parquet(f"{BASE}/{t}.parquet")
        if t == "lineitem":
            _replicate(src, 100, "l_orderkey", 10_000_000).write.mode(
                "overwrite").parquet(dst)
        elif t == "orders":
            _replicate(src, 100, "o_orderkey", 10_000_000).write.mode(
                "overwrite").parquet(dst)
        elif t == "events":
            _replicate(src, 100, "event_id", 100_000_000).write.mode(
                "overwrite").parquet(dst)
        elif t == "documents":
            _replicate(src, 100, "doc_id", 100_000_000).write.mode(
                "overwrite").parquet(dst)
        else:
            (shutil.copytree(f"{BASE}/{t}.parquet", dst)
             if os.path.isdir(f"{BASE}/{t}.parquet")
             else shutil.copy(f"{BASE}/{t}.parquet", dst))


def _build_perturbed() -> None:
    os.makedirs(PERT, exist_ok=True)
    dst = f"{PERT}/documents.parquet"
    if not os.path.exists(dst):
        src = spark.read.parquet(f"{BASE}/documents.parquet")
        reps = spark.range(100).select(F.col("id").alias("__rep"))
        out = (
            src.crossJoin(F.broadcast(reps))
            .withColumn(
                "doc_id",
                F.col("doc_id") + F.col("__rep") * F.lit(100_000_000),
            )
            .withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda w: F.concat(
                            w, F.lit("~"), F.col("__rep").cast("string")
                        ),
                    ),
                    " ",
                ),
            )
            .drop("__rep")
            .repartition(32)
        )
        out.write.mode("overwrite").parquet(dst)
    for t in ALL_T:
        if t == "documents":
            continue
        p = f"{BIG}/{t}.parquet"
        d = f"{PERT}/{t}.parquet"
        if not os.path.exists(d):
            (shutil.copytree(p, d) if os.path.isdir(p)
             else shutil.copy(p, d))


def _build_10x() -> None:
    """Standing 10x fixtures when scale_experiment.py hasn't run this
    session (/tmp is per-machine-lifetime): same shift scheme, n=10."""
    os.makedirs(BIG10, exist_ok=True)
    for t in ALL_T:
        dst = f"{BIG10}/{t}.parquet"
        if os.path.exists(dst):
            continue
        src = spark.read.parquet(f"{BASE}/{t}.parquet")
        shifts = {"lineitem": ("l_orderkey", 10_000_000),
                  "orders": ("o_orderkey", 10_000_000),
                  "events": ("event_id", 100_000_000),
                  "documents": ("doc_id", 100_000_000)}
        if t in shifts:
            col, step = shifts[t]
            _replicate(src, 10, col, step).write.mode(
                "overwrite").parquet(dst)
        else:
            (shutil.copytree(f"{BASE}/{t}.parquet", dst)
             if os.path.isdir(f"{BASE}/{t}.parquet")
             else shutil.copy(f"{BASE}/{t}.parquet", dst))
    pert10 = "/tmp/sf1x10_pert"
    os.makedirs(pert10, exist_ok=True)
    dst = f"{pert10}/documents.parquet"
    if not os.path.exists(dst):
        src = spark.read.parquet(f"{BASE}/documents.parquet")
        reps = spark.range(10).select(F.col("id").alias("__rep"))
        (src.crossJoin(F.broadcast(reps))
         .withColumn("doc_id",
                     F.col("doc_id") + F.col("__rep") * F.lit(100_000_000))
         .withColumn("text", F.array_join(F.transform(
             F.split("text", " "),
             lambda w: F.concat(w, F.lit("~"),
                                F.col("__rep").cast("string"))), " "))
         .drop("__rep")
         .repartition(32)
         .write.mode("overwrite").parquet(dst))
    for t in ALL_T:
        if t == "documents":
            continue
        p = f"{BIG10}/{t}.parquet"
        d = f"{pert10}/{t}.parquet"
        if not os.path.exists(d):
            (shutil.copytree(p, d) if os.path.isdir(p)
             else shutil.copy(p, d))


def main() -> None:
    from pandas_td_spark.queries.registry import spark_queries
    from pandas_td_spark.engine.store import evict
    from pandas_td_spark.sources.io import register_views

    _build_verbatim()
    _build_10x()
    _build_perturbed()
    qs = spark_queries()

    def run(sf_dir, name):
        register_views(spark, sf_dir)
        evict(spark)  # time each model build, not a memo hit
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        return time.time() - t0

    # warm every dir's scan once
    for d in (BASE, BIG, PERT):
        register_views(spark, d)
        spark.sql("select count(*) from lineitem").collect()

    have10 = True
    plan = [
        ("q208_proration", BIG, None),
        ("q61_range_join", BIG, None),
        ("q258_bpe_pair_counts", BIG, None),
        ("q166_kcore", BIG, None),
        ("q274_substring_run_pairs", PERT, "perturbed"),
    ]
    out = {}
    for name, big_dir, tag in plan:
        t1 = min(run(BASE, name) for _ in range(3))
        t10 = None
        if have10:
            # reuse the standing 10x fixture when present so both
            # decades come from the same session/window
            d10 = BIG10 if tag is None else "/tmp/sf1x10_pert"
            if os.path.isdir(d10):
                t10 = min(run(d10, name) for _ in range(3))
        t100 = min(run(big_dir, name) for _ in range(2))
        key = name if tag is None else f"{name}__{tag}"
        out[key] = {
            "t_1x": round(t1, 3),
            "t_10x": round(t10, 3) if t10 else None,
            "t_100x": round(t100, 3),
            "r_100": round(t100 / t1, 2),
            "per_decade": round(t100 / t10, 2) if t10 else None,
        }
        print(key, out[key], flush=True)
        # write-through after every shape: a late-shape OOM (the r15
        # first run died at q166's 100x checkpoint while other Spark
        # sessions shared the box) must not discard finished rows
        with open("SCALE100.json", "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
