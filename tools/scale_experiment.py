"""10x scaling experiment: replicate sf0.1 fact tables with shifted keys,
time headline queries at 1x and 10x, report the growth ratio."""
import json, os, shutil, time

from pyspark.sql import functions as F

from pandas_td_spark.engine.session import get_spark

BASE = "/root/testdata/sf0.1"
BIG = "/tmp/sf1x10"
spark = get_spark(app_name="scale_exp")

if not os.path.isdir(BIG):
    os.makedirs(BIG, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        src = spark.read.parquet(f"{BASE}/{t}.parquet")
        if t in ("lineitem", "orders", "events", "documents"):
            # replicate 10x with key-space shifts that preserve join
            # relationships (orderkey shifted consistently in both tables)
            copies = []
            for i in range(10):
                c = src
                if t == "lineitem":
                    c = c.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 10_000_000))
                elif t == "orders":
                    c = c.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * 10_000_000))
                elif t == "events":
                    c = c.withColumn("event_id", F.col("event_id") + F.lit(i * 100_000_000))
                elif t == "documents":
                    # shift doc_id; texts repeat, which is fine for timing
                    # scan/hash/group work (group count stays 1x, rows 10x)
                    c = c.withColumn("doc_id", F.col("doc_id") + F.lit(i * 100_000_000))
                copies.append(c)
            out = copies[0]
            for c in copies[1:]:
                out = out.unionByName(c)
            out.write.mode("overwrite").parquet(f"{BIG}/{t}.parquet")
        else:
            shutil.copytree(f"{BASE}/{t}.parquet", f"{BIG}/{t}.parquet",
                            dirs_exist_ok=True) if os.path.isdir(f"{BASE}/{t}.parquet") else shutil.copy(f"{BASE}/{t}.parquet", f"{BIG}/{t}.parquet")

from pandas_td_spark.queries.registry import spark_queries
from pandas_td_spark.engine.store import evict
from pandas_td_spark.sources.io import register_views

qs = spark_queries()
HEAD = ["q01_pricing_summary", "q02_revenue_by_nation", "q61_range_join",
        "q105_local_supplier_revenue", "q26_sessionize", "q50_dedup_exact_groups",
        # round-4 additions: the ops whose scaling behavior is least
        # obvious from the plan alone
        "q121_triangle_count",      # pair extraction 10x; distinct graph constant (partkeys unshifted)
        "q128_ngram_novelty",       # shingle instances 10x, df-join output 10x
        "q133_event_islands",       # window sort 10x rows
        "q134_nearest_event",       # bucket join both sides 10x
        "q132_rolling_distinct",    # day-fanout explode 10x
        "q142_twap",                # lead() window 10x
        # round-4 late additions
        "q195_roc_auc",             # distinct-score grain constant; scan 10x
        "q199_tfidf_topk",          # explode 10x; df rollup near-constant
        "q200_cusum",               # day-grain walk constant; scan 10x
        "q202_abc_classification",  # part grain constant (keys unshifted)
        "q208_proration",           # order-grain window 10x rows
        # round-5 additions: the reshaped / micro-opted paths
        "q217_debounce",            # per-key ndarray walk, 10x rows spread across keys
        "q149_capped_balance",      # same applyInPandas walk family
        "q138_hierarchy_rollup",    # depth-derived pointer doubling (part keys unshifted)
        "q118_kmeans_clusters",     # Lloyd on the persisted corpus
        # round-6 additions: the reshaped graph/rank paths
        "q164_bfs_levels",          # fused BFS rounds; frontier broadcast gate (graph constant)
        "q166_kcore",               # peel rounds on the cached edge checkpoint
        "q129_equidepth_histogram", # distributed two-phase rank now the default path, orders 10x
        "q221_lift_curve",          # rank + piggybacked total, orders 10x
        # round-6 late additions
        "q236_decontaminate_spans", # explode + broadcast semi-join, corpus tokens 10x
        "q240_column_stats",        # per-column pruned aggregates, orders 10x
        # round-7 additions: new operator family + reshaped hot paths
        "q241_scd2_dimension",      # user-partitioned islands windows, events 10x
        "q243_partition_checksums", # map-side checksum partials, orders 10x
        "q245_skyline",             # strict prefix-max (part grain constant)
        "q244_incremental_rollup",  # state+delta merge, orders 10x
        "q95_unigram_nll",          # lazy broadcast token total, tokens 10x
        "q249_jpeg_roundtrip",      # per-doc codec mapInPandas, docs 10x
        # round-8 additions: the new packing/vocab/codec family
        "q256_sequence_packing",    # source-partitioned ordered window, docs 10x
        "q258_bpe_pair_counts",     # char-pair explode 10x, bounded pair vocab
        "q260_gif_roundtrip",       # per-doc LZW codec mapInPandas, docs 10x
        # round-9 additions: window-count q128 rewrite + the new family
        "q263_progressive_jpeg",    # per-doc multi-scan codec, docs 10x
        "q264_split_leakage",       # CC labels + hash splits + audit join
        "q265_bpe_train",           # vocabulary-grain rounds (vocab constant)
        "q266_flac_roundtrip",      # per-doc Rice codec, docs 10x
        "q235_dup_rate_by_source",  # shared pair checkpoint consumer, corpus 10x
        # round-12 addition: exact substring dedup
        "q274_substring_run_pairs"]  # winnow anchors 10x; candidate pairs grow
        # ~quadratically from the verbatim text replicas (see NB below), so
        # this leg measures the verify under the worst-case duplication the
        # fixture can produce — the anchors stay uniform-key bounded.
        # NB: the 10x replica repeats texts VERBATIM (doc_id shifted), so the
        # true Jaccard>=0.6 pair set grows ~quadratically (each doc gains 9
        # exact copies -> 45 intra-copy pairs per group + 100x the original
        # near-dup pairs) — OUTPUT growth from the fixture artifact, not a
        # plan-shape property. Since r8 the 10x corpus (50k docs) crosses
        # EXACT_PAIRS_MAX_DOCS (20k), so q235's 10x leg runs the production
        # plan: banded MinHash candidates + exact verify (the 1x leg at 5k
        # docs stays on the oracle-exact prefix filter).

# r13 (VERDICT r12 #6): a PERTURBED 10x documents replica for q274 —
# every word in replica i is suffixed "~i", so replicas share NO
# 12-gram with each other or the original: the true shared-run pair
# set grows exactly 10x (one isolated copy of the 1x pair set per
# replica), isolating PLAN growth from the verbatim-replica fixture
# artifact the main 10x leg documents above. Only documents differs;
# the other tables come from the verbatim BIG dir.
PERT = "/tmp/sf1x10_pert"
if not os.path.isdir(PERT):
    os.makedirs(PERT, exist_ok=True)
    src = spark.read.parquet(f"{BASE}/documents.parquet")
    copies = []
    for i in range(10):
        copies.append(
            src.withColumn("doc_id", F.col("doc_id") + F.lit(i * 100_000_000))
            .withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda w: F.concat(w, F.lit(f"~{i}")),
                    ),
                    " ",
                ),
            )
        )
    out_df = copies[0]
    for c in copies[1:]:
        out_df = out_df.unionByName(c)
    out_df.write.mode("overwrite").parquet(f"{PERT}/documents.parquet")
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        p = f"{BIG}/{t}.parquet"
        (shutil.copytree(p, f"{PERT}/{t}.parquet", dirs_exist_ok=True)
         if os.path.isdir(p) else shutil.copy(p, f"{PERT}/{t}.parquet"))


def run(sf_dir, name):
    register_views(spark, sf_dir)
    evict(spark)  # time each model build, not a memo hit
    t0 = time.time()
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0

# warm up both dirs
for d in (BASE, BIG):
    register_views(spark, d)
    spark.sql("select count(*) from lineitem").collect()

out = {}
for name in HEAD:
    t1 = min(run(BASE, name) for _ in range(3))
    t10 = min(run(BIG, name) for _ in range(3))
    out[name] = {"t_1x": round(t1, 3), "t_10x": round(t10, 3),
                 "ratio": round(t10 / t1, 2)}
    print(name, out[name], flush=True)
# q274 perturbed leg: same 1x base, distinct-text 10x corpus — the
# ratio here is the plan's growth with linearly-growing TRUE output
t1 = out["q274_substring_run_pairs"]["t_1x"]
t10p = min(run(PERT, "q274_substring_run_pairs") for _ in range(3))
out["q274_substring_run_pairs__perturbed10x"] = {
    "t_1x": t1, "t_10x": round(t10p, 3), "ratio": round(t10p / t1, 2)}
print("q274 perturbed:", out["q274_substring_run_pairs__perturbed10x"],
      flush=True)
with open("SCALE_LATEST.json", "w") as f:
    json.dump(out, f, indent=1)
    f.write("\n")
print(json.dumps(out))
