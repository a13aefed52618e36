"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analyst_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics. The line before it is a JSON ``details`` record:
the workload's shared-work properties, the set-up split, correctness
verdicts, ``failed_op_ratio`` and (traced) the count flags and where
the spans were written. ``perfbench/steadiness.py`` runs this over many
seeds and reports the spread of every metric.

Every workload reports every end-to-end metric. What each one measures:

=============================  ===========================================
metric                         analyst_sql / corpus_curation
=============================  ===========================================
setup_s                        session build + staging + warm-up
op_p50_s, op_p90_s             one call: an analyst's ``read_td_*`` call
                               or the uploader's fresh read / one
                               pipeline operator, materialized
ops_per_s                      those calls per second of the loop
docs_per_s                     rows returned to the analysts / corpus
                               documents through whole passes, per second
ingest_rows_per_s              rows uploaded per second of the loop /
                               rows per second inside ``to_td`` while
                               staging the corpus
freshness_p50_s                ``to_td`` until the batch is in the table
                               and the rollup and read back / first
                               ``to_td`` call of a staging until a COUNT
                               sees every row
stored_bytes_per_input_byte    bytes under the appended (staged) tables
                               / deep in-memory bytes uploaded
peak_rss_mb                    ``VmHWM`` of this process + its JVM when
                               the loop ends, before the checks
=============================  ===========================================

A traced run (``--trace 1``) splits ``--seconds`` into an untraced and a
traced segment over the same ops, wraps each layer's public functions
from the outside (``perfbench/common.py: instrument``), counts jobs and
tasks per op through job groups, and reports per-layer times, self
times and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.getcwd()

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "docs_per_s": "1/s",
    "ingest_rows_per_s": "1/s",
    "freshness_p50_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}
KINDS = (
    "q_join_agg", "q_point", "q_topk", "q_window",
    "q_td_range", "q_td_trunc", "q_td_format", "t_events",
)
LAYERS = ("engine", "functions", "compat", "sources", "operators", "streaming", "bench")
PER_LAYER = {
    "engine.session_build_s": "s",
    "functions.register_s": "s",
    "engine.jobs_per_op": "count",
    "engine.tasks_per_op": "count",
    "compat.execute_s": "s",
    "compat.fetch_s": "s",
    **{f"compat.fetch_s.{k}": "s" for k in KINDS},
    "compat.rows_fetched": "count",
    "compat.bytes_fetched": "bytes",
    "compat.to_td_s": "s",
    "sources.read_table_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "sources.table_files": "count",
    "operators.exact_dedup_s": "s",
    "operators.pair_gen_s": "s",
    "operators.verify_s": "s",
    "operators.components_s": "s",
    "operators.topk_s": "s",
    "operators.candidate_pairs": "count",
    "operators.verified_pairs": "count",
    "operators.pair_yield": "ratio",
    "operators.planted_recall": "ratio",
    "operators.topk_recall": "ratio",
    "streaming.trigger_s": "s",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.dropped_duplicates": "count",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _import_program() -> None:
    if not os.path.isfile(os.path.join(ROOT, "pandas_td_spark", "__init__.py")):
        sys.exit("perfbench: run from the repository root (pandas_td_spark/ not found)")
    sys.path.insert(0, ROOT)


def _check_manifest() -> None:
    """Refuse to run when the metrics printed here and those BENCHMARK.json
    declares differ in name or unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        if declared != ours:
            diff = sorted(set(declared.items()) ^ set(ours.items()))
            sys.exit(f"perfbench: {key} metrics differ from BENCHMARK.json: {diff}")


def _workloads() -> dict:
    from perfbench.analyst_sql import AnalystSQL
    from perfbench.corpus_curation import CorpusCuration

    return {w.name: w for w in (AnalystSQL, CorpusCuration)}


def end_to_end(run, wl, seg: dict, rss: dict) -> dict:
    from perfbench.common import quantile

    return {
        "setup_s": run.setup_metrics()["setup_s"],
        "op_p50_s": quantile(seg["lat"], 0.5),
        "op_p90_s": quantile(seg["lat"], 0.9),
        "ops_per_s": len(seg["lat"]) / seg["wall"],
        **wl.end_to_end(seg),
        "peak_rss_mb": rss["total"],
    }


def per_layer(run, wl, job_counts: dict, plain: dict, traced: dict) -> tuple[dict, list[str]]:
    """Per-layer metrics of the traced segment (set-up spans for the
    session and function registration) and the count flags."""
    tr = run.tracer
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    since = traced["start"]
    builds = tr.durations("engine.session_build")
    out = {
        "engine.session_build_s": med(builds),
        "functions.register_s": sum(tr.durations("functions.register")) / max(len(builds), 1),
        "compat.execute_s": med(tr.durations("compat.execute", since)),
        "compat.fetch_s": med(tr.durations("compat.fetch", since)),
        # workloads without uploads in the loop: their staging uploads
        "compat.to_td_s": med(tr.durations("compat.to_td", since) or tr.durations("compat.to_td")),
        "sources.read_table_s": med(tr.durations("sources.read_table", since)),
    }
    kinds = wl.op_kinds()
    for k in KINDS:
        out[f"compat.fetch_s.{k}"] = med([
            s["end"] - s["start"] for s in tr.spans
            if s["name"] == "compat.fetch" and s["start"] >= since and kinds.get(s["op"]) == k
        ])
    # engine and functions work only while setting up: their self time
    # is the whole run's; the other layers' that of the traced segment
    run_self, seg_self = tr.self_times(0.0), tr.self_times(since)
    for layer in LAYERS:
        src = run_self if layer in ("engine", "functions") else seg_self
        out[f"{layer}.self_s"] = src.get(layer, 0.0)
    # like with like: the same ops, once untraced and once traced
    shared = set(plain["by_key"]) & set(traced["by_key"])
    out["trace.overhead_s"] = statistics.median(traced["by_key"][k] - plain["by_key"][k] for k in shared)
    out["trace.overhead_ratio"] = (
        sum(traced["by_key"][k] for k in shared) / sum(plain["by_key"][k] for k in shared) - 1.0
    )
    counts, flags = wl.layer_counts(job_counts)
    out.update(counts)
    return out, flags


def main(argv: list[str] | None = None) -> int:
    workloads = _workloads()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench.common import JobCounter, Run, instrument

    run = Run(ROOT, trace=bool(args.trace))
    t_start = time.perf_counter()
    details: dict = {"workload": args.workload, "seed": args.seed, "cpus": run.cpus}
    try:
        wl = workloads[args.workload](run, args.seed)
        details.update(props=wl.props, inputs_s=time.perf_counter() - t_start)
        if args.trace:
            instrument(run.tracer)
            if hasattr(wl, "instrument"):
                wl.instrument(run.tracer)
        state = run.set_up(wl.stage, wl.warm)
        if args.trace:
            run.tracer.unwrap()
            plain = wl.loop(state, args.seconds / 2, "plain")
            instrument(run.tracer)
            if hasattr(wl, "instrument"):
                wl.instrument(run.tracer)
            jobs = JobCounter(run.spark)
            traced = wl.loop(state, args.seconds / 2, "traced", jobs=jobs)
            run.tracer.unwrap()
            check = wl.check(state)
            metrics, flags = per_layer(run, wl, jobs.counts(), plain, traced)
            spans = os.path.join(ROOT, ".perfbench_work", "spans", f"{args.workload}-seed{args.seed}.jsonl")
            run.tracer.dump(spans)
            details.update(count_flags=flags, spans=os.path.relpath(spans, ROOT))
            metrics = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
                       for name, unit in PER_LAYER.items()}
        else:
            seg = wl.loop(state, args.seconds, "timed")
            t_loop = time.perf_counter()
            # before the checks, whose reference engines run in this process
            rss = run.peak_rss_mb()
            check = wl.check(state)
            details.update(op_samples=len(seg["lat"]), peak_rss_mb=rss,
                           check_s=time.perf_counter() - t_loop)
            metrics = end_to_end(run, wl, seg, rss)
            metrics = {name: {"value": float(metrics[name]), "unit": unit}
                       for name, unit in END_TO_END.items()}
        details.update(
            setup=run.setup_metrics(),
            check=check,
            failed_op_ratio=check["failed"] / check["attempted"],
        )
    finally:
        t_close = time.perf_counter()
        run.close()
    details.update(close_s=time.perf_counter() - t_close, run_wall_s=time.perf_counter() - t_start)
    print(json.dumps({"details": details}, default=str))
    print(json.dumps({
        "correct": check["failed"] == 0,
        "attempted": check["attempted"],
        "failed": check["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    _import_program()
    _check_manifest()
    sys.exit(main())
