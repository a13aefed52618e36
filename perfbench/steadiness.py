"""Steadiness report: run each workload over several seeds and report,
for every metric, the median, the quartiles and the run-to-run spread
(interquartile range over the median) against the metric's bound.

    python3 perfbench/steadiness.py --runs 10
    python3 perfbench/steadiness.py --workloads analyst_sql --runs 5 --first-seed 100
    python3 perfbench/steadiness.py --runs 0 --repeat-trace 7

Run from the repository root. Workloads, bounds and the run length come
from BENCHMARK.json. The fixed-work probes of ``tools/calibration.py``
are stamped before and after each workload's runs, so a slow window of
the machine shows next to the figures. ``--repeat-trace SEED`` adds two
traced runs of every workload on one seed and lists every count-type
per-layer metric that differs between them (counts must repeat exactly).
The report is printed and written to ``.perfbench_work/steadiness.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
#: per-layer units whose values are counts, not times
COUNT_UNITS = ("count", "bytes", "ratio")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return {"result": json.loads(lines[-1]), "details": json.loads(lines[-2])["details"], "wall_s": wall}


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=names, choices=names)
    ap.add_argument("--runs", type=int, default=10, help="seeds per workload")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--repeat-trace", type=int, metavar="SEED", default=None)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from tools.calibration import probes

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {"seconds": args.seconds, "workloads": {}}
    for w in args.workloads:
        rep: dict = {"calibration_before": probes(), "runs": [], "metrics": {}}
        for k in range(args.runs):
            seed = args.first_seed + k
            r = run_once(w, seed, args.seconds, 0)
            rep["runs"].append({
                "seed": seed, "wall_s": r["wall_s"], "correct": r["result"]["correct"],
                "attempted": r["result"]["attempted"], "failed": r["result"]["failed"],
                "metrics": {n: m["value"] for n, m in r["result"]["metrics"].items()},
                "details": r["details"],
            })
            print(f"{w} seed {seed}: {r['wall_s']:.1f} s, correct={r['result']['correct']}", flush=True)
        if len(rep["runs"]) >= 2:
            for name, bound in bounds.items():
                s = spread([run["metrics"][name] for run in rep["runs"]])
                s.update(bound=bound, within_third=s["spread"] < bound / 3, within_bound=s["spread"] <= bound)
                rep["metrics"][name] = s
        if args.repeat_trace is not None:
            a, b = (run_once(w, args.repeat_trace, args.seconds, 1) for _ in range(2))
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            rep["trace_count_diffs"] = {
                n: [a["result"]["metrics"][n]["value"], b["result"]["metrics"][n]["value"]]
                for n in units if units[n] in COUNT_UNITS and not n.startswith("trace.")
                and a["result"]["metrics"][n]["value"] != b["result"]["metrics"][n]["value"]
            }
            rep["trace_count_flags"] = [a["details"].get("count_flags"), b["details"].get("count_flags")]
        rep["calibration_after"] = probes()
        report["workloads"][w] = rep

    for w, rep in report["workloads"].items():
        walls = [r["wall_s"] for r in rep["runs"]]
        print(f"\n== {w}: {len(walls)} runs, all correct: {all(r['correct'] for r in rep['runs'])}, "
              f"run wall median {statistics.median(walls) if walls else 0:.1f} s; "
              f"calibration {rep['calibration_before']} -> {rep['calibration_after']}")
        for name, s in rep["metrics"].items():
            mark = "ok" if s["within_third"] else ("WITHIN BOUND" if s["within_bound"] else "OVER BOUND")
            print(f"  {name:30s} median {s['median']:<14.6g} q1 {s['q1']:<14.6g} q3 {s['q3']:<14.6g} "
                  f"spread {s['spread']:.4f} / bound {s['bound']}  {mark}")
        if "trace_count_diffs" in rep:
            print(f"  counts differing between two traced runs: {rep['trace_count_diffs'] or 'none'}")
            print(f"  in-run count flags: {rep['trace_count_flags']}")
    out = os.path.join(ROOT, ".perfbench_work", "steadiness.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"\nwritten {os.path.relpath(out, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
