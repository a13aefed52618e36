#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan audit of every registered query.

Counts operator occurrences in the FORMATTED explain output (each operator
appears once in the tree and once in the detail section, so multiplicities
are 2x the tree count — kept as-is for continuity with earlier rounds) and
records whether any parquet scan accepted pushed filters. Pre-AQE plans:
AQE may further coalesce/convert at runtime.

Usage: python tools/gen_plans.py [sf_dir]  (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import re
import sys

OPS = (
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "TakeOrderedAndProject",
    "Window",
    "Expand",
    "Generate",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "BatchEvalPythonUDTF",
    "Exchange",
)

HEADER = """# PLANS — physical plan audit

Regenerated by `tools/gen_plans.py`: `.explain` of every registered query
at sf0.01 (pre-AQE plan; AQE may further coalesce/convert at runtime).
Columns: physical operators present (with multiplicity), and whether the
parquet scan accepted pushed filters. Inspect any query interactively via
`pandas_td_spark.plans.explain.physical_plan`.

Reading guide: `Exchange` counts include `BroadcastExchange` (cheap dim
broadcasts), not only shuffles — e.g. q02's Exchange counts are mostly
broadcasts plus one aggregation shuffle; `CartesianProduct` should never
appear (and doesn't); BroadcastNestedLoopJoin appears only where a side is
deliberately broadcast (theta/range/all-pairs ops); Python operators
(ArrowEvalPython/MapInPandas/MapInArrow/FlatMapGroupsInPandas/BatchEvalPythonUDTF) only in the
deliberate vectorized-UDF paths.

Iterative / checkpointed operators (BFS, k-core, PageRank, connected
components, the two-phase rank) cut lineage with `localCheckpoint`, so
their FINAL plan shows `Scan ExistingRDD` leaves where the per-round work
ran. For those queries a second `⟲ <label>: …` entry records the
operator shape of ONE representative round body, rebuilt lazily by
`pandas_td_spark.plans.round_bodies` (pinned against the operators by
tests/test_plans.py).

Queries tagged with a **scale note** are intentionally quadratic (or
otherwise scale-bounded) exact paths kept as correctness anchors; the note
names the sub-quadratic twin a 100 TB operator should default to.

| query | physical operators | pushed filters | scale note |
|---|---|---|---|
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pandas_td_spark.engine.session import get_spark
    from pandas_td_spark.plans.explain import physical_plan
    from pandas_td_spark.queries.registry import all_queries, spark_queries

    spark = get_spark(app_name="gen_plans")
    from pandas_td_spark.plans.round_bodies import round_body

    qs = spark_queries()
    notes = {n: (q.scale_note or "—") for n, q in all_queries().items()}

    def op_counts(plan: str) -> list[str]:
        counts = []
        for op in OPS:
            # word-ish boundary so BroadcastHashJoin doesn't count as
            # HashJoin; Exchange intentionally also matches
            # BroadcastExchange (see header)
            if op == "Exchange":
                c = plan.count(op)
            else:
                c = len(re.findall(rf"(?<![A-Za-z]){op}(?![a-z])", plan))
            if c:
                counts.append(f"{op}×{c}")
        return counts

    rows = []
    for name in sorted(qs):
        try:
            plan = physical_plan(qs[name](spark, sf_dir))
        except Exception as e:  # surface, don't hide, broken plans
            rows.append(f"| {name} | ERROR: {str(e)[:80]} | — | {notes[name]} |")
            continue
        # no listed operator = narrow map-only pipeline (Project/Filter/
        # Generate-free scan): say so, an empty cell reads as blindness
        cell = ", ".join(op_counts(plan)) or "map-only (scan+project)"
        try:
            rb = round_body(name, spark, sf_dir)
        except Exception as e:
            rb, cell = None, cell + f" ; ⟲ ERROR: {str(e)[:60]}"
        if rb is not None:
            label, frame = rb
            body_ops = op_counts(physical_plan(frame))
            cell += f" ; ⟲ {label}: {', '.join(body_ops) or 'narrow'}"
        pushed = bool(
            [
                m
                for m in re.finditer(r"PushedFilters: \[(.*?)\]", plan)
                if m.group(1).strip()
            ]
        )
        rows.append(
            f"| {name} | {cell} | {'yes' if pushed else '—'} "
            f"| {notes[name]} |"
        )
    with open("PLANS.md", "w") as fh:
        fh.write(HEADER + "\n".join(rows) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
