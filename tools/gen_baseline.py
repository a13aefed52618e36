#!/usr/bin/env python
"""Regenerate the measured section of BASELINE.md — INTERLEAVED comparator.

METHODOLOGY CHANGE r14 (VERDICT r13 #1). Through r13 this tool ran the
whole Spark phase (bench.py subprocess), then the whole DuckDB phase.
This box has documented multi-hour ambient speed swings (the same frozen
tree measured 155.3 s -> 219.6 s -> 164.7/177.2 s across four battery
runs), so the two phases routinely landed in DIFFERENT machine windows
and every per-query ratio mixed windows: the committed r13 table showed
12 queries >2x where the same tree's healthy-window run showed 4 —
neither list was evidence.

Now each query is measured on BOTH engines back-to-back: Spark
median-of-3 (per-repeat JVM GC drain, same as bench.py), then DuckDB
median-of-3, immediately adjacent — every ratio is same-window by
construction. The tool runs N full interleaved passes (default 2,
``SPARK_GRAFT_BASELINE_PASSES``); the published table carries each
pass's ratio so letter-list stability across passes is visible, and the
headline reports the band across passes, not a single number.
Fixed-work calibration probes (tools/calibration.py) run at the start
and end of every pass and are stamped into COMPARE_LATEST.json.

Usage: PYTHONPATH=. python tools/gen_baseline.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

MARKER = "<!-- gen_baseline:table -->"

DUCKDB_BUDGET_S = 120.0  # per-query watchdog: interrupt + skip beyond this
RATIO_LETTER = 2.0  # per-query "letter" threshold (DuckDB >= 0.3 s only)
RATIO_FLOOR_S = 0.3


def make_duckdb(sf_dir: str):
    import duckdb

    from pandas_td_spark.sources.io import table_names

    c = duckdb.connect()
    c.execute("SET memory_limit='24GB'")
    # an interrupted spill-heavy query (q166 at sf0.1 spilled 80 GB)
    # must not fill the disk before the watchdog fires
    c.execute("SET max_temp_directory_size='8GB'")
    for t in table_names(sf_dir):
        c.execute(
            f"CREATE OR REPLACE VIEW \"{t}\" AS "
            f"SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return c


def duckdb_median3(con, sql: str, name: str):
    """Median-of-3 with the r13 watchdog discipline. Returns
    (median_or_None, watchdog_fired) — when ``watchdog_fired`` is True
    the caller is responsible for discarding ``con`` and reconnecting,
    so no pending interrupt leaks into the next query."""
    import duckdb

    runs = []
    interrupted = False
    for _ in range(3):
        # The watchdog must never interrupt an IDLE connection: a
        # Timer(con.interrupt) can fire after fetchall() returns but
        # before cancel(), leaving a pending interrupt that aborts the
        # NEXT query. The lock + flag make check-then-interrupt atomic
        # against the main thread marking the query finished.
        lock = threading.Lock()
        state = {"running": True, "fired": False}

        def _kill(c=con, lk=lock, st=state):
            with lk:
                if st["running"]:
                    st["fired"] = True
                    c.interrupt()

        timer = threading.Timer(DUCKDB_BUDGET_S, _kill)
        timer.start()
        t0 = time.time()
        try:
            con.execute(sql).fetchall()
            runs.append(time.time() - t0)
        except duckdb.Error as ex:
            print(
                f"  duckdb skip {name}: {type(ex).__name__} "
                f"after {time.time() - t0:.0f}s",
                file=sys.stderr,
            )
            interrupted = True
            break
        finally:
            with lock:
                state["running"] = False
            timer.cancel()
        if state["fired"]:
            interrupted = True
            break
    if interrupted:
        return None, True
    return (statistics.median(runs) if runs else None), False


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BASELINE_PASSES", "2")))

    import bench  # repo-root bench.py: shared warm-up + GC-drain idiom

    from pandas_td_spark.engine.session import get_spark
    from pandas_td_spark.queries.registry import spark_queries

    spark = get_spark(app_name="pandas_td_spark_baseline")
    qs = spark_queries()
    import __spark_entry__ as E

    oracles = E.oracle_sql()
    names = sorted(qs)

    def gc_drain() -> None:
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    def spark_median3(name: str) -> float:
        ts = []
        for _ in range(3):
            gc_drain()
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(time.time() - t0)
        return statistics.median(ts)

    bench.warm_up(spark, sf_dir, qs)

    # per-pass results: {name: {"spark": s, "duckdb": d|None}}
    all_passes: list[dict[str, dict]] = []
    calibs: list[dict] = []
    for p in range(passes):
        calib_start = bench.calibrate(spark)
        con = make_duckdb(sf_dir)
        # one untimed DuckDB warm pass is unnecessary per query (views
        # are trivial); the first timed triple's median absorbs any
        # per-query compile, symmetric with Spark's in-pass analysis.
        res: dict[str, dict] = {}
        t_pass = time.time()
        for name in names:
            row: dict = {}
            try:
                row["spark"] = round(spark_median3(name), 3)
            except Exception as exc:  # noqa: BLE001 — record, keep going
                print(f"FAIL spark {name}: {exc}", file=sys.stderr)
                res[name] = {"spark": None, "duckdb": None}
                continue
            if name in oracles:
                d, fired = duckdb_median3(con, oracles[name], name)
                row["duckdb"] = round(d, 3) if d is not None else None
                if row["duckdb"] is None:
                    # annotate WHY the cell is blank (r15): these are
                    # oracle-outlier rows — the naive spec-replay SQL
                    # (recursive-CTE walks, unbounded joins) blew the
                    # per-query budget/temp cap, not the engine
                    row["duckdb_note"] = "oracle-outlier (budget/spill)"
                if fired:
                    # reconnect so no pending interrupt leaks forward
                    con.close()
                    con = make_duckdb(sf_dir)
            else:
                row["duckdb"] = None
            res[name] = row
        con.close()
        calib_end = bench.calibrate(spark)
        calibs.append({"start": calib_start, "end": calib_end})
        all_passes.append(res)
        st = sum(r["spark"] for r in res.values() if r["spark"])
        dt = sum(r["duckdb"] for r in res.values() if r["duckdb"])
        print(
            f"pass {p + 1}/{passes}: spark {st:.1f}s, duckdb {dt:.1f}s, "
            f"wall {time.time() - t_pass:.0f}s",
            flush=True,
        )

    # --- aggregate: per-query same-window ratios per pass ---
    def ratio(row) -> float | None:
        if row.get("spark") and row.get("duckdb"):
            return row["spark"] / row["duckdb"]
        return None

    # headline band: oracle-subset totals per pass (same-window by
    # construction within each pass). TWO views: raw, and trimmed of
    # ORACLE-OUTLIER queries — rows where DuckDB is >10x slower than
    # Spark. There the oracle is a deliberately naive spec replay (the
    # q280/q281 recursive-CTE walks run ~75 s against Spark's 0.5 s;
    # q274's unbounded quadratic join is the same class), so the row
    # measures the ORACLE's pain, not engine quality — leaving it in
    # flatters the engine total dishonestly.
    def pass_bands(res):
        pairs = {
            n: r for n, r in res.items() if r["spark"] and r["duckdb"]
        }
        s = sum(r["spark"] for r in pairs.values())
        d = sum(r["duckdb"] for r in pairs.values())
        trimmed = {
            n: r
            for n, r in pairs.items()
            if r["duckdb"] <= 10 * r["spark"]
        }
        st = sum(r["spark"] for r in trimmed.values())
        dt = sum(r["duckdb"] for r in trimmed.values())
        outliers = sorted(set(pairs) - set(trimmed))
        return (
            round(s / d, 3) if d else None,
            round(st / dt, 3) if dt else None,
            outliers,
        )

    bands, bands_trimmed, outlier_sets = [], [], []
    for res in all_passes:
        b, bt, out = pass_bands(res)
        bands.append(b)
        bands_trimmed.append(bt)
        outlier_sets.append(out)
    # bands are REPORTED as [min, max] (r15 fix: per-pass order printed
    # e.g. [2.267, 2.081], reading as a reversed interval); per-pass
    # values stay available in per_pass for anyone who wants the order
    bands = sorted(b for b in bands if b is not None) or [None]
    bands_trimmed = sorted(
        b for b in bands_trimmed if b is not None
    ) or [None]

    # letter list: >2x in EVERY pass where DuckDB >= 0.3 s (stable);
    # queries over in SOME passes are listed separately (unstable)
    stable, unstable = [], []
    for name in names:
        rs = []
        for res in all_passes:
            row = res.get(name, {})
            if row.get("duckdb") and row["duckdb"] >= RATIO_FLOOR_S:
                r = ratio(row)
                if r is not None:
                    rs.append(r)
        if not rs:
            continue
        if all(r > RATIO_LETTER for r in rs):
            stable.append((name, [round(r, 2) for r in rs]))
        elif any(r > RATIO_LETTER for r in rs):
            unstable.append((name, [round(r, 2) for r in rs]))

    artifact = {
        "sf_dir": sf_dir,
        "passes": passes,
        "methodology": "interleaved per-query Spark/DuckDB median-of-3 "
        "(r14); every ratio same-window by construction",
        "oracle_subset_ratio_band": bands,
        "oracle_subset_ratio_band_trimmed": bands_trimmed,
        "oracle_outliers": outlier_sets,
        "calibration": calibs,
        "letters_stable": stable,
        "letters_unstable": unstable,
        "per_pass": all_passes,
    }
    with open("COMPARE_LATEST.json", "w") as f:
        json.dump(artifact, f, indent=1)
        f.write("\n")

    last = all_passes[-1]
    spark_total = sum(r["spark"] for r in last.values() if r["spark"])
    dd_total = sum(r["duckdb"] for r in last.values() if r["duckdb"])
    n_oracle = sum(1 for r in last.values() if r["duckdb"])
    lines = [
        MARKER,
        "",
        f"Totals (final pass): **Spark {spark_total:.1f} s over "
        f"{sum(1 for r in last.values() if r['spark'])} queries**; "
        f"**DuckDB {dd_total:.2f} s** over the {n_oracle} "
        "oracle-expressible queries. METHODOLOGY r14: INTERLEAVED "
        "per-query measurement (Spark median-of-3 with per-repeat GC "
        "drain, then DuckDB median-of-3, back-to-back) — every "
        "per-query ratio is same-window by construction; r13 and "
        "earlier tables measured the two engines in separate phases "
        "and are not per-query comparable. "
        f"Oracle-subset ratio band across {passes} passes: "
        f"**{bands}** raw / **{bands_trimmed}** with oracle-outlier "
        f"rows trimmed (DuckDB >10x Spark = the oracle's naive spec "
        f"replay is the bottleneck, not the engine: {outlier_sets}). "
        "Stable >2x letters (all passes, DuckDB >= 0.3 s): "
        f"{[n for n, _ in stable]}; unstable (some passes): "
        f"{[n for n, _ in unstable]}. Calibration + per-pass detail: "
        "COMPARE_LATEST.json.",
        "",
        "| query | spark_sec | duckdb_sec | " +
        " | ".join(f"ratio_p{i + 1}" for i in range(passes)) + " |",
        "|---|---|---|" + "---|" * passes,
    ]
    for name in names:
        row = last.get(name, {})
        s = row.get("spark")
        d = row.get("duckdb")
        rats = []
        for res in all_passes:
            r = ratio(res.get(name, {}))
            rats.append(f"{r:.2f}" if r is not None else "")
        d_cell = d if d is not None else row.get("duckdb_note", "")
        lines.append(
            f"| {name} | {s if s is not None else ''} | "
            f"{d_cell} | " + " | ".join(rats) + " |"
        )
    text = open("BASELINE.md").read()
    head = text.split(MARKER)[0].rstrip()
    with open("BASELINE.md", "w") as fh:
        fh.write(head + "\n\n" + "\n".join(lines) + "\n")
    print(
        f"BASELINE.md updated: spark {spark_total:.1f}s, "
        f"duckdb {dd_total:.2f}s / {n_oracle} q, band {bands} "
        f"(trimmed {bands_trimmed}), "
        f"stable letters {len(stable)}, unstable {len(unstable)}"
    )


if __name__ == "__main__":
    main()
