"""The event uploader of the ``analyst_sql`` workload: one client in a
closed loop of writes beside reads.

Each cycle uploads a seeded batch of events with
``to_td(if_exists="append")`` (batches carry re-sent duplicates and late
events), advances the streaming rollup by one ``availableNow`` trigger of
``dedup_stream`` (into a deduplicated file sink) and then
``tumbling_counts`` (into an in-memory table), and reads the fresh data
back: the newest batch's time slice with ``read_td_table``, an aggregate
over the last hour with ``read_td_query``, and the last hour of the
rollup with ``read_td_query``. Spark does not let one query redefine the
watermark, so the two streaming steps are two queries.

Every segment of a run writes its own database from the first batch on,
so a traced segment replays exactly the batches of the untimed one.
"""

from __future__ import annotations

import itertools
import math
import statistics
import time

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.common import dir_stats

#: not ``events``: Connection.register_database_views registers each
#: table as a session-wide temp view, so an engine on another database of
#: the same Connection would see this table under the analysts' name
TABLE = "event_log"
READS = ("r_slice", "q_window", "q_rollup")
#: the fresh window the aggregate and rollup reads cover, ending at the
#: newest batch's slice end
WINDOW_S = 3600
ROLLUP_S = 600  # tumbling_counts' default window
WARM_CYCLES = 1
COLUMNS = ["event_id", "time", "user_id", "event_type", "value"]


def _epoch_s(ts: pd.Series) -> np.ndarray:
    return ts.to_numpy().astype("datetime64[s]").astype(np.int64)


def _close(a, b) -> bool:
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


class EventIngest:
    #: the traced segment runs at least this many cycles
    min_traced_ops = 2

    def __init__(self, run, seed: int) -> None:
        self.run = run
        self.seed = seed
        self.segments: dict[str, dict] = {}
        first = [b for _, _, b in itertools.islice(gen.ingest_batches(seed), 8)]
        self.props = dict(
            gen.ingest_props(),
            clients=1,
            loop="closed",
            rollup_window_s=ROLLUP_S,
            fresh_window_s=WINDOW_S,
            inputs_sha256_first8=gen.digest(*first),
        )

    # -- set-up ---------------------------------------------------------------
    def warm(self, state: dict) -> None:
        self._segment(state, "warm", seconds=0.0, min_cycles=WARM_CYCLES)

    # -- measurement ----------------------------------------------------------
    def loop(self, state: dict, seconds: float, segment: str, jobs=None) -> dict:
        """Cycles while another one still fits in ``seconds`` (a traced
        segment at least ``min_traced_ops`` of them)."""
        seg = self._segment(state, segment, seconds, self.min_traced_ops if jobs else 1, jobs)
        mine = seg["cycles"]
        return {
            "start": seg["start"],
            "wall": seg["wall"],
            "lat": [v for r in mine for v in r["lat"].values()],
            "by_key": {(r["c"], k): v for r in mine for k, v in r["lat"].items()},
            "rows": sum(len(b) for b in seg["batches"]),
            "fresh": [r["fresh"] for r in mine],
            "input_bytes": sum(int(b.memory_usage(deep=True).sum()) for b in seg["batches"]),
            "stored_bytes": mine[-1]["table_bytes"],
        }

    def _segment(self, state: dict, segment: str, seconds: float, min_cycles: int, jobs=None) -> dict:
        from pandas_td_spark import compat
        from pandas_td_spark.streaming import jobs as sj

        con, spark = state["con"], state["spark"]
        tracer = self.run.tracer if jobs is not None else None
        db = f"ingest_{segment}"
        path = con.table_path(db, TABLE)
        dedup_dir = self.run.path("stream", segment, "dedup")
        rollup = f"rollup_{segment}"
        engine = compat.create_engine(f"presto:{db}", con=con)
        seg = {"db": db, "engine": engine, "rollup": rollup, "batches": [], "cycles": []}
        self.segments[segment] = seg

        def timed(span: str, op: str, fn):
            if tracer is None:
                return fn()
            with tracer.span(span, op=op), jobs.group(op):
                return fn()

        def trigger() -> tuple[object, object]:
            q1 = (
                sj.dedup_stream(sj.events_stream(spark, path))
                .writeStream.format("parquet")
                .option("path", dedup_dir)
                .option("checkpointLocation", self.run.path("stream", segment, "ckpt-dedup"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q1.awaitTermination()
            q2 = (
                sj.tumbling_counts(sj.events_stream(spark, dedup_dir))
                .writeStream.format("memory")
                .queryName(rollup)
                .option("checkpointLocation", self.run.path("stream", segment, "ckpt-rollup"))
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            q2.awaitTermination()
            return q1, q2

        reads = {
            "r_slice": lambda s0, s1: compat.read_td_table(
                TABLE, engine, columns=COLUMNS, time_range=(s0, s1), limit=None),
            "q_window": lambda s0, s1: compat.read_td_query(
                "SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT event_id) AS u, "
                f"SUM(value) AS v FROM {TABLE} WHERE td_time_range(time, "
                f"'{gen._ev(s1 - WINDOW_S)}', '{gen._ev(s1)}') "
                "GROUP BY event_type ORDER BY event_type", engine),
            "q_rollup": lambda s0, s1: compat.read_td_query(
                f"SELECT win_start, event_type, n, total_value FROM {rollup} "
                f"WHERE win_start >= TIMESTAMP '{gen._ev(s1 - WINDOW_S)}' "
                "ORDER BY win_start, event_type", engine),
        }

        batches = gen.ingest_batches(self.seed)
        seen: dict[str, int] = {}
        progress = sj.ProgressRecorder(spark).attach()
        start = time.perf_counter()

        def another() -> bool:
            n = len(seg["cycles"])
            return n < min_cycles or (time.perf_counter() - start) * (n + 1) / n <= seconds

        try:
            while another():
                c, (s0, s1), batch = next(batches)
                op = f"{segment}-{c}"
                rec = {"segment": segment, "c": c, "s0": s0, "s1": s1, "op": op, "lat": {}, "frames": {}}
                t0 = time.perf_counter()
                timed("bench.op", f"{op}-to_td", lambda: compat.to_td(
                    batch, f"{db}.{TABLE}", con, if_exists="append", index=False, time_col="ts"))
                t1 = time.perf_counter()
                q1, q2 = timed("streaming.trigger", f"{op}-trigger", trigger)
                t2 = time.perf_counter()
                for kind, fn in reads.items():
                    t = time.perf_counter()
                    rec["frames"][kind] = timed("bench.op", f"{op}-{kind}", lambda: fn(s0, s1))
                    rec["lat"][kind] = time.perf_counter() - t
                t3 = time.perf_counter()
                seg["batches"].append(batch)
                # listener events arrive asynchronously: collected after
                # the freshness clock stopped
                p1 = self._progress(progress, q1, seen)
                p2 = self._progress(progress, q2, seen)
                dedupe = [s for b in p1 for s in b["stateOperators"] if s["operatorName"] == "dedupe"]
                files, table_bytes = dir_stats(path)
                rec.update(
                    fresh=t3 - t0, to_td_s=t1 - t0, trigger_s=t2 - t1,
                    dedup_in=sum(b["numInputRows"] for b in p1),
                    rollup_in=sum(b["numInputRows"] for b in p2),
                    state_rows=dedupe[-1]["numRowsTotal"] if dedupe else 0,
                    table_files=files, table_bytes=table_bytes,
                )
                if seg["cycles"]:
                    prev = seg["cycles"][-1]
                    rec["files_written"] = files - prev["table_files"]
                    rec["bytes_written"] = table_bytes - prev["table_bytes"]
                else:
                    rec["files_written"], rec["bytes_written"] = files, table_bytes
                seg["cycles"].append(rec)
        finally:
            progress.detach()
        seg["start"] = start
        seg["wall"] = time.perf_counter() - start
        return seg

    @staticmethod
    def _progress(recorder, query, seen: dict, timeout: float = 30.0) -> list[dict]:
        """The recorder's batches of ``query``'s latest run, once the
        listener delivered its last batch."""
        qid = str(query.id)
        last = query.lastProgress["batchId"] if query.lastProgress else seen.get(qid, -1)
        deadline = time.monotonic() + timeout
        while not any(b["id"] == qid and b["batchId"] == last for b in recorder.batches):
            if time.monotonic() > deadline:
                raise RuntimeError(f"no progress event for batch {last} of query {qid}")
            time.sleep(0.02)
        out = [b for b in recorder.batches if b["id"] == qid and seen.get(qid, -1) < b["batchId"] <= last]
        seen[qid] = last
        return out

    # -- correctness ----------------------------------------------------------
    def check(self, state: dict) -> dict:
        """Every cycle's reads against the generated events, then each
        measured table's totals: rows read back = rows uploaded, distinct
        event ids = rows uploaded minus re-sent duplicates."""
        from pandas_td_spark import compat

        failures: list[str] = []
        attempted = 0
        totals = {}
        for name, seg in self.segments.items():
            if name == "warm":
                continue
            uploaded = None
            for rec, batch in zip(seg["cycles"], seg["batches"]):
                b = batch.assign(time=_epoch_s(batch["ts"]))
                uploaded = b if uploaded is None else pd.concat([uploaded, b], ignore_index=True)
                attempted += 1 + len(READS)
                for why in self._verdicts(rec, uploaded):
                    failures.append(f"{rec['op']}: {why}")
            got = compat.read_td_query(
                f"SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS u FROM {TABLE}", seg["engine"])
            n, u = int(got["n"].iloc[0]), int(got["u"].iloc[0])
            dups = len(uploaded) - uploaded["event_id"].nunique()
            attempted += 1
            if n != len(uploaded) or u != len(uploaded) - dups:
                failures.append(f"{name}: read back {n} rows / {u} ids, "
                                f"uploaded {len(uploaded)} with {dups} duplicates")
            rolled = sum(r["rollup_in"] for r in seg["cycles"])
            if rolled != len(uploaded) - dups:
                failures.append(f"{name}: rollup consumed {rolled} rows, {len(uploaded) - dups} distinct uploaded")
            totals[name] = {"cycles": len(seg["cycles"]), "uploaded": len(uploaded), "duplicates": dups}
        return {
            "attempted": attempted,
            "failed": len(failures),
            "segments": totals,
            "failures": failures[:5],
        }

    @staticmethod
    def _verdicts(rec: dict, uploaded: pd.DataFrame) -> list[str]:
        s0, s1 = rec["s0"], rec["s1"]
        out = []
        want = uploaded[(uploaded["time"] >= s0) & (uploaded["time"] < s1)][COLUMNS]
        got = rec["frames"]["r_slice"]
        key = ["event_id", "time", "value"]
        if list(got.columns) != COLUMNS:
            out.append("r_slice: wrong columns")
        elif not got[key].sort_values(key, ignore_index=True).equals(
                want[key].sort_values(key, ignore_index=True)):
            out.append(f"r_slice: {len(got)} rows, {len(want)} uploaded in the newest slice")
        win = uploaded[(uploaded["time"] >= s1 - WINDOW_S) & (uploaded["time"] < s1)]
        agg = win.groupby("event_type").agg(n=("event_id", "size"), u=("event_id", "nunique"),
                                            v=("value", "sum")).reset_index()
        got = rec["frames"]["q_window"]
        if len(got) != len(agg) or not all(
            g.event_type == w.event_type and g.n == w.n and g.u == w.u and _close(g.v, w.v)
            for g, w in zip(got.itertuples(), agg.itertuples())
        ):
            out.append("q_window: aggregate differs from pandas")
        uniq = uploaded.drop_duplicates(["event_id", "ts"])
        uniq = uniq.assign(win=uniq["time"] // ROLLUP_S * ROLLUP_S)
        roll = (uniq[uniq["win"] >= s1 - WINDOW_S]
                .groupby(["win", "event_type"])
                .agg(n=("event_id", "size"), v=("value", "sum")).reset_index())
        got = rec["frames"]["q_rollup"]
        got_win = _epoch_s(got["win_start"]) if len(got) else []
        if len(got) != len(roll) or not all(
            gw == w.win and g.event_type == w.event_type and g.n == w.n and _close(g.total_value, w.v)
            for gw, g, w in zip(got_win, got.itertuples(), roll.itertuples())
        ):
            out.append(f"q_rollup: {len(got)} rollup rows differ from pandas ({len(roll)})")
        return out

    # -- reported numbers -----------------------------------------------------
    def end_to_end(self, seg: dict) -> dict:
        """Rows uploaded per second of the loop, freshness and stored
        bytes per uploaded byte."""
        return {
            "ingest_rows_per_s": seg["rows"] / seg["wall"],
            "freshness_p50_s": statistics.median(seg["fresh"]),
            "stored_bytes_per_input_byte": seg["stored_bytes"] / seg["input_bytes"],
        }

    def op_kinds(self) -> dict:
        return {}

    def layer_counts(self, job_counts: dict) -> tuple[dict, list[str]]:
        """Upload, streaming and per-op counts of the traced cycles; a
        flag for every count that differs from the untimed replay of the
        same batch."""
        med = statistics.median
        traced = self.segments["traced"]["cycles"]
        plain = {r["c"]: r for r in self.segments.get("plain", {"cycles": []})["cycles"]}
        keys = ("dedup_in", "rollup_in", "state_rows", "files_written", "bytes_written")
        flags = [
            f"cycle {r['c']} {k}: traced {r[k]} != plain {plain[r['c']][k]}"
            for r in traced if r["c"] in plain for k in keys if r[k] != plain[r["c"]][k]
        ]
        counts = [job_counts[f"{r['op']}-{k}"] for r in traced for k in READS
                  if f"{r['op']}-{k}" in job_counts]
        return {
            "engine.jobs_per_op": med(j for j, _ in counts),
            "engine.tasks_per_op": med(t for _, t in counts),
            "sources.files_written": med(r["files_written"] for r in traced),
            "sources.bytes_written": med(r["bytes_written"] for r in traced),
            "sources.table_files": traced[-1]["table_files"],
            "streaming.trigger_s": med(r["trigger_s"] for r in traced),
            "streaming.input_rows": med(r["dedup_in"] for r in traced),
            "streaming.state_rows": traced[-1]["state_rows"],
            "streaming.dropped_duplicates": sum(r["dedup_in"] - r["rollup_in"] for r in traced),
        }, flags
