"""analyst_sql: two pandas-td analysts and one event uploader in closed
loops over one shared ``Connection``.

Each client waits for its own reply before sending the next call. One
analyst issues the TPC-H-style templates (join/aggregate, point lookup,
top-k, window), the other the events side (the ``td_*`` time functions
and a ``read_td_table`` scan). Each works in
whole rounds: every template once as a fresh query and once as a repeat
of an earlier query text, so half the calls repeat. Every distinct answer
is checked against DuckDB over the same parquet files.

The third client is ``event_ingest.EventIngest``: it appends event
batches with ``to_td``, advances the streaming rollup and reads the
fresh data back, beside the analysts, so a change that helps their
reads must neither slow its writes nor serve it stale data.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

import pandas as pd

from perfbench import gen
from perfbench.common import run_concurrently, stage_tables
from perfbench.event_ingest import EventIngest

CLIENTS = gen.ANALYST_CLIENTS
DB = "db"
#: rounds generated per client, more than any run issues
ROUNDS = 40


def _sql(p: dict, duck: bool) -> str:
    """The query text of a ``q_*`` op, in Spark (with td_* functions) or
    DuckDB (the same semantics in plain SQL)."""
    k = p["kind"]
    if k == "q_join_agg":
        return (
            "SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue, "
            "COUNT(*) AS n_lines FROM customer "
            "JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            f"WHERE r_name = '{p['region']}' "
            f"AND o_orderdate >= TIMESTAMP '{gen._day(p['d0'])}' "
            f"AND o_orderdate < TIMESTAMP '{gen._day(p['d1'])}' "
            "GROUP BY n_name ORDER BY revenue DESC, n_name"
        )
    if k == "q_point":
        return (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
            f"FROM orders WHERE o_orderkey = {p['k']}"
        )
    if k == "q_topk":
        return (
            "SELECT c_custkey, c_name, c_acctbal FROM customer "
            f"WHERE c_nationkey = {p['n']} "
            f"ORDER BY c_acctbal DESC, c_custkey LIMIT {p['k']}"
        )
    if k == "q_window":
        return (
            "SELECT o_custkey, o_orderkey, o_totalprice, "
            "RANK() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey) AS rnk, "
            "SUM(o_totalprice) OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderdate, o_orderkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running "
            f"FROM orders WHERE o_custkey BETWEEN {p['c0']} AND {p['c0'] + 39}"
        )
    if duck:
        where = f"time >= {p['s']} AND time < {p['e']}"
    else:
        where = f"td_time_range(time, '{gen._ev(p['s'])}', '{gen._ev(p['e'])}')"
    if k == "q_td_range":
        return (
            "SELECT event_type, COUNT(*) AS n, SUM(value) AS v, "
            f"COUNT(DISTINCT user_id) AS users FROM events WHERE {where} "
            "GROUP BY event_type ORDER BY event_type"
        )
    if k == "q_td_trunc":
        day = "(time // 86400) * 86400" if duck else "td_date_trunc('day', time, 'UTC')"
        return (
            f"SELECT {day} AS day, COUNT(*) AS n, SUM(value) AS v "
            f"FROM events WHERE {where} GROUP BY 1 ORDER BY 1"
        )
    if k == "q_td_format":
        hour = (
            "strftime(make_timestamp(time * 1000000), '%Y-%m-%d %H')"
            if duck
            else "td_time_format(time, 'yyyy-MM-dd HH', 'UTC')"
        )
        return (
            f"SELECT {hour} AS hour, COUNT(*) AS n, SUM(value) AS v "
            f"FROM events WHERE {where} GROUP BY 1 ORDER BY 1"
        )
    raise ValueError(k)


def _table_call(p: dict) -> dict:
    """``read_td_table`` arguments of a ``t_*`` op."""
    return {
        "table_name": "events",
        "columns": ["event_id", "time", "user_id", "event_type", "value"],
        "time_range": (p["s"], p["e"]),
        "limit": p["limit"],
    }


def op_key(p: dict) -> str:
    """The text a user would send: SQL for queries, the call for scans."""
    return _sql(p, duck=False) if p["kind"].startswith("q_") else repr(_table_call(p))


# --------------------------------------------------------------------------
# answer comparison
# --------------------------------------------------------------------------


def _cell(v):
    if isinstance(v, pd.Timestamp):
        return v.value
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    return v


def _rows(df: pd.DataFrame) -> list[tuple]:
    return sorted(
        (tuple(_cell(v) for v in r) for r in df.itertuples(index=False, name=None)),
        key=lambda r: tuple((x is None, round(x, 4) if isinstance(x, float) else x) for x in r),
    )


def _same(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


class Oracle:
    """DuckDB over the staged parquet files of one warehouse."""

    def __init__(self, warehouse: str, threads: int) -> None:
        import duckdb

        from pandas_td_spark.sources.io import resolve_data_path

        self.db = duckdb.connect()
        self.db.execute(f"SET threads TO {threads}")
        dbdir = os.path.join(warehouse, DB)
        for name in gen.ANALYST_SIZES:
            data = resolve_data_path(os.path.join(dbdir, f"{name}.parquet"))
            self.db.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data}/*.parquet')"
            )

    def check(self, p: dict, answers: list[pd.DataFrame]) -> list[str | None]:
        """One verdict per answer to the same op: None when correct."""
        if p["kind"].startswith("q_"):
            want = _rows(self.db.execute(_sql(p, duck=True)).df())
            return [None if _same(_rows(a), want) else "answer differs from DuckDB" for a in answers]
        call = _table_call(p)
        s, e = call["time_range"]
        cols = ", ".join(call["columns"])
        full = _rows(
            self.db.execute(
                f"SELECT {cols} FROM {call['table_name']} WHERE time >= {s} AND time < {e}"
            ).df()
        )
        out = []
        for a in answers:
            got = _rows(a)
            if list(a.columns) != call["columns"]:
                out.append("wrong columns")
            elif len(full) <= call["limit"]:
                out.append(None if _same(got, full) else "scan differs from DuckDB")
            else:
                pool = set(full)
                ok = len(got) == call["limit"] and len(set(got)) == len(got) and all(r in pool for r in got)
                out.append(None if ok else "limited scan is not a subset of the range")
        return out


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------


class AnalystSQL:
    name = "analyst_sql"

    def __init__(self, run, seed: int) -> None:
        self.run = run
        self.seed = seed
        self.tables = gen.analyst_tables(seed)
        # each client walks its rounds from the first in every segment, so
        # a traced segment repeats the plain segment's ops and its first
        # round (behind the per-op counts) is the same on every run of a seed
        self.rounds = [gen.analyst_rounds(seed, c, ROUNDS) for c in range(CLIENTS)]
        self.warm_ops = gen.analyst_warm_ops(seed)
        self.ingest = EventIngest(run, seed)
        self.results: list[dict] = []
        self.props = {
            "clients": {"analysts": CLIENTS, "uploaders": 1},
            "loop": "closed, whole rounds",
            "repeat_share": gen.ANALYST_REPEAT_SHARE,
            "kinds": {c: list(gen.analyst_kinds(c)) for c in range(CLIENTS)},
            "table_rows": gen.ANALYST_SIZES,
            "inputs_sha256": gen.digest(*self.tables.values()),
            "ingest": self.ingest.props,
        }

    # -- set-up ---------------------------------------------------------------
    def stage(self, spark, warehouse: str) -> dict:
        tables = {}
        for name, frame in self.tables.items():
            tc = gen.ANALYST_TIME_COLS.get(name)
            tables[name] = (frame, {"time_col": tc, "time_value": None if tc or "time" in frame else 0})
        return dict(stage_tables(spark, warehouse, DB, tables), spark=spark)

    def warm(self, state: dict) -> None:
        """Each analyst's templates once and one upload cycle, all three
        clients at once as in the loop."""
        run_concurrently(
            *((lambda ops: [self._call(p, state["engine"]) for p in ops], ops) for ops in self.warm_ops),
            (self.ingest.warm, state),
        )

    # -- measurement ----------------------------------------------------------
    @staticmethod
    def _call(p: dict, engine) -> pd.DataFrame:
        from pandas_td_spark import compat

        if p["kind"].startswith("q_"):
            return compat.read_td_query(_sql(p, duck=False), engine)
        return compat.read_td_table(engine=engine, **_table_call(p))

    def loop(self, state: dict, seconds: float, segment: str, jobs=None) -> dict:
        """The uploader runs cycles and each analyst whole rounds while
        another one still fits in ``seconds`` (at least one each)."""
        from pandas_td_spark import compat

        tracer = self.run.tracer if jobs is not None else None
        lock = threading.Lock()

        def analyst(c: int) -> None:
            engine = compat.create_engine(f"presto:{DB}", con=state["con"])
            for r, ops in enumerate(self.rounds[c]):
                if r and (time.perf_counter() - start) * (r + 1) / r > seconds:
                    break
                for i, p in enumerate(ops):
                    self._issue(c, r * len(ops) + i, p, segment, engine, tracer, jobs, lock)

        start = time.perf_counter()
        *_, uploads = run_concurrently(
            *((analyst, c) for c in range(CLIENTS)),
            (self.ingest.loop, state, seconds, segment, jobs),
        )
        mine = [r for r in self.results if r["segment"] == segment]
        ok = [r for r in mine if r["error"] is None]
        return {
            "start": start,
            "wall": max(max(r["end"] for r in mine) - start, uploads["wall"]),
            "lat": [r["lat"] for r in ok] + uploads["lat"],
            "by_key": {**{(r["client"], r["i"]): r["lat"] for r in ok},
                       **{("ingest", *k): v for k, v in uploads["by_key"].items()}},
            "rows": sum(r["rows"] for r in mine),
            "ingest": uploads,
        }

    def _issue(self, c: int, i: int, p: dict, segment: str, engine, tracer, jobs, lock) -> None:
        """One call, timed; a failed call is recorded and the loop goes on."""
        rec = {"client": c, "i": i, "segment": segment, "kind": p["kind"], "p": p,
               "repeat": bool(p.get("repeat")), "op": f"{segment}-{c}-{i}"}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = self._call(p, engine)
            else:
                with tracer.span("bench.op", op=rec["op"]), jobs.group(rec["op"]):
                    df = self._call(p, engine)
            rec.update(lat=time.perf_counter() - t0, df=df, rows=len(df), error=None)
            rec["bytes"] = int(df.memory_usage(deep=True).sum())
        except Exception as exc:
            rec.update(lat=time.perf_counter() - t0, df=None, rows=0, bytes=0,
                       error=f"{type(exc).__name__}: {exc}"[:300])
        rec["end"] = time.perf_counter()
        with lock:
            self.results.append(rec)

    # -- correctness ----------------------------------------------------------
    def check(self, state: dict) -> dict:
        oracle = Oracle(state["warehouse"], self.run.cpus)
        by_text: dict[str, list[dict]] = {}
        for r in self.results:
            by_text.setdefault(op_key(r["p"]), []).append(r)
        bad: list[str] = []
        for recs in by_text.values():
            ok = [r for r in recs if r["error"] is None]
            for r, verdict in zip(ok, oracle.check(ok[0]["p"], [r["df"] for r in ok]) if ok else []):
                r["error"] = verdict
            bad += [f"{r['kind']}: {r['error']}" for r in recs if r["error"]]
        oracle.db.close()
        ingest = self.ingest.check(state)
        failed = sum(1 for r in self.results if r["error"])
        return {
            "attempted": len(self.results) + ingest["attempted"],
            "failed": failed + ingest["failed"],
            "analyst_calls": len(self.results),
            "distinct_texts": len(by_text),
            "repeat_calls": sum(1 for r in self.results if r["repeat"]),
            "ingest": ingest,
            "failures": (bad + ingest["failures"])[:5],
        }

    # -- reported numbers -----------------------------------------------------
    def end_to_end(self, seg: dict) -> dict:
        """``docs_per_s`` here is rows returned to the analysts per
        second; the upload metrics are the uploader's."""
        up = self.ingest.end_to_end(seg["ingest"])
        up["docs_per_s"] = seg["rows"] / seg["wall"]
        return up

    def op_kinds(self) -> dict:
        return {r["op"]: r["kind"] for r in self.results}

    def layer_counts(self, job_counts: dict) -> tuple[dict, list[str]]:
        """Per-op result sizes and job/task counts over each analyst's
        first traced round, the uploader's counts, and a flag for every
        repeated query text whose counts differ from its first issue's
        (counts must repeat exactly)."""
        first = [r for r in self.results if r["segment"] == "traced"
                 and r["i"] < 2 * len(gen.analyst_kinds(r["client"])) and r["df"] is not None]
        counts, flags = self.ingest.layer_counts(job_counts)
        seen: dict[str, tuple] = {}
        for r in sorted(first, key=lambda r: (r["client"], r["i"])):
            got = (r["rows"], job_counts.get(r["op"]))
            want = seen.setdefault(op_key(r["p"]), got)
            if got != want:
                flags.append(f"{r['op']} ({r['kind']}): {got} != {want} on an earlier issue")
        jobs = [job_counts[r["op"]] for r in first if r["op"] in job_counts]
        counts.update({
            "engine.jobs_per_op": statistics.median(j for j, _ in jobs),
            "engine.tasks_per_op": statistics.median(t for _, t in jobs),
            "compat.rows_fetched": statistics.median(r["rows"] for r in first),
            "compat.bytes_fetched": statistics.median(r["bytes"] for r in first),
        })
        return counts, flags
