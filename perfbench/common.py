"""Shared run machinery: the run context (scratch space inside the
checkout, session set-up), latency statistics, memory and job counters,
and the outside-in tracer.

Nothing here reaches into the program's internals: the tracer wraps the
public functions of each layer from the outside, and job/task counts come
from ``SparkContext.setJobGroup`` + ``statusTracker`` (the method of
``tools/floor_probe.py``).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import threading
import time
from collections import defaultdict



def quantile(values, q: float) -> float:
    """Inclusive linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    if len(v) == 1:
        return float(v[0])
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (``VmHWM``) of a live process, in kB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's ``.crc``/``_SUCCESS``
    side files count in bytes (they are stored) but not as data files."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            if n.endswith(".parquet"):
                files += 1
    return files, size


def stage_tables(spark, warehouse: str, db: str, tables: dict) -> dict:
    """Upload ``{name: (frame, to_td kwargs)}`` into ``warehouse/db`` with
    plain ``to_td(if_exists="replace")`` calls, then confirm every row is
    readable with one ``read_td_query`` COUNT over all tables.

    Returns the connection, an engine on ``db`` and the upload figures:
    rows, seconds inside ``to_td``, freshness (first ``to_td`` call until
    the COUNT saw every row), deep in-memory bytes and stored bytes."""
    from pandas_td_spark import compat

    con = compat.connect(warehouse=warehouse, spark=spark)
    engine = compat.create_engine(f"presto:{db}", con=con)
    t0 = time.perf_counter()
    to_td_s = 0.0
    for name, (frame, kwargs) in tables.items():
        t1 = time.perf_counter()
        compat.to_td(frame, f"{db}.{name}", con, if_exists="replace", index=False, **kwargs)
        to_td_s += time.perf_counter() - t1
    counts = compat.read_td_query(
        "SELECT " + ", ".join(f"(SELECT COUNT(*) FROM {n}) AS {n}" for n in tables), engine
    )
    fresh = time.perf_counter() - t0
    for name, (frame, _) in tables.items():
        if int(counts[name].iloc[0]) != len(frame):
            raise RuntimeError(f"{name}: {counts[name].iloc[0]} rows readable, uploaded {len(frame)}")
    files, stored = dir_stats(os.path.join(warehouse, db))
    return {
        "con": con,
        "engine": engine,
        "warehouse": warehouse,
        "upload": {
            "rows": sum(len(f) for f, _ in tables.values()),
            "to_td_s": to_td_s,
            "fresh_s": fresh,
            "input_bytes": sum(int(f.memory_usage(deep=True).sum()) for f, _ in tables.values()),
            "stored_bytes": stored,
            "files": files,
        },
    }


def staging_metrics(upload: dict) -> dict:
    """The upload end-to-end metrics of a workload whose only writes are
    its staged inputs."""
    return {
        "ingest_rows_per_s": upload["rows"] / upload["to_td_s"],
        "freshness_p50_s": upload["fresh_s"],
        "stored_bytes_per_input_byte": upload["stored_bytes"] / upload["input_bytes"],
    }


def run_concurrently(*calls, timeout: float = 600.0) -> list:
    """Run each ``(fn, *args)`` in a thread of its own, wait for all, and
    return their results in order; raise if any of them failed."""
    results: list = [None] * len(calls)
    errors: list[BaseException] = []

    def one(i: int, fn, *args) -> None:
        try:
            results[i] = fn(*args)
        except BaseException as exc:
            errors.append(exc)

    threads = [threading.Thread(target=one, args=(i, *c), daemon=True) for i, c in enumerate(calls)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=timeout)
    if errors or any(t.is_alive() for t in threads):
        raise RuntimeError(f"client failed: {errors!r}")
    return results


class Run:
    """One benchmark process: scratch directories under the checkout, the
    Spark session and its JVM, set-up timing, and teardown."""

    def __init__(self, root: str, trace: bool) -> None:
        self.root = root
        self.work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
        for d in ("tmp", "local"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        self.cpus = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # the short-lived JVM that launches the driver would leave its
        # performance-data file under /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.confs = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            # the serial collector sizes the heap from the live data, not
            # from pause times, so the JVM's peak resident set repeats
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData -XX:+UseSerialGC"
            ),
        }
        self.tracer = Tracer() if trace else None
        self.spark = None
        self.jvm = None
        self.session_s = 0.0
        self.stage_s = 0.0
        self.warm_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def build_session(self):
        # through the module attribute, so a traced run sees the call
        from pandas_td_spark.engine import session

        self.spark = session.get_spark(app_name="perfbench", extra_confs=self.confs)
        if self.jvm is None:
            self.jvm = self.spark.sparkContext._gateway.proc
        return self.spark

    def set_up(self, stage, warm):
        """Build the session (which launches the JVM), stage the inputs
        into a fresh warehouse and warm up, each timed."""
        t0 = time.perf_counter()
        spark = self.build_session()
        t1 = time.perf_counter()
        state = stage(spark, self.path("warehouse"))
        t2 = time.perf_counter()
        warm(state)
        self.session_s, self.stage_s, self.warm_s = t1 - t0, t2 - t1, time.perf_counter() - t2
        return state

    def setup_metrics(self) -> dict:
        """``setup_s`` = session build + staging + warm-up."""
        return {
            "setup_s": self.session_s + self.stage_s + self.warm_s,
            "setup.session_s": self.session_s,
            "setup.stage_s": self.stage_s,
            "setup.warm_s": self.warm_s,
        }

    def peak_rss_mb(self) -> dict:
        """Peak resident sets so far, in MB: this process, its JVM, sum."""
        py, jvm = vm_hwm_kb(os.getpid()) / 1024.0, vm_hwm_kb(self.jvm.pid) / 1024.0
        return {"python": py, "jvm": jvm, "total": py + jvm}

    def close(self) -> None:
        """Stop the session, the py4j gateway and the JVM, wait for the
        JVM to exit, and remove the scratch directories."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                self.spark.stop()
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
        finally:
            if self.jvm is not None:
                with contextlib.suppress(OSError):
                    self.jvm.stdin.close()
                try:
                    self.jvm.wait(timeout=30)
                except Exception:
                    self.jvm.kill()
                    self.jvm.wait(timeout=30)
            shutil.rmtree(self.work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(self.work))


class JobCounter:
    """Jobs and tasks per op: each op runs under its own job group and the
    counts are read from ``statusTracker`` once the listener bus drained."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.groups: dict[str, str] = {}
        self._n = itertools.count()

    @contextlib.contextmanager
    def group(self, label: str):
        gid = f"pb-{next(self._n)}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield
        finally:
            self.sc.setJobGroup(None, None)
            self.groups[label] = gid

    def counts(self) -> dict[str, tuple[int, int]]:
        """{op label: (jobs, tasks)} over every recorded group."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(1.0)
        st = self.sc.statusTracker()
        out = {}
        for label, gid in self.groups.items():
            jobs = st.getJobIdsForGroup(gid) or []
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    tasks += si.numTasks if si else 0
            out[label] = (len(jobs), tasks)
        return out


class Tracer:
    """In-memory spans around calls into the program's layers.

    A span is (id, name, start, end, parent, op); children nest within
    their parent on the same thread, so a span's self time is its
    duration minus its children's durations. Spans are only kept in
    memory and summarized when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``after`` (applied to
        the result inside the span) materializes lazy results."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                return after(out) if after is not None else out

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        """Write every span, one JSON object a line."""
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["start"] >= since]

    def self_times(self, since: float = 0.0) -> dict[str, float]:
        """Total self time per layer (the span name's first component)
        over spans that started at or after ``since``."""
        spans = [s for s in self.spans if s["start"] >= since]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"].split(".")[0]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)


def instrument(tracer: Tracer) -> None:
    """Wrap each layer's public entry points the workloads reach."""
    import pandas_td_spark.compat as compat
    import pandas_td_spark.functions.presto_compat as presto
    import pandas_td_spark.functions.td as tdf
    import pandas_td_spark.sources.io as sio
    from pandas_td_spark.engine import session

    tracer.wrap(session, "get_spark", "engine.session_build")
    tracer.wrap(tdf, "register_td_functions", "functions.register")
    tracer.wrap(presto, "register_presto_functions", "functions.register")
    tracer.wrap(compat.QueryEngine, "execute", "compat.execute")
    tracer.wrap(compat.ResultProxy, "to_dataframe", "compat.fetch")
    tracer.wrap(compat, "to_td", "compat.to_td")
    # compat binds the sources functions at import; wrap both bindings
    tracer.wrap(compat, "_read_table", "sources.read_table")
    tracer.wrap(compat, "_write_table", "sources.write_table")
    tracer.wrap(sio, "read_table", "sources.read_table")
