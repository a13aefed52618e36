"""Structured Streaming tests (SURVEY.md §5 item 4): replay events.parquet
through a file source with Trigger.AvailableNow and check streaming results
against their batch twins; exercise watermark dedup and the idempotent sink.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_td_spark.streaming.jobs import (
    dedup_stream,
    events_stream,
    sessionized_counts,
    tumbling_counts,
    write_idempotent_parquet,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def staged(spark):
    """Stage events as µs-timestamp parquet split into several files (the
    fixture's TIMESTAMP(NANOS) isn't readable by the streaming reader)."""
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF)
    d = tempfile.mkdtemp(prefix="events_stream_")
    spark.table("events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def _name() -> str:
    return "t" + uuid.uuid4().hex[:8]


def run_to_memory(
    df: DataFrame, name: str, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Test helper: drain an availableNow stream into an in-memory table
    and return it as a batch DataFrame. ``output_mode``: "complete" for
    aggregations (append would hold back windows the watermark hasn't
    finalized when the stream ends), "append" for row-level streams."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_tumbling_counts_match_batch(spark, staged):
    stream = events_stream(spark, staged, max_files_per_trigger=1)
    got = run_to_memory(tumbling_counts(stream), _name(), spark).toPandas()
    batch = spark.read.parquet(staged)
    want = (
        batch.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
        .toPandas()
    )
    key = ["win_start", "win_end", "event_type"]
    got = got.sort_values(key, ignore_index=True)
    want = want.sort_values(key, ignore_index=True)
    assert got.equals(want[got.columns])


def test_session_windows_match_batch(spark, staged):
    # staged files are round-robin (each spans the whole month), so later
    # micro-batches deliver events behind the watermark; a watermark wider
    # than the fixture's 30-day span keeps every session alive so the
    # drained result is comparable to the batch twin. (With the default 1h
    # watermark, eviction of finalized sessions was observed — correct
    # semantics, but not what this equivalence test measures.)
    stream = events_stream(spark, staged, max_files_per_trigger=1)
    got = run_to_memory(
        sessionized_counts(stream, watermark="60 days"), _name(), spark
    ).toPandas()
    batch = spark.read.parquet(staged)
    want = (
        batch.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
        .toPandas()
    )
    key = ["user_id", "session_start"]
    got = got.sort_values(key, ignore_index=True)
    want = want.sort_values(key, ignore_index=True)
    assert got.equals(want[got.columns])


def test_streaming_dedup_drops_replayed_files(spark, staged):
    """Same events delivered twice (two file copies) → exactly-once out."""
    d = tempfile.mkdtemp(prefix="events_dup_")
    batch = spark.read.parquet(staged)
    batch.write.mode("append").parquet(d)
    batch.write.mode("append").parquet(d)  # duplicate delivery
    stream = events_stream(spark, d, max_files_per_trigger=2)
    got = run_to_memory(
        dedup_stream(stream), _name(), spark, output_mode="append"
    )
    assert got.count() == batch.count()
    assert got.select("event_id").distinct().count() == batch.count()


def test_idempotent_sink_overwrites_batch_partition(spark, staged):
    out = tempfile.mkdtemp(prefix="sink_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    stream = events_stream(spark, staged)
    q = write_idempotent_parquet(stream, out, ckpt).start()
    q.awaitTermination()
    n1 = spark.read.parquet(out).count()
    assert n1 == spark.read.parquet(staged).count()
    # replay from a fresh checkpoint (simulates redelivery of every batch):
    # dynamic partition overwrite must keep the row count stable, not double
    ckpt2 = tempfile.mkdtemp(prefix="ckpt2_")
    q2 = write_idempotent_parquet(events_stream(spark, staged), out, ckpt2).start()
    q2.awaitTermination()
    n2 = spark.read.parquet(out).count()
    assert n2 == n1


def test_late_beyond_watermark_rows_are_dropped(spark):
    """T5 hard case: rows arriving after the watermark passed their window
    must be DROPPED from the aggregation (bounded state), and the drop is
    observable in the state-operator metrics."""
    import time as _t

    import pandas as pd

    d = tempfile.mkdtemp(prefix="late_")

    def _file(name, rows, mtime):
        pdf = pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": [pd.Timestamp(t) for t, _ in rows],
                "user_id": [1] * len(rows),
                "event_type": [e for _, e in rows],
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        import shutil

        sdf = spark.createDataFrame(pdf)
        tmp = tempfile.mkdtemp(prefix="late_tmp_")
        sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        # the file source does not recurse into subdirectories — deliver a
        # flat file whose mtime controls trigger order
        path = os.path.join(d, f"{name}.parquet")
        shutil.move(os.path.join(tmp, part), path)
        os.utime(path, (mtime, mtime))
        return path

    now = _t.time()
    # batch 0: 09:00-12:00 traffic → watermark advances to 11:50 at its end
    _file(
        "a",
        [("2024-01-01 09:05:00", "click"), ("2024-01-01 12:00:00", "click")],
        now - 100,
    )
    # batch 1: on-time row; watermark (11:50) now closes + evicts the
    # 09:00-09:10 window. (A late row in THIS batch would still merge:
    # within a batch Spark aggregates first, then evicts — the drop only
    # protects windows evicted in EARLIER batches.)
    _file("b", [("2024-01-01 12:01:00", "click")], now - 50)
    # batch 2: 3-hours-late row for the already-evicted window → dropped
    _file("c", [("2024-01-01 09:06:00", "click")], now)

    agg = tumbling_counts(
        events_stream(spark, d, max_files_per_trigger=1),
        window="10 minutes",
        watermark="10 minutes",
    )
    name = _name()
    # append mode: only watermark-finalized windows emit, and state for
    # them is evicted — the mode in which late data is actually dropped
    # (complete mode retains all state forever and never drops)
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
    )
    assert dropped == 1, f"expected exactly the late row dropped, got {dropped}"
    out = spark.table(name).toPandas()
    w9 = out[out.win_start == pd.Timestamp("2024-01-01 09:00:00")]
    assert w9.n.tolist() == [1], "late row must not re-open the 09:00 window"
    # the 12:0x window ends after the final watermark (11:51) — withheld,
    # so the emitted output is exactly the finalized early window
    assert out.win_start.max() < pd.Timestamp("2024-01-01 12:00:00")


def test_kill_restart_checkpoint_recovery_exactly_once(spark, staged):
    """T8 across restarts: stop a running query, restart from the same
    checkpoint over the same+new input — every input row lands in the sink
    exactly once (no loss, no duplication), including for batches that were
    in flight at stop time."""
    import shutil
    import time as _t

    src = tempfile.mkdtemp(prefix="kr_src_")
    out = tempfile.mkdtemp(prefix="kr_out_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="kr_ckpt_")

    files = sorted(
        f for f in os.listdir(staged) if f.endswith(".parquet")
    )
    assert len(files) >= 4
    for f in files[:2]:
        shutil.copy(os.path.join(staged, f), os.path.join(src, f))

    # run 1: process the first two files, then "kill" as soon as progress
    # is visible (stop() interrupts whatever is in flight)
    q1 = write_idempotent_parquet(
        events_stream(spark, src, max_files_per_trigger=1), out, ckpt
    ).start()
    deadline = _t.time() + 60
    while not q1.recentProgress and _t.time() < deadline:
        _t.sleep(0.2)
    q1.stop()
    q1.awaitTermination()

    # deliver two more files, restart from the SAME checkpoint
    for f in files[2:4]:
        shutil.copy(os.path.join(staged, f), os.path.join(src, f))
    q2 = write_idempotent_parquet(
        events_stream(spark, src, max_files_per_trigger=1), out, ckpt
    ).start()
    q2.awaitTermination()

    want = spark.read.parquet(
        *[os.path.join(staged, f) for f in files[:4]]
    ).count()
    got = spark.read.parquet(out)
    assert got.count() == want, "exactly-once across kill/restart"
    assert got.select("event_id").distinct().count() == want

    # second restart with no new input: a pure no-op
    q3 = write_idempotent_parquet(
        events_stream(spark, src, max_files_per_trigger=1), out, ckpt
    ).start()
    q3.awaitTermination()
    assert spark.read.parquet(out).count() == want


def test_progress_recorder_captures_batches_and_state(spark, staged):
    """M5 streaming twin: per-batch progress must account for every input
    row and expose state-operator metrics for a stateful query."""
    from pandas_td_spark.streaming.jobs import ProgressRecorder, tumbling_counts

    total = spark.read.parquet(staged).count()
    with ProgressRecorder(spark) as rec:
        stream = events_stream(spark, staged, max_files_per_trigger=1)
        name = _name()
        q = (
            tumbling_counts(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        qid = str(q.id)
        # the listener is session-global and its bus is ASYNC: progress
        # events can still be in flight after awaitTermination returns.
        # Poll (while still attached) until every input row is accounted
        # for, filtering to this query's id (other tests' queries may
        # emit events into the same window).
        mine = rec.wait_for_rows(qid, total)
    assert len(mine) >= 1
    assert sum(b["numInputRows"] for b in mine) == total
    stateful = [b for b in mine if b["stateOperators"]]
    assert stateful, "stateful aggregation must report state operators"
    assert all(
        s["numRowsTotal"] >= 0 and "numRowsDroppedByWatermark" in s
        for b in stateful
        for s in b["stateOperators"]
    )
    assert all("addBatch" in b["durationMs"] for b in mine)


def test_incremental_rollup_stream_matches_cold_rebuild(spark, staged):
    """The batch MV-maintenance operator (operators/incremental.py) is
    the state half of a streaming refresh: replay events file-by-file
    through foreachBatch, merging each micro-batch's partial aggregate
    into a running state table with merge_agg_states, and the final
    state must equal the cold full-table rebuild — the exactly-once
    refresh loop a 100 TB rollup runs on new partitions."""
    import tempfile

    from pandas_td_spark.operators.incremental import merge_agg_states

    spec = {"n": "count", "v_sum": "sum", "first_e": "min", "last_e": "max"}

    def agg_of(df):
        return df.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "v_sum"
            ),
            F.min("event_id").alias("first_e"),
            F.max("event_id").alias("last_e"),
        )

    state_dir = tempfile.mkdtemp(prefix="rollup_state_")
    state_path = os.path.join(state_dir, "state.parquet")

    def refresh(batch_df, batch_id):
        delta = agg_of(batch_df)
        if os.path.exists(state_path):
            prev = batch_df.sparkSession.read.parquet(state_path)
            merged = merge_agg_states(
                [prev, delta], keys=["user_id"], spec=spec
            )
        else:
            merged = delta
        # collect-to-driver then rewrite keeps the test simple; a real
        # refresh writes merged state to a NEW snapshot dir + atomic swap
        # (sources/io.py manifest protocol)
        rows = merged.toPandas()
        batch_df.sparkSession.createDataFrame(
            rows, schema=merged.schema
        ).coalesce(1).write.mode("overwrite").parquet(state_path)

    stream = events_stream(spark, staged, max_files_per_trigger=1)
    q = stream.writeStream.foreachBatch(refresh).trigger(
        availableNow=True
    ).option(
        "checkpointLocation", os.path.join(state_dir, "ckpt")
    ).start()
    q.awaitTermination(120)

    got = spark.read.parquet(state_path)
    want = agg_of(spark.read.parquet(staged))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# ---------------------------------------------------------------------------
# T9 x L2 (r12): streaming near-dup dedup against a static band index.
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def staged_docs(spark):
    """Documents split into an INDEX half (even doc_id — the corpus
    snapshot) and a STREAM half (odd doc_id + replayed copies of three
    index docs under new ids/timestamps — planted known near-dups)."""
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF)
    docs = spark.table("documents").select("doc_id", "source", "text")
    index_half = docs.where(F.col("doc_id") % 2 == 0)
    ts = F.to_timestamp(
        F.lit("2024-01-01 00:00:00")
    ) + F.make_interval(mins=(F.col("doc_id") % 120).cast("int"))
    planted = (
        index_half.orderBy("doc_id")
        .limit(3)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            "source",
            "text",
        )
    )
    stream_half = (
        docs.where(F.col("doc_id") % 2 == 1)
        .unionByName(planted)
        .select("doc_id", ts.alias("ts"), "source", "text")
    )
    d = tempfile.mkdtemp(prefix="docs_stream_")
    stream_half.repartition(3).write.mode("overwrite").parquet(d)
    return d, index_half


def test_band_rows_parity_with_batch_signature_path(spark):
    """minhash_band_rows (row-local, streaming-safe) must emit exactly
    the (doc_id, band_idx, band_key) set of the shuffle-aggregated
    batch path — same md5 fold, same affine family, same structs."""
    from pandas_td_spark.operators.dedup import (
        _band_struct_array,
        minhash_band_rows,
        minhash_signatures,
    )
    from pandas_td_spark.sources.io import register_views

    register_views(spark, SF)
    docs = spark.table("documents").limit(200)
    batch = minhash_signatures(docs).select(
        "doc_id",
        F.posexplode(_band_struct_array(32, 8)).alias(
            "band_idx", "band_key"
        ),
    )
    local = minhash_band_rows(docs)
    assert batch.exceptAll(local).count() == 0
    assert local.exceptAll(batch).count() == 0


def test_known_near_dup_stream_matches_batch_and_flags_planted(
    spark, staged_docs
):
    from pandas_td_spark.operators.dedup import minhash_band_rows
    from pandas_td_spark.streaming.jobs import (
        docs_stream,
        known_near_dup_stream,
        lsh_band_index,
    )

    d, index_half = staged_docs
    idx = lsh_band_index(index_half)
    stream = docs_stream(spark, d, max_files_per_trigger=1)
    # watermark must cover the fixture's full 2 h ts spread: with
    # maxFilesPerTrigger=1 the watermark advances between micro-batches
    # and a shorter horizon would (correctly) drop late files as late
    # data — late-drop semantics are covered by the dedup_stream test
    got = run_to_memory(
        known_near_dup_stream(stream, idx, watermark="3 hours"),
        _name(),
        spark,
        output_mode="append",
    ).toPandas()
    # batch twin: distinct stream-half ids with any band in the index
    batch_docs = spark.read.parquet(d)
    want = {
        r.doc_id
        for r in minhash_band_rows(batch_docs, extra_cols=("ts",))
        .join(idx, ["band_idx", "band_key"], "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert set(got["doc_id"]) == want
    # every planted replay (verbatim copy of an index doc) is flagged
    assert {i for i in want if i >= 1_000_000} == set(
        got[got["doc_id"] >= 1_000_000]["doc_id"]
    )
    assert len({i for i in got["doc_id"] if i >= 1_000_000}) == 3
    # one verdict row per flagged doc (the dropDuplicates collapsed the
    # multi-band hits)
    assert len(got) == len(set(got["doc_id"]))


def test_known_near_dup_index_refresh_contract(spark, staged_docs):
    """T10 hardening (r13): the static band index is SNAPSHOT-pinned —
    a concurrent atomic replace does not disturb a running stream's
    version (keep_versions >= 2 retains it), and the refresh recipe is
    restart-on-current-snapshot with the same checkpoint (dedup state
    survives, already-flagged ids are not re-emitted)."""
    import shutil

    from pandas_td_spark.sources.io import (
        read_snapshot,
        table_versions,
        write_table,
    )
    from pandas_td_spark.streaming.jobs import (
        docs_stream,
        known_near_dup_stream,
        lsh_band_index,
    )

    d, index_half = staged_docs
    base = tempfile.mkdtemp(prefix="band_index_")
    idx_dir = os.path.join(base, "idx")
    write_table(
        lsh_band_index(index_half), idx_dir,
        if_exists="replace", time_value=0, keep_versions=2,
    )
    static_v1 = read_snapshot(spark, idx_dir, 0).drop("time")
    n_v1 = static_v1.count()
    assert n_v1 > 0

    ckpt = os.path.join(base, "ckpt")
    sink = os.path.join(base, "out")

    def drain() -> set:
        # file sink, not memory: restart-from-checkpoint (the refresh
        # recipe under test) requires a recoverable sink
        q = (
            known_near_dup_stream(
                docs_stream(spark, d, max_files_per_trigger=1),
                read_snapshot(spark, idx_dir, 0).drop("time"),
                watermark="3 hours",
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.doc_id for r in spark.read.parquet(sink).collect()}

    flagged_v1 = drain()
    assert {i for i in flagged_v1 if i >= 1_000_000}  # planted dups hit

    # concurrent rebuild: replace the index with an EMPTY snapshot
    write_table(
        lsh_band_index(index_half.limit(0)), idx_dir,
        if_exists="replace", time_value=0, keep_versions=2,
    )
    assert len(table_versions(idx_dir)) == 2
    # snapshot isolation: the stream's pinned v1 frame still reads in
    # full after the replace (its version dir was retained)
    assert static_v1.count() == n_v1
    # the current snapshot is the new (empty) index
    assert read_snapshot(spark, idx_dir, 0).count() == 0

    # refresh recipe: restart on the current snapshot with the SAME
    # checkpoint — new stream files would join against v2; the already-
    # processed files are not replayed and flagged ids not re-emitted
    extra = spark.createDataFrame(
        [(2_000_000, "replay", "x")], "doc_id long, source string, text string"
    ).select(
        "doc_id",
        F.to_timestamp(F.lit("2024-01-01 01:00:00")).alias("ts"),
        "source",
        "text",
    )
    extra.write.mode("append").parquet(d)
    flagged_v2 = drain()
    # empty index -> the new file flags nothing; no duplicates of v1 rows
    assert flagged_v2 == flagged_v1
    shutil.rmtree(base, ignore_errors=True)


def test_known_near_dup_state_bounded_by_watermark(spark):
    """T10 hardening (r13): the ONLY stateful operator is the per-doc
    dropDuplicatesWithinWatermark — pin that its state is bounded by the
    flagged docs inside the watermark horizon (eviction works), not by
    stream length: after draining files whose event times span many
    horizons, the final state row count must be far below the total
    flagged count."""
    from pandas_td_spark.sources.io import register_views
    from pandas_td_spark.streaming.jobs import (
        ProgressRecorder,
        docs_stream,
        known_near_dup_stream,
        lsh_band_index,
    )

    register_views(spark, SF)
    docs = spark.table("documents").select("doc_id", "source", "text")
    index = docs  # every doc is in the index -> every arrival is flagged
    # 4 files, each a later "day": ts spread >> the 30-minute watermark
    d = tempfile.mkdtemp(prefix="docs_state_")
    for day in range(4):
        (
            docs.where(F.col("doc_id") % 4 == day)
            .select(
                "doc_id",
                (
                    F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                    + F.make_interval(days=F.lit(day))
                ).alias("ts"),
                "source",
                "text",
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(d)
        )
    idx = lsh_band_index(index)
    with ProgressRecorder(spark) as rec:
        q = (
            known_near_dup_stream(
                docs_stream(spark, d, max_files_per_trigger=1),
                idx,
                watermark="30 minutes",
            )
            .writeStream.format("memory")
            .queryName(_name())
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    state_rows = [
        op.get("numRowsTotal", 0)
        for b in rec.batches
        for op in b.get("stateOperators", [])
    ]
    assert state_rows, "no state progress recorded"
    n_docs = docs.count()
    # every doc flags (index = full corpus), but state never approaches
    # the full flagged count: old horizons evict as the watermark passes
    assert max(state_rows) < n_docs
    # and the final batch's state holds at most one horizon's docs
    assert state_rows[-1] <= n_docs / 2
