"""Structured Streaming over the events table (SURVEY.md §2.9).

The reference had ingest-only streaming — ``pandas_td/td.py::
StreamingUploader`` chunked msgpack.gz uploads with per-chunk unique ids
for at-least-once idempotency (UNVERIFIED, /root/reference empty). This
module supplies the *processing* side the north star requires, plus an
idempotent sink (T8) that reproduces the uploader's exactly-once-effective
semantics with checkpoints + deterministic batch overwrite.

Every builder takes a batch-or-streaming DataFrame where possible so the
same logic is testable in both modes; tests replay ``events.parquet``
through a file source with ``Trigger.AvailableNow`` and compare against
the batch twins (tests/test_streaming.py).

Scale notes: all aggregations are keyed on (window, low-cardinality key) —
state size is bounded by watermark horizon × key cardinality, independent
of input volume; dropDuplicates state is bounded by the watermark (T6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "EVENTS_SCHEMA",
    "DOCS_STREAM_SCHEMA",
    "events_stream",
    "docs_stream",
    "tumbling_counts",
    "sessionized_counts",
    "dedup_stream",
    "lsh_band_index",
    "known_near_dup_stream",
    "write_idempotent_parquet",
    "ProgressRecorder",
]

#: events fixture schema (FIXTURES.md) — file-source streams cannot infer.
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_stream(
    spark: SparkSession,
    directory: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """T1: file-source stream of events parquet files in ``directory``.

    ``ts`` must be stored as a type Spark reads as TIMESTAMP: INT96 or
    TIMESTAMP(MICROS/MILLIS). ``to_td`` uploads store it as the session's
    ``spark.sql.parquet.outputTimestampType`` (INT96 by default), as a
    Spark write does, and land each file with one rename under a name the
    source picks up only once it is whole. The sf fixtures store
    TIMESTAMP(NANOS), which the streaming parquet reader surfaces as
    BIGINT under nanosAsLong, so tests stage a µs-precision copy.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(directory)


def tumbling_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """T2+T5: tumbling event-time windows with late-data bound."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
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
    )


def sessionized_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """T4: session windows per user — the streaming twin of
    ``td_sessionize`` (operators/sessionize.py); state closes once the
    watermark passes session end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T6: drop duplicate event_ids with watermark-bounded state — the
    processing-side replacement for the reference uploader's unique-id
    at-least-once dedup."""
    return events.withWatermark("ts", watermark).dropDuplicates(
        ["event_id", "ts"]
    )


def write_idempotent_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """T8: exactly-once-effective sink.

    ``foreachBatch`` + deterministic ``batch_id`` partition overwrite: a
    replayed micro-batch rewrites its own partition rather than appending
    twice — the Spark-native analogue of the reference's per-chunk
    ``unique_id`` upload idempotency (td.py::StreamingUploader,
    UNVERIFIED). Requires dynamic partition overwrite so only the replayed
    batch's partition is touched.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(path)
        )

    writer = df.writeStream.foreachBatch(_write).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer


class ProgressRecorder:
    """Per-batch streaming progress surface (M5's streaming twin).

    Wraps ``StreamingQueryListener``: records one dict per finished
    micro-batch — batch id, input rows, processing rate, per-operator
    state rows and watermark-dropped rows — the numbers an operator
    dashboard actually charts. Listener callbacks run on the driver's
    listener bus (cheap accounting only; never block — a slow listener
    backs up the bus). Use :meth:`attach` / :meth:`detach`, or the
    context-manager form::

        with ProgressRecorder(spark) as rec:
            ... run query ...
        rec.batches  # [{"batchId": 0, "numInputRows": 1000, ...}, ...]
    """

    def __init__(self, spark: SparkSession) -> None:
        from pyspark.sql.streaming.listener import StreamingQueryListener

        self._spark = spark
        self.batches: list[dict] = []
        recorder = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                recorder.batches.append(
                    {
                        "id": str(p.id),
                        "batchId": p.batchId,
                        "numInputRows": p.numInputRows,
                        "processedRowsPerSecond": p.processedRowsPerSecond,
                        "durationMs": dict(p.durationMs),
                        "stateOperators": [
                            {
                                "operatorName": s.operatorName,
                                "numRowsTotal": s.numRowsTotal,
                                "numRowsDroppedByWatermark": (
                                    s.numRowsDroppedByWatermark
                                ),
                            }
                            for s in p.stateOperators
                        ],
                    }
                )

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._listener = _L()

    def attach(self) -> "ProgressRecorder":
        self._spark.streams.addListener(self._listener)
        return self

    def detach(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def __enter__(self) -> "ProgressRecorder":
        return self.attach()

    def __exit__(self, *exc) -> None:
        self.detach()

    @property
    def total_input_rows(self) -> int:
        return sum(b["numInputRows"] for b in self.batches)

    def wait_for_rows(
        self, query_id: str, expected_rows: int, timeout: float = 30.0
    ) -> list[dict]:
        """Block until the recorded batches for ``query_id`` account for
        ``expected_rows`` input rows, then return them.

        The listener bus delivers progress events asynchronously —
        ``awaitTermination`` returning does NOT mean every batch's event
        has reached Python yet. Poll instead of asserting immediately.
        """
        import time

        deadline = time.monotonic() + timeout
        while True:
            mine = [b for b in self.batches if b["id"] == query_id]
            if sum(b["numInputRows"] for b in mine) >= expected_rows:
                return mine
            if time.monotonic() >= deadline:
                return mine
            time.sleep(0.2)


# ---------------------------------------------------------------------------
# T9 x L2 — streaming near-dup dedup against a corpus snapshot (r12).
# The realistic 100 TB ingestion pattern: yesterday's corpus is a STATIC
# banded-MinHash index (rebuilt by a batch job at whatever cadence);
# today's crawl streams in, and every incoming document is flagged the
# moment any of its band keys collides with the index. The banding runs
# ROW-LOCALLY (operators/dedup.py::minhash_band_rows — the same
# seeded-md5 family and band structs as the oracle-checked q53 batch
# path, parity pinned in tests), the index join is stream-static
# LEFT SEMI (stateless on the stream side), and the only state is the
# per-doc dropDuplicatesWithinWatermark that collapses a doc's multiple
# band hits to one verdict row — bounded by the watermark horizon.
# ---------------------------------------------------------------------------

#: documents-as-a-stream schema: the batch fixture's (doc_id, text) plus
#: the arrival timestamp an ingestion pipeline always carries.
DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("source", StringType()),
        StructField("text", StringType()),
    ]
)


def docs_stream(
    spark: SparkSession,
    directory: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of document parquet files (DOCS_STREAM_SCHEMA)."""
    reader = spark.readStream.schema(DOCS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(directory)


def lsh_band_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Batch builder of the static near-dup index: the DISTINCT
    (band_idx, band_key) set of a corpus snapshot. Runs the shuffle-
    aggregated signature path (partial aggregation collapses shingles
    map-side — the right batch shape), then drops doc ids: the streaming
    consumer only needs membership. Persist with ``write_table`` at
    whatever cadence the corpus rebuilds.

    STALENESS / REFRESH CONTRACT (r13, VERDICT r12 #10). A live stream
    joins against the SNAPSHOT its static frame was built from — Spark
    re-scans the static side per micro-batch, but the file set was
    resolved when the frame was constructed, so an in-place recompaction
    that deletes those files mid-stream fails the join with
    FileNotFound. The supported protocol:

    * persist the index with ``write_table(..., if_exists="replace",
      keep_versions >= 2)`` and build the static side from
      ``read_snapshot(path, 0)``: version dirs are immutable and the
      previous snapshot survives the next replace, so a running stream
      keeps serving its pinned version UNAFFECTED by concurrent rebuilds
      (tested: tests/test_streaming.py::
      test_known_near_dup_index_refresh_contract);
    * ``keep_versions`` must exceed the number of replaces that can
      happen within one stream generation — with the default 1, the
      prune after the NEXT commit deletes the running stream's files;
    * to ADOPT a new snapshot, restart the query against
      ``read_snapshot(path, 0)`` with the SAME checkpoint — the
      dropDuplicatesWithinWatermark state survives restart, so already-
      flagged docs are not re-emitted (same test)."""
    from pandas_td_spark.operators.dedup import (
        _band_struct_array,
        minhash_signatures,
    )

    sig = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_n)
    return sig.select(
        F.posexplode(_band_struct_array(num_hashes, bands)).alias(
            "band_idx", "band_key"
        )
    ).distinct()


def known_near_dup_stream(
    docs: DataFrame,
    known_bands: DataFrame,
    watermark: str = "1 hour",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Streaming near-dup flagger: emits one (doc_id, ts) row per
    incoming document whose banded MinHash collides with the static
    index — the docs a training-data pipeline quarantines as likely
    near-duplicates of the existing corpus (banded LSH gives the same
    candidate semantics as the batch q53 path; a downstream batch verify
    can re-check exact Jaccard on the flagged subset, exactly like the
    batch dispatcher's verify stage).

    Plan: row-local banding (no state) -> stream-static LEFT SEMI join
    on (band_idx, band_key) (no state) -> dropDuplicatesWithinWatermark
    on the id (the one stateful step, watermark-bounded) — so state is
    O(flagged docs per horizon), independent of corpus and stream
    volume."""
    from pandas_td_spark.operators.dedup import minhash_band_rows

    banded = minhash_band_rows(
        docs.withWatermark("ts", watermark),
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        extra_cols=("ts",),
    )
    hits = banded.join(
        known_bands, ["band_idx", "band_key"], "left_semi"
    ).select(id_col, "ts")
    return hits.dropDuplicatesWithinWatermark([id_col])
