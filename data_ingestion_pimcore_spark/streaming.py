"""Structured Streaming flavor of the ingestion pipeline.

The reference's runtime model — ordered micro-batch stream with
ACK-driven persisted offsets (SURVEY §1.1) — IS Spark Structured
Streaming's model, so this is the idiomatic mapping:

| reference                         | here                               |
|-----------------------------------|------------------------------------|
| background task per ingestion     | ``StreamingQuery`` handle (O1)     |
| SQLite offset upsert after ACK    | checkpoint commit log **and** the  |
|                                   | explicit state table (K2)          |
| chunk loop                        | ``foreachBatch`` micro-batches     |
| resume after crash                | checkpoint replays only the        |
|                                   | uncommitted batch; CV1 idempotency |
|                                   | absorbs the replay (at-least-once  |
|                                   | + idempotent consumer = chunk-     |
|                                   | exactly-once)                      |
| re_ingestion=true fresh identity  | fresh checkpointLocation (ST2)     |

Chunk numbers continue across micro-batches from the state table's
``last_chunk`` — sequential because micro-batches are sequential.
Chunk size is an upper bound: a batch's final partial chunk is flushed
at the batch boundary (the reference flushes at file end the same
way). ``is_last`` is unknowable mid-stream, so chunks carry False and
completion is signaled by the K4 event when the query terminates
(AvailableNow) — the consumer contract (CV5) keys on the event, not
the flag.

Scale: each micro-batch's canonicalization/checksumming fans out
across executors exactly like batch mode; ``maxFilesPerTrigger``
bounds batch size (back-pressure); many ingestions run as many
concurrent queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .chunker import CHUNK_COL
from .config import IngestRequest
from .pipeline import (
    IngestSummary,
    _chunk_payloads,
    _chunked,
    complete_ingestion,
    deliver_payloads,
)
from .sink import Transport
from .state import IngestionStateStore


def stream_ingest(
    spark: SparkSession,
    request: IngestRequest,
    stream_df: DataFrame,
    state: IngestionStateStore,
    transport: Transport,
    checkpoint_root: str,
    final: bool = True,
) -> IngestSummary:
    """Run a streaming ingestion to exhaustion (Trigger.AvailableNow).

    ``stream_df`` is any streaming DataFrame (file source over a
    landing directory, Kafka, rate…). For a continuously running
    ingestion, swap the trigger — everything else is identical; this
    entry processes all available input then completes, which is what
    the batch-parity tests and the reference's file-at-rest inputs
    need.

    ``final=False`` drains what's available but skips the K4
    completion handshake, leaving the ingestion IN_PROGRESS: the mode
    for periodic drains of a landing directory where more files will
    arrive. Completion resets the consumer's ordering state (CV5), so
    it must fire exactly once, when the caller knows the stream is
    truly done.
    """
    if not stream_df.isStreaming:
        raise ValueError("stream_ingest requires a streaming DataFrame")
    order_cols = list(request.order_cols)
    if not order_cols:
        raise ValueError("order_cols required for deterministic chunk numbering")
    if request.chunk_size_by_records is None:
        raise ValueError("streaming mode chunks by record count")

    ingestion_id = request.ingestion_id
    # ST2: identity and checkpoint share a lifecycle — a re-ingestion's
    # fresh id gets a fresh checkpoint dir, a resume reuses both.
    checkpoint = f"{checkpoint_root.rstrip('/')}/{ingestion_id}"

    record_cols = stream_df.columns

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Chunk numbering continues from the ACKed high-water mark. On
        # a checkpoint replay of an already-delivered batch the same
        # numbers are NOT reproduced (last_chunk moved) — but replayed
        # sends were already ACKed, so CV1 dedup on chunk_id never
        # fires for fresh numbers; delivery stays exactly-once per
        # chunk because only unACKed work reaches the wire. The state
        # read is the serialization point; micro-batches are sequential.
        base = state.get_last_chunk(ingestion_id) + 1
        totals = state.get_total_records(ingestion_id)
        # The batch builder over 0-based chunks, then shifted by
        # ``base``: the shift keeps the ascending drain layout, so the
        # payloads need no re-sort.
        stats: dict = {}
        chunked = _chunked(batch_df, request, order_cols, stats_out=stats)
        payloads = _chunk_payloads(
            chunked, record_cols, stats["n_chunks"]
        ).withColumn(CHUNK_COL, F.col(CHUNK_COL) + F.lit(base).cast("long"))
        deliver_payloads(
            payloads, ingestion_id, state, transport, totals, mark_last=False
        )

    q = (
        stream_df.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return complete_ingestion(ingestion_id, state, transport, final=final)


# ------------------------------------------------------- event-time demo


def streaming_tumbling_counts(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Genuine ``readStream`` event-time aggregation over an events
    landing directory (JSONL), AvailableNow → in-memory sink.

    The watermark bounds state: rows later than ``watermark`` behind
    the max seen event time are dropped and their windows finalized —
    the standard late-data contract the batch ``ts_tumbling_window``
    op mirrors 1:1 (same grouping expression), so batch results
    validate the streaming plan.
    """
    stream = spark.readStream.schema(schema).json(events_dir)
    agg = (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    name = "tumbling_counts"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def streaming_stateful_running_counts(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint: str,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-key running total that survives across micro-batches (and,
    via the checkpoint's state store, across restarts) — the streaming
    generalization of the reference's resumable ``total_records``
    accumulator (A1, `app/services/json_reader.py:52,94`; store
    `app/services/ingestion_state_store.py:44-50`), keyed by
    ``event_type`` instead of ingestion_id.

    Each micro-batch emits ``(event_type, batch_rows, n_events_total)``
    in update mode; state is one long per key, so state-store size is
    O(distinct keys) regardless of stream length.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = spark.readStream.schema(schema).json(events_dir)

    def update(key, pdfs, state: GroupState):
        rows = 0
        for pdf in pdfs:
            rows += len(pdf)
        total = (state.get[0] if state.exists else 0) + rows
        state.update((total,))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "batch_rows": [rows],
                "n_events_total": [total],
            }
        )

    out: list = []
    q = (
        stream.groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType="event_type string, batch_rows long, n_events_total long",
            stateStructType="total long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        # foreachBatch (not the memory sink) so the query can RECOVER
        # from its checkpoint — restart continues from persisted state.
        .writeStream.foreachBatch(lambda bdf, _id: out.extend(bdf.collect()))
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        out, "event_type string, batch_rows long, n_events_total long"
    )
