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
|                                   | uncommitted batch, numbered as     |
|                                   | before from its stored first       |
|                                   | chunk; its ACKed chunks are        |
|                                   | skipped (K3), and CV1 absorbs the  |
|                                   | one unACKed resend                 |
| re_ingestion=true fresh identity  | fresh checkpointLocation (ST2)     |

Chunk numbers continue across micro-batches from the state table's
``last_chunk`` — sequential because micro-batches are sequential. A
batch's first chunk number is persisted under its ``batch_id`` before
its first send, so a replayed batch (after a NACKed chunk or a crash
before Spark's commit-log write) reproduces its numbering: it reads the
same offsets, hence the same rows, and ``_chunked`` is deterministic on
``order_cols``.
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
from .state import DEFAULT_ROW, IngestionStateStore


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
        # The batch's first chunk number is fixed on its first attempt
        # and read back on a replay, so replayed rows keep their chunk
        # numbers; its ACKed chunks are skipped like batch-mode K3.
        # Micro-batches are sequential, so the state reads see every
        # earlier batch's commits.
        base = state.stream_batch_base(ingestion_id, batch_id)
        acked = state.row(ingestion_id) or DEFAULT_ROW
        # The batch builder over 0-based chunks, then shifted by
        # ``base``: the shift keeps the ascending drain layout, so the
        # payloads need no re-sort.
        stats: dict = {}
        chunked = _chunked(batch_df, request, order_cols, stats_out=stats)
        pending = chunked.where(F.col(CHUNK_COL) > acked["last_chunk"] - base)
        payloads = _chunk_payloads(
            pending, record_cols, stats["n_chunks"]
        ).withColumn(CHUNK_COL, F.col(CHUNK_COL) + F.lit(base).cast("long"))
        deliver_payloads(
            payloads,
            ingestion_id,
            state,
            transport,
            acked["total_records"],
            mark_last=False,
        )

    q = (
        stream_df.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return complete_ingestion(ingestion_id, state, transport, final=final)
