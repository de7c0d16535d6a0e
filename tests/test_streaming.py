"""Structured Streaming surface: checkpointed foreachBatch ingestion
(chunk numbering continuous across micro-batches and across restarts, a
replayed micro-batch delivering each record once) and readStream
event-time watermarks.
"""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from data_ingestion_pimcore_spark.config import IngestRequest
from data_ingestion_pimcore_spark.sink import AckResponse, ChunkValidator
from data_ingestion_pimcore_spark.state import IngestionStateStore
from data_ingestion_pimcore_spark.streaming import stream_ingest

SCHEMA = "product_id long, sku string, qty long"


def _write_file(dirpath, name, start, n):
    rows = [
        {"product_id": i, "sku": f"SKU-{i:06d}", "qty": i % 7}
        for i in range(start, start + n)
    ]
    (dirpath / name).write_text("\n".join(json.dumps(r) for r in rows))


def _req(landing):
    return IngestRequest(
        file_path=str(landing),
        file_type="jsonl",
        chunk_size_by_records=10,
        order_cols=("product_id",),
    )


def test_stream_ingest_end_to_end(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_file(landing, "f1.jsonl", 1, 25)
    _write_file(landing, "f2.jsonl", 26, 25)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .json(str(landing))
    )
    v = ChunkValidator()
    is_last = []

    def transport(payload):
        if payload.get("status") != "COMPLETED":
            is_last.append(payload["is_last"])
        return v(payload)

    state = IngestionStateStore(str(tmp_path / "state.pq"))
    s = stream_ingest(
        spark, _req(landing), stream, state, transport, str(tmp_path / "ckpt")
    )
    assert s.status == "COMPLETED"
    assert s.total_records == 50
    # a micro-batch never knows it is the last one: the completion event
    # ends the stream, and no chunk carries is_last
    assert is_last == [False] * 6
    # chunk numbers strictly sequential ACROSS micro-batches (CV2 held)
    assert v.received_chunks == list(range(len(v.received_chunks)))
    # each batch had 25 rows at size 10 → 3+3 chunks, partial at batch end
    assert [len(r) for r in v.received_records] == [10, 10, 5, 10, 10, 5]
    got = [r["product_id"] for recs in v.received_records for r in recs]
    assert got == list(range(1, 51))
    assert v.completed == [s.ingestion_id]


def test_stream_ingest_resume_only_new_files(spark, tmp_path):
    """Restarting with the same checkpoint processes ONLY files that
    arrived since — the crash-resume contract, via Spark's offset log
    instead of record-skip logic."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_file(landing, "f1.jsonl", 1, 20)
    state = IngestionStateStore(str(tmp_path / "state.pq"))
    ckpt = str(tmp_path / "ckpt")

    def run(final):
        stream = spark.readStream.schema(SCHEMA).json(str(landing))
        v = ChunkValidator()
        # consumer survives across runs in reality; carry its ordering
        # state forward so CV2 stays armed
        v.last_chunk.update(last_seen)
        s = stream_ingest(
            spark, _req(landing), stream, state, v, ckpt, final=final
        )
        last_seen.update(v.last_chunk)
        return s, v

    last_seen: dict[str, int] = {}
    # periodic (non-final) drain: no completion event, stays resumable
    s1, v1 = run(final=False)
    assert s1.total_records == 20 and len(v1.received_chunks) == 2
    assert s1.status == "IN_PROGRESS" and v1.completed == []

    _write_file(landing, "f2.jsonl", 21, 15)
    s2, v2 = run(final=True)
    # only the 15 new records were delivered, numbering continued at 2
    assert v2.received_chunks == [2, 3]
    assert [r["product_id"] for recs in v2.received_records for r in recs] == list(
        range(21, 36)
    )
    assert s2.total_records == 35
    assert s2.status == "COMPLETED" and v2.completed == [s2.ingestion_id]


def _delivered_once(v, n):
    """``v`` processed chunks 0..k in order, holding records 1..n once."""
    got = [r["product_id"] for recs in v.received_records for r in recs]
    assert got == list(range(1, n + 1))
    assert v.received_chunks == list(range(len(v.received_chunks)))


def test_stream_replayed_batch_resends_no_acked_record(spark, tmp_path):
    """A micro-batch that fails after some of its chunks were ACKed is
    replayed by Spark from the checkpoint. The replay keeps the batch's
    chunk numbers and sends only the chunks the consumer has not ACKed,
    so each record is delivered once and the totals count it once."""
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_file(landing, "f1.jsonl", 1, 25)
    state = IngestionStateStore(str(tmp_path / "state.db"))
    ckpt = str(tmp_path / "ckpt")
    v = ChunkValidator()  # one live consumer across both runs

    def nack_chunk_1(payload):
        if payload.get("chunk_number") == 1 and payload.get("status") != "COMPLETED":
            return AckResponse(False, payload["ingestion_id"], 1, "SIMULATED_FAILURE")
        return v(payload)

    def run(transport):
        stream = spark.readStream.schema(SCHEMA).json(str(landing))
        return stream_ingest(spark, _req(landing), stream, state, transport, ckpt)

    with pytest.raises(Exception, match="rejected after"):
        run(nack_chunk_1)
    iid = _req(landing).ingestion_id
    assert state.get_last_chunk(iid) == 0 and state.get_total_records(iid) == 10
    assert v.received_chunks == [0]

    s = run(v)
    assert s.status == "COMPLETED" and s.total_records == 25 and s.last_chunk == 2
    assert v.received_chunks == [0, 1, 2]
    _delivered_once(v, 25)
    assert v.completed == [iid]


def test_stream_sigkill_after_ack_before_batch_commit(spark, tmp_path):
    """A separate producer process is SIGKILLed after it committed the
    ACK of its micro-batch's last chunk, before Spark wrote the batch to
    its commit log. A restart on the same checkpoint replays the batch;
    the consumer, alive across both producers, sees every chunk once."""
    import json as _json
    import os
    import signal
    import subprocess
    import sys as _sys
    import threading
    import time as _time
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from data_ingestion_pimcore_spark.sink import HttpTransport

    landing = tmp_path / "landing"
    landing.mkdir()
    _write_file(landing, "f1.jsonl", 1, 25)
    v = ChunkValidator()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            resp = v(_json.loads(self.rfile.read(int(self.headers["Content-Length"]))))
            out = _json.dumps(
                {"ack": resp.ack, "ingestion_id": resp.ingestion_id,
                 "chunk_number": resp.chunk_number, "error": resp.error}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_port}/callback"
    state_path, ckpt = str(tmp_path / "state.db"), str(tmp_path / "ckpt")
    marker = tmp_path / "committed-last-chunk"

    # The child's store parks the process right after the batch's last
    # chunk (chunk 2: 25 rows at 10 per chunk) is committed.
    producer_script = f"""
import sys, time
sys.path.insert(0, {repr(os.getcwd())})
from data_ingestion_pimcore_spark.session import get_spark
from data_ingestion_pimcore_spark.config import IngestRequest
from data_ingestion_pimcore_spark.sink import HttpTransport
from data_ingestion_pimcore_spark.state import IngestionStateStore
from data_ingestion_pimcore_spark.streaming import stream_ingest

class Store(IngestionStateStore):
    def update_chunk(self, ingestion_id, chunk_number, total_records):
        super().update_chunk(ingestion_id, chunk_number, total_records)
        if chunk_number == 2:
            open({repr(str(marker))}, "w").close()
            time.sleep(600)

spark = get_spark("stream-crash-producer")
spark.sparkContext.setLogLevel("ERROR")
req = IngestRequest(file_path={repr(str(landing))}, file_type="jsonl",
                    chunk_size_by_records=10, order_cols=("product_id",))
stream = spark.readStream.schema({repr(SCHEMA)}).json({repr(str(landing))})
stream_ingest(spark, req, stream, Store({repr(state_path)}),
              HttpTransport({repr(url)}), {repr(ckpt)})
"""
    proc = subprocess.Popen(
        [_sys.executable, "-c", producer_script],
        env=dict(os.environ, SPARK_GRAFT_CPUS="2"),
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        deadline = _time.monotonic() + 180
        while not marker.exists():
            assert proc.poll() is None, "producer exited before committing chunk 2"
            assert _time.monotonic() < deadline, "producer never committed chunk 2"
            _time.sleep(0.2)
        os.kill(proc.pid, signal.SIGKILL)
        proc.wait(timeout=30)

        state = IngestionStateStore(state_path)
        iid = _req(landing).ingestion_id
        assert state.get_last_chunk(iid) == 2 and state.get_total_records(iid) == 25
        assert v.completed == []

        stream = spark.readStream.schema(SCHEMA).json(str(landing))
        s = stream_ingest(spark, _req(landing), stream, state, HttpTransport(url), ckpt)
        assert s.status == "COMPLETED" and s.total_records == 25 and s.last_chunk == 2
        assert v.received_chunks == [0, 1, 2]
        _delivered_once(v, 25)
        assert v.completed == [iid]
    finally:
        if proc.poll() is None:
            proc.kill()
        srv.shutdown()


def test_stream_ingest_rejects_batch_df(spark, tmp_path):
    df = spark.range(5)
    with pytest.raises(ValueError, match="streaming DataFrame"):
        stream_ingest(
            spark,
            _req(tmp_path),
            df,
            IngestionStateStore(str(tmp_path / "s.pq")),
            ChunkValidator(),
            str(tmp_path / "ckpt"),
        )


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode watermark contract (the hard guarantees): every
    window is emitted EXACTLY ONCE, only after the watermark passes its
    end; a late row arriving after its window was finalized+evicted is
    dropped (it can never duplicate or resurrect the emission); windows
    the watermark never passes are never emitted."""
    import os
    import time as _time

    landing = tmp_path / "events"
    landing.mkdir()
    schema = "event_time timestamp, event_type string"

    def write(name, times, age):
        p = landing / name
        p.write_text(
            "\n".join(
                json.dumps({"event_time": f"2026-01-01T{t}:00", "event_type": "e"})
                for t in times
            )
        )
        now = _time.time()
        os.utime(p, (now - age, now - age))  # file order == batch order

    # b0: watermark -> 11:00 after processing
    write("f1.jsonl", ["10:00", "10:20", "10:40", "11:00", "11:20", "12:00"], 30)
    # b1: 12:30 advances watermark to 11:30; 09/10 windows finalize here
    write("f2.jsonl", ["09:00", "12:30"], 20)
    # b2: 09:30 is late AND its window is already final -> dropped;
    #     13:30 advances the watermark to 12:30
    write("f3.jsonl", ["09:30", "13:30"], 10)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    agg = (
        stream.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    emitted: list = []
    q = (
        agg.writeStream.foreachBatch(lambda bdf, _id: emitted.extend(bdf.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    hours = [str(r["ws"])[11:13] for r in emitted]
    # exactly-once: no window appears twice even though 09:30 arrived
    # after the 09 window was finalized
    assert len(hours) == len(set(hours))
    final = {str(r["ws"])[11:13]: r["n"] for r in emitted}
    # 09 emitted once with only the pre-finalization row; the post-
    # finalization 09:30 row is gone; the 12 and 13 windows end past
    # the final watermark (12:30) so they are never emitted
    assert final == {"09": 1, "10": 3, "11": 2}


def _write_events_parquet(path, unit):
    """Write a tiny events table whose ts column uses the given parquet
    timestamp unit — 'ns' reproduces the TIMESTAMP(NANOS) generation that
    the session reads as epoch-nanos long (nanosAsLong), 'us' the native
    timestamp generation."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    ts = [base + dt.timedelta(minutes=20 * i) for i in range(9)]
    tbl = pa.table(
        {
            "event_id": pa.array(range(9), pa.int64()),
            "ts": pa.array(ts, pa.timestamp(unit)),
            "user_id": pa.array([i % 3 for i in range(9)], pa.int64()),
            "event_type": pa.array(["click", "view", "buy"] * 3),
            "value": pa.array([float(i) for i in range(9)]),
            "props": pa.array(["{}"] * 9),
        }
    )
    pq.write_table(tbl, str(path), store_schema=False)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_stream_both_ts_generations(spark, tmp_path, unit):
    """ADVICE r01 regression: _events_stream must branch on how *Spark*
    reads ts (nanosAsLong => long), not on the pyarrow logical type — a
    nanos file previously produced a 'ts timestamp' reader schema and
    every ts_stream_* query failed with PARQUET_COLUMN_DATA_TYPE_MISMATCH.
    Drains the streaming tumbling agg on each generation and checks it
    against the batch twin."""
    from data_ingestion_pimcore_spark.ops.timeseries import (
        ts_stream_tumbling,
        ts_tumbling_window,
    )

    sf = tmp_path / unit
    sf.mkdir()
    _write_events_parquet(sf / "events.parquet", unit)

    got = ts_stream_tumbling(spark, str(sf)).collect()
    want = ts_tumbling_window(spark, str(sf)).collect()
    key = lambda r: (str(r["window_start"]), r["event_type"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) == 9  # 3 hours x 3 event types, one event per cell
    assert {r["n_events"] for r in got} == {1}


def test_tws_query_gated_on_protobuf(spark):
    """transformWithStateInPandas needs google.protobuf (absent in this
    container): the query must register exactly when the dependency
    imports, and run oracle-equal to the batch aggregate when it does.
    When the dependency is absent this does NOT skip: the
    applyInPandasWithState twin (the same custom-stateful-operator
    semantics on the protobuf-free API) is run against the identical
    batch aggregate instead, so the stateful-streaming contract is
    exercised either way."""
    import pyspark.sql.functions as F

    from data_ingestion_pimcore_spark import registry
    from data_ingestion_pimcore_spark.ops.timeseries import _has_protobuf
    from data_ingestion_pimcore_spark.tables import load

    registered = "ts_stream_tws_running_counts" in registry.all_queries()
    assert registered == _has_protobuf()
    name = (
        "ts_stream_tws_running_counts"
        if registered
        else "ts_stream_stateful_counts"
    )
    q = registry.all_queries()[name]
    rows = q.fn(spark, "/root/testdata/sf0.001").collect()
    exp = {
        r["event_type"]: (r["n"], r["m"])
        for r in load(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("event_id").alias("m"))
        .collect()
    }
    if registered:  # tws variant also tracks max_event_id state
        got = {
            r["event_type"]: (r["n_events_total"], r["max_event_id"])
            for r in rows
        }
        assert got == exp
    else:  # applyInPandasWithState twin: running totals only
        got_n = {r["event_type"]: r["n_events_total"] for r in rows}
        assert got_n == {k: n for k, (n, _) in exp.items()}


def test_stream_exactly_once_sink_matches_batch(spark):
    """ts_stream_exactly_once_sink (plan-lint exempt: it returns a
    materialized checkpoint) must equal the one-line batch filter —
    this passing means the manifest commit protocol survived a
    re-delivered batch AND an uncommitted orphan directory without
    duplicating or leaking a row."""
    from pyspark.sql import functions as F

    from data_ingestion_pimcore_spark import registry
    from data_ingestion_pimcore_spark.tables import load

    sf = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r)
        for r in registry.all_queries()["ts_stream_exactly_once_sink"]
        .fn(spark, sf)
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in load(spark, sf, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
        )
        .collect()
    )
    assert got == want and len(got) > 0


def test_foreachbatch_replay_tmpfs_gate_sizes_every_layout(tmp_path, monkeypatch):
    """The replay-dir tmpfs gate must size a single-file events.parquet
    as well as a dataset directory, and keep a missing input off RAM."""
    import os

    from data_ingestion_pimcore_spark.ops import timeseries

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    monkeypatch.setattr(timeseries, "_SHM_REPLAY_LIMIT_BYTES", 100)

    single = tmp_path / "single" / "events.parquet"
    single.parent.mkdir()
    single.write_bytes(b"x" * 101)
    assert timeseries._replay_tmp_root(str(single)) is None
    single.write_bytes(b"x" * 100)
    assert timeseries._replay_tmp_root(str(single)) == shm

    dataset = tmp_path / "dataset" / "events.parquet"
    dataset.mkdir(parents=True)
    (dataset / "part-0.parquet").write_bytes(b"x" * 60)
    assert timeseries._replay_tmp_root(str(dataset)) == shm
    (dataset / "part-1.parquet").write_bytes(b"x" * 60)
    assert timeseries._replay_tmp_root(str(dataset)) is None

    assert timeseries._replay_tmp_root(str(tmp_path / "missing.parquet")) is None
