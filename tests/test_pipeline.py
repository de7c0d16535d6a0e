"""Invariant tests for the ingestion pipeline — the reference's test
philosophy ("tests exist to prove invariants": crash safety, resume
determinism, chunk-exactly-once — reference README:689-733), ported to
the Spark engine with an in-process consumer identical in behavior to
the reference's ChunkValidator.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pytest

from pyspark.sql import functions as F

from data_ingestion_pimcore_spark.config import IngestRequest, InvalidRequest
from data_ingestion_pimcore_spark.integrity import (
    build_chunk_id,
    build_file_id,
    build_ingestion_id,
    compute_checksum,
)
from data_ingestion_pimcore_spark.pipeline import ingest
from data_ingestion_pimcore_spark.sink import (
    ERR_CHECKSUM,
    ERR_EMPTY,
    ERR_OUT_OF_ORDER,
    ChunkRejected,
    ChunkValidator,
    send_chunk_with_retry,
)
from data_ingestion_pimcore_spark.state import IngestionStateStore, version_for


@pytest.fixture()
def products(spark):
    """Fixture-1-style product records (FIXTURES.md §1), 100 rows."""
    rows = [
        (
            i,
            f"SKU-{i:08d}",
            f"Product {i}",
            "BrandA" if i % 2 == 0 else "BrandB",
            round(1.5 * i + 0.25, 2),
            "EUR",
            i % 3 != 0,
            i * 7 % 100,
            f"desc {i}" if i % 5 else None,
        )
        for i in range(1, 101)
    ]
    return spark.createDataFrame(
        rows,
        "product_id long, sku string, name string, brand string, price double, "
        "currency string, in_stock boolean, quantity long, description string",
    )


def _request(**kw):
    defaults = dict(
        file_path="/data/pim/products.json",
        file_type="json",
        chunk_size_by_records=10,
        order_cols=("product_id",),
    )
    defaults.update(kw)
    return IngestRequest(**defaults)


def _store(tmp_path):
    return IngestionStateStore(str(tmp_path / "state.parquet"))


def test_golden_chunk_stream(spark, tmp_path, products):
    """100 records at size 10 → chunks 0..9 in order, all ACKed,
    checksums verified by the consumer, state COMPLETED."""
    validator = ChunkValidator()
    state = _store(tmp_path)
    s = ingest(spark, _request(), products, state, validator)
    assert validator.received_chunks == list(range(10))
    assert [len(r) for r in validator.received_records] == [10] * 10
    # ordered payloads follow product_id order
    first = [r["product_id"] for r in validator.received_records[0]]
    assert first == list(range(1, 11))
    assert s.chunks_sent == 10 and s.total_records == 100
    assert s.status == "COMPLETED" and s.last_chunk == 9
    assert validator.completed == [s.ingestion_id]


def test_resume_skips_acked_chunks(spark, tmp_path, products):
    """Pre-ACK chunks ≤ 2 → first re-sent chunk is 3 and contains
    records 31–40 (the intended record-skip semantics of
    test_resume_logic.py:6-17 / excel_reader.py:65-69)."""
    req = _request()
    state = _store(tmp_path)
    iid = build_ingestion_id(
        build_file_id(req.file_path, req.file_type), version_for(False)
    )
    state.update_chunk(iid, 2, 30)
    validator = ChunkValidator()
    validator.last_chunk[iid] = 2  # consumer already saw 0..2
    s = ingest(spark, req, products, state, validator)
    assert validator.received_chunks[0] == 3
    assert [r["product_id"] for r in validator.received_records[0]] == list(
        range(31, 41)
    )
    # A1 intended semantics: totals accumulate only newly sent records.
    assert s.total_records == 30 + 70
    assert s.status == "COMPLETED"


def test_record_level_resume_mid_chunk(spark, tmp_path, products):
    """record_resume=True: a crash mid-chunk (chunks 0-1 acked, 5
    records of chunk 2 counted) re-sends chunk 2 with ONLY its unacked
    remainder — the reference Excel path's records_to_skip semantics
    (excel_reader.py:32,65-69) — then continues with full chunks."""
    req = _request(record_resume=True)
    state = _store(tmp_path)
    iid = build_ingestion_id(
        build_file_id(req.file_path, req.file_type), version_for(False)
    )
    state.update_chunk(iid, 1, 25)  # 2 full chunks + 5 records of chunk 2
    validator = ChunkValidator()
    validator.last_chunk[iid] = 1
    s = ingest(spark, req, products, state, validator)
    assert validator.received_chunks[0] == 2
    assert [r["product_id"] for r in validator.received_records[0]] == list(
        range(26, 31)
    )
    assert [len(r) for r in validator.received_records] == [5] + [10] * 7
    assert s.total_records == 100
    assert s.status == "COMPLETED"


def test_record_level_resume_mid_chunk_byte_mode(spark, tmp_path, products):
    """record_resume=True in byte mode: with chunk 0 acked and 3
    records of chunk 1 counted, the resume re-sends chunk 1 with ONLY
    its unacked remainder, in order, then the following chunks whole."""
    req = _request(
        chunk_size_by_records=None, chunk_size_by_memory=2048, record_resume=True
    )
    fresh = ChunkValidator()
    ingest(spark, req, products, IngestionStateStore(str(tmp_path / "f.parquet")), fresh)
    sizes = [len(r) for r in fresh.received_records]
    assert len(sizes) > 3 and sizes[1] > 3
    acked = sizes[0] + 3

    state = _store(tmp_path)
    iid = build_ingestion_id(
        build_file_id(req.file_path, req.file_type), version_for(False)
    )
    state.update_chunk(iid, 0, acked)  # chunk 0 + 3 records of chunk 1
    validator = ChunkValidator()
    validator.last_chunk[iid] = 0
    s = ingest(spark, req, products, state, validator)
    assert validator.received_chunks == list(range(1, len(sizes)))
    assert [r["product_id"] for r in validator.received_records[0]] == list(
        range(acked + 1, sizes[0] + sizes[1] + 1)
    )
    assert validator.received_records[1:] == fresh.received_records[2:]
    assert s.total_records == 100
    assert s.status == "COMPLETED"


def test_transient_nack_retried(spark, tmp_path, products):
    validator = ChunkValidator(reject_once={4})
    state = _store(tmp_path)
    s = ingest(spark, _request(), products, state, validator)
    assert s.chunks_sent == 10
    assert validator.received_chunks == list(range(10))


def test_permanent_nack_no_false_progress(spark, tmp_path, products):
    """A chunk NACKed 3× fails the run; state stops at the last ACK —
    earlier chunks are never rolled back (README:294-299, 471-482)."""

    from data_ingestion_pimcore_spark.sink import MAX_ATTEMPTS, AckResponse

    class AlwaysReject(ChunkValidator):
        deliveries_of_5 = 0

        def __call__(self, payload):
            is_chunk = payload.get("status") != "COMPLETED"
            if payload.get("chunk_number") == 5 and is_chunk:
                self.deliveries_of_5 += 1
                return AckResponse(False, payload["ingestion_id"], 5, "boom")
            return super().__call__(payload)

    validator = AlwaysReject()
    state = _store(tmp_path)
    req = _request()
    iid = build_ingestion_id(
        build_file_id(req.file_path, req.file_type), version_for(False)
    )
    with pytest.raises(ChunkRejected, match="rejected after 3 attempts"):
        ingest(spark, req, products, state, validator)
    # the retry budget is exact: no attempt lost or added by the loop
    assert MAX_ATTEMPTS == 3
    assert validator.deliveries_of_5 == MAX_ATTEMPTS
    assert state.get_last_chunk(iid) == 4
    assert state.get_total_records(iid) == 50
    assert state.get_status(iid) == "IN_PROGRESS"
    # resume after consumer recovers delivers exactly the remainder
    validator2 = ChunkValidator()
    validator2.last_chunk[iid] = 4
    s = ingest(spark, req, products, state, validator2)
    assert validator2.received_chunks == [5, 6, 7, 8, 9]
    assert s.total_records == 100 and s.status == "COMPLETED"


@dataclass
class _IsLastLog(ChunkValidator):
    """Consumer that logs (chunk_number, is_last) of every chunk
    delivery attempt, NACKed ones included."""

    attempts: list[tuple[int, bool]] = field(default_factory=list)

    def __call__(self, payload):
        if payload.get("status") != "COMPLETED":
            self.attempts.append((payload["chunk_number"], payload["is_last"]))
        return super().__call__(payload)


@pytest.mark.parametrize("mode", ["count", "bytes", "final_nacked_once"])
def test_is_last_only_on_final_chunk(spark, tmp_path, products, mode):
    """The delivery loop holds one row back to find the end: the final
    chunk, and only it, carries is_last=True — also on its re-send after
    a NACK."""
    if mode == "bytes":
        req = _request(chunk_size_by_records=None, chunk_size_by_memory=600)
    else:
        req = _request()
    v = _IsLastLog(reject_once={9} if mode == "final_nacked_once" else set())
    s = ingest(spark, req, products, _store(tmp_path), v)
    assert s.status == "COMPLETED" and s.total_records == 100
    last = s.last_chunk
    assert last >= 9 and v.received_chunks == list(range(last + 1))
    finals = [last, last] if mode == "final_nacked_once" else [last]
    assert [n for n, is_last in v.attempts if is_last] == finals
    assert all(is_last == (n == last) for n, is_last in v.attempts)


def test_reingestion_restarts_numbering(spark, tmp_path, products):
    """re_ingestion=true mints a fresh ingestion_id → chunk numbering
    and totals restart (ingestion_controllers.py:31-41; README:613-665)."""
    state = _store(tmp_path)
    v1 = ChunkValidator()
    s1 = ingest(spark, _request(), products, state, v1)
    v2 = ChunkValidator()
    s2 = ingest(spark, _request(re_ingestion=True), products, state, v2)
    assert s2.ingestion_id != s1.ingestion_id
    assert v2.received_chunks == list(range(10))
    assert s2.total_records == 100


def test_validator_contract_cv1_to_cv4():
    """Consumer-side contract, exercised directly (CV1–CV4)."""
    v = ChunkValidator()
    iid = "ing-1"
    records = [{"a": 1}, {"a": 2}]
    payload = {
        "ingestion_id": iid,
        "chunk_number": 0,
        "chunk_id": build_chunk_id(iid, 0),
        "checksum": compute_checksum(records),
        "records": records,
        "is_last": False,
    }
    assert v(payload).ack  # first delivery
    assert v(payload).ack  # CV1: duplicate chunk_id → ACK, not reprocessed
    assert v.received_chunks == [0]

    out_of_order = dict(payload, chunk_number=5, chunk_id=build_chunk_id(iid, 5))
    r = v(out_of_order)
    assert not r.ack and r.error == ERR_OUT_OF_ORDER  # CV2

    bad = dict(
        payload,
        chunk_number=1,
        chunk_id=build_chunk_id(iid, 1),
        checksum="deadbeef",
    )
    r = v(bad)
    assert not r.ack and r.error == ERR_CHECKSUM  # CV3

    empty = dict(payload, chunk_number=1, chunk_id=build_chunk_id(iid, 1), records=[])
    r = v(empty)
    assert not r.ack and r.error == ERR_EMPTY  # CV4


def test_retry_gives_up_after_three():
    from data_ingestion_pimcore_spark.sink import AckResponse

    calls = []

    def always_nack(payload):
        calls.append(1)
        return AckResponse(False, "i", 0, "no")

    with pytest.raises(ChunkRejected):
        send_chunk_with_retry(always_nack, {"chunk_number": 0})
    assert len(calls) == 3


def test_request_validation():
    with pytest.raises(InvalidRequest):
        _request(chunk_size_by_records=None)  # neither mode
    with pytest.raises(InvalidRequest):
        _request(chunk_size_by_memory=1000)  # both modes
    with pytest.raises(InvalidRequest):
        _request(chunk_size_by_records=4001)  # over reference cap
    with pytest.raises(InvalidRequest):
        _request(file_type="avro")  # not a supported connector
    assert _request(chunk_size_by_records=None, chunk_size_by_memory=1).chunk_size_by_memory == 1


def test_byte_budget_ingest(spark, tmp_path, products):
    """Byte-mode end-to-end: no chunk payload exceeds the budget (unless
    a single record alone does), no empty chunks, ordered delivery."""
    budget = 600
    validator = ChunkValidator()
    state = _store(tmp_path)
    req = _request(chunk_size_by_records=None, chunk_size_by_memory=budget)
    s = ingest(spark, req, products, state, validator)
    assert s.total_records == 100 and s.status == "COMPLETED"
    assert validator.received_chunks == list(range(len(validator.received_chunks)))
    for recs in validator.received_records:
        assert recs  # CV4 never triggered
    # budget invariant asserted on engine-side sizes in test_chunker.py


def test_canonical_dumps_golden_bytes():
    """Pin the canonical byte format (sorted keys, compact separators,
    shortest-repr floats, raw unicode, Decimal→float, ISO dates) to
    golden strings — the reference-parity contract
    (data_integrity_manager.py:25-36, orjson OPT_SORT_KEYS format)."""
    import datetime
    from decimal import Decimal

    from data_ingestion_pimcore_spark.integrity import canonical_dumps

    assert canonical_dumps({"b": 1, "a": 2}) == b'{"a":2,"b":1}'
    # nested maps sort at every level
    assert (
        canonical_dumps({"z": {"y": 1, "x": [2, {"n": 3, "m": 4}]}})
        == b'{"z":{"x":[2,{"m":4,"n":3}],"y":1}}'
    )
    # shortest-repr floats in orjson's exponent spelling (1e-7, not
    # stdlib's zero-padded 1e-07) — the reference's wire format, since
    # data_integrity_manager.py serializes with orjson
    assert canonical_dumps([0.1, 1e-07, 2.5]) == b"[0.1,1e-7,2.5]"
    # Decimal downcasts to float (json_decimal_encoder.py:6-8 semantics)
    assert canonical_dumps({"p": Decimal("19.99")}) == b'{"p":19.99}'
    # unicode is NOT ascii-escaped
    assert canonical_dumps({"s": "café"}) == '{"s":"café"}'.encode("utf-8")
    # datetimes → ISO-8601 strings
    assert (
        canonical_dumps({"t": datetime.datetime(2026, 1, 2, 3, 4, 5)})
        == b'{"t":"2026-01-02T03:04:05"}'
    )
    # null / bool spelling
    assert canonical_dumps({"x": None, "y": True}) == b'{"x":null,"y":true}'


def test_state_store_reopen_after_crash(tmp_path):
    """Crash-recovery: commits made without a mark_completed (no WAL
    checkpoint) are read back by a fresh store opened on the same path,
    and the file is the reference's one four-column table."""
    import sqlite3

    p = str(tmp_path / "st.parquet")
    s1 = IngestionStateStore(p)
    s1.update_chunk("ing-a", 0, 10)
    s1.update_chunk("ing-a", 1, 20)
    s1.update_chunk("ing-b", 5, 500)
    # no mark_completed — simulate a crash mid-ingestion

    s2 = IngestionStateStore(p)
    assert s2.get_last_chunk("ing-a") == 1
    assert s2.get_total_records("ing-a") == 20
    assert s2.get_last_chunk("ing-b") == 5
    assert s2.get_status("ing-a") == "IN_PROGRESS"

    s2.update_chunk("ing-a", 2, 30)
    s2.mark_completed("ing-a")
    s3 = IngestionStateStore(p)
    assert s3.get_last_chunk("ing-a") == 2
    assert s3.get_status("ing-a") == "COMPLETED"
    assert s3.get_last_chunk("ing-b") == 5
    # unknown ingestion falls back to the reference defaults
    assert s3.get_last_chunk("nope") == -1 and s3.get_total_records("nope") == 0
    assert s3.get_status("nope") is None and s3.row("nope") is None
    # mark_completed on an unknown id still creates its row
    s3.mark_completed("ing-c")
    assert s3.row("ing-c") == {
        "ingestion_id": "ing-c",
        "last_chunk": -1,
        "total_records": 0,
        "status": "COMPLETED",
    }

    with sqlite3.connect(p) as con:
        tables = con.execute("SELECT name FROM sqlite_master WHERE type = 'table'").fetchall()
        cols = con.execute("PRAGMA table_info(ingestion_state)").fetchall()
        batch_cols = con.execute("PRAGMA table_info(stream_batch)").fetchall()
    assert tables == [("ingestion_state",), ("stream_batch",)]
    assert [(c[1], c[2], c[5]) for c in cols] == [
        ("ingestion_id", "TEXT", 1),
        ("last_chunk", "INTEGER", 0),
        ("total_records", "INTEGER", 0),
        ("status", "TEXT", 0),
    ]
    assert [(c[1], c[2], c[5]) for c in batch_cols] == [
        ("ingestion_id", "TEXT", 1),
        ("batch_id", "INTEGER", 0),
        ("base_chunk", "INTEGER", 0),
    ]


def test_state_store_rejects_a_file_that_is_not_sqlite(tmp_path):
    """A path holding another format (say, an old parquet snapshot)
    raises instead of silently starting an empty store."""
    import sqlite3

    p = tmp_path / "state.parquet"
    p.write_bytes(b"PAR1" + bytes(range(256)) * 4 + b"PAR1")
    with pytest.raises(sqlite3.DatabaseError):
        IngestionStateStore(str(p))


def test_state_store_survives_sigkill(tmp_path):
    """A child process commits N chunks and is SIGKILLed without closing
    its store or checkpointing; reopening the path reads chunk N-1 and
    its total."""
    import os
    import signal
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = str(tmp_path / "state.parquet")
    n = 25
    child = f"""
import sys, time
from data_ingestion_pimcore_spark.state import IngestionStateStore
s = IngestionStateStore({p!r})
for c in range({n}):
    s.update_chunk("ing-a", c, (c + 1) * 7)
print("COMMITTED", flush=True)
time.sleep(120)
"""
    proc = subprocess.Popen(
        [sys.executable, "-c", child], cwd=root, stdout=subprocess.PIPE, text=True
    )
    try:
        assert proc.stdout.readline().strip() == "COMMITTED"
        os.kill(proc.pid, signal.SIGKILL)
        assert proc.wait(timeout=30) == -signal.SIGKILL
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait(timeout=30)
        proc.stdout.close()
    reopened = IngestionStateStore(p)
    assert reopened.row("ing-a") == {
        "ingestion_id": "ing-a",
        "last_chunk": n - 1,
        "total_records": n * 7,
        "status": "IN_PROGRESS",
    }


def test_state_store_concurrent_commits_and_reads(tmp_path):
    """Stress: eight ingestions commit while a reader thread reads their
    rows; every row() pairs a last_chunk with its own total_records, and
    after reopening every ingestion's last commit is on disk."""
    import sys
    import threading

    store = IngestionStateStore(str(tmp_path / "st.parquet"))
    n_ids, n_chunks = 8, 60
    done = threading.Event()
    reads: list[dict] = []

    def commit(i):
        for c in range(n_chunks):
            store.update_chunk(f"ing-{i}", c, (c + 1) * 10)

    def read():
        while not done.is_set():
            for i in range(n_ids):
                row = store.row(f"ing-{i}")
                if row is not None:
                    reads.append(row)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        reader = threading.Thread(target=read)
        workers = [threading.Thread(target=commit, args=(i,)) for i in range(n_ids)]
        reader.start()
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=60)
        done.set()
        reader.join(timeout=60)
    finally:
        done.set()
        sys.setswitchinterval(prev)
    assert not reader.is_alive() and not any(w.is_alive() for w in workers)
    assert reads
    torn = [r for r in reads if r["total_records"] != (r["last_chunk"] + 1) * 10]
    assert torn == []
    reopened = IngestionStateStore(str(tmp_path / "st.parquet"))
    assert [reopened.get_last_chunk(f"ing-{i}") for i in range(n_ids)] == [n_chunks - 1] * n_ids


def test_warm_ingest_runs(spark, tmp_path, monkeypatch):
    """The warm-up is one miniature count-mode ``ingest`` per call: over
    the synthetic frame without ``like``, over a parquet slice of
    ``like`` with it. It completes and leaves no temp dir behind."""
    import os

    from data_ingestion_pimcore_spark import pipeline

    calls = []
    real_ingest = pipeline.ingest

    def counting(spark_, request, df, state, transport):
        summary = real_ingest(spark_, request, df, state, transport)
        calls.append((request, os.path.dirname(state.path), summary))
        return summary

    monkeypatch.setattr(pipeline, "ingest", counting)

    pipeline.warm_ingest(spark)
    assert len(calls) == 1
    request, tmp_dir, summary = calls[0]
    assert request.chunk_size_by_records == 4000 and request.chunk_size_by_memory is None
    assert summary.status == "COMPLETED" and summary.total_records == 24576
    assert os.path.basename(tmp_dir).startswith("warm_ingest_")
    assert not os.path.exists(tmp_dir)

    like_path = str(tmp_path / "like.parquet")
    spark.range(3000).select(
        F.col("id").alias("product_id"), F.concat(F.lit("SKU-"), F.col("id")).alias("sku")
    ).write.parquet(like_path)
    calls.clear()
    pipeline.warm_ingest(
        spark, like=spark.read.parquet(like_path), like_order_cols=("product_id",)
    )
    assert len(calls) == 1
    request, tmp_dir, summary = calls[0]
    assert request.file_path == f"{tmp_dir}/slice.parquet"
    assert request.order_cols == ("product_id",) and request.chunk_size_by_memory is None
    assert summary.status == "COMPLETED" and summary.total_records == 3000
    assert not os.path.exists(tmp_dir)


def test_fused_payloads_equal_groupby_payloads(spark):
    """The payload builder (complete-in-task + fragment merge) must
    produce byte-identical (n_records, checksum, payload) to a driver-
    side reference — the chunked rows grouped by chunk_number, ordered
    by global row number and sealed whole — for every chunk, in count
    mode (chunk sizes that do and don't divide the row count), in byte
    mode, and under a record-resume filter that leaves a partial first
    chunk. AQE merges this small input's 8 ranges into one task, so the
    cases that need the fragment path (more ranges than chunks at sizes
    2500 and 4000, and the partial resume chunk) run again with
    coalescing off, where each range is its own task."""
    from data_ingestion_pimcore_spark.pipeline import (
        CHUNK_COL,
        _RESUME_RN,
        _chunk_payloads,
        _chunked,
        _merge_fragment_rows,
        _records,
        _seal,
    )

    # deterministic synthetic source with a unique key: order_cols must
    # be a TOTAL order (pipeline contract), and the builder and the
    # reference evaluate the lineage independently, so the source must
    # produce identical rows on every evaluation (no limit/dropDuplicates).
    order = ["k"]
    li = spark.range(2500).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("a"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
        (F.col("id") * 1.5).alias("x"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") % 7).alias("n"),
    )
    # (case, request sizing, records already counted by a resume)
    cases = [
        *((f"count-{n}", dict(chunk_size_by_records=n), None)
          for n in (100, 999, 2500, 4000)),
        *((f"bytes-{b}", dict(chunk_size_by_records=None, chunk_size_by_memory=b), None)
          for b in (4096, 65536)),
        ("count-1000-resume-1234", dict(chunk_size_by_records=1000), 1234),
    ]
    def built_equals_reference(case, sizing, resume_after):
        req = _request(
            file_path="mem://fused-eq", file_type="parquet",
            order_cols=tuple(order), **sizing,
        )
        stats: dict = {}
        chunked = _chunked(li, req, order, stats_out=stats)
        if resume_after is not None:
            chunked = chunked.where(F.col(_RESUME_RN) > resume_after)
        raw = _chunk_payloads(chunked, li.columns, stats["n_chunks"]).collect()
        got = {
            r[CHUNK_COL]: (r["n_records"], r["checksum"], bytes(r["payload"]))
            for r in _merge_fragment_rows(raw)
        }
        want = {
            int(c): _seal(int(c), _records(g.sort_values(_RESUME_RN), li.columns))[1:]
            for c, g in chunked.toPandas().groupby(CHUNK_COL)
        }
        assert got == want, case
        return raw

    for case, sizing, resume_after in cases:
        raw = built_equals_reference(case, sizing, resume_after)
        if case in ("count-100", "bytes-4096"):
            assert any(r["complete"] for r in raw), case
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    keep = spark.conf.get(coalesce)
    try:
        spark.conf.set(coalesce, "false")
        for case, sizing, resume_after in cases:
            if case in ("count-2500", "count-4000", "count-1000-resume-1234"):
                raw = built_equals_reference(case, sizing, resume_after)
                assert not all(r["complete"] for r in raw), case
    finally:
        spark.conf.set(coalesce, keep)


def test_interleaved_concurrent_ingestions_resume(spark, tmp_path, products):
    """Two ingestions sharing ONE SparkSession, run truly interleaved
    on two threads (the reference's parallel unit: one background task
    per request, ingestion_controllers.py:47-51). B completes while A
    is permanently NACKed at chunk 5; A's resume then sends exactly the
    unACKed chunks. Proves per-ingestion state isolation (K2/K3) and
    CV2 ordering hold under concurrency — the scaling axis the
    concurrent bench measures."""
    import threading

    from data_ingestion_pimcore_spark.sink import AckResponse

    class RejectAt5(ChunkValidator):
        def __call__(self, payload):
            if (
                payload.get("chunk_number") == 5
                and payload.get("status") != "COMPLETED"
            ):
                return AckResponse(False, payload["ingestion_id"], 5, "boom")
            return super().__call__(payload)

    req_a = _request(file_path="/data/pim/conc_a.json")
    req_b = _request(file_path="/data/pim/conc_b.json")
    state_a = IngestionStateStore(str(tmp_path / "a.parquet"))
    state_b = IngestionStateStore(str(tmp_path / "b.parquet"))
    val_a, val_b = RejectAt5(), ChunkValidator()
    out: dict = {}

    def run(tag, req, state, val):
        try:
            out[tag] = ingest(spark, req, products, state, val)
        except ChunkRejected as exc:
            out[tag] = exc

    ta = threading.Thread(target=run, args=("a", req_a, state_a, val_a))
    tb = threading.Thread(target=run, args=("b", req_b, state_b, val_b))
    ta.start(), tb.start()
    ta.join(), tb.join()

    # B ran to completion, untouched by A's failure
    assert out["b"].status == "COMPLETED"
    assert val_b.received_chunks == list(range(10))
    assert out["b"].total_records == 100

    # A stopped at the NACK with no false progress
    assert isinstance(out["a"], ChunkRejected)
    iid_a = build_ingestion_id(
        build_file_id(req_a.file_path, req_a.file_type), version_for(False)
    )
    assert state_a.get_last_chunk(iid_a) == 4
    assert state_a.get_total_records(iid_a) == 50

    # resume A (consumer recovered) while a THIRD ingestion runs
    # concurrently in the same session — resume math must not see it
    val_a2 = ChunkValidator()
    val_a2.last_chunk[iid_a] = 4
    req_c = _request(file_path="/data/pim/conc_c.json")
    state_c = IngestionStateStore(str(tmp_path / "c.parquet"))
    val_c = ChunkValidator()
    ta2 = threading.Thread(target=run, args=("a2", req_a, state_a, val_a2))
    tc = threading.Thread(target=run, args=("c", req_c, state_c, val_c))
    ta2.start(), tc.start()
    ta2.join(), tc.join()

    assert val_a2.received_chunks == [5, 6, 7, 8, 9]
    assert out["a2"].total_records == 100
    assert out["a2"].status == "COMPLETED"
    assert out["c"].status == "COMPLETED" and val_c.received_chunks == list(
        range(10)
    )


def test_consumer_server_http_roundtrip(spark, tmp_path, products):
    """The standalone consumer process wrapper (consumer_server) speaks
    the full wire contract: an ingest over real HTTP completes, its
    stats endpoint reports the consumer-side accounting, and CV3 is
    enforced consumer-side (a tampered checksum NACKs)."""
    import json as _json
    import threading
    import urllib.request

    from data_ingestion_pimcore_spark.consumer_server import make_server
    from data_ingestion_pimcore_spark.sink import HttpTransport

    srv = make_server()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/callback"
        state = _store(tmp_path)
        s = ingest(spark, _request(), products, state, HttpTransport(url))
        assert s.status == "COMPLETED" and s.chunks_sent == 10

        with urllib.request.urlopen(url) as r:
            stats = _json.load(r)
        assert stats["chunks_acked"] == 10
        assert stats["records_acked"] == 100
        assert stats["completed"] == [s.ingestion_id]

        # CV3 consumer-side: tampered checksum → business NACK over 200
        transport = HttpTransport(url)
        resp = transport(
            {
                "ingestion_id": "other",
                "chunk_number": 0,
                "chunk_id": "other:0",
                "checksum": "0" * 64,
                "records": [{"x": 1}],
                "is_last": False,
            }
        )
        assert not resp.ack and resp.error == ERR_CHECKSUM
    finally:
        srv.shutdown()


def test_sigkill_mid_drain_resume_exactly_once(spark, tmp_path):
    """Process-level crash safety — the reference's core promise
    ("crash-safe, resumable", reference README:5-12) proven at the
    process boundary, not just the WAL layer: a SEPARATE producer
    process runs `pipeline.ingest` against a live HTTP consumer and is
    SIGKILLed mid-drain, after the consumer has PROCESSED a chunk whose
    ACK the producer never got to commit (the classic at-least-once
    window). A fresh producer run with the same state store must send
    exactly the unACKed chunks; the consumer's CV1 idempotent replay
    absorbs the one duplicate, so its accounting ends with every chunk
    processed exactly once."""
    import json as _json
    import os
    import signal
    import subprocess
    import sys as _sys
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from data_ingestion_pimcore_spark.pipeline import load_source
    from data_ingestion_pimcore_spark.sink import HttpTransport

    # -- input: 200 products as parquet on disk (both processes read it)
    src = str(tmp_path / "products.parquet")
    rows = [(i, f"SKU-{i:06d}", 1.5 * i) for i in range(1, 201)]
    spark.createDataFrame(
        rows, "product_id long, sku string, price double"
    ).repartition(2).write.parquet(src)

    # -- consumer: lives in THIS process, survives the producer's death.
    #    After ACKing chunk 4 it processes chunk 5, signals the kill
    #    window, and stalls the response until the producer is dead —
    #    deterministically creating "consumer processed, producer
    #    uncommitted".
    validator = ChunkValidator()
    kill_window = threading.Event()
    producer_dead = threading.Event()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = _json.loads(
                self.rfile.read(int(self.headers["Content-Length"]))
            )
            resp = validator(body)
            if (
                body.get("chunk_number") == 5
                and body.get("status") != "COMPLETED"
                and not producer_dead.is_set()
            ):
                kill_window.set()
                producer_dead.wait(timeout=30)
            out = _json.dumps(
                {
                    "ack": resp.ack,
                    "ingestion_id": resp.ingestion_id,
                    "chunk_number": resp.chunk_number,
                    "error": resp.error,
                }
            ).encode()
            try:
                self.send_response(200)
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)
            except OSError:
                pass  # producer died mid-response — expected once

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_port}/callback"
    state_path = str(tmp_path / "state.parquet")

    producer_script = f"""
import sys
sys.path.insert(0, {repr(os.getcwd())})
from data_ingestion_pimcore_spark.session import get_spark
from data_ingestion_pimcore_spark.config import IngestRequest
from data_ingestion_pimcore_spark.pipeline import ingest
from data_ingestion_pimcore_spark.sink import HttpTransport
from data_ingestion_pimcore_spark.state import IngestionStateStore

spark = get_spark("crash-producer")
spark.sparkContext.setLogLevel("ERROR")
req = IngestRequest(
    file_path={repr(src)}, file_type="parquet",
    chunk_size_by_records=10, order_cols=("product_id",),
)
df = spark.read.parquet({repr(src)})
ingest(spark, req, df, IngestionStateStore({repr(state_path)}),
       HttpTransport({repr(url)}))
"""
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    proc = subprocess.Popen(
        [_sys.executable, "-c", producer_script],
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        assert kill_window.wait(timeout=180), "producer never reached chunk 5"
        os.kill(proc.pid, signal.SIGKILL)
        proc.wait(timeout=30)
        producer_dead.set()

        # the consumer processed 0..5; the producer's durable state
        # committed only the ACKed 0..4 (chunk 5's ACK never arrived)
        state = IngestionStateStore(state_path)
        req = _request(
            file_path=src, file_type="parquet", order_cols=("product_id",)
        )
        iid = build_ingestion_id(
            build_file_id(src, "parquet"), version_for(False)
        )
        assert state.get_last_chunk(iid) == 4
        assert state.get_total_records(iid) == 50
        assert validator.received_chunks == [0, 1, 2, 3, 4, 5]

        # fresh producer (this process's session), same state store,
        # same live consumer: resume sends exactly the unACKed 5..19 —
        # chunk 5 arrives as a CV1 duplicate and is ACKed WITHOUT
        # reprocessing (received_chunks gains no second 5)
        df = load_source(spark, req)
        s = ingest(spark, req, df, state, HttpTransport(url))
        assert s.status == "COMPLETED"
        assert validator.received_chunks == list(range(20))
        assert validator.total_records == {}  # CV5 reset on completion
        assert validator.completed == [iid]
        # per-chunk content seen exactly once, in order, 10 records each
        assert [len(r) for r in validator.received_records] == [10] * 20
    finally:
        if proc.poll() is None:
            proc.kill()
        srv.shutdown()


def test_consumer_server_stats_ignore_cv1_replay(tmp_path):
    """/stats counts exactly-once PROCESSING: a CV1 duplicate replay is
    ACKed on the wire but must not inflate chunks/records_acked."""
    import json as _json
    import threading
    import urllib.request

    from data_ingestion_pimcore_spark.consumer_server import make_server
    from data_ingestion_pimcore_spark.sink import HttpTransport

    srv = make_server()
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/callback"
        transport = HttpTransport(url)
        records = [{"a": 1}, {"a": 2}]
        payload = {
            "ingestion_id": "ing-1",
            "chunk_number": 0,
            "chunk_id": build_chunk_id("ing-1", 0),
            "checksum": compute_checksum(records),
            "records": records,
            "is_last": False,
        }
        assert transport(payload).ack  # first delivery: processed
        assert transport(payload).ack  # CV1 replay: acked, NOT processed
        with urllib.request.urlopen(url) as r:
            stats = _json.load(r)
        assert stats["chunks_acked"] == 1
        assert stats["records_acked"] == 2
    finally:
        srv.shutdown()


def test_ts_column_strings_byte_identical_to_isoformat():
    """The vectorized timestamp stringifier (round 8) must be
    byte-identical to the per-value isoformat path for everything it
    accepts, and refuse (return None) what it cannot match."""
    import numpy as np
    import pandas as pd

    from data_ingestion_pimcore_spark.integrity import canonical_dumps
    from data_ingestion_pimcore_spark.pipeline import _ts_column_strings

    def slow(s):
        return [
            None if pd.isna(v) else v.isoformat() for v in s.tolist()
        ]

    cases = {
        "zero_micros": pd.Series(
            pd.to_datetime(
                ["1996-03-13 00:00:00", "1998-12-01 23:59:59", None]
            )
        ),
        "mixed_micros": pd.Series(
            pd.to_datetime(
                ["2020-01-01 00:00:00.123456", "2020-01-01 00:00:00.000000",
                 None, "2020-06-01 12:00:00.000001"]
            )
        ),
        "us_unit": pd.Series(
            np.array(["2001-02-03T04:05:06.789000", "2001-02-03T04:05:06"],
                     dtype="datetime64[us]")
        ),
        "s_unit": pd.Series(
            np.array(["1970-01-01T00:00:00", "2200-06-15T10:20:30"],
                     dtype="datetime64[s]")
        ),
        "all_nat": pd.Series(pd.to_datetime([None, None])),
    }
    for name, s in cases.items():
        fast = _ts_column_strings(s)
        assert fast is not None, name
        assert fast == slow(s), name
        # and the serialized bytes agree end to end
        assert canonical_dumps(fast) == canonical_dumps(
            [None if v is None else v for v in slow(s)]
        ), name

    # refusals: ns precision and tz-aware fall back to the slow path
    ns = pd.Series(pd.to_datetime(["2020-01-01 00:00:00.123456789"]))
    assert ns.dt.nanosecond.iloc[0] != 0
    assert _ts_column_strings(ns) is None
    tz = pd.Series(pd.to_datetime(["2020-01-01 00:00:00"])).dt.tz_localize(
        "UTC"
    )
    assert _ts_column_strings(tz) is None
    assert _ts_column_strings(pd.Series([1, 2])) is None
