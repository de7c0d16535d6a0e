"""Service-layer parity with the reference HTTP app: validate → STARTED
reply → background pipeline → state observable, and the 400 path."""

from __future__ import annotations

from data_ingestion_pimcore_spark.app import IngestionService
from data_ingestion_pimcore_spark.sink import ChunkValidator
from data_ingestion_pimcore_spark.state import IngestionStateStore

SF = "/root/testdata/sf0.001"

_PAYLOAD = {
    "file_path": f"{SF}/lineitem.parquet",
    "file_type": "parquet",
    "chunk_size_by_records": 2000,
    "order_cols": ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
}


def _svc(spark, tmp_path, v):
    return IngestionService(
        spark,
        IngestionStateStore(str(tmp_path / "state.pq")),
        inprocess_transports={"inprocess://validator": v},
    )


def test_ingest_started_then_completed(spark, tmp_path):
    v = ChunkValidator()
    svc = _svc(spark, tmp_path, v)
    assert svc.health() == {"status": "ok"}
    resp = svc.ingest(_PAYLOAD)
    # immediate STARTED reply, work continues in the background
    assert resp["status"] == "STARTED" and resp["ingestion_id"]
    final = svc.wait(resp["ingestion_id"], timeout=300)
    assert final["status"] == "COMPLETED" and final["error"] is None
    assert final["total_records"] == 6000
    assert v.completed == [resp["ingestion_id"]]
    assert v.received_chunks == list(range(3))


def test_ingest_validation_error_paths(spark, tmp_path):
    svc = _svc(spark, tmp_path, ChunkValidator())
    # both chunk modes -> reference's either/or rule
    r = svc.ingest(
        {
            "file_path": "x.json",
            "file_type": "json",
            "chunk_size_by_records": 10,
            "chunk_size_by_memory": 1000,
        }
    )
    assert r["status"] == "ERROR" and "exactly one" in r["error"]
    # bad file type
    r = svc.ingest({"file_path": "x.bin", "file_type": "bin", "chunk_size_by_records": 10})
    assert r["status"] == "ERROR" and "file_type" in r["error"]
    # record bound 1..4000
    r = svc.ingest({"file_path": "x.json", "file_type": "json", "chunk_size_by_records": 4001})
    assert r["status"] == "ERROR"
    # unknown callback scheme
    r = svc.ingest(
        {
            "file_path": "x.json",
            "file_type": "json",
            "chunk_size_by_records": 10,
            "callback_url": "ftp://nope",
        }
    )
    assert r["status"] == "ERROR" and "transport" in r["error"]


def test_ingest_failure_reported_not_raised(spark, tmp_path):
    """A chunk rejected 3x fails the background task; the service
    surfaces the error through wait(), state stays honest."""
    v = ChunkValidator()
    v.reject_once.update({1})  # NACK chunk 1 forever? no — once per call
    # make chunk 1 fail all 3 attempts
    calls = {"n": 0}

    def always_reject_chunk1(payload):
        if payload.get("chunk_number") == 1 and payload.get("status") != "COMPLETED":
            from data_ingestion_pimcore_spark.sink import AckResponse

            return AckResponse(False, payload["ingestion_id"], 1, "boom")
        return v(payload)

    svc = IngestionService(
        spark,
        IngestionStateStore(str(tmp_path / "state.pq")),
        inprocess_transports={"inprocess://validator": always_reject_chunk1},
    )
    resp = svc.ingest(_PAYLOAD)
    final = svc.wait(resp["ingestion_id"], timeout=300)
    assert final["status"] == "IN_PROGRESS"  # never falsely COMPLETED
    assert "rejected after 3 attempts" in final["error"]
    assert final["last_chunk"] == 0  # chunk 0 ACKed, chunk 1 never committed


def _held_service(spark, tmp_path, monkeypatch):
    """A service whose in-process consumer holds chunk 0 until
    ``h.release`` is set. ``h`` records the run_ingestion calls, the
    chunk-0 deliveries and every consumer response."""
    import threading
    from types import SimpleNamespace

    from data_ingestion_pimcore_spark import app

    h = SimpleNamespace(
        v=ChunkValidator(),
        runs=[],
        chunk0_deliveries=[],
        responses=[],
        arrived=threading.Event(),
        release=threading.Event(),
    )
    real_run = app.run_ingestion

    def counting_run(*a, **kw):
        h.runs.append(threading.current_thread().name)
        return real_run(*a, **kw)

    monkeypatch.setattr(app, "run_ingestion", counting_run)

    def gated(payload):
        if payload.get("status") != "COMPLETED" and payload["chunk_number"] == 0:
            h.chunk0_deliveries.append(1)
            h.arrived.set()
            h.release.wait(60)
        resp = h.v(payload)
        h.responses.append(resp)
        return resp

    return _svc(spark, tmp_path, gated), h


def _assert_joined_once(h, iid):
    from data_ingestion_pimcore_spark.sink import ERR_OUT_OF_ORDER

    assert len(h.runs) == 1
    assert len(h.chunk0_deliveries) == 1
    assert h.v.received_chunks == list(range(3))
    assert not any(r.error == ERR_OUT_OF_ORDER for r in h.responses)
    assert h.v.completed == [iid]


def test_duplicate_dispatch_joins_running_execution(spark, tmp_path, monkeypatch):
    """A second POST of an ingestion that is still running joins it: the
    same STARTED reply, no second drain. The transport holds chunk 0
    until the duplicate POST has been answered, so the first execution
    is live when the duplicate arrives."""
    svc, h = _held_service(spark, tmp_path, monkeypatch)
    first = svc.ingest(_PAYLOAD)
    assert h.arrived.wait(120)
    second = svc.ingest(_PAYLOAD)
    assert second == first == {
        "status": "STARTED",
        "ingestion_id": first["ingestion_id"],
    }
    h.release.set()
    final = svc.wait(first["ingestion_id"], timeout=300)
    assert final["status"] == "COMPLETED" and final["error"] is None
    _assert_joined_once(h, first["ingestion_id"])


def test_duplicate_http_dispatch_joins_running_execution(
    spark, tmp_path, monkeypatch
):
    """The same join, over the wire: two ``POST /api/ingest`` for one
    ingestion_id through the HTTP shell while chunk 0 is held get the
    same STARTED reply, one execution runs, and ``/api/status`` ends
    COMPLETED."""
    import json
    import logging
    import urllib.request

    from data_ingestion_pimcore_spark.http_app import start_http_app

    loggers = [
        logging.getLogger(f"data_ingestion_pimcore_spark.{k}")
        for k in ("info", "error", "debug")
    ]
    for lg in loggers:
        lg.handlers.clear()
    monkeypatch.setenv("SPARK_GRAFT_LOG_DIR", str(tmp_path / "logs"))

    svc, h = _held_service(spark, tmp_path, monkeypatch)
    srv, _t, port = start_http_app(svc)
    base = f"http://127.0.0.1:{port}"

    def post() -> dict:
        body = json.dumps(_PAYLOAD).encode()
        req = urllib.request.Request(
            f"{base}/api/ingest",
            data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            return json.loads(r.read())

    try:
        first = post()
        assert h.arrived.wait(120)
        second = post()
        assert second == first == {
            "status": "STARTED",
            "ingestion_id": first["ingestion_id"],
        }
        h.release.set()
        iid = first["ingestion_id"]
        svc.wait(iid, timeout=300)
        with urllib.request.urlopen(f"{base}/api/status/{iid}", timeout=60) as r:
            st = json.loads(r.read())
        assert st["status"] == "COMPLETED"
        assert st["total_records"] == 6000
        _assert_joined_once(h, iid)
    finally:
        h.release.set()
        srv.shutdown()
        for lg in loggers:
            lg.handlers.clear()


def test_reingestion_reply_id_is_the_committed_id(spark, tmp_path, monkeypatch):
    """With re_ingestion=True the version is the clock: the id the HTTP
    shell replies with is the one the pipeline commits under, so both
    ``wait()`` and ``/api/status`` read it COMPLETED."""
    import json
    import logging
    import urllib.request

    from data_ingestion_pimcore_spark.http_app import start_http_app

    loggers = [
        logging.getLogger(f"data_ingestion_pimcore_spark.{k}")
        for k in ("info", "error", "debug")
    ]
    for lg in loggers:
        lg.handlers.clear()
    monkeypatch.setenv("SPARK_GRAFT_LOG_DIR", str(tmp_path / "logs"))

    v = ChunkValidator()
    svc = _svc(spark, tmp_path, v)
    srv, _t, port = start_http_app(svc)
    base = f"http://127.0.0.1:{port}"
    try:
        req = urllib.request.Request(
            f"{base}/api/ingest",
            data=json.dumps(dict(_PAYLOAD, re_ingestion=True)).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            iid = json.loads(r.read())["ingestion_id"]
        final = svc.wait(iid, timeout=300)
        assert final["status"] == "COMPLETED" and final["error"] is None
        assert (final["last_chunk"], final["total_records"]) == (2, 6000)
        with urllib.request.urlopen(f"{base}/api/status/{iid}", timeout=60) as r:
            st = json.loads(r.read())
        assert st == {
            "ingestion_id": iid,
            "status": "COMPLETED",
            "last_chunk": 2,
            "total_records": 6000,
        }
        assert v.completed == [iid]
    finally:
        srv.shutdown()
        for lg in loggers:
            lg.handlers.clear()
