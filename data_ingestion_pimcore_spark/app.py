"""Service layer replicating the reference's HTTP app semantics without
the HTTP shell (no web framework in this container; the wire layer is
one thin adapter away).

Reference parity:
* ``POST /api/ingest`` → ``IngestionService.ingest(payload)``: validate
  (`app/schemas/request_model.py:31-68`; invalid → error response, the
  400 path of `app/main.py:25-33`), derive identity
  (`app/controllers/ingestion_controllers.py:31-41`), dispatch the
  pipeline as a background task and reply ``{"status": "STARTED",
  "ingestion_id": ...}`` immediately
  (`app/controllers/ingestion_controllers.py:45-78`) — the async
  boundary is a thread here, a FastAPI background task there; on a
  cluster it would be a ``StreamingQuery`` handle (O1).
* ``GET /health`` → ``health()`` (`app/main.py:36-41`).
* callback_url resolves the transport: ``http(s)://`` → the real
  ``HttpTransport``; ``inprocess://`` → an injected in-process consumer
  (tests/bench).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .config import IngestRequest, InvalidRequest
from .pipeline import run_ingestion
from .sink import HttpTransport, Transport
from .state import DEFAULT_ROW, IngestionStateStore


@dataclass
class _Execution:
    thread: threading.Thread
    error: BaseException | None = None


@dataclass
class IngestionService:
    spark: SparkSession
    state: IngestionStateStore
    # registry for inprocess:// callback urls (tests, bench)
    inprocess_transports: dict[str, Transport] = field(default_factory=dict)
    _running: dict[str, _Execution] = field(default_factory=dict)
    # ThreadingHTTPServer serves POSTs concurrently: the live-execution
    # check and the insert of a new one must be one step
    _dispatch_lock: threading.Lock = field(default_factory=threading.Lock)

    def health(self) -> dict:
        return {"status": "ok"}

    def _resolve_transport(self, callback_url: str) -> Transport:
        if callback_url.startswith(("http://", "https://")):
            return HttpTransport(callback_url)
        t = self.inprocess_transports.get(callback_url)
        if t is None:
            raise InvalidRequest(f"no transport for callback_url {callback_url!r}")
        return t

    def ingest(self, payload: dict) -> dict:
        """Validate → identity → background dispatch → immediate reply.

        A duplicate dispatch of an ``ingestion_id`` that is still running
        joins that execution: same STARTED reply, no second thread (two
        drains of the same chunks would race one consumer, and CV2 would
        NACK one of them)."""
        try:
            request = IngestRequest(**payload)
            transport = self._resolve_transport(request.callback_url)
        except InvalidRequest as exc:
            return {"status": "ERROR", "error": str(exc)}
        except TypeError as exc:  # unknown/missing fields
            return {"status": "ERROR", "error": str(exc)}

        ingestion_id = request.ingestion_id

        def run() -> None:
            from .logging_util import get_logger

            try:
                s = run_ingestion(self.spark, request, self.state, transport)
                get_logger("info").info(
                    f"ingestion {ingestion_id[:12]} {s.status}: "
                    f"{s.chunks_sent} chunks, {s.total_records} records"
                )
            except BaseException as exc:  # recorded, not raised: K1 failure
                execution.error = exc
                get_logger("error").error(
                    f"ingestion {ingestion_id[:12]} failed: {exc}"
                )

        with self._dispatch_lock:
            running = self._running.get(ingestion_id)
            if running is None or not running.thread.is_alive():
                execution = _Execution(
                    thread=threading.Thread(
                        target=run, name=f"ingest-{ingestion_id[:12]}", daemon=True
                    )
                )
                self._running[ingestion_id] = execution
                execution.thread.start()
        return {"status": "STARTED", "ingestion_id": ingestion_id}

    def wait(self, ingestion_id: str, timeout: float | None = None) -> dict:
        """Join a background ingestion and report its terminal state
        (test/ops hook; the reference exposes state only via SQLite)."""
        ex = self._running.get(ingestion_id)
        if ex is None:
            return {"status": "UNKNOWN", "ingestion_id": ingestion_id}
        ex.thread.join(timeout)
        row = self.state.row(ingestion_id) or DEFAULT_ROW
        return {
            "status": row["status"] or "IN_PROGRESS",
            "ingestion_id": ingestion_id,
            "last_chunk": row["last_chunk"],
            "total_records": row["total_records"],
            "error": str(ex.error) if ex.error else None,
        }
