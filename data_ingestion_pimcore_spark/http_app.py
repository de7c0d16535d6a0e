"""HTTP shell: a real listening socket in front of IngestionService.

Wire-level parity with the reference's FastAPI app on stdlib
``http.server`` (no web framework in this container):

* ``POST /api/ingest`` (`app/api/ingest_data.py:27-34`): JSON body →
  validate → ``{"status": "STARTED", "ingestion_id": ...}`` with the
  pipeline dispatched to a background thread; invalid requests get the
  400 error shape of the reference's global exception handler
  (`app/main.py:25-33`: ``{"status": 400, "error": ...}``).
* ``GET /health`` (`app/main.py:36-41`): liveness probe.
* ``GET /api/status/<ingestion_id>``: engine extension surfacing the
  state store (the reference exposes state only via its SQLite file).

Threading model: ``ThreadingHTTPServer`` handles each request on its
own thread; ingestion work itself runs on IngestionService's background
threads (the FastAPI BackgroundTasks analogue), so the accept loop
never blocks on Spark jobs. At scale this shell fronts the driver of a
long-running Spark application; requests fan out as concurrent jobs
inside one SparkSession, which schedules them FIFO (Spark's default):
an earlier job's stages get the cores first, and a later job's tasks
run on the cores they leave free.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .app import IngestionService
from .logging_util import get_logger
from .state import DEFAULT_ROW


def _make_handler(service: IngestionService):
    info = get_logger("info")
    error = get_logger("error")

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, code: int, body: dict) -> None:
            out = json.dumps(body).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def do_GET(self) -> None:
            if self.path == "/health":
                info.info("api_hit : /health : success")
                self._reply(200, {"status": 200, "message": "success check ok!"})
                return
            if self.path.startswith("/api/status/"):
                iid = self.path.rsplit("/", 1)[1]
                row = service.state.row(iid) or DEFAULT_ROW
                self._reply(
                    200,
                    {
                        "ingestion_id": iid,
                        "status": row["status"] or "UNKNOWN",
                        "last_chunk": row["last_chunk"],
                        "total_records": row["total_records"],
                    },
                )
                return
            self._reply(404, {"status": 404, "error": "not found"})

        def do_POST(self) -> None:
            if self.path != "/api/ingest":
                self._reply(404, {"status": 404, "error": "not found"})
                return
            try:
                n = int(self.headers.get("Content-Length", 0))
                payload = json.loads(self.rfile.read(n) or b"{}")
            except (ValueError, json.JSONDecodeError) as exc:
                error.error(f"api_hit : /api/ingest : bad body : {exc}")
                self._reply(400, {"status": 400, "error": f"invalid JSON body: {exc}"})
                return
            info.info("api_hit : /api/ingest : received")
            resp = service.ingest(payload)
            if resp.get("status") == "ERROR":
                # reference global handler shape (app/main.py:25-33)
                error.error(f"api_hit : /api/ingest : rejected : {resp['error']}")
                self._reply(400, {"status": 400, "error": resp["error"]})
                return
            info.info(
                f"api_hit : /api/ingest : STARTED {resp.get('ingestion_id', '')[:12]}"
            )
            self._reply(200, resp)

        def log_message(self, *args) -> None:  # access log → files, not stderr
            pass

    return Handler


def start_http_app(
    service: IngestionService, host: str = "127.0.0.1", port: int = 0
) -> tuple[ThreadingHTTPServer, threading.Thread, int]:
    """Bind and serve in a daemon thread; returns (server, thread,
    bound_port). ``port=0`` binds an ephemeral port. Call
    ``server.shutdown()`` to stop."""
    srv = ThreadingHTTPServer((host, port), _make_handler(service))
    t = threading.Thread(target=srv.serve_forever, name="http-app", daemon=True)
    t.start()
    get_logger("info").info(f"http app listening on {host}:{srv.server_port}")
    return srv, t, srv.server_port
