"""The benchmark's consumer process: the shipped ``consumer_server``
with a recording validator and a small control surface.

Run from the repository root (prints ``PORT <n>`` once listening)::

    python3 perfbench/consumer.py

* ``POST /callback`` — chunk delivery, handled by the shipped
  ``ConsumerHandler`` (CV1–CV5), with each newly ACKed chunk logged as
  ``[ingestion_id, chunk_number, n_records, checksum, ack_time]`` where
  ``ack_time`` is ``time.monotonic()`` (one clock for every process on
  the host).
* ``POST /bench/config`` — ``{"reject_once": [...], "reject_always": k,
  "clear": bool}``: NACK each listed chunk once, NACK chunk ``k`` on
  every attempt, and optionally clear the log. Validator state (CV1/CV2
  progress) is never cleared, so a resumed ingestion continues against
  the same consumer.
* ``GET /bench/log`` — the ACK log, NACK count and validation seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestion_pimcore_spark.consumer_server import make_server
from data_ingestion_pimcore_spark.sink import AckResponse, ChunkValidator


class RecordingValidator(ChunkValidator):
    def __init__(self):
        super().__init__(retain_records=False)
        self.reject_always: int | None = None
        self.log: list[list] = []
        self.nacks = 0
        self.validate_s = 0.0

    def __call__(self, payload: dict) -> AckResponse:
        n = payload.get("chunk_number", -1)
        is_chunk = payload.get("status") != "COMPLETED"
        if is_chunk and n == self.reject_always:
            self.nacks += 1
            return AckResponse(False, payload["ingestion_id"], n, "SIMULATED_FAILURE")
        before = len(self.received_chunks)
        t0 = time.perf_counter()
        resp = super().__call__(payload)
        self.validate_s += time.perf_counter() - t0
        if not resp.ack:
            self.nacks += 1
        elif is_chunk and len(self.received_chunks) > before:
            self.log.append(
                [
                    payload["ingestion_id"],
                    n,
                    len(payload["records"]),
                    payload["checksum"],
                    time.monotonic(),
                ]
            )
        return resp


def bench_server():
    srv = make_server()
    base = srv.RequestHandlerClass
    base.validator = validator = RecordingValidator()

    class BenchHandler(base):
        def do_POST(self):  # noqa: N802 (stdlib casing)
            if self.path != "/bench/config":
                return super().do_POST()
            cfg = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            with base.lock:
                validator.reject_once = set(cfg.get("reject_once", ()))
                validator.reject_always = cfg.get("reject_always")
                if cfg.get("clear"):
                    validator.log, validator.nacks, validator.validate_s = [], 0, 0.0
            self._reply({"ok": True})

        def do_GET(self):  # noqa: N802
            if self.path != "/bench/log":
                return super().do_GET()
            with base.lock:
                body = {
                    "log": validator.log,
                    "nacks": validator.nacks,
                    "validate_s": validator.validate_s,
                }
            self._reply(body)

    srv.RequestHandlerClass = BenchHandler
    return srv


def main() -> None:
    srv = bench_server()
    print(f"PORT {srv.server_port}", flush=True)
    try:
        srv.serve_forever()
    finally:
        srv.server_close()


if __name__ == "__main__":
    main()
