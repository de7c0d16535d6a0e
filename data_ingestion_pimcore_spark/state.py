"""Persistent ingestion state store (reference ST1/ST2).

The reference's own SQLite table
``ingestion_state(ingestion_id TEXT PRIMARY KEY, last_chunk INTEGER,
total_records INTEGER, status TEXT)``
(`app/services/ingestion_state_store.py:26-68`), one upsert per write,
with its defaults: missing row → last_chunk = -1, total_records = 0,
status None (`:36-50`). The path names the database file whatever its
suffix; a file there that is not a SQLite database raises
``sqlite3.DatabaseError`` instead of starting empty.

A second table, ``stream_batch(ingestion_id TEXT PRIMARY KEY, batch_id
INTEGER, base_chunk INTEGER)``, holds each streaming ingestion's latest
micro-batch and its first chunk number, so a replayed batch keeps its
numbering (``stream_batch_base``).

Durability: in WAL mode with ``synchronous=NORMAL`` each ACK-gated
commit survives a crash of the process; ``mark_completed`` checkpoints
the WAL into the database file, fsync'd, before it returns. A commit
lost to an OS crash is SAFE: the chunk is re-sent on resume and the
consumer ACKs it idempotently via its ``chunk_id`` (CV1) — the
reference's at-least-once + idempotent-consumer contract
("chunk-exactly-once", README:421).

Re-ingestion versioning (ST2, `app/controllers/ingestion_controllers.py:31-41`):
``version_for(re_ingestion)`` returns "resume" or an epoch-millis
string, producing a fresh ingestion_id (fresh numbering/totals) when
re-ingestion is requested.
"""

from __future__ import annotations

import os
import sqlite3
import threading
import time

STATUS_IN_PROGRESS = "IN_PROGRESS"
STATUS_COMPLETED = "COMPLETED"

DEFAULT_ROW = {"last_chunk": -1, "total_records": 0, "status": None}


class IngestionStateStore:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        # One long-lived connection (one per commit cost ~1.2 ms against
        # ~20 µs); concurrent ingestions share it, behind the lock.
        self._lock = threading.Lock()
        self._conn = sqlite3.connect(path, check_same_thread=False, isolation_level=None)
        self._conn.row_factory = sqlite3.Row
        self._conn.execute("PRAGMA journal_mode=WAL")
        self._conn.execute("PRAGMA synchronous=NORMAL")
        self._conn.execute(
            "CREATE TABLE IF NOT EXISTS ingestion_state (ingestion_id TEXT PRIMARY KEY,"
            " last_chunk INTEGER, total_records INTEGER, status TEXT)"
        )
        self._conn.execute(
            "CREATE TABLE IF NOT EXISTS stream_batch (ingestion_id TEXT PRIMARY KEY,"
            " batch_id INTEGER, base_chunk INTEGER)"
        )

    # -- reads (defaults per ingestion_state_store.py:36-50) --------------

    def row(self, ingestion_id: str) -> dict | None:
        """The ingestion's row in one read, so ``last_chunk`` and
        ``total_records`` come from the same commit; None if it has none."""
        with self._lock:
            r = self._conn.execute(
                "SELECT * FROM ingestion_state WHERE ingestion_id = ?", (ingestion_id,)
            ).fetchone()
        return None if r is None else dict(r)

    def get_last_chunk(self, ingestion_id: str) -> int:
        return (self.row(ingestion_id) or DEFAULT_ROW)["last_chunk"]

    def get_total_records(self, ingestion_id: str) -> int:
        return (self.row(ingestion_id) or DEFAULT_ROW)["total_records"]

    def get_status(self, ingestion_id: str) -> str | None:
        return (self.row(ingestion_id) or DEFAULT_ROW)["status"]

    # -- writes (ACK-gated upsert, ingestion_state_store.py:52-68) --------

    def update_chunk(self, ingestion_id: str, chunk_number: int, total_records: int):
        """Commit progress — call ONLY after consumer ACK ("no false
        progress", reference README:471-482)."""
        with self._lock:
            self._conn.execute(
                "INSERT OR REPLACE INTO ingestion_state VALUES (?, ?, ?, ?)",
                (ingestion_id, int(chunk_number), int(total_records), STATUS_IN_PROGRESS),
            )

    def stream_batch_base(self, ingestion_id: str, batch_id: int) -> int:
        """First chunk number of streaming micro-batch ``batch_id``.
        The first call for a batch fixes it at ``last_chunk + 1`` and
        persists it before any of the batch's sends; a replay of the
        batch reads it back. One row per ingestion: Spark replays only
        its latest batch, and starts a batch only after committing the
        one before."""
        with self._lock:
            r = self._conn.execute(
                "SELECT batch_id, base_chunk FROM stream_batch WHERE ingestion_id = ?",
                (ingestion_id,),
            ).fetchone()
            if r is not None and r["batch_id"] == batch_id:
                return r["base_chunk"]
            last = self._conn.execute(
                "SELECT last_chunk FROM ingestion_state WHERE ingestion_id = ?",
                (ingestion_id,),
            ).fetchone()
            base = (DEFAULT_ROW["last_chunk"] if last is None else last[0]) + 1
            self._conn.execute(
                "INSERT OR REPLACE INTO stream_batch VALUES (?, ?, ?)",
                (ingestion_id, int(batch_id), base),
            )
        return base

    def mark_completed(self, ingestion_id: str):
        with self._lock:
            self._conn.execute(
                "INSERT INTO ingestion_state VALUES (?, -1, 0, ?)"
                " ON CONFLICT (ingestion_id) DO UPDATE SET status = excluded.status",
                (ingestion_id, STATUS_COMPLETED),
            )
            self._conn.execute("PRAGMA wal_checkpoint(FULL)")


def version_for(re_ingestion: bool) -> str:
    """"resume" keeps the ingestion_id (resume semantics); re-ingestion
    mints a fresh versioned id (ingestion_controllers.py:34-41)."""
    return str(int(time.time() * 1000)) if re_ingestion else "resume"
