"""Ingestion request contract.

Parity with the reference's pydantic request model
(`/root/reference/app/schemas/request_model.py:18-68`): required
file_path/file_type/callback_url, and exactly ONE of
``chunk_size_by_records`` (1–4000) or ``chunk_size_by_memory`` (bytes,
strict upper bound on chunk payload size).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .integrity import build_file_id, build_ingestion_id
from .state import version_for

VALID_FILE_TYPES = ("json", "excel", "parquet", "csv", "jsonl", "xml")

MAX_CHUNK_RECORDS = 4000  # request_model.py:22 (ge=1, le=4000)


class InvalidRequest(ValueError):
    """Raised when an IngestRequest violates the contract (→ HTTP 400
    in the reference, `app/main.py:25-33`)."""


@dataclass
class IngestRequest:
    file_path: str
    file_type: str
    callback_url: str = "inprocess://validator"
    chunk_size_by_records: int | None = None
    chunk_size_by_memory: int | None = None
    re_ingestion: bool = False
    # Record-level resume (reference Excel path records_to_skip,
    # excel_reader.py:32,65-69): skip individual already-counted
    # records instead of whole ACKed chunks, so a crash mid-chunk
    # re-sends only the unacked remainder of the partial chunk.
    # Default False = chunk-level resume (K3), which is equivalent
    # whenever state only commits whole chunks.
    record_resume: bool = False
    # Engine extension: explicit deterministic ordering columns (the
    # reference relies on file order; at scale the order must be a
    # declared, reproducible sort key — SURVEY §7.4.3).
    order_cols: tuple[str, ...] = field(default_factory=tuple)
    # Derived once, on validation (ingestion_controllers.py:31-41): a
    # re-ingestion's version is the clock, so the service's reply and
    # the pipeline's commits must read this one value.
    ingestion_id: str = field(init=False)

    def __post_init__(self) -> None:
        if not self.file_path:
            raise InvalidRequest("file_path is required")
        if self.file_type not in VALID_FILE_TYPES:
            raise InvalidRequest(
                f"file_type must be one of {VALID_FILE_TYPES}, got {self.file_type!r}"
            )
        if not self.callback_url:
            raise InvalidRequest("callback_url is required")
        by_rec, by_mem = self.chunk_size_by_records, self.chunk_size_by_memory
        # Exactly one chunking mode (request_model.py:54-66).
        if (by_rec is None) == (by_mem is None):
            raise InvalidRequest(
                "exactly one of chunk_size_by_records / chunk_size_by_memory required"
            )
        if by_rec is not None and not (1 <= by_rec <= MAX_CHUNK_RECORDS):
            raise InvalidRequest(
                f"chunk_size_by_records must be in [1, {MAX_CHUNK_RECORDS}]"
            )
        if by_mem is not None and by_mem < 1:
            raise InvalidRequest("chunk_size_by_memory must be >= 1 byte")
        self.ingestion_id = build_ingestion_id(
            build_file_id(self.file_path, self.file_type), version_for(self.re_ingestion)
        )
