"""Output checks: what the consumer ACKed against what the input implies.

Each function returns a list of problems; an empty list means the
operation's output is correct.
"""

from __future__ import annotations

import os
import sys

from .inputs import Expected

# the repository's Spark-vs-DuckDB cell normalization
_TESTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
if _TESTS not in sys.path:
    sys.path.append(_TESTS)
from oracle_compare import _norm  # noqa: E402


def check_sequence(
    acks: list[list],
    expected: Expected,
    counts: list[int] | None = None,
    checksums: list[str] | None = None,
    byte_budget: int | None = None,
) -> list[str]:
    """``acks`` are one ingestion's consumer log rows
    ``[ingestion_id, chunk_number, n_records, checksum, ack_time]`` in
    ACK order. The chunks must be numbered 0..n-1, each ACKed exactly
    once and in order, and together hold every input record in
    ``ORDER_COLS`` order: each checksum must equal the canonical hash of
    the matching slice of the sorted input.

    Count mode passes the expected ``counts`` (and optionally their
    precomputed ``checksums``); byte mode passes ``byte_budget``, and the
    slices follow the ACKed record counts, with no chunk over the budget
    unless it holds a single record."""
    problems = []
    numbers = [a[1] for a in acks]
    if numbers != list(range(len(numbers))):
        problems.append(f"chunk numbers not 0..n-1 in order: {_head(numbers)}")
    got_counts = [a[2] for a in acks]
    if sum(got_counts) != expected.n_records:
        problems.append(f"{sum(got_counts)} records ACKed, expected {expected.n_records}")
    if counts is not None and got_counts != counts:
        problems.append("chunk record counts differ from count-mode sizing")
    if problems:
        return problems
    want = checksums if checksums is not None else expected.checksums(got_counts)
    bad = [a[1] for a, w in zip(acks, want) if a[3] != w]
    if bad:
        problems.append(f"{len(bad)} chunk checksums differ, first at chunk {bad[0]}")
    if byte_budget is not None:
        over = [
            i
            for i, (n, b) in enumerate(zip(got_counts, expected.chunk_bytes(got_counts)))
            if b > byte_budget and n > 1
        ]
        if over:
            problems.append(f"{len(over)} multi-record chunks over budget, first {over[0]}")
    return problems


def sorted_rows(pdf, cols: list[str]) -> list[list[str]]:
    """A query result's rows as strings, sorted, with the cell
    normalization of ``tests/oracle_compare.py``."""
    return sorted([str(_norm(v)) for v in row] for row in pdf[cols].itertuples(index=False))


def check_answer(name: str, pdf, oracle: dict) -> list[str]:
    """One query's Spark result (a pandas frame) against its oracle
    answer as ``oracles.py`` writes it."""
    cols = sorted(pdf.columns)
    if cols != oracle["cols"]:
        return [f"{name}: columns {cols}, oracle {oracle['cols']}"]
    rows = sorted_rows(pdf, cols)
    if len(rows) != len(oracle["rows"]):
        return [f"{name}: {len(rows)} rows, oracle {len(oracle['rows'])}"]
    bad = [(a, b) for a, b in zip(rows, oracle["rows"]) if a != b]
    if bad:
        return [f"{name}: {len(bad)} rows differ from the oracle, first {bad[0]}"]
    return []


def _head(xs: list, k: int = 8) -> str:
    return str(xs[:k]) + ("..." if len(xs) > k else "")
