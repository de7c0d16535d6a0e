"""Seeded benchmark inputs and the independent expectations they imply.

Every table is a pure function of the seed. Expectations are computed
here, from the generated rows, with pyarrow and the package's own
canonicalizer (``integrity.canonical_dumps``) — never by running the
pipeline — so the output checks in ``checks.py`` compare the service
against an independent reference. ``write_inputs`` and
``write_expected`` are meant to run in a child process (``run.in_child``)
so that the benchmark's own tables and buffers stay out of the measured
process's memory.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import orjson
import pyarrow as pa
import pyarrow.compute  # noqa: F401 (pa.compute)
import pyarrow.parquet as pq

from data_ingestion_pimcore_spark.integrity import canonical_dumps

ORDER_COLS = ("l_orderkey", "l_linenumber")
N_FILES = 8


def lineitem(seed: int, n_rows: int) -> pa.Table:
    """Lineitem-shaped rows, unique on ORDER_COLS, in a seed-permuted
    row order (the order the pipeline must restore)."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, size=n_rows // 2 + 8)
    ends = np.cumsum(lines)
    n_orders = int(np.searchsorted(ends, n_rows)) + 1
    lines = lines[:n_orders]
    lines[-1] -= int(lines.sum()) - n_rows
    # sparse order keys, as in TPC-H (8 keys used out of every 32)
    keys = np.sort(rng.choice(4 * n_orders, size=n_orders, replace=False)) + 1
    orderkey = np.repeat(keys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_rows) - starts + 1).astype(np.int32)
    quantity = rng.integers(1, 51, size=n_rows).astype(np.float64)
    price = np.round(quantity * rng.uniform(900.0, 2100.0, size=n_rows), 2)
    ship_days = rng.integers(0, 2526, size=n_rows)  # 1992-01-02 .. 1998-12-01
    shipdate = (np.datetime64("1992-01-02") + ship_days).astype("datetime64[us]")
    flags = np.array(["A", "N", "R"])
    table = pa.table(
        {
            "l_orderkey": orderkey.astype(np.int64),
            "l_partkey": rng.integers(1, 20_001, size=n_rows),
            "l_suppkey": rng.integers(1, 1_001, size=n_rows),
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, size=n_rows) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_rows) / 100.0,
            "l_returnflag": flags[rng.integers(0, 3, size=n_rows)],
            "l_linestatus": np.where(ship_days > 1270, "O", "F"),
            "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
        }
    )
    return table.take(rng.permutation(n_rows))


def with_descriptions(table: pa.Table, seed: int) -> pa.Table:
    """Adds a Pareto-tailed ``description`` (2% null) and turns the
    ship date into the ISO string a JSON export carries."""
    rng = np.random.default_rng(seed + 1)
    n = table.num_rows
    lengths = np.minimum(24 + (120 * rng.pareto(1.6, size=n)).astype(np.int64), 48_000)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz     ", dtype=np.uint8)
    pool = alphabet[rng.integers(0, len(alphabet), size=int(lengths.max()) + 65_536)]
    text = pool.tobytes().decode("ascii")
    offs = rng.integers(0, 65_536, size=n)
    desc = [text[o : o + k] for o, k in zip(offs.tolist(), lengths.tolist())]
    nulls = rng.random(n) < 0.02
    desc = [None if z else d for d, z in zip(desc, nulls.tolist())]
    day = table.column("l_shipdate").cast(pa.timestamp("s")).cast(pa.date32())
    return table.set_column(
        table.schema.get_field_index("l_shipdate"),
        "l_shipdate",
        pa.compute.strftime(day, "%Y-%m-%d"),
    ).append_column("description", pa.array(desc, pa.string()))


def make_table(seed: int, n_rows: int, file_type: str) -> pa.Table:
    """The seeded input of an ingest workload."""
    t = lineitem(seed, n_rows)
    return with_descriptions(t, seed) if file_type == "json" else t


def write_inputs(seed: int, n_rows: int, file_type: str, src_dir: str, warm_dir: str) -> None:
    """The workload's input into ``src_dir`` and a warm-up input from
    another seed into ``warm_dir``."""
    write = write_json_arrays if file_type == "json" else write_parquet
    write(make_table(seed, n_rows, file_type), src_dir)
    write(make_table(seed + 7_919, 32_768, file_type), warm_dir)


def write_expected(seed: int, n_rows: int, file_type: str, out_dir: str) -> None:
    Expected(make_table(seed, n_rows, file_type)).save(out_dir)


def write_parquet(table: pa.Table, out_dir: str) -> None:
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(
            table.slice(i * step, step), os.path.join(out_dir, f"part-{i:02d}.parquet")
        )


def write_json_arrays(table: pa.Table, out_dir: str) -> None:
    """One top-level JSON array per file, the reference's native input."""
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        rows = table.slice(i * step, step).to_pylist()
        with open(os.path.join(out_dir, f"part-{i:02d}.json"), "wb") as f:
            f.write(orjson.dumps(rows))


def link_copy(src_dir: str, dst_dir: str) -> None:
    """A fresh path holding the same files: the chunker's file-keyed
    caches miss on it the way they do for a new export."""
    os.makedirs(dst_dir)
    for name in sorted(os.listdir(src_dir)):
        os.link(os.path.join(src_dir, name), os.path.join(dst_dir, name))


def _pylist(column: pa.ChunkedArray) -> list:
    """Column values as canonical_dumps sees them. Timestamps become
    their ISO-8601 text in one vectorized call (the generated ones have
    no time of day, so this equals ``datetime.isoformat()``)."""
    if pa.types.is_timestamp(column.type):
        column = pa.compute.strftime(column.cast(pa.timestamp("s")), "%Y-%m-%dT%H:%M:%S")
    return column.to_pylist()


class FileBytes:
    """A file's bytes, read slice by slice with ``os.pread``."""

    def __init__(self, path: str):
        self.path = path

    def __getitem__(self, s: slice) -> bytes:
        with open(self.path, "rb") as f:
            return os.pread(f.fileno(), int(s.stop) - int(s.start), int(s.start))


class Expected:
    """The input in ``ORDER_COLS`` order, as one buffer of
    comma-joined canonical records plus each record's offset, so any
    chunk's canonical payload is ``[`` + a buffer slice + ``]``. A
    loaded ``Expected`` keeps the buffer on disk."""

    def __init__(self, table: pa.Table):
        table = table.sort_by([(c, "ascending") for c in ORDER_COLS])
        names = table.column_names
        columns = [_pylist(table.column(c)) for c in names]
        rows = [dict(zip(names, row)) for row in zip(*columns)]
        parts = [canonical_dumps(r) for r in rows]
        self.n_records = len(parts)
        sizes = np.fromiter((len(p) for p in parts), np.int64, len(parts))
        # record i spans buf[offsets[i] : offsets[i + 1] - 1]
        self.offsets = np.concatenate(([0], np.cumsum(sizes + 1)))
        self.buf = b",".join(parts)
        # The byte budget's per-record measure is the record's JSON
        # without its null fields (Spark's to_json drops them).
        for i, r in enumerate(rows):
            if None in r.values():
                sizes[i] = len(canonical_dumps({k: v for k, v in r.items() if v is not None}))
        self.record_bytes = sizes

    def save(self, out_dir: str) -> None:
        np.save(os.path.join(out_dir, "offsets.npy"), self.offsets)
        np.save(os.path.join(out_dir, "record_bytes.npy"), self.record_bytes)
        with open(os.path.join(out_dir, "records.bin"), "wb") as f:
            f.write(self.buf)

    @classmethod
    def load(cls, out_dir: str) -> Expected:
        self = cls.__new__(cls)
        self.offsets = np.load(os.path.join(out_dir, "offsets.npy"))
        self.record_bytes = np.load(os.path.join(out_dir, "record_bytes.npy"))
        self.n_records = len(self.record_bytes)
        self.buf = FileBytes(os.path.join(out_dir, "records.bin"))
        return self

    def payload(self, start: int, end: int) -> bytes:
        """Canonical JSON array of records ``start .. end - 1``."""
        return b"[" + self.buf[self.offsets[start] : self.offsets[end] - 1] + b"]"

    def checksums(self, counts: list[int]) -> list[str]:
        """sha256 of each chunk's canonical payload, chunks taken in
        order with the given record counts."""
        out, start = [], 0
        for n in counts:
            end = start + n
            out.append(hashlib.sha256(self.payload(start, end)).hexdigest())
            start = end
        return out

    def count_mode(self, chunk_size: int) -> list[int]:
        full, rest = divmod(self.n_records, chunk_size)
        return [chunk_size] * full + ([rest] if rest else [])

    def chunk_bytes(self, counts: list[int]) -> list[int]:
        """Per-chunk sum of the byte budget's record measure."""
        bounds = np.concatenate(([0], np.cumsum(counts)))
        sums = np.concatenate(([0], np.cumsum(self.record_bytes)))
        return (sums[bounds[1:]] - sums[bounds[:-1]]).tolist()
