"""Spans and counters for the traced run, recorded from outside the
package: wrappers around each layer's public functions, a transport
proxy and a state-store subclass, all injected through the service.

A span is ``[name, start, end, parent, op]`` with ``time.monotonic()``
times. Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from data_ingestion_pimcore_spark.state import IngestionStateStore


class Tracer:
    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[list] = []
        self.counts: dict[tuple[int, str], float] = {}
        self.op: int | None = None
        self.root: int | None = None

    def last_job_id(self) -> int:
        """Highest Spark job id so far; the lookup's own time is counted
        as ``trace.own_s``."""
        t0 = time.monotonic()
        try:
            return max(self._tracker.getJobIdsForGroup(None), default=-1)
        finally:
            self.add("trace.own_s", time.monotonic() - t0)

    def add(self, name: str, value: float = 1) -> None:
        key = (self.op, name)
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + value

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else self.root
        stack.append(sid)
        job0 = self.last_job_id() if jobs else None
        start = time.monotonic()
        try:
            yield sid
        finally:
            end = time.monotonic()
            stack.pop()
            with self._lock:
                self.spans.append([name, start, end, parent, self.op, sid])
            if jobs:
                self.add(f"{name}.jobs", self.last_job_id() - job0)

    @contextmanager
    def operation(self, op: int):
        """Root span of one benchmark operation; spans opened on any
        thread while it is open become its descendants."""
        self.op = op
        with self.span("op") as sid:
            self.root = sid
            try:
                yield
            finally:
                self.root = None

    def wrap(self, module, attr: str, name: str, jobs: bool = False) -> None:
        inner = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name, jobs=jobs):
                return inner(*args, **kwargs)

        self._patches.append((module, attr, inner))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        while self._patches:
            module, attr, inner = self._patches.pop()
            setattr(module, attr, inner)

    def op_spans(self, op: int) -> list[list]:
        return [s for s in self.spans if s[4] == op]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "op", "id"],
                    "spans": self.spans,
                },
                f,
            )


class TracingTransport:
    """Transport proxy: one ``sink.send`` span per attempt."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __call__(self, payload: dict):
        t = self._tracer
        name = "sink.complete" if payload.get("status") == "COMPLETED" else "sink.send"
        with t.span(name):
            resp = self._inner(payload)
        if name == "sink.send":
            t.add("sink.attempts")
            t.add("pipeline.payload_bytes", len(payload["records_json"]))
            if not resp.ack:
                t.add("sink.nacks")
        return resp

    def close(self) -> None:
        self._inner.close()


class TracingStateStore(IngestionStateStore):
    def __init__(self, path: str, tracer: Tracer):
        self._tracer = tracer
        super().__init__(path)

    def update_chunk(self, ingestion_id, chunk_number, total_records):
        with self._tracer.span("state.commit"):
            super().update_chunk(ingestion_id, chunk_number, total_records)

    def mark_completed(self, ingestion_id):
        with self._tracer.span("state.complete"):
            super().mark_completed(ingestion_id)

    # reads are counted on the ingestion threads only, not the
    # benchmark's own status reads through IngestionService.wait
    def _read(self) -> None:
        if threading.current_thread() is not threading.main_thread():
            self._tracer.add("state.reads")

    def get_last_chunk(self, ingestion_id):
        self._read()
        return super().get_last_chunk(ingestion_id)

    def get_total_records(self, ingestion_id):
        self._read()
        return super().get_total_records(ingestion_id)

    def get_status(self, ingestion_id):
        self._read()
        return super().get_status(ingestion_id)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_seconds(spans: list[list], sid: int) -> float:
    """A span's duration minus the part its children cover."""
    me = next(s for s in spans if s[5] == sid)
    kids = [
        (max(s[1], me[1]), min(s[2], me[2]))
        for s in spans
        if s[3] == sid and s[2] > me[1] and s[1] < me[2]
    ]
    return (me[2] - me[1]) - union_seconds(kids)


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest of p50/p90/p99/p99.9/p99.99 that has
    at least ten samples beyond it; None with fewer than 20 samples.
    Nearest-rank on the sorted samples."""
    n = len(values)
    best = None
    for p in (5000, 9000, 9900, 9990, 9999):  # in 1/100 of a percent
        rank = -(-p * n // 10_000)  # ceil(p / 100 / 100 * n)
        if n - rank >= 10:
            best = p, rank
    if best is None:
        return None
    return best[0] / 100, sorted(values)[best[1] - 1]


_TICKS = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pid: int, with_children: bool = False) -> float:
    """utime + stime (+ reaped children's) of one process, from /proc."""
    st = _stat(pid)
    if st is None:
        return 0.0
    # fields after the name: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    ticks = int(st[11]) + int(st[12])
    if with_children:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICKS


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident sets (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0
