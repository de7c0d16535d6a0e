"""Benchmark of the ingestion service through its HTTP shell, and of the
registered core queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. On the ingest workloads one closed-loop
client POSTs ``/api/ingest`` to ``http_app.start_http_app`` in front of an
``IngestionService`` on ``local[nproc]``, joins each ingestion with
``IngestionService.wait``, and the service delivers chunks over the real
``HttpTransport`` to one consumer process (``perfbench/consumer.py``) on
one keep-alive connection. On ``core_queries`` each operation is one pass
over the core query set. Every operation's output is checked against
expectations computed independently of the code under test. With
``--trace 1`` untraced and traced operations alternate and the per-layer
metrics are reported instead of the end-to-end ones.

Metric names and units come from ``BENCHMARK.json``. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The exit code is 0 only if every operation was correct.
"""

from __future__ import annotations

import argparse
import http.client
import json
import multiprocessing
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path[0] = ROOT
else:
    sys.path.insert(0, ROOT)

import bench as legacy_bench  # noqa: E402
from data_ingestion_pimcore_spark import app as app_module  # noqa: E402
from data_ingestion_pimcore_spark import pipeline, registry  # noqa: E402
from data_ingestion_pimcore_spark.app import IngestionService  # noqa: E402
from data_ingestion_pimcore_spark.http_app import start_http_app  # noqa: E402
from data_ingestion_pimcore_spark.session import get_spark  # noqa: E402
from data_ingestion_pimcore_spark.sink import HttpTransport  # noqa: E402
from data_ingestion_pimcore_spark.state import IngestionStateStore  # noqa: E402

from perfbench import core_tables, inputs, tracing  # noqa: E402
from perfbench.checks import check_answer, check_sequence  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
PER_LAYER = [m["name"] for m in _SPEC["per_layer"]]
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"] + _SPEC["per_layer"]}


@dataclass(frozen=True)
class Workload:
    file_type: str
    n_rows: int
    chunk_records: int | None = None
    chunk_bytes: int | None = None
    rejects: bool = False


# BENCHMARK.json lists the workloads the benchmark is judged on; the
# other ingest shapes stay runnable by hand.
INGEST = {
    "ingest_count_parquet": Workload("parquet", 120_000, chunk_records=4000),
    "ingest_bytes_json": Workload("json", 40_000, chunk_bytes=64 * 1024),
    "resume_after_reject": Workload("parquet", 120_000, chunk_records=4000, rejects=True),
}
CORE_SF = 0.01  # 60k lineitem rows
CORE_QUERIES = sorted(legacy_bench._CORE - {"ingest_e2e"})
# oracle-less core query -> the query whose oracle row count it must match
ROW_COUNT_GATES = {"sim_knn_ivf": "sim_knn_bruteforce"}

OP_TIMEOUT_S = 80.0  # one ingestion, POST to terminal state
RUN_LIMIT_S = 160.0  # no operation may be expected to end past this
REF_LOOP_RECORDS = 100_000


@dataclass
class OpResult:
    wall_s: float
    first_chunk_s: float
    resume_s: float
    records: int
    traced: bool
    problems: list[str] = field(default_factory=list)


def in_child(fn, *args):
    """``fn(*args)`` in a forked process: its memory peak stays out of
    the measured process. Call before the JVM starts."""
    ctx = multiprocessing.get_context("fork")
    recv, send = ctx.Pipe(duplex=False)
    child = ctx.Process(target=_child_main, args=(send, fn, args))
    child.start()
    send.close()
    try:
        ok, result = recv.recv()
    except EOFError:
        ok, result = False, "no result"
    finally:
        child.join()
    if not ok:
        raise RuntimeError(f"{fn.__name__} failed in a child process: {result}")
    return result


def _child_main(conn, fn, args) -> None:
    try:
        conn.send((True, fn(*args)))
    except BaseException as e:  # reported by the parent
        conn.send((False, repr(e)))


class Bench:
    """What every workload shares: the Spark session, process
    accounting and teardown."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None
        self.jvm: subprocess.Popen | None = None
        self.setup_s = self.session_start_s = self.warm_s = 0.0
        self.tracer: tracing.Tracer | None = None
        self.layer: list[dict] = []
        self._n_ops = 0

    def _dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        os.makedirs(path, exist_ok=True)
        return path

    def start_session(self) -> None:
        t0 = time.monotonic()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.local.dir": self._dir("spark-local"),
                "spark.sql.warehouse.dir": self._dir("warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_start_s = time.monotonic() - t0
        self.jvm = self.spark.sparkContext._gateway.proc

    def prepare(self) -> None:
        """Untimed work before set-up (the benchmark's own expectations)."""

    def logged(self, res: OpResult) -> OpResult:
        log(
            f"op {self._n_ops}{' traced' if res.traced else ''}: wall {res.wall_s:.3f} s, "
            f"first chunk {res.first_chunk_s:.3f} s, resume {res.resume_s:.3f} s"
            + (f", FAILED: {res.problems}" if res.problems else "")
        )
        return res

    def cpu(self) -> tuple[float, float, float]:
        """CPU seconds so far of the JVM, the Python-worker tree and
        this process."""
        jvm = self.jvm.pid
        workers = sum(tracing.cpu_seconds(p, True) for p in tracing.descendants(jvm))
        return tracing.cpu_seconds(jvm), workers, tracing.cpu_seconds(os.getpid())

    def peak_rss_mb(self) -> float:
        pids = [os.getpid(), self.jvm.pid] + tracing.descendants(self.jvm.pid)
        return tracing.peak_rss_mb(pids)

    def close(self) -> None:
        """Stop the session and its JVM and wait for them to end."""
        workers = tracing.descendants(self.jvm.pid) if self.jvm else []
        if self.spark is not None:
            self.spark.stop()
        if self.jvm is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
            self.jvm.stdin.close()  # the JVM exits when its stdin closes
            try:
                self.jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
        _reap(workers)


class IngestBench(Bench):
    warm_ops = 3  # checked, not measured: until op time stops falling
    min_traced_ops = 4  # measured operations in a traced run, at least

    def __init__(self, wl: Workload, seed: int, work: str):
        super().__init__(seed, work)
        self.wl = wl
        self.consumer: subprocess.Popen | None = None
        self.http = None
        self.service: IngestionService | None = None

    # -- set-up ------------------------------------------------------------

    def prepare(self) -> None:
        wl = self.wl
        out = tempfile.mkdtemp(prefix="expected-", dir=self._dir("inputs"))
        in_child(inputs.write_expected, self.seed, wl.n_rows, wl.file_type, out)
        self.expected = inputs.Expected.load(out)
        if wl.chunk_records:
            self.counts = self.expected.count_mode(wl.chunk_records)
            self.checksums = self.expected.checksums(self.counts)
        else:
            self.counts = self.checksums = None
        k = min(REF_LOOP_RECORDS, self.expected.n_records)
        self.ref_blob = self.expected.payload(0, k)

    def setup(self) -> None:
        """One full set-up: inputs, session, consumer, HTTP shell,
        warm-up."""
        t0 = time.monotonic()
        self.start_service()
        t3 = time.monotonic()
        pipeline.warm_ingest(
            self.spark, like=self.read(self.warm_dir), like_order_cols=inputs.ORDER_COLS
        )
        t4 = time.monotonic()
        self.warm_s = t4 - t3
        self.setup_s = t4 - t0
        log(f"setup: {t3 - t0:.2f} s, then warm-up {t4 - t3:.2f} s")

    def start_service(self) -> None:
        gen = self._dir("inputs")
        self.src_dir = tempfile.mkdtemp(prefix="src-", dir=gen)
        self.warm_dir = tempfile.mkdtemp(prefix="warm-", dir=gen)
        wl = self.wl
        in_child(inputs.write_inputs, self.seed, wl.n_rows, wl.file_type, self.src_dir, self.warm_dir)
        self.start_session()
        self.start_consumer()
        self.service = IngestionService(self.spark, self.new_state(traced=False))
        self.http, _, self.http_port = start_http_app(self.service)

    def read(self, path: str):
        if self.wl.file_type == "json":
            from data_ingestion_pimcore_spark.sources import read_json_array

            return read_json_array(self.spark, path)
        return self.spark.read.parquet(path)

    def start_consumer(self) -> None:
        self.consumer = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "consumer.py")],
            stdout=subprocess.PIPE,
            cwd=ROOT,
            text=True,
        )
        line = self.consumer.stdout.readline()
        if not line.startswith("PORT "):
            raise RuntimeError(f"consumer did not start: {line!r}")
        self.consumer_port = int(line.split()[1])
        self.callback_url = f"http://127.0.0.1:{self.consumer_port}/callback"

    def new_state(self, traced: bool) -> IngestionStateStore:
        path = os.path.join(tempfile.mkdtemp(prefix="state-", dir=self._dir("state")), "state.parquet")
        if traced:
            return tracing.TracingStateStore(path, self.tracer)
        return IngestionStateStore(path)

    def measure(self, seconds: float, trace: bool, started: float):
        """``warm_ops`` unmeasured operations let the JIT and lazy set-up
        settle; then operations run back to back for ``seconds``. Every
        operation, the unmeasured ones too, is checked. Returns all
        operations and the measured ones."""
        ops = [self.logged(self.run_op(traced=False))]
        while len(ops) < self.warm_ops and not ops[-1].problems:
            ops.append(self.logged(self.run_op(traced=False)))
        if trace:
            self.tracer = tracing.Tracer(self.spark)
        deadline = time.monotonic() + seconds
        min_ops = self.min_traced_ops if trace else 1
        while not ops[-1].problems:
            i = len(ops) - self.warm_ops
            if time.monotonic() >= deadline and i >= min_ops:
                break
            if i >= 1 and time.monotonic() - started + 1.5 * ops[-1].wall_s > RUN_LIMIT_S:
                break
            # untraced, traced, traced, untraced, ...: both kinds see
            # the same share of earlier (less warm) operations
            ops.append(self.logged(self.run_op(traced=trace and i % 4 in (1, 2))))
        return ops, ops[self.warm_ops :]

    # -- one operation -----------------------------------------------------

    def consumer_call(self, method: str, path: str, body: dict | None = None) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.consumer_port, timeout=30)
        try:
            data = json.dumps(body).encode() if body is not None else None
            conn.request(method, path, body=data, headers={"Content-Type": "application/json"})
            return json.loads(conn.getresponse().read())
        finally:
            conn.close()

    def post(self, payload: dict) -> str:
        t0 = time.monotonic()
        conn = http.client.HTTPConnection("127.0.0.1", self.http_port, timeout=30)
        try:
            conn.request(
                "POST", "/api/ingest", body=json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"},
            )
            resp = json.loads(conn.getresponse().read())
        finally:
            conn.close()
        if self.tracer is not None and self.tracer.root is not None:
            self.tracer.spans.append(
                ["http_app.accept", t0, time.monotonic(), self.tracer.root, self.tracer.op, 0]
            )
        if resp.get("status") != "STARTED":
            raise RuntimeError(f"POST /api/ingest refused: {resp}")
        return resp["ingestion_id"]

    def run_op(self, traced: bool) -> OpResult:
        op = self._n_ops
        self._n_ops += 1
        wl = self.wl
        path = os.path.join(self._dir("ops"), f"op-{op:03d}")
        inputs.link_copy(self.src_dir, path)
        payload = {
            "file_path": path,
            "file_type": wl.file_type,
            "callback_url": self.callback_url,
            "order_cols": list(inputs.ORDER_COLS),
        }
        if wl.chunk_records:
            payload["chunk_size_by_records"] = wl.chunk_records
        else:
            payload["chunk_size_by_memory"] = wl.chunk_bytes
        rejects = self.pick_rejects(op) if wl.rejects else ([], None)
        self.consumer_call(
            "POST", "/bench/config",
            {"clear": True, "reject_once": rejects[0], "reject_always": rejects[1]},
        )
        self.service.state = self.new_state(traced)
        if traced:
            return self.traced(op, payload, rejects)
        return self.execute(payload, rejects, traced=False)

    def pick_rejects(self, op: int) -> tuple[list[int], int]:
        """Chunk K near the middle (within n/16 of n/2) NACKed on every
        attempt; three chunks before it NACKed once each."""
        rng = random.Random(self.seed * 1_000 + op)
        n = len(self.counts)
        k = n // 2 + rng.randint(-(n // 16), n // 16)
        return sorted(rng.sample(range(k), 3)), k

    def execute(self, payload: dict, rejects, traced: bool) -> OpResult:
        problems: list[str] = []
        cpu0 = self.cpu() if traced else None
        t0 = t_last_post = time.monotonic()
        iid = self.post(payload)
        status = self.service.wait(iid, timeout=OP_TIMEOUT_S)
        if self.wl.rejects:
            k = rejects[1]
            if status["status"] == "COMPLETED" or status["last_chunk"] != k - 1 or not status["error"]:
                problems.append(f"first POST should stop before chunk {k}: {status}")
            self.consumer_call("POST", "/bench/config", {"reject_once": [], "reject_always": None})
            t_last_post = time.monotonic()
            self.post(payload)
            status = self.service.wait(iid, timeout=OP_TIMEOUT_S)
        t1 = time.monotonic()
        cpu1 = self.cpu() if traced else None
        if status["status"] != "COMPLETED" or status["error"]:
            problems.append(f"ingestion did not complete: {status}")
        log = self.consumer_call("GET", "/bench/log")
        acks = [a for a in log["log"] if a[0] == iid]
        problems += check_sequence(
            acks,
            self.expected,
            counts=self.counts,
            checksums=self.checksums,
            byte_budget=self.wl.chunk_bytes,
        )
        if (status["last_chunk"], status["total_records"]) != (len(acks) - 1, self.expected.n_records):
            problems.append(f"state disagrees with the consumer: {status}")
        want_nacks = len(rejects[0]) + (3 if rejects[1] is not None else 0)
        if log["nacks"] != want_nacks:
            problems.append(f"consumer NACKed {log['nacks']} times, expected {want_nacks}")
        after = [a[4] for a in acks if a[4] >= t_last_post]
        res = OpResult(
            wall_s=t1 - t0,
            first_chunk_s=(after[0] - t_last_post) if after else float("nan"),
            resume_s=t1 - t_last_post,
            records=sum(a[2] for a in acks),
            traced=traced,
            problems=problems,
        )
        if traced:
            self.layer.append(
                {
                    "validate_s": log["validate_s"],
                    "records_acked": res.records,
                    "cpu": [b - a for a, b in zip(cpu0, cpu1)],
                }
            )
        return res

    def traced(self, op: int, payload: dict, rejects) -> OpResult:
        t = self.tracer
        payload = dict(payload, callback_url="inprocess://perfbench")
        transport = tracing.TracingTransport(HttpTransport(self.callback_url), t)
        self.service.inprocess_transports["inprocess://perfbench"] = transport
        t.wrap(app_module, "run_ingestion", "service.run")
        t.wrap(pipeline, "load_source", "sources.load")
        t.wrap(pipeline, "assign_chunks_by_count", "chunker.assign", jobs=True)
        t.wrap(pipeline, "assign_chunks_by_bytes", "chunker.assign", jobs=True)
        t.wrap(pipeline, "deliver_payloads", "pipeline.deliver", jobs=True)
        try:
            with t.operation(op):
                res = self.execute(payload, rejects, traced=True)
        finally:
            t.unwrap()
            transport.close()
        self.layer[-1]["op"] = op
        return res

    def per_layer(self, ops: list[OpResult]) -> dict[str, float]:
        t = self.tracer
        med = statistics.median
        rows = []
        sends_ms = []
        for layer in self.layer:
            op = layer["op"]
            spans = t.op_spans(op)
            by = {}
            for s in spans:
                by.setdefault(s[0], []).append(s)
            dur = lambda name: sum(s[2] - s[1] for s in by.get(name, ()))  # noqa: E731
            count = lambda name: t.counts.get((op, name), 0)  # noqa: E731
            sends_ms += [(s[2] - s[1]) * 1e3 for s in by.get("sink.send", ())]
            root = by["op"][0]
            # coverage: every layer span, plus each gap between the
            # chunker's return and the delivery loop's start (plan
            # building)
            covered = [
                (max(s[1], root[1]), min(s[2], root[2]))
                for s in spans
                if s[0] not in ("op", "service.run")
            ]
            first_payload = drain_wait = 0.0
            for run in by.get("service.run", ()):
                kids = {s[0]: s for s in spans if s[3] == run[5]}
                assign, deliver = kids.get("chunker.assign"), kids.get("pipeline.deliver")
                if assign is None or deliver is None:
                    continue
                covered.append((assign[2], deliver[1]))
                sends = [s[1] for s in spans if s[3] == deliver[5] and s[0] == "sink.send"]
                first_send = min(sends, default=deliver[2])
                first_payload += first_send - assign[2]
                drain_wait += tracing.self_seconds(spans, deliver[5]) - (first_send - deliver[1])
            rows.append(
                {
                    "chunker.assign_s": dur("chunker.assign"),
                    "chunker.jobs": count("chunker.assign.jobs"),
                    "pipeline.first_payload_s": first_payload,
                    "pipeline.drain_wait_s": drain_wait,
                    "pipeline.drain_jobs": count("pipeline.deliver.jobs"),
                    "pipeline.chunks": len(by.get("state.commit", ())),
                    "pipeline.payload_mb": count("pipeline.payload_bytes") / 1e6,
                    "sink.send_s": dur("sink.send"),
                    "sink.attempts": count("sink.attempts"),
                    "sink.nacks": count("sink.nacks"),
                    "consumer_server.validate_s": layer["validate_s"],
                    "consumer_server.records_acked": layer["records_acked"],
                    "state.commit_s": dur("state.commit"),
                    "state.commits": len(by.get("state.commit", ())),
                    "state.complete_s": dur("state.complete"),
                    "state.reads": count("state.reads"),
                    "sources.load_s": dur("sources.load"),
                    "http_app.accept_ms": 1e3 * med(s[2] - s[1] for s in by["http_app.accept"]),
                    **_cpu_metrics(layer["cpu"]),
                    "trace.coverage": tracing.union_seconds(covered) / (root[2] - root[1]),
                }
            )
        out = {k: med(r[k] for r in rows) for k in rows[0]}
        tail = tracing.tail_percentile(sends_ms)
        out["sink.send_p50_ms"] = med(sends_ms)
        out["sink.send_tail_pct"], out["sink.send_tail_ms"] = tail if tail else (50.0, med(sends_ms))
        out["pipeline.warm_s"] = self.warm_s
        out["trace.overhead_s"] = med(o.wall_s for o in ops if o.traced) - med(
            o.wall_s for o in ops if not o.traced
        )
        return out

    def close(self) -> None:
        if self.http is not None:
            self.http.shutdown()
            self.http.server_close()
        if self.consumer is not None:
            self.consumer.terminate()
            self.consumer.wait(timeout=30)
        super().close()


class CoreBench(Bench):
    """``core_queries``: each operation is one pass over the core query
    set in an order set by the seed, every result collected to the
    driver and, after the pass, checked against its DuckDB oracle
    (answers computed by ``oracles.py`` before the first pass). An
    untraced run measures one pass, the session's first: a second,
    warm pass would not fit the run's time. A traced run makes that
    pass unmeasured, then one traced pass; its ``trace.overhead_s`` is
    the time the tracer spent in its own bookkeeping."""

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.queries = registry.all_queries()
        self.order = list(CORE_QUERIES)
        random.Random(seed).shuffle(self.order)

    def setup(self) -> None:
        t0 = time.monotonic()
        self.tables = tempfile.mkdtemp(prefix="tables-", dir=self._dir("inputs"))
        self.n_input_rows = in_child(core_tables.write, self.seed, CORE_SF, self.tables)
        self.start_session()
        self.setup_s = time.monotonic() - t0
        log(f"setup: {self.setup_s:.2f} s")

    def measure(self, seconds: float, trace: bool, started: float):
        answers = os.path.join(self.tables, "oracles.json")
        with_oracle = [q for q in CORE_QUERIES if q in registry.oracles()]
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracles.py"), self.tables, answers, *with_oracle],
            cwd=self.tables,  # any DuckDB spill files land in the run's scratch
            check=True,
        )
        with open(answers) as f:
            self.oracles = json.load(f)
        ops = [self.logged(self.run_op(traced=False))]
        if not trace:
            return ops, ops
        self.tracer = tracing.Tracer(self.spark)
        if not ops[-1].problems:
            ops.append(self.logged(self.run_op(traced=True)))
        return ops, ops[1:]

    def run_op(self, traced: bool) -> OpResult:
        op = self._n_ops
        self._n_ops += 1
        t = self.tracer
        results = {}
        seconds = []
        cpu0 = self.cpu() if traced else None
        t0 = time.monotonic()
        with t.operation(op) if traced else nullcontext():
            for q in self.order:
                q0 = time.monotonic()
                with t.span(f"query.{q}", jobs=True) if traced else nullcontext():
                    results[q] = self.queries[q].fn(self.spark, self.tables).toPandas()
                seconds.append(time.monotonic() - q0)
        wall = time.monotonic() - t0
        if traced:
            self.layer.append({"op": op, "cpu": [b - a for a, b in zip(cpu0, self.cpu())]})
        # first_chunk_s: the mean time to a query's result. The median
        # would depend on which queries the seed's order runs cold.
        return OpResult(
            wall, sum(seconds) / len(seconds), wall, self.n_input_rows, traced, self.check(results)
        )

    def check(self, results: dict) -> list[str]:
        problems = []
        for q, pdf in results.items():
            if q in self.oracles:
                problems += check_answer(q, pdf, self.oracles[q])
            elif q in ROW_COUNT_GATES:
                want = len(self.oracles[ROW_COUNT_GATES[q]]["rows"])
                if len(pdf) != want:
                    problems.append(f"{q}: {len(pdf)} rows, {ROW_COUNT_GATES[q]} has {want}")
            else:
                problems.append(f"{q}: no check")
        return problems

    def per_layer(self, ops: list[OpResult]) -> dict[str, float]:
        t = self.tracer
        rows = []
        for layer in self.layer:
            spans = t.op_spans(layer["op"])
            root = next(s for s in spans if s[0] == "op")
            row = _cpu_metrics(layer["cpu"])
            row["trace.overhead_s"] = t.counts.get((layer["op"], "trace.own_s"), 0.0)
            row["trace.coverage"] = tracing.union_seconds(
                [(s[1], s[2]) for s in spans if s[0] != "op"]
            ) / (root[2] - root[1])
            for s in spans:
                if s[0].startswith("query."):
                    q = s[0][len("query.") :]
                    module = "ops." + self.queries[q].fn.__module__.rsplit(".", 1)[1]
                    jobs = t.counts.get((layer["op"], f"{s[0]}.jobs"), 0)
                    row[f"{s[0]}_s"] = s[2] - s[1]
                    row[f"{module}_s"] = row.get(f"{module}_s", 0.0) + s[2] - s[1]
                    row[f"{module}_jobs"] = row.get(f"{module}_jobs", 0) + jobs
            rows.append(row)
        return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def _cpu_metrics(cpu: list[float]) -> dict[str, float]:
    return {
        "process.jvm_cpu_s": cpu[0],
        "process.pyworker_cpu_s": cpu[1],
        "process.driver_cpu_s": cpu[2],
    }


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _reap(pids: list[int], timeout: float = 10.0) -> None:
    """Wait until the given (non-child) processes are gone; kill any
    that outlive the timeout."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def end_to_end(bench: Bench, ops: list[OpResult]) -> dict[str, float]:
    med = statistics.median
    return {
        "setup_s": bench.setup_s,
        "wall_s": med(o.wall_s for o in ops),
        "records_per_s": med(o.records / o.wall_s for o in ops),
        "first_chunk_s": med(o.first_chunk_s for o in ops),
        "resume_s": med(o.resume_s for o in ops),
        "peak_rss_mb": bench.peak_rss_mb(),
    }


def per_layer(bench: Bench, ops: list[OpResult], ref_blob: bytes) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not run reads 0."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(bench.per_layer(ops))
    out["session.start_s"] = bench.session_start_s
    out["baseline.ref_loop_records_per_s"] = legacy_bench._ref_loop_once(ref_blob)
    return out


def isolate(work: str) -> None:
    """Point every temporary file, log and Spark scratch directory of
    this process and the ones it starts into ``work``; size the session
    to this machine (``local[nproc]``, 2 GB driver)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM, the launcher's too: temp files inside the checkout, no
    # /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_LOG_DIR"] = os.path.join(work, "logs")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def main(argv: list[str] | None = None) -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted([*INGEST, "core_queries"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    isolate(work)

    if args.workload == "core_queries":
        bench = CoreBench(args.seed, work)
    else:
        bench = IngestBench(INGEST[args.workload], args.seed, work)
    try:
        bench.prepare()
        bench.setup()
        ops, measured = bench.measure(args.seconds, bool(args.trace), started)
        failed = [o for o in ops if o.problems]
        if failed:
            metrics = {}
        elif args.trace:
            if isinstance(bench, CoreBench):
                ref_blob = legacy_bench._ref_loop_blob(bench.tables)
            else:
                ref_blob = bench.ref_blob
            metrics = per_layer(bench, measured, ref_blob)
            bench.tracer.write(
                os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
            )
        else:
            metrics = end_to_end(bench, measured)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)  # left in place while another run uses it
        except OSError:
            pass

    for o in failed:
        for p in o.problems:
            print(f"check failed: {p}", file=sys.stderr)
    print(f"workload {args.workload} seed {args.seed}: {len(ops)} operations, {len(failed)} failed")
    print(f"error_rate {len(failed) / len(ops):.4f}")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {UNITS[name]}")
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
