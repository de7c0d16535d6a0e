"""End-to-end ingestion pipeline: source → ordered chunking → integrity
→ ordered ACK-gated delivery → resumable state.

Batch-mode equivalent of the reference's ``stream_and_push``
(`app/services/json_reader.py:36-127`), re-expressed Spark-first:

* All compute (scan, canonicalization, chunk assignment, sizes) is a
  distributed declarative plan.
* The resume filter (``chunk_number > last_chunk``, reference K3) is a
  DataFrame predicate above the ordering exchange: a re-run skips the
  already-ACKed chunks' Python serialize, but still scans and shuffles
  every record (pruning below the exchange: ROADMAP Direction 3).
* Chunks serialize in executors through one serializer (``_records``
  → ``_seal``: canonical JSON + SHA-256) and one builder,
  ``_chunk_payloads``, for count mode, byte mode and streaming
  micro-batches: each chunk seals in the task that holds its rows.
* Only the network emit is sequential per ingestion — the consumer's
  ordering contract (CV2) demands it (SURVEY §4.3.2). Finished payloads
  stream to the driver via ``toLocalIterator`` in chunk order with
  O(one partition) driver memory, and ``deliver_payloads`` emits them
  through one sequential, ACK-gated loop: send a chunk, wait for its
  ACK (retrying a NACK), commit it, then send the next. Many ingestions
  parallelize across each other.

Resume semantics are the *intended* ones (the Excel path's record-skip,
`app/services/excel_reader.py:65-69` + README:519-528), not the JSON
path's re-send bug (SURVEY §2.1 "Known reference bugs").
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .chunker import (
    CHUNK_COL,
    ascending_chunk_layout,
    assign_chunks_by_bytes,
    assign_chunks_by_count,
)
from .config import IngestRequest
from .integrity import build_chunk_id, canonical_dumps
from .sink import Transport, send_chunk_with_retry
from .state import IngestionStateStore


_PAYLOAD_COLS = [CHUNK_COL, "n_records", "checksum", "payload"]
_PAYLOAD_SCHEMA = (
    f"{CHUNK_COL} long, n_records long, checksum string, payload binary"
)


def _records(pdf: pd.DataFrame, record_cols: list[str]) -> list[dict]:
    """``pdf``'s rows as record dicts, in frame order.

    Per-column tolist with null-fixing ONLY for columns that actually
    contain nulls: a whole-frame astype(object) + where(notna) would
    copy every value into object cells per chunk (~40% of payload-build
    CPU); numeric/string columns without nulls convert in one C call
    instead. dict(zip(...)) over column lists ≈ 4x pandas
    to_dict("records") on 4000-row chunks — this runs once per chunk in
    the hot path.
    """
    columns = []
    for c in record_cols:
        s = pdf[c]
        vals = _ts_column_strings(s)
        if vals is None:
            vals = s.tolist()
            if s.isna().any():
                vals = [None if pd.isna(v) else v for v in vals]
        columns.append(vals)
    return [dict(zip(record_cols, row)) for row in zip(*columns)]


def _seal(c: int, records: list[dict]) -> tuple[int, int, str, bytes]:
    """One chunk's payload row: (chunk_number, n_records, checksum,
    canonical JSON). One list-level ``canonical_dumps`` per chunk
    (orjson per-call overhead × rows would dominate — measured 15%
    slower). The payload stays BYTES end-to-end (Arrow binary → driver
    → wire): a string column would pay a UTF-8 validate/decode on the
    sequential driver edge for every chunk."""
    blob = canonical_dumps(records)
    return c, len(records), hashlib.sha256(blob).hexdigest(), blob


def _ts_column_strings(s: pd.Series) -> list | None:
    """Vectorized isoformat for tz-naive datetime columns, or None when
    the slow path must handle the column.

    ``tolist()`` turns a datetime64 column into pd.Timestamp objects
    that ``canonical_dumps`` then routes one-by-one through the Python
    ``default=`` callback (``_canonical_default`` → ``isoformat()``) —
    measured ~3.3 µs/record of the payload build, the single biggest
    Python cost. Stringifying the whole column through numpy instead
    (one C call + one vectorized strip) is byte-identical for every
    value the fast path accepts:

    * ``datetime64[s|ms|us]`` str() is ``YYYY-MM-DDTHH:MM:SS[.ffffff]``
      with a fixed-width fraction; ``isoformat()`` prints the same but
      OMITS an all-zero fraction, so zero-microsecond columns cast to
      ``[s]`` (no fraction at all) and mixed columns strip ``.000000``.
    * tz-aware columns (offset suffix) and ns-precision values
      (isoformat prints 9 digits) fall back to the per-value path.
    """
    if not str(s.dtype).startswith("datetime64"):
        return None
    if getattr(s.dt, "tz", None) is not None:
        return None
    if str(s.dtype) == "datetime64[ns]" and bool((s.dt.nanosecond > 0).any()):
        return None
    isna = s.isna()
    if not bool((s.dt.microsecond > 0).any()):
        arr = s.values.astype("datetime64[s]").astype(str)
        vals = arr.tolist()
    else:
        arr = s.values.astype("datetime64[us]").astype(str)
        vals = (
            pd.Series(arr).str.replace(r"\.000000$", "", regex=True).tolist()
        )
    if bool(isna.any()):
        vals = [None if m else v for v, m in zip(vals, isna.tolist())]
    return vals


_RESUME_RN = "__resume_rn"
_CHUNK_LEN = "__chunk_len"

# Drain-layout granularity: chunks per toLocalIterator partition (one
# drain job each). See the sizing comment in _chunk_payloads.
CHUNKS_PER_DRAIN_PART = 16


def _chunk_payloads(
    pending: DataFrame, record_cols: list[str], n_chunks: int
) -> DataFrame:
    """The payload builder, for both chunking modes and for streaming
    micro-batches.

    ``pending`` is ``_chunked`` output (possibly resume-filtered): each
    row carries its chunk, its global row number ``_RESUME_RN`` and its
    chunk's length ``_CHUNK_LEN``. A task whose rows of chunk ``c``
    number ``_CHUNK_LEN`` holds ALL of ``c``, so it serializes + hashes
    it locally in the ordering stage itself — no full-record shuffle on
    chunk_number is needed. Only chunks straddling a task border emit
    fragments: per-row canonical JSON, merged on the driver in
    ``deliver_payloads`` after the drain exchange (which the delivery
    layout needed anyway, and which co-locates a chunk's fragments by
    construction). ``canonical_dumps`` of a list is exactly ``[`` +
    ``,``-joined element dumps + ``]`` (compact separators, both orjson
    and the stdlib fallback), so fragment concatenation is byte-identical
    to whole-chunk serialization — the consumer's CV3 re-hash verifies
    this on every delivery.

    At 100 TB each record crosses the network ONCE (the ordering
    exchange) plus its finished payload bytes once (the drain layout
    exchange). Partial chunks from record-level resume filters route
    through the fragment path automatically (their in-task count never
    reaches the chunk length). Returns payloads in ``n_chunks``-dense
    ascending partitions, sorted by chunk — the drain consumes them
    directly.
    """

    out_cols = [*_PAYLOAD_COLS, "complete", "first_rn"]
    out_schema = f"{_PAYLOAD_SCHEMA}, complete boolean, first_rn long"

    # open_chunks: c -> list of (rn_list, records) slices seen so far
    # in THIS task. NOTE the range-id exchange is a HASH partitioning,
    # so one task can hold several NON-adjacent rn ranges: fragment
    # emission must split on rn discontinuities, or the driver-side
    # first_rn merge would interleave two tasks' runs out of order.
    def emit_complete(c: int, buf: list[tuple[list[int], list[dict]]]):
        pairs = sorted(
            (rn, r) for rns, recs in buf for rn, r in zip(rns, recs)
        )
        return (*_seal(c, [r for _, r in pairs]), True, pairs[0][0])

    def emit_fragments(c: int, buf: list[tuple[list[int], list[dict]]]):
        pairs = sorted(
            (rn, r) for rns, recs in buf for rn, r in zip(rns, recs)
        )
        out = []
        run_start = 0
        for i in range(1, len(pairs) + 1):
            if i == len(pairs) or pairs[i][0] != pairs[i - 1][0] + 1:
                run = pairs[run_start:i]
                body = b",".join(canonical_dumps(r) for _, r in run)
                out.append((c, len(run), None, body, False, run[0][0]))
                run_start = i
        return out

    def run(batches):
        open_chunks: dict[int, list[tuple[list[int], list[dict]]]] = {}
        counts: dict[int, int] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            done = []
            # vectorized per (batch × chunk) group — the per-row Python
            # loop variant measured ~70% slower at sf0.1
            for c, g in pdf.groupby(CHUNK_COL, sort=False):
                c = int(c)
                g = g.sort_values(_RESUME_RN, kind="mergesort")
                recs = _records(g, record_cols)
                buf = open_chunks.setdefault(c, [])
                buf.append((g[_RESUME_RN].tolist(), recs))
                counts[c] = counts.get(c, 0) + len(recs)
                if counts[c] == g[_CHUNK_LEN].iat[0]:
                    done.append(emit_complete(c, buf))
                    del open_chunks[c], counts[c]
            if done:
                yield pd.DataFrame(done, columns=out_cols)
        if open_chunks:
            tail = [
                row
                for c, buf in sorted(open_chunks.items())
                for row in emit_fragments(c, buf)
            ]
            yield pd.DataFrame(tail, columns=out_cols)

    local = pending.mapInPandas(run, schema=out_schema)

    # Drain layout doubles as the fragment co-locator: ascending chunk
    # partitions give the order the sequential emit requires AND put a
    # chunk's fragments side by side; the (rare) fragment rows are
    # merged on the driver inside deliver_payloads, so complete
    # payloads never re-enter Python after serialization. (An
    # executor-side merge stage was measured ~10% slower end-to-end —
    # it Arrow-round-trips every payload byte once more; a where/union
    # split would recompute the serialize pass per branch.)
    #
    # toLocalIterator schedules ONE job per partition — smaller
    # partitions mean each drain job computes LESS before the
    # sequential emit can start, pipelining compute under the emit, but
    # each job pays scheduling overhead. ~16 chunks/partition is the
    # measured optimum (quiet-machine interleaved A/B at sf0.1, medians:
    # 64/part 161k, 16/part 178k, 8/part 176k, 4/part 164k rec/s — the
    # original ~64 sizing dated from when every drain job re-evaluated a
    # Python-RDD offsets broadcast, since fixed). Ascending partitions
    # keep global order for the sequential emit, bound driver memory per
    # prefetched partition (16 × payload cap), and scale the job count
    # with the data up to the 256 cap. The exchange is the
    # closed-formula sentinel layout (chunker.ascending_chunk_layout),
    # not repartitionByRange — RangePartitioner's sampling pass would
    # re-execute the payload build once per ingest (round-8 stage
    # profile — the discarded pass cost more CPU than the kept one).
    # NOTE coalesce() would NOT preserve order here — under AQE it
    # merges non-consecutive shuffle partitions. ``n_chunks`` falls out
    # of the chunker's own counts pass (stats_out) — no extra count()
    # job over the source, which for JSON/CSV/Excel ingests would be a
    # second full parse pass.
    n_parts = max(2, min(256, -(-n_chunks // CHUNKS_PER_DRAIN_PART)))
    return ascending_chunk_layout(
        local, n_chunks, n_parts, sort_cols=(CHUNK_COL, "first_rn")
    )


def _merge_fragment_rows(rows):
    """Driver-side merge of consecutive fragment rows (complete=false)
    emitted by _chunk_payloads; complete rows pass through.
    O(straddling chunks) work — a few sha256 calls per ingestion."""
    frag_c = None
    frag_n = 0
    frag_bodies: list[bytes] = []

    def flush():
        nonlocal frag_c, frag_n, frag_bodies
        if frag_c is None:
            return []
        blob = b"[" + b",".join(frag_bodies) + b"]"
        out = {
            CHUNK_COL: frag_c,
            "n_records": frag_n,
            "checksum": hashlib.sha256(blob).hexdigest(),
            "payload": blob,
        }
        frag_c, frag_n, frag_bodies = None, 0, []
        return [out]

    for row in rows:
        if row["complete"]:
            yield from flush()
            yield row
        else:
            c = row[CHUNK_COL]
            if frag_c is not None and frag_c != c:
                yield from flush()
            frag_c = c
            frag_n += row["n_records"]
            frag_bodies.append(bytes(row["payload"]))
    yield from flush()


# fsspec scheme (what reference users send, json_reader.py:42 via
# fsspec.get_fs_token_paths) → the Hadoop-FS connector scheme Spark's
# JVM readers dispatch on. Identity for schemes both sides share
# (gs://, file://, hdfs://, and the already-Hadoop forms).
_SCHEME_MAP = {
    "s3": "s3a",  # fsspec/s3fs form → hadoop-aws connector
    "s3n": "s3a",  # legacy hadoop scheme, long removed upstream
    "gcs": "gs",  # fsspec/gcsfs alias → GCS connector canonical form
    "az": "abfss",  # fsspec/adlfs Gen2 form → ABFS secure connector
    "abfs": "abfss",
}


def normalize_uri(path: str) -> str:
    """Rewrite an fsspec-style object-store URI to the Hadoop-FS scheme
    the JVM readers dispatch on (``s3://`` → ``s3a://`` etc.). The
    reference accepts fsspec forms (``fsspec.get_fs_token_paths``,
    json_reader.py:42); Spark's readers want connector schemes — this
    keeps reference-shaped requests working unchanged. Scheme-less
    local paths and already-canonical URIs pass through untouched."""
    scheme, sep, rest = path.partition("://")
    if not sep:
        return path
    # Fallback lowercases too: downstream dispatch (_CONNECTOR_CLASS,
    # is_object_uri) matches schemes case-insensitively, so a literal
    # `WASB://` must normalize to `wasb://` or the connector lookup
    # KeyErrors instead of taking the Python-source fallback.
    return _SCHEME_MAP.get(scheme.lower(), scheme.lower()) + "://" + rest


# Post-normalize_uri connector scheme → the Hadoop FS class whose
# presence on the JVM classpath means the JVM reader can take the URI
# directly; absent, json-array requests fall back to the Python
# streaming source (object_store.py).
_CONNECTOR_CLASS = {
    "s3a": "org.apache.hadoop.fs.s3a.S3AFileSystem",
    "gs": "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem",
    "abfss": "org.apache.hadoop.fs.azurebfs.SecureAzureBlobFileSystem",
    "wasb": "org.apache.hadoop.fs.azure.NativeAzureFileSystem",
    "wasbs": "org.apache.hadoop.fs.azure.NativeAzureFileSystem$Secure",
}


def _jvm_has_class(spark: SparkSession, cls: str) -> bool:
    """True iff the JVM can load ``cls`` — how the json dispatch
    detects whether the hadoop-aws s3a connector is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(cls)
        return True
    except Exception:
        return False


def load_source(spark: SparkSession, request: IngestRequest) -> DataFrame:
    """O1 file-type dispatch (`ingestion_controllers.py:45-59`), minus
    the HTTP shell: each validated file_type maps to a source connector.

    Multi-cloud (the reference's fsspec s3fs/gcsfs/adlfs behavior,
    requirements.txt:1,26,27,68), the Hadoop-FS way:

    * JVM readers (parquet/csv/jsonl and the multiLine json path)
      accept any Hadoop-FS URI directly — ``file://``, ``s3a://``,
      ``gs://``, ``abfss://``. S3 recipe::

          spark-submit --packages org.apache.hadoop:hadoop-aws:3.4.1
          spark.conf: spark.hadoop.fs.s3a.aws.credentials.provider =
              org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider
            spark.hadoop.fs.s3a.access.key / .secret.key (or the
            DefaultAWSCredentialsProviderChain / IRSA on EKS)
          file_path = "s3a://bucket/exports/products_*.json"

    * The Python-side streaming readers (giant-array ``json_array``
      files, xlsx) use stdlib IO: ``file://`` URIs resolve locally;
      ``s3://`` / ``gs://`` / ``az://`` objects stream through
      sources/object_store.py (the matching fsspec package when
      installed, else anonymous GET against the standard per-cloud
      endpoint variable — AWS_ENDPOINT_URL_S3, STORAGE_EMULATOR_HOST,
      AZURE_STORAGE_CONNECTION_STRING — each tested end-to-end
      against an in-process HTTP stub). When the JVM lacks the
      matching connector class (_CONNECTOR_CLASS), object-store
      JSON-array requests fall back to that Python streaming source
      automatically.
    """
    from .sources import read_excel, read_json_array
    from .sources.object_store import is_object_uri

    ft = request.file_type
    path = normalize_uri(request.file_path)
    if ft == "json":
        if is_object_uri(path) and not _jvm_has_class(
            spark, _CONNECTOR_CLASS[path.partition("://")[0].lower()]
        ):
            from .sources.json_source import read_json_array_streaming

            values = read_json_array_streaming(spark, request.file_path)
            # Dataset[String] JSON entry: full-scan schema inference +
            # parse — the same two-pass semantics (and cost) as the JVM
            # multiLine reader. The RDD hop is this connector edge only,
            # never a registered-query operator.
            return spark.read.json(values.rdd.map(lambda r: r[0]))
        return read_json_array(spark, path)
    if ft == "excel":
        return read_excel(spark, path)
    if ft == "jsonl":
        return spark.read.json(path)
    if ft == "csv":
        return spark.read.option("header", "true").csv(path)
    if ft == "xml":
        # Spark 4 native XML source (the spark-xml package merged
        # upstream); rowTag follows the reference's record-per-element
        # JSON-array convention.
        return spark.read.format("xml").option("rowTag", "row").load(path)
    return spark.read.parquet(path)


def run_ingestion(
    spark: SparkSession,
    request: IngestRequest,
    state: IngestionStateStore,
    transport: Transport,
) -> IngestSummary:
    """Controller entry: load by file_type, then run the chunked,
    ACK-gated delivery to completion. (The reference replies STARTED
    and runs this in a background task — async dispatch is an HTTP-app
    concern, orthogonal to the engine.)"""
    return ingest(spark, request, load_source(spark, request), state, transport)


def deliver_payloads(
    payloads: DataFrame,
    ingestion_id: str,
    state: IngestionStateStore,
    transport: Transport,
    total_records: int,
    mark_last: bool,
) -> int:
    """Ordered, ACK-gated emit of prepared chunk payloads (K1–K3).

    Sequential per contract (CV2); the expensive work already happened
    in executors. ``mark_last`` sets ``is_last=True`` on the final
    chunk (batch mode knows the end; streaming batches pass False and
    rely on the completion event). ``payloads`` is ``_chunk_payloads``
    output; its fragment rows are merged on the way (_merge_fragment_rows).
    Returns the number of chunks sent.

    One loop, one chunk in flight: each chunk goes through
    ``send_chunk_with_retry`` (the ACK gate and its bounded retry), and
    only an ACKed chunk commits its offset (K2) before the next is sent.
    The loop holds one row back so that it knows which row is the last.
    """
    chunks_sent = 0

    def deliver(row, is_last: bool):
        nonlocal chunks_sent, total_records
        # The executor-serialized canonical blob passes through as-is;
        # parsing it is consumer-side work (an HTTP consumer parses the
        # POST body), so the sequential driver edge stays O(bytes-copy)
        # per chunk instead of O(parse + re-serialize).
        send_chunk_with_retry(
            transport,
            {
                "ingestion_id": ingestion_id,
                "chunk_number": row[CHUNK_COL],
                "chunk_id": build_chunk_id(ingestion_id, row[CHUNK_COL]),
                "checksum": row["checksum"],
                "records_json": row["payload"],
                "is_last": is_last,
            },
        )
        total_records += row["n_records"]
        # K2: ACK-gated offset commit — no false progress.
        state.update_chunk(ingestion_id, row[CHUNK_COL], total_records)
        chunks_sent += 1

    rows = _merge_fragment_rows(payloads.toLocalIterator(prefetchPartitions=True))
    prev = None
    for row in rows:
        if prev is not None:
            deliver(prev, is_last=False)
        prev = row
    if prev is not None:
        deliver(prev, is_last=mark_last)
    return chunks_sent


@dataclass
class IngestSummary:
    ingestion_id: str
    chunks_sent: int
    total_records: int
    last_chunk: int
    status: str


def _chunked(
    df: DataFrame,
    request: IngestRequest,
    order_cols: list[str],
    stats_out: dict | None = None,
) -> DataFrame:
    """``df`` plus its 0-based ``chunk_number``, its 1-based global row
    number (``_RESUME_RN``: record-level resume filters on it, the
    payload builder orders by it) and its chunk's length
    (``_CHUNK_LEN``: the builder's completeness test), in either
    chunking mode. ``stats_out`` receives ``n_rows`` and ``n_chunks``."""
    if request.chunk_size_by_records is not None:
        return assign_chunks_by_count(
            df,
            order_cols,
            request.chunk_size_by_records,
            stats_out=stats_out,
            rn_col=_RESUME_RN,
            len_col=_CHUNK_LEN,
        )
    return assign_chunks_by_bytes(
        df,
        order_cols,
        request.chunk_size_by_memory,
        stats_out=stats_out,
        rn_col=_RESUME_RN,
        len_col=_CHUNK_LEN,
    )


def ingest(
    spark: SparkSession,
    request: IngestRequest,
    df: DataFrame,
    state: IngestionStateStore,
    transport: Transport,
) -> IngestSummary:
    """Run one ingestion execution to completion (or raise ChunkRejected).

    ``df`` is the already-loaded source (see sources/); ``request.order_cols``
    must name a deterministic total order so chunk numbering is
    reproducible across runs — the crux of resume correctness at scale.
    """
    order_cols = list(request.order_cols)
    if not order_cols:
        raise ValueError("order_cols required for deterministic chunk numbering")

    ingestion_id = request.ingestion_id
    last_chunk = state.get_last_chunk(ingestion_id)
    total_records = state.get_total_records(ingestion_id)

    record_cols = df.columns
    chunk_stats: dict = {}
    chunked = _chunked(df, request, order_cols, stats_out=chunk_stats)
    if request.record_resume:
        # Record-level resume (reference excel_reader.py:65-69): skip
        # individual already-counted records, so a partially-delivered
        # chunk is re-sent with only its unacked remainder. Chunk
        # numbering is untouched — assignment is deterministic, and the
        # consumer's running count continues exactly where it stopped.
        pending = chunked.where(F.col(_RESUME_RN) > total_records)
    else:
        # K3: skip already-ACKed chunks. The predicate sits above the
        # ordering exchange, so it saves their Python serialize only;
        # the scan and shuffle still cover every record (ROADMAP
        # Direction 3).
        pending = chunked.where(F.col(CHUNK_COL) > last_chunk)
    # Canonicalization + checksumming run IN EXECUTORS (each chunk
    # sealed in the task holding its rows), in parallel across all
    # cores; the driver only streams the finished payloads in chunk
    # order and performs the (contract-mandated sequential, CV2)
    # network emit. Payload bytes are the canonical JSON the consumer
    # re-hashes, so producer and consumer share one canonicalizer end
    # to end. One builder serves both chunking modes.
    payloads = _chunk_payloads(pending, record_cols, chunk_stats["n_chunks"])
    # NOTE a background persist+count "warm" of the payload frame was
    # A/B'd here (round 7) and removed: the drain's FIRST job already
    # executes the full upstream (scan + ordering exchange + fused
    # canonicalization map stage) before its single reduce task, so
    # every partition's expensive work is parallel and complete by the
    # first row — the background materialization only duplicated it
    # (interleaved A/B at sf0.1: statistically flat, 5.2-5.8 s both).
    chunks_sent = deliver_payloads(
        payloads,
        ingestion_id,
        state,
        transport,
        total_records,
        mark_last=True,
    )
    return complete_ingestion(ingestion_id, state, transport, chunks_sent)


def complete_ingestion(
    ingestion_id: str,
    state: IngestionStateStore,
    transport: Transport,
    chunks_sent: int | None = None,
    final: bool = True,
) -> IngestSummary:
    """K4 completion handshake, shared by batch and streaming: send the
    COMPLETED event with the committed high-water mark and mark the
    ingestion COMPLETED only on the consumer's ACK. A NACK leaves it
    IN_PROGRESS without raising. ``final=False`` skips the handshake.
    ``chunks_sent`` defaults to every committed chunk."""
    last = state.get_last_chunk(ingestion_id)
    total_records = state.get_total_records(ingestion_id)
    if final:
        resp = transport(
            {
                "ingestion_id": ingestion_id,
                "status": "COMPLETED",
                "chunk_number": last,
                "total_records": total_records,
            }
        )
        if resp.ack:
            state.mark_completed(ingestion_id)
    return IngestSummary(
        ingestion_id=ingestion_id,
        chunks_sent=last + 1 if chunks_sent is None else chunks_sent,
        total_records=total_records,
        last_chunk=last,
        status=state.get_status(ingestion_id) or "IN_PROGRESS",
    )


def warm_ingest(
    spark: SparkSession,
    like: DataFrame | None = None,
    like_order_cols: tuple[str, ...] | None = None,
    like_rows: int = 32768,
) -> None:
    """Session warm-up: run ONE miniature count-mode ingestion through
    ``ingest()`` (deterministic-pid sampling, global-row-number window,
    Arrow ``mapInPandas`` serialization, broadcast offset join, ordered
    ``toLocalIterator`` drain, state commits), so the first full-size
    ingestion does not pay Python-worker spin-up, Arrow initialization
    and whole-stage-codegen compilation on top of its own work.

    Callers: ``bench.py``'s ingest probes and perfbench's set-up, both
    with ``like``; the HTTP service does not call it, so its first POST
    runs cold.

    With ``like``, the ingest runs over a ``like_rows`` parquet slice of
    the expected source, ordered by ``like_order_cols`` (default: its
    first column). Whole-stage codegen is generated per plan schema and
    Spark's compile cache is keyed on the generated source, so the first
    full-size request over that source reuses the compiled classes. The
    slice is written, not ``like.limit()``: a bare limit is re-evaluated
    in each of the ingest's sampling, count and drain jobs, and nothing
    guarantees it returns the same rows each time. Without ``like``, the
    ingest runs over a synthetic 24,576-row ``spark.range`` frame.

    Not warmed: byte-mode plan shapes (``chunk_size_by_memory``), and
    any source schema other than ``like``'s. Measured with ``like``, a
    synthetic ingest on top cost more warm-up than it saved on the first
    request."""
    import shutil
    import tempfile

    from .sink import ChunkValidator
    from .state import IngestionStateStore

    tmp_dir = tempfile.mkdtemp(prefix="warm_ingest_")
    try:
        if like is None:
            path, order_cols = "warmup://count", ("k", "v")
            df = spark.range(24576).select(
                F.col("id").alias("k"),
                F.concat(F.lit("w"), F.col("id").cast("string")).alias("v"),
                (F.col("id") * 1.5).alias("x"),
            )
        else:
            path = f"{tmp_dir}/slice.parquet"
            order_cols = tuple(like_order_cols or like.columns[:1])
            like.limit(like_rows).write.mode("overwrite").parquet(path)
            df = spark.read.parquet(path)
        request = IngestRequest(
            file_path=path,
            file_type="parquet",
            chunk_size_by_records=4000,
            re_ingestion=True,
            order_cols=order_cols,
        )
        state = IngestionStateStore(f"{tmp_dir}/state.db")
        ingest(spark, request, df, state, ChunkValidator())
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
