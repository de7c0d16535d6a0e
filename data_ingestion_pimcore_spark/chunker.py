"""Bounded chunker: ordered chunk assignment by record count or byte
budget (reference C1/C2 — `app/services/json_reader.py:129-136`,
`app/services/excel_reader.py:77`).

The reference streams one file sequentially, so "chunk order" is file
order. At 100 TB the equivalent invariant is a *declared* total order
(`order_cols`, e.g. ``(input_file_name, intra-file index)`` or a unique
key) — SURVEY §7.4.3. Everything here is built on that order. If
``order_cols`` has ties, ties are interchangeable only when the full
records are identical — pass a tiebreaker column (e.g. the canonical
record string) to totalize the order.

Scale design — no global single-task sort, no caching, no reliance on
cross-job shuffle determinism:

* A small deterministic sample (seeded) picks range boundaries ONCE on
  the driver; each row's range id (``__pid``) is then a PURE FUNCTION
  of its key (a chain of codegen'd struct comparisons). Every job that
  recomputes the lineage derives identical partitioning — unlike
  ``repartitionByRange``, whose per-query boundary resampling is not
  stable across the counts pass and the final pass.
* Rows hash-partition by ``__pid`` (all rows of a range land in one
  task) and sort locally; per-range counts become global offsets via a
  tiny broadcast join — the classic zipWithIndex pattern, two passes
  over the data, driver state O(#ranges). The range count is
  ``num_partitions`` or ``spark.sql.shuffle.partitions``; it sets how
  finely the order is cut, not the task count. AQE sizes the ordering
  stage, merging adjacent ranges into one task by shuffle bytes.
* Count-based chunking is then a pure projection ``floor((rn-1)/N)``.
* Byte-budget chunking is EPOCH'd greedy: the exact global row number
  defines fixed epochs of ``epoch_rows`` records, and the (inherently
  sequential) greedy fold runs per epoch via Arrow-batched
  ``mapInPandas``, renumbered globally with the same offset mechanism.
  A fresh chunk starts at every epoch boundary, so chunk membership is
  a PURE FUNCTION of (data, order, budget, epoch_rows) — independent
  of sampling, caching, partitioning, or process restarts, which is
  what makes byte-mode resume (K3) reproducible across crashed and
  fresh runs. Every reference invariant holds: budget never exceeded
  (except a single record alone above budget, which gets its own
  chunk, matching the pre-append check in `json_reader.py:129-136`),
  no empty chunks, contiguous global numbering in order. Epochs have
  identical row counts, so the fold stage is balanced by construction;
  driver offset state is O(#epochs) — raise ``epoch_rows`` (1M+) at
  trillion-row scale to keep that map small.
"""

from __future__ import annotations

import pandas as pd

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PID = "__pid"
_RN = "__rn"
_LOCAL_CHUNK = "__local_chunk"
CHUNK_COL = "chunk_number"

_SAMPLE_PER_RANGE = 200
_SEED = 42

# Test-introspection only: which pid path the last _deterministic_pid
# call took ("sql" fast path vs "tree" Column fallback). The parity
# test asserts "sql" so a silently-swallowed fast-path failure can't
# make it compare the fallback against itself.
_LAST_PID_PATH: str | None = None


def _key_struct(df: DataFrame, order_cols: list[str]) -> Column:
    if len(order_cols) == 1:  # scalar-prefix path: no struct allocation
        return F.col(order_cols[0])
    return F.struct(*[F.col(c) for c in order_cols])


def _boundary_lit(df: DataFrame, order_cols: list[str], values: tuple) -> Column:
    if len(order_cols) == 1:
        return F.lit(values[0]).cast(df.schema[order_cols[0]].dataType)
    fields = []
    for c, v in zip(order_cols, values):
        fields.append(F.lit(v).cast(df.schema[c].dataType).alias(c))
    return F.struct(*fields)


def _scalar_boundaries(uniq: list[tuple]) -> list[tuple] | None:
    """``[(v,), ...]`` of the boundaries' first elements when that
    column alone separates them (pairwise distinct, no null — a null
    first element would send non-null rows the wrong way through a
    three-valued ``>`` — and no NaN, whose ``=``/``>`` asymmetry
    between scalar and struct comparison would unbalance tie rows).
    None → callers keep the full-tuple struct comparison."""
    seen = set()
    for t in uniq:
        v = t[0]
        if v is None or (isinstance(v, float) and v != v):
            return None
        try:
            if v in seen:
                return None
            seen.add(v)
        except TypeError:  # unhashable first column (array keys...)
            return None
    return [(t[0],) for t in uniq]


class _Unrenderable(Exception):
    """Boundary value type has no safe SQL-literal rendering."""


def _sql_literal(v, dt) -> str:
    """Render one boundary value as a typed SQL literal, exactly
    matching ``F.lit(v).cast(dt)`` semantics. Used to build the whole
    range-id expression as ONE SQL string: the per-Column py4j
    construction of the binary-search WHEN tree measured ~0.9 s of
    driver round-trips per ingest (5.5k calls) — pure dispatch
    overhead, 20% of the sf0.1 wall. Raises _Unrenderable for types
    without a safe rendering (binary, arrays...) — callers fall back
    to the Column tree. Rendering precision is balance-relevant only:
    pids are correctness-neutral by construction (offsets absorb any
    boundary placement)."""
    from pyspark.sql import types as T

    s = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {s})"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return f"CAST({int(v)} AS {s})"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        x = float(v)
        if x != x:
            body = "NaN"
        elif x == float("inf"):
            body = "Infinity"
        elif x == float("-inf"):
            body = "-Infinity"
        else:
            body = repr(x)  # shortest repr round-trips exactly
        return f"CAST('{body}' AS {s})"
    if isinstance(dt, T.BooleanType):
        return "TRUE" if v else "FALSE"
    if isinstance(dt, T.DecimalType):
        return f"CAST('{v}' AS {s})"
    if isinstance(dt, T.StringType):
        e = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{e}'"
    if isinstance(dt, T.DateType):
        return f"DATE '{v}'"
    if isinstance(dt, T.TimestampType):
        # NOT a TIMESTAMP '...' string: that parses in the SESSION
        # timezone while F.lit(datetime) converts via PySpark's
        # toInternal (system timezone) — the two diverge on any driver
        # whose system TZ differs from spark.sql.session.timeZone.
        # Rendering the exact internal micros is parity-by-construction.
        return f"timestamp_micros({T.TimestampType().toInternal(v)})"
    if isinstance(dt, T.TimestampNTZType):
        return f"TIMESTAMP_NTZ '{v}'"  # tz-free on both paths
    raise _Unrenderable(s)


def _pid_sql(df: DataFrame, order_cols: list[str], uniq: list[tuple]) -> str:
    """The binary-search range-id CASE tree as one SQL expression
    string (single F.expr py4j call instead of thousands of Column
    constructions). Semantics identical to the Column-tree builder in
    _deterministic_pid: lexicographic struct comparison per level."""

    def ident(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    def fname(c: str) -> str:
        # named_struct field names are STRING LITERALS — escape them
        # like string values or a quote/backslash in a column name
        # breaks the parse (hostile JSON keys are in scope).
        return "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"

    if len(order_cols) == 1:  # scalar-prefix path: no named_struct
        key = ident(order_cols[0])

        def blit(values: tuple) -> str:
            return _sql_literal(values[0], df.schema[order_cols[0]].dataType)

    else:
        key = (
            "named_struct("
            + ", ".join(f"{fname(c)}, {ident(c)}" for c in order_cols)
            + ")"
        )

        def blit(values: tuple) -> str:
            return (
                "named_struct("
                + ", ".join(
                    f"{fname(c)}, {_sql_literal(v, df.schema[c].dataType)}"
                    for c, v in zip(order_cols, values)
                )
                + ")"
            )

    def rec(lo: int, hi: int) -> str:
        if lo >= hi:
            return f"CAST({lo} AS BIGINT)"
        mid = (lo + hi) // 2
        return (
            f"CASE WHEN {key} > {blit(uniq[mid])} "
            f"THEN {rec(mid + 1, hi)} ELSE {rec(lo, mid)} END"
        )

    return rec(0, len(uniq))


# Boundary cache, keyed by (source key, key cols, range count); the
# source key (_source_key) is the scan files plus the analyzed-plan
# semantic hash. Range boundaries are correctness-NEUTRAL for
# everything built here: the global row number is boundary-independent
# (per-range counts become offsets whatever the ranges are), count-mode
# chunks are a pure function of rn, and byte-mode chunks restart at
# fixed rn epochs — so boundaries only balance load. The semantic hash
# keeps two different row sets over the same files (e.g. a filtered
# source) from aliasing one entry, which would skew balance. Local-file
# keys carry (size, mtime) so in-place overwrites invalidate; remote
# schemes assume immutable objects (the Spark norm). In-memory/local
# relations report no input files and are never cached.
_BOUNDARY_CACHE: dict[tuple, list] = {}
_BOUNDARY_CACHE_MAX = 64


def _plan_discriminator(df: DataFrame) -> int:
    """Semantic hash of the analyzed plan — distinguishes row sets."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # Spark Connect or API drift: disable caching
        return id(df)


def _file_signature(path: str):
    """(path, size, mtime) for local files so in-place overwrites under
    the same name invalidate cached boundaries. Remote schemes return
    path-only (no extra driver RPC per file — staleness there is
    balance-only under the epoch design, and object stores are
    immutable-by-convention anyway)."""
    if path.startswith("file:"):
        import os
        from urllib.parse import unquote, urlparse

        local = unquote(urlparse(path).path)
        try:
            st = os.stat(local)
            return (path, st.st_size, st.st_mtime_ns)
        except OSError:
            return (path,)
    return (path,)


def _source_key(df: DataFrame) -> tuple | None:
    """Cache key of ``df``'s row set — its input files' signatures plus
    the analyzed plan's semantic hash — or None for a relation with no
    input files. One file listing, one stat per local file and one
    py4j call, so global_row_number computes it once for both caches."""
    files = tuple(_file_signature(p) for p in sorted(df.inputFiles()))
    return (files, _plan_discriminator(df)) if files else None


def _sampled_boundaries(
    df: DataFrame, order_cols: list[str], num_ranges: int, source: tuple | None
) -> list[tuple]:
    """Deduped range-boundary tuples for ``order_cols`` (len ≤ ranges-1),
    cached under ``source`` (``_source_key``) unless it is None."""
    ck = (source, tuple(order_cols), num_ranges) if source is not None else None
    if ck is not None and ck in _BOUNDARY_CACHE:
        return _BOUNDARY_CACHE[ck]
    k = _SAMPLE_PER_RANGE * num_ranges
    hash_col = F.xxhash64(F.lit(_SEED), *[F.col(c) for c in order_cols])
    # None/NaN-safe sort matching Spark's ascending total order (nulls
    # FIRST, NaN GREATEST): a null in any sampled order key used to
    # TypeError the plain tuple sort, and a NaN key made sorted()
    # non-total (Python NaN comparisons are all-False), yielding
    # NON-MONOTONE boundaries — pids then stop following the total
    # order and global row numbers break, not just balance. Both found
    # by the round-7 pid-parity review. Spark comparisons treat
    # NaN = NaN and NaN > everything, so the CASE tree routes NaN
    # boundaries consistently once the sample is sorted the same way.
    def _key(t: tuple):
        out = []
        for v in t:
            isnan = isinstance(v, float) and v != v
            out.append((v is not None, isnan, 0 if isnan else v))
        return tuple(out)

    sample = sorted(
        (
            tuple(r)
            for r in df.select(*order_cols)
            .orderBy(hash_col, *order_cols)
            .limit(k)
            .collect()
        ),
        key=_key,
    )
    if not sample:
        uniq: list[tuple] = []
    else:
        step = max(1, len(sample) // num_ranges)
        boundaries = sample[step::step][: num_ranges - 1]
        # Dedup equal boundary tuples (heavy skew) — equal keys stay
        # together. Compare via the NaN-aware sort key: raw tuple
        # equality treats NaN != NaN, so duplicate NaN boundaries would
        # survive (one empty range — balance-only, but inconsistent
        # with the total order established above).
        uniq = []
        for b in boundaries:
            if not uniq or _key(b) != _key(uniq[-1]):
                uniq.append(b)
    if ck is not None:
        if len(_BOUNDARY_CACHE) >= _BOUNDARY_CACHE_MAX:
            _BOUNDARY_CACHE.pop(next(iter(_BOUNDARY_CACHE)))
        _BOUNDARY_CACHE[ck] = uniq
    return uniq


# Per-range counts are a pure function of (row set, pid boundaries) —
# the boundary cache's key — so repeated ingests / queries over the
# same immutable files skip one full counts pass.
_COUNTS_CACHE: dict[tuple, list] = {}


def _range_counts(
    withpid: DataFrame, pid_cols: list[str], n_ranges: int, source: tuple | None
) -> list[tuple[int, int]]:
    ck = (source, tuple(pid_cols), n_ranges) if source is not None else None
    if ck is not None and ck in _COUNTS_CACHE:
        return _COUNTS_CACHE[ck]
    counts = [
        (r[_PID], r["count"]) for r in withpid.groupBy(_PID).count().collect()
    ]
    if ck is not None:
        if len(_COUNTS_CACHE) >= _BOUNDARY_CACHE_MAX:
            _COUNTS_CACHE.pop(next(iter(_COUNTS_CACHE)))
        _COUNTS_CACHE[ck] = counts
    return counts


def _deterministic_pid(
    df: DataFrame, order_cols: list[str], num_ranges: int, source: tuple | None
) -> tuple[DataFrame, int]:
    """Attach ``__pid``: the row's range index under boundaries sampled
    once on the driver. Pure function of the key → stable across jobs.

    Sampling is ONE pruned job: the K rows with the smallest
    ``xxhash64(key)`` are a uniform random sample, and ``ORDER BY hash
    LIMIT K`` compiles to TakeOrderedAndProject (per-partition top-K +
    driver merge — no global sort, no separate count() pass, driver
    memory O(K) at any data size). Key columns break hash ties so the
    cut is deterministic.
    """
    if num_ranges <= 1:
        return df.withColumn(_PID, F.lit(0).cast("long")), 1
    uniq = _sampled_boundaries(df, order_cols, num_ranges, source)
    if not uniq:
        return df.withColumn(_PID, F.lit(0).cast("long")), 1

    # Scalar-prefix reduction: when the boundaries are already pairwise
    # distinct (and non-null, non-NaN) on the FIRST order column, the
    # tiebreaker columns can never decide a comparison against a
    # boundary, so the CASE tree compares that one scalar instead of a
    # 4-field named_struct — no per-row struct allocation at any of the
    # log2(#ranges) levels (~25% of the rn stage's JVM CPU at sf0.1).
    # Monotonicity is preserved because the first column dominates the
    # total order: rows tying a boundary on it all take the ELSE side,
    # which only moves the range CUT, never splits equal full keys and
    # never reorders ranges — and pids are correctness-neutral anyway
    # (offsets absorb any boundary placement; only balance shifts).
    scalars = _scalar_boundaries(uniq)
    if scalars is not None:
        order_cols, uniq = order_cols[:1], scalars

    # Binary-search CASE tree (log2(#ranges) struct comparisons per
    # row), rendered as ONE SQL string when every boundary value has a
    # safe literal form — a single py4j call instead of ~5.5k Column
    # round-trips (~0.9 s driver overhead per ingest at 32 ranges).
    # Any rendering OR parse failure (exotic type, odd column name)
    # falls back to the semantically identical Column tree below —
    # the fast path must never be the reason an ingest fails.
    # Only rendering (_Unrenderable) and SQL analysis/parse errors fall
    # back — a broad `except Exception` would mask genuine infra errors
    # (py4j connection loss) and, under Spark Connect's deferred
    # analysis, let an invalid expression pass withColumn un-analyzed
    # and fail at execution instead of here.
    global _LAST_PID_PATH
    try:
        out = df.withColumn(_PID, F.expr(_pid_sql(df, order_cols, uniq)))
        _LAST_PID_PATH = "sql"
        return out, len(uniq) + 1
    except (_Unrenderable, ParseException, AnalysisException):
        _LAST_PID_PATH = "tree"

    key = _key_struct(df, order_cols)

    # Column-tree fallback for boundary types without a SQL rendering.
    def rec(lo: int, hi: int) -> Column:
        if lo >= hi:
            return F.lit(lo).cast("long")
        mid = (lo + hi) // 2
        b = _boundary_lit(df, order_cols, uniq[mid])
        return F.when(key > b, rec(mid + 1, hi)).otherwise(rec(lo, mid))

    return df.withColumn(_PID, rec(0, len(uniq))), len(uniq) + 1


def _offsets_df(counts: list[tuple[int, int]], spark, value_col: str) -> DataFrame:
    """[(pid, count)] → DataFrame(pid, offset) with cumulative offsets.

    Built as an inline ``VALUES`` relation, NOT ``createDataFrame``:
    the latter wraps the rows in a Python RDD (``Scan ExistingRDD`` via
    applySchemaToPythonRDD), and a broadcast whose build side is a
    Python RDD re-forks Python workers and re-pickles on EVERY job that
    evaluates it — measured ~6 core-s per sf0.1 ingest, ~65% of the
    whole rn machinery's CPU. A VALUES list is a JVM LocalRelation:
    zero Python at execution, free to re-broadcast per drain job."""
    counts = sorted(counts)
    rows, acc = [], 0
    for pid, cnt in counts:
        rows.append((int(pid), acc))
        acc += int(cnt)
    if not rows:
        rows = [(0, 0)]
    values = ", ".join(f"({p}, {o})" for p, o in rows)
    return spark.sql(
        f"SELECT CAST(col1 AS BIGINT) AS {_PID}, "
        f"CAST(col2 AS BIGINT) AS {value_col} FROM VALUES {values}"
    )


# --- deterministic ascending drain layout (sampling-free) -----------------
#
# ``repartitionByRange`` gives ascending physical partitions, but its
# RangePartitioner SAMPLES the child to pick boundaries — and when the
# child is the fused canonicalize stage, that sampling job RE-EXECUTES
# the whole expensive upstream once just to look at chunk numbers
# (round-8 stage profile: the discarded sampling pass cost MORE CPU
# than the real one). Chunk numbers are dense ``[0, n_chunks)``, so the
# target partition is a closed formula ``chunk div chunks_per_part`` —
# no sampling needed. Spark's DataFrame API has no direct "partition
# index = expression" exchange, but HashPartitioning(col, n) places a
# row at ``pmod(murmur3(col), n)``; mapping bucket ``p`` to a
# precomputed SENTINEL long whose murmur3 lands exactly on ``p`` makes
# the hash exchange an identity placement: partition index == bucket,
# ascending by construction, zero extra jobs. Murmur3 parity with
# F.hash and physical placement are pinned by tests/test_chunker.py.

_M32 = 0xFFFFFFFF


def _murmur3_hash_long(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashLong (the HashPartitioning hash for a
    single LongType expression, seed 42) — two 4-byte mixes + fmix."""

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & _M32

    def mix_k1(k1: int) -> int:
        k1 = (k1 * 0xCC9E2D51) & _M32
        return (rotl(k1, 15) * 0x1B873593) & _M32

    def mix_h1(h1: int, k1: int) -> int:
        h1 ^= k1
        return (rotl(h1, 13) * 5 + 0xE6546B64) & _M32

    v &= (1 << 64) - 1
    h1 = mix_h1(seed & _M32, mix_k1(v & _M32))
    h1 = mix_h1(h1, mix_k1(v >> 32))
    h1 ^= 8  # fmix(length in bytes)
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


_SENTINEL_CACHE: dict[int, list[int]] = {}


def _partition_sentinels(n_parts: int) -> list[int]:
    """sentinels[p] = smallest unused x ≥ 0 with pmod(murmur3(x), n) == p.
    Deterministic; O(n²) trivial search (n ≤ 256 in the drain layout)."""
    out = _SENTINEL_CACHE.get(n_parts)
    if out is None:
        out, x = [], 0
        for p in range(n_parts):
            while _murmur3_hash_long(x) % n_parts != p:
                x += 1
            out.append(x)
            x += 1
        _SENTINEL_CACHE[n_parts] = out
    return out


def ascending_chunk_layout(
    df: DataFrame,
    n_chunks: int,
    n_parts: int,
    sort_cols: tuple[str, ...] = (CHUNK_COL,),
) -> DataFrame:
    """Exchange payload rows into ``n_parts`` physical partitions that
    ascend in ``chunk_number`` (partition p holds chunks
    ``[p·cpp, (p+1)·cpp)``), sorted within each — the layout the
    sequential ordered drain consumes via ``toLocalIterator``. Unlike
    ``repartitionByRange`` this adds NO sampling pass over the (
    expensive) child, and unlike ``coalesce`` it can never merge
    non-consecutive partitions under AQE. ``n_chunks`` may be an upper
    bound; higher chunk numbers clamp into the last partition (resume
    filters only ever REMOVE chunks, which keeps the ascent)."""
    if n_parts <= 1:
        return df.repartition(1).sortWithinPartitions(*sort_cols)
    cpp = -(-max(n_chunks, 1) // n_parts)
    sentinels = ",".join(f"{x}L" for x in _partition_sentinels(n_parts))
    bucket = (
        f"element_at(array({sentinels}), "
        f"cast(least({CHUNK_COL} div {cpp}, {n_parts - 1}) as int) + 1)"
    )
    return df.repartition(n_parts, F.expr(bucket)).sortWithinPartitions(
        *sort_cols
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    col_name: str = _RN,
    num_partitions: int | None = None,
    pid_cols: list[str] | None = None,
    late_project: "callable | None" = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """1-based global row number over a total order, without a global
    sort: deterministic range ids → per-range JVM window row_number →
    per-range offsets (broadcast join).

    ``pid_cols`` optionally names a PREFIX of ``order_cols`` used for
    range boundaries — rows tying on the prefix stay co-located, while
    expensive tiebreaker columns (e.g. a canonical record string) are
    excluded from boundary sampling and from the counts pass, which
    column-pruning then reduces to a cheap scan.

    ``num_partitions`` (default ``spark.sql.shuffle.partitions``) is the
    number of sampled ranges only. The task count of the ordering stage
    is AQE's: it coalesces the ``__pid`` exchange by shuffle bytes, so a
    small input runs in a few tasks and a large one at full width.

    ``late_project`` (DataFrame → DataFrame) is applied AFTER the
    explicit hash-exchange on ``__pid`` and may add columns referenced
    by ``order_cols``. Expensive per-row derivations (e.g. the
    canonical record string) belong here: placed before the exchange
    they execute in the scan stage, whose task count is the file-split
    count — one task for a small single-row-group file, idling every
    other core; placed after, they run at the exchange's (AQE-sized)
    parallelism regardless of the input layout.

    Everything stays JVM-side (no Python round-trip): the hash-exchange
    on ``__pid`` (which the window requires anyway) is the only shuffle.
    """
    from pyspark.sql.window import Window

    pid_cols = pid_cols or order_cols
    source = _source_key(df)
    withpid, n_ranges = _deterministic_pid(
        df,
        pid_cols,
        num_partitions
        or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        source,
    )
    counts = _range_counts(withpid, pid_cols, n_ranges, source)
    if stats_out is not None:
        # Free byproduct of the counts pass — callers sizing downstream
        # stages use this instead of a second count() over the source.
        stats_out["n_rows"] = sum(c for _, c in counts)
    offsets = F.broadcast(_offsets_df(counts, df.sparkSession, "__offset"))
    # Explicit exchange: HashPartitioning(__pid) satisfies the window's
    # clustering requirement, so no second shuffle is added. Given no
    # partition count, it is one AQE may coalesce (several ranges per
    # task are safe: order comes from the offsets, not the placement).
    clustered = withpid.repartition(F.col(_PID))
    if late_project is not None:
        clustered = late_project(clustered)
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    return (
        clustered.withColumn(col_name, F.row_number().over(w).cast("long"))
        .join(offsets, _PID)
        .withColumn(col_name, F.col(col_name) + F.col("__offset"))
        .drop(_PID, "__offset")
    )


def assign_chunks_by_count(
    df: DataFrame,
    order_cols: list[str],
    chunk_size: int,
    num_partitions: int | None = None,
    pid_cols: list[str] | None = None,
    stats_out: dict | None = None,
    rn_col: str | None = None,
    len_col: str | None = None,
) -> DataFrame:
    """chunk_number = floor((global_rn - 1) / chunk_size), 0-based chunks
    in total order (reference count-mode C1). ``rn_col`` keeps the
    1-based global row number under that name (record-level resume
    filters on it); ``len_col`` adds the row's chunk length (the payload
    builder's completeness test). ``stats_out`` receives ``n_rows`` and
    ``n_chunks``."""
    stats = {} if stats_out is None else stats_out
    withrn = global_row_number(
        df, order_cols, _RN, num_partitions, pid_cols, stats_out=stats
    )
    stats["n_chunks"] = -(-stats["n_rows"] // chunk_size)
    out = withrn.withColumn(
        CHUNK_COL, F.floor((F.col(_RN) - 1) / chunk_size).cast("long")
    )
    if len_col:
        out = out.withColumn(
            len_col,
            F.least(
                F.lit(chunk_size).cast("long"),
                F.lit(stats["n_rows"]) - F.col(CHUNK_COL) * chunk_size,
            ),
        )
    return out.withColumnRenamed(_RN, rn_col) if rn_col else out.drop(_RN)


DEFAULT_EPOCH_ROWS = 8192


def assign_chunks_by_bytes(
    df: DataFrame,
    order_cols: list[str],
    byte_budget: int,
    size_col: str | None = None,
    num_partitions: int | None = None,
    epoch_rows: int = DEFAULT_EPOCH_ROWS,
    stats_out: dict | None = None,
    rn_col: str | None = None,
    size_expr: Column | None = None,
    max_records: int | None = None,
    len_col: str | None = None,
) -> DataFrame:
    """Greedy byte-budget chunking (reference byte-mode C1, strict
    pre-append check): a chunk is flushed *before* a record that would
    push it past ``byte_budget``. ``max_records`` optionally caps the
    chunk's record count as well (adaptive mode: flush on whichever
    limit trips first — a beyond-reference extension; the reference
    validates the two sizings as mutually exclusive).

    ``size_expr`` names a custom per-record size expression computed
    LATE (post-exchange, at shuffle parallelism) under the name
    ``size_col`` — pass both when the size is an expensive projection
    (e.g. canonical-string length) that must not run at the scan's
    possibly-1-task split count.

    Epoch'd for determinism + parallelism: the exact global row number
    splits the stream into fixed ``epoch_rows`` epochs, the greedy fold
    restarts fresh at each epoch, and local chunk ids renumber globally
    via broadcast offsets. Chunk membership is a pure function of
    (data, order, budget, epoch_rows) — reproducible across processes,
    partitionings, and cache states, which byte-mode resume requires.

    Two-pass shape, sized for 100 TB: pass 1 (boundaries) folds only a
    SLIM ``(epoch, rn, bytes)`` projection — the greedy chase per epoch
    is numpy ``cumsum`` + one ``searchsorted`` per CHUNK, so Python
    work is O(#chunks), not O(#rows), and full records never cross into
    Python. Pass 2 (assignment) is pure JVM: the tiny per-epoch
    chunk-start arrays broadcast-join back on the epoch id (no extra
    exchange on the record stream — the ordering shuffle inside
    ``global_row_number`` is the only full-width exchange), and each
    row's chunk index is an array probe
    ``offset + #(starts <= rn) - 1``. Driver state stays O(#epochs).

    Adds ``record_bytes`` (canonical serialized size, C2) unless
    ``size_col`` names an existing column. ``rn_col`` and ``len_col``
    work as in ``assign_chunks_by_count``; the chunk length comes from
    the chase's per-chunk ``__n_records``, broadcast with the starts.
    """
    withrn, bounds, offsets = _byte_chunk_bounds(
        df,
        order_cols,
        byte_budget,
        size_col,
        num_partitions,
        epoch_rows,
        stats_out,
        size_expr,
        max_records,
    )
    epoch = F.floor((F.col(_RN) - 1) / F.lit(int(epoch_rows))).cast("long")
    chunks = F.array_sort(F.collect_list(F.struct("__start_rn", "__n_records")))
    starts_df = (
        bounds.groupBy(_PID)
        .agg(chunks.alias("__chunks"))
        .select(
            _PID,
            F.col("__chunks.__start_rn").alias("__starts"),
            F.col("__chunks.__n_records").alias("__lens"),
        )
        .join(offsets, _PID)
    )
    # Pass 2 — pure-JVM assignment: broadcast the per-epoch start
    # arrays and probe. Both the broadcast and the driver-built offsets
    # hold one row per epoch, so they grow with the input: building and
    # parsing the offsets' VALUES list costs ~18 µs per epoch on the
    # driver (3.5 s at 200k epochs; ROADMAP Direction 4).
    rn = F.col(_RN)
    local_chunk = F.size(F.filter(F.col("__starts"), lambda s: s <= rn)) - 1
    out = (
        withrn.withColumn(_PID, epoch)
        .join(F.broadcast(starts_df), _PID)
        .withColumn(CHUNK_COL, (F.col("__offset") + local_chunk).cast("long"))
    )
    if len_col:
        local = F.col(CHUNK_COL) - F.col("__offset") + 1
        out = out.withColumn(len_col, F.element_at("__lens", local.cast("int")))
    out = out.drop(_PID, "__offset", "__starts", "__lens")
    return out.withColumnRenamed(_RN, rn_col) if rn_col else out.drop(_RN)


def _byte_chunk_bounds(
    df: DataFrame,
    order_cols: list[str],
    byte_budget: int,
    size_col: str | None,
    num_partitions: int | None,
    epoch_rows: int,
    stats_out: dict | None,
    size_expr: Column | None,
    max_records: int | None = None,
):
    """Shared pass 1 of byte-budget chunking: global row numbers, then
    the per-epoch greedy chase over the slim (epoch, rn, bytes)
    projection. Returns ``(withrn, bounds, offsets)`` where ``bounds``
    has one row per chunk — (epoch, start rn, n_records, chunk_bytes,
    max_record_bytes) — pinned by localCheckpoint, and ``offsets`` maps
    epoch → global chunk-number offset."""
    from .integrity import record_bytes_col

    late = None
    if size_col is None:
        # Post-exchange (see global_row_number.late_project): the
        # serialization-size projection runs at shuffle parallelism,
        # not at the scan's (possibly 1-task) split count.
        size_col = "record_bytes"
        late = lambda d: d.withColumn("record_bytes", record_bytes_col(df))
    elif size_expr is not None:
        late = lambda d: d.withColumn(size_col, size_expr)

    withrn = global_row_number(
        df,
        order_cols,
        _RN,
        num_partitions,
        pid_cols=order_cols[:2],
        late_project=late,
        stats_out=stats_out,
    )
    budget = int(byte_budget)
    epoch = F.floor((F.col(_RN) - 1) / F.lit(int(epoch_rows))).cast("long")

    # Per-epoch chunk starts + fused per-chunk stats. An epoch's group
    # is ≤ epoch_rows rows by construction, so the grouped pandas frame
    # is bounded regardless of data size; Python work per epoch is
    # cumsum + one searchsorted per CHUNK.
    def chase(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(_RN)
        sizes = pdf[size_col].to_numpy(dtype="int64")
        csum = sizes.cumsum()
        n = len(csum)
        starts: list[int] = []
        i = 0
        while i < n:
            prev = int(csum[i - 1]) if i else 0
            # First index whose cumulative size exceeds the budget is
            # where the NEXT chunk starts (strict pre-append check); a
            # single record alone above budget gets its own chunk.
            j = int(np.searchsorted(csum, prev + budget, side="right"))
            if j <= i:
                j = i + 1
            if max_records is not None:  # adaptive: count cap too
                j = min(j, i + max_records)
            starts.append(i)
            i = j
        rns = pdf[_RN].to_numpy(dtype="int64")
        st = np.asarray(starts, dtype="int64")
        ends = np.append(st[1:], n)
        return pd.DataFrame(
            {
                _PID: np.full(len(st), int(pdf[_PID].iloc[0]), dtype="int64"),
                "__start_rn": rns[st],
                "__n_records": ends - st,
                "__chunk_bytes": np.add.reduceat(sizes, st),
                "__max_record_bytes": np.maximum.reduceat(sizes, st),
            }
        )

    slim = withrn.select(epoch.alias(_PID), F.col(_RN), F.col(size_col))
    # localCheckpoint pins the tiny (#chunks-row) boundary set so the
    # chase executes exactly once; its lineage would otherwise re-run
    # for the offsets collect AND every downstream consumer.
    bounds = (
        slim.groupBy(_PID)
        .applyInPandas(
            chase,
            schema=(
                f"{_PID} long, __start_rn long, __n_records long, "
                "__chunk_bytes long, __max_record_bytes long"
            ),
        )
        .localCheckpoint(eager=True)
    )
    counts = [
        (r[_PID], r["n_chunks"])
        for r in bounds.groupBy(_PID).agg(F.count("*").alias("n_chunks")).collect()
    ]
    if stats_out is not None:
        stats_out["n_chunks"] = sum(c for _, c in counts)
    offsets = _offsets_df(counts, df.sparkSession, "__offset")
    return withrn, bounds, offsets


def byte_chunk_stats(
    df: DataFrame,
    order_cols: list[str],
    byte_budget: int,
    size_col: str | None = None,
    num_partitions: int | None = None,
    epoch_rows: int = DEFAULT_EPOCH_ROWS,
    stats_out: dict | None = None,
    size_expr: Column | None = None,
    max_records: int | None = None,
) -> DataFrame:
    """Per-chunk statistics of byte-budget chunking — (chunk_number,
    n_records, chunk_bytes, max_record_bytes) — in ONE pass over the
    records: the boundary chase already holds every chunk's sizes, so
    the stats are fused into it (numpy ``reduceat`` per epoch) and the
    record stream is never re-read for a second assignment pass. Chunk
    membership is identical to ``assign_chunks_by_bytes`` (same pass 1);
    use that when row-level chunk ids are needed."""
    from pyspark.sql.window import Window

    _, bounds, offsets = _byte_chunk_bounds(
        df,
        order_cols,
        byte_budget,
        size_col,
        num_partitions,
        epoch_rows,
        stats_out,
        size_expr,
        max_records,
    )
    w = Window.partitionBy(_PID).orderBy("__start_rn")
    return (
        bounds.join(F.broadcast(offsets), _PID)
        .withColumn(
            CHUNK_COL,
            (F.row_number().over(w) - 1 + F.col("__offset")).cast("long"),
        )
        .select(
            CHUNK_COL,
            F.col("__n_records").alias("n_records"),
            F.col("__chunk_bytes").alias("chunk_bytes"),
            F.col("__max_record_bytes").alias("max_record_bytes"),
        )
    )
