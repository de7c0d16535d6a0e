"""Registered queries for the ingestion dataflow itself — the
reference's operators (identity, canonicalization, chunking, integrity
manifest, resume skip) expressed as verifiable declarative plans.

The flagship ``ingest_chunk_manifest`` is the reference's whole
pipeline as ONE query: scan → canonical projection → deterministic
global order → chunk assignment → per-chunk integrity metadata
(chunk_id, checksum, counts, is_last). It is fully SQL-expressible, so
the DuckDB oracle checks every step including the sha256 chunk
checksums.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..chunker import (
    CHUNK_COL,
    ascending_chunk_layout,
    assign_chunks_by_count,
    byte_chunk_stats,
    global_row_number,
)

# Integrity-chain drain sizing: manifest rows are tiny (3 columns),
# but each drain partition is one toLocalIterator job — ~16 chunks per
# partition pipelines executor compute under the sequential fold at
# bench scale, while the 2048-partition cap bounds job count (and
# makes driver state O(n_chunks/2048) rows) at 100 TB. Finished chain
# rows spill to parquet past this batch size instead of accumulating.
# Manifest rows are ~100 bytes; the drain holds ONE partition of them
# at a time, so thousands per partition is still a trivial driver
# bound while each partition fetch is a scheduled job — 16/part made
# the sf0.1 drain 9 sequential jobs of pure scheduling overhead
# (r12: 4096/part → 1 job at bench scale, 2048-part cap unchanged at
# the 37M-chunk extrapolation where it bounds a partition at ~18k
# rows ≈ 1.8 MB).
_CHAIN_CHUNKS_PER_PART = 4096
_CHAIN_SPILL_BATCH = 100_000

# Conf key naming a CLUSTER-VISIBLE scratch location for driver-fold
# spills. Executors, not the driver, execute the spill write/read
# tasks, so a driver-local tempfile.mkdtemp path only works in local
# mode (r11 advice, medium): on a multi-node cluster the write tasks
# would land on executor-local disks and the read-back would find
# nothing. Resolution order: this conf, the SparkContext checkpoint
# dir (cluster-visible by definition when set), then the SQL warehouse
# dir (shared storage on any real deployment; the local working dir in
# local mode — where it is equally visible).
SPILL_DIR_CONF = "spark.data_ingestion_pimcore_spark.spill.dir"


def _spill_dir(spark: SparkSession, prefix: str) -> str:
    import uuid

    root = spark.conf.get(SPILL_DIR_CONF, None)
    if not root:
        root = spark.sparkContext.getCheckpointDir()
    if not root:
        root = spark.conf.get("spark.sql.warehouse.dir")
    return f"{root.rstrip('/')}/{prefix}_{uuid.uuid4().hex}"


def _hadoop_rmtree(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API so cleanup
    works for any scheme the spill root may live on (hdfs://, s3a://,
    file:/ …) — shutil can only delete local paths."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:
        pass  # best-effort cleanup; an orphaned spill dir is harmless
from ..integrity import (
    build_file_id,
    build_ingestion_id,
    canonical_string_col,
    chunk_id_col,
    file_id_col,
    ingestion_id_col,
    sql_canonical_string,
)
from ..registry import register
from ..tables import load

# Deterministic flagship identity (computed once; embedded as literals
# in both engines' plans).
_FILE_ID = build_file_id("/root/testdata/lineitem.parquet", "parquet")
_INGESTION_ID = build_ingestion_id(_FILE_ID, "resume")

_LI_ORDER = ["l_orderkey", "l_linenumber"]
_LI_COLS_SQL = [
    ("l_orderkey", "bigint"),
    ("l_partkey", "bigint"),
    ("l_suppkey", "bigint"),
    ("l_linenumber", "int"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_discount", "double"),
    ("l_tax", "double"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "timestamp"),
]
_CANON_SQL = sql_canonical_string(_LI_COLS_SQL)

CHUNK_SIZE = 4000  # reference max chunk_size_by_records (request_model.py:22)


def chunk_manifest(
    df: DataFrame,
    order_cols: list[str],
    chunk_size: int,
    ingestion_id: str,
) -> DataFrame:
    """Per-chunk integrity manifest over a deterministic total order.

    Chunk checksum = sha256 over the newline-joined canonical record
    strings in row order — computed entirely JVM-side (collect_list of
    (rn, canon) structs, array_sort by rn, array_join, sha2), grouped
    by chunk so each chunk's hash is one shuffle group. No Python in
    the loop; scales with the number of chunks, not rows on the driver.
    """
    # Totalize the order: order_cols may have ties (synthetic lineitem
    # repeats (orderkey, linenumber)); the canonical string is unique
    # because no full-row duplicates exist, and identical records would
    # be interchangeable anyway. It is derived AFTER the pid-exchange
    # (late_project) so the per-row formatting work runs at shuffle
    # parallelism even when the scan is a single small file.
    canon_col = canonical_string_col(df)
    withrn = global_row_number(
        df,
        [*order_cols, "__canon"],
        "rn",
        pid_cols=order_cols,
        late_project=lambda d: d.withColumn("__canon", canon_col),
    )
    chunked = withrn.withColumn(
        "chunk_number", F.floor((F.col("rn") - 1) / chunk_size).cast("long")
    )
    manifest = chunked.groupBy("chunk_number").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sha2(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("rn"), F.col("__canon").alias("c")))
                    ),
                    lambda x: x["c"],
                ),
                "\n",
            ),
            256,
        ).alias("checksum"),
        F.min("rn").alias("first_rn"),
        F.max("rn").alias("last_rn"),
    )
    w = Window.partitionBy()  # manifest is tiny (one row per chunk)
    return manifest.select(
        "chunk_number",
        F.concat_ws(":", F.lit(ingestion_id), F.col("chunk_number").cast("string")).alias(
            "chunk_id"
        ),
        "n_records",
        "checksum",
        "first_rn",
        "last_rn",
        (F.col("chunk_number") == F.max("chunk_number").over(w)).alias("is_last"),
    )


_MANIFEST_ORACLE = f"""
WITH canon_t AS (
  SELECT l_orderkey, l_linenumber, {_CANON_SQL} AS canon FROM lineitem
), base AS (
  SELECT canon,
         ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, canon) AS rn
  FROM canon_t
), chunks AS (
  SELECT canon, rn, CAST(FLOOR((rn - 1) / {CHUNK_SIZE}) AS BIGINT) AS chunk_number
  FROM base
), m AS (
  SELECT chunk_number,
         COUNT(*) AS n_records,
         sha256(string_agg(canon, chr(10) ORDER BY rn)) AS checksum,
         MIN(rn) AS first_rn,
         MAX(rn) AS last_rn
  FROM chunks GROUP BY chunk_number
)
SELECT chunk_number,
       '{_INGESTION_ID}:' || CAST(chunk_number AS VARCHAR) AS chunk_id,
       n_records, checksum, first_rn, last_rn,
       chunk_number = MAX(chunk_number) OVER () AS is_last
FROM m
"""


@register(
    "ingest_chunk_manifest",
    oracle=_MANIFEST_ORACLE,
    doc="Flagship: the reference's full dataflow (S1→I1→C1→I2/I3) as one "
    "declarative plan; DuckDB verifies counts AND sha256 chunk checksums.",
)
def ingest_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return chunk_manifest(li, _LI_ORDER, CHUNK_SIZE, _INGESTION_ID)


@register(
    "ingest_resume_filter",
    oracle=f"""
WITH base AS (
  SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
  FROM lineitem
)
SELECT CAST(FLOOR((rn - 1) / {CHUNK_SIZE}) AS BIGINT) AS chunk_number,
       COUNT(*) AS n_records
FROM base
GROUP BY 1
HAVING CAST(FLOOR((rn - 1) / {CHUNK_SIZE}) AS BIGINT) > 2
""",
    doc="K3 resume skip: chunks <= last_chunk (here 2) are filtered out "
    "BEFORE any expensive work — Catalyst pushes the predicate below "
    "the manifest aggregation.",
)
def ingest_resume_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    withrn = global_row_number(li, _LI_ORDER, "rn")
    return (
        withrn.withColumn(
            "chunk_number", F.floor((F.col("rn") - 1) / CHUNK_SIZE).cast("long")
        )
        .where(F.col("chunk_number") > 2)
        .groupBy("chunk_number")
        .agg(F.count(F.lit(1)).alias("n_records"))
    )


_RESUME_SKIP_RECORDS = 2_100  # mid-chunk at every test SF (chunk 0 is partial)


@register(
    "ingest_record_resume",
    oracle=f"""
WITH base AS (
  SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
  FROM lineitem
)
SELECT CAST(FLOOR((rn - 1) / {CHUNK_SIZE}) AS BIGINT) AS chunk_number,
       COUNT(*) AS n_records,
       MIN(rn) AS first_rn,
       MAX(rn) AS last_rn
FROM base
WHERE rn > {_RESUME_SKIP_RECORDS}
GROUP BY 1
""",
    doc="Record-level resume (reference excel_reader.py:32,65-69 "
    "records_to_skip): individual already-counted records are filtered "
    "out by global row number, so the chunk containing the crash point "
    "re-sends only its unacked remainder (here chunk 0 resumes "
    f"mid-chunk after {_RESUME_SKIP_RECORDS} records) while chunk "
    "numbering — deterministic — is unchanged. The pushed-down rn "
    "predicate prunes fully-acked chunks before any expensive work, "
    "like the chunk-level K3 filter.",
)
def ingest_record_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    chunked = assign_chunks_by_count(li, _LI_ORDER, CHUNK_SIZE, rn_col="rn")
    return (
        chunked.where(F.col("rn") > _RESUME_SKIP_RECORDS)
        .groupBy(CHUNK_COL)
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min("rn").alias("first_rn"),
            F.max("rn").alias("last_rn"),
        )
    )


@register(
    "ingest_ids",
    oracle="""
SELECT n_nationkey,
       '/data/pim/' || LOWER(n_name) || '.json' AS file_path,
       sha256('/data/pim/' || LOWER(n_name) || '.json' || '|json') AS file_id,
       sha256(sha256('/data/pim/' || LOWER(n_name) || '.json' || '|json') || '|resume') AS ingestion_id,
       sha256(sha256('/data/pim/' || LOWER(n_name) || '.json' || '|json') || '|resume')
         || ':' || CAST(n_nationkey AS VARCHAR) AS chunk_id
FROM nation
""",
    doc="I3/I4 identity derivation (generate_ingestion_id.py:13-21, "
    "data_integrity_manager.py:48-54) as codegen'd sha2/concat exprs.",
)
def ingest_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    file_path = F.concat(F.lit("/data/pim/"), F.lower("n_name"), F.lit(".json"))
    file_id = file_id_col(file_path, F.lit("json"))
    ingestion_id = ingestion_id_col(file_id, F.lit("resume"))
    return n.select(
        "n_nationkey",
        file_path.alias("file_path"),
        file_id.alias("file_id"),
        ingestion_id.alias("ingestion_id"),
        chunk_id_col(ingestion_id, F.col("n_nationkey")).alias("chunk_id"),
    )


@register(
    "ingest_record_bytes",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       STRLEN({_CANON_SQL}) AS record_bytes
FROM lineitem
WHERE l_orderkey <= 200
""",
    doc="C2 record byte measurement (json_reader.py:66) over the "
    "canonical record string.",
)
def ingest_record_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.octet_length(canonical_string_col(li)).alias("record_bytes"),
    )


_BYTE_BUDGET = 64 * 1024
_EPOCH_ROWS = 8192


def _sql_greedy_chunks(
    source_sql: str,
    budget: int,
    epoch_rows: int,
    select: str,
    max_records: int | None = None,
) -> str:
    """DuckDB mirror of the epoch'd greedy byte chunker.

    ``source_sql`` must yield (rn, record_bytes) in total order. The
    greedy fold is re-expressed without iteration over rows: within an
    epoch, a chunk starting at row s ends at the LAST row whose
    cumulative byte sum fits in csum(s-1) + budget (ASOF join on the
    strictly-increasing csum), so chunk starts form a pointer chain the
    recursive CTE walks one CHUNK per step — #chunks iterations, not
    #rows.
    """
    byte_end = "GREATEST(COALESCE(b.rn, a.rn), a.rn)"
    next_end = (
        byte_end
        if max_records is None
        else f"LEAST({byte_end}, a.rn + {max_records} - 1)"
    )
    return f"""
WITH RECURSIVE
li AS ({source_sql}),
p AS (
  SELECT rn, record_bytes,
         CAST(FLOOR((rn - 1) / {epoch_rows}) AS BIGINT) AS epoch,
         SUM(record_bytes) OVER (
            PARTITION BY CAST(FLOOR((rn - 1) / {epoch_rows}) AS BIGINT)
            ORDER BY rn) AS csum
  FROM li
),
ep AS (SELECT epoch, MIN(rn) AS first_rn, MAX(rn) AS last_rn
       FROM p GROUP BY epoch),
nexts AS (
  SELECT a.rn, a.epoch, e.last_rn,
         {next_end} + 1 AS next_start
  FROM p a
  JOIN ep e ON e.epoch = a.epoch
  ASOF LEFT JOIN p b
    ON b.epoch = a.epoch AND b.csum <= a.csum - a.record_bytes + {budget}
),
ch(epoch, k, start_rn) AS (
  SELECT epoch, CAST(0 AS BIGINT), first_rn FROM ep
  UNION ALL
  SELECT c.epoch, c.k + 1, n.next_start
  FROM ch c JOIN nexts n ON n.epoch = c.epoch AND n.rn = c.start_rn
  WHERE n.next_start <= n.last_rn
),
numbered AS (
  SELECT epoch, k,
         ROW_NUMBER() OVER (ORDER BY epoch, k) - 1 AS chunk_number
  FROM ch
),
assigned AS (
  SELECT p.rn, p.record_bytes, n.chunk_number
  FROM p ASOF JOIN (SELECT c.epoch, c.start_rn, m.chunk_number
                    FROM ch c JOIN numbered m USING (epoch, k)) n
    ON n.epoch = p.epoch AND n.start_rn <= p.rn
)
{select}
"""


@register(
    "ingest_chunk_by_bytes",
    oracle=_sql_greedy_chunks(
        f"""
  SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn,
         CAST(STRLEN({_CANON_SQL}) AS BIGINT) AS record_bytes
  FROM lineitem
""",
        _BYTE_BUDGET,
        _EPOCH_ROWS,
        """
SELECT chunk_number,
       COUNT(*) AS n_records,
       CAST(SUM(record_bytes) AS BIGINT) AS chunk_bytes,
       CAST(MAX(record_bytes) AS BIGINT) AS max_record_bytes
FROM assigned GROUP BY chunk_number
""",
    ),
    doc="Byte-budget chunker (C1 byte mode): per-chunk totals. Epoch'd "
    "greedy — exact global row number defines fixed epochs, the greedy "
    "fold (Arrow-batched mapInPandas) restarts per epoch, renumbered "
    "globally — budget strictly respected except single oversized "
    "records (pre-append check semantics, json_reader.py:129-136). "
    "Chunk membership is a pure function of data+order, so the DuckDB "
    "oracle replays it exactly (ASOF-join chunk ends + recursive "
    "pointer chase, one iteration per chunk). Sizes here are canonical-"
    "string bytes (cross-engine stable); the pipeline path defaults to "
    "JSON payload bytes.",
)
def ingest_chunk_by_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # size_expr → the canonical-string projection runs post-exchange at
    # shuffle parallelism (a pre-computed column would execute in the
    # scan stage: one task per file split, idling every other core).
    # byte_chunk_stats fuses the per-chunk totals into the boundary
    # chase itself — identical chunk membership to
    # assign_chunks_by_bytes, but ONE pass over the records.
    return byte_chunk_stats(
        li,
        _LI_ORDER,
        byte_budget=_BYTE_BUDGET,
        size_col="record_bytes",
        size_expr=F.octet_length(canonical_string_col(li)).cast("long"),
        epoch_rows=_EPOCH_ROWS,
    ).orderBy("chunk_number")


@register(
    "ingest_upsert_snapshot",
    oracle="""
WITH updates AS (
  SELECT o_orderkey, o_custkey,
         o_totalprice + 1000.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, 42.0
  FROM orders WHERE o_orderkey % 1000 = 0
)
SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
       COALESCE(u.o_custkey, b.o_custkey) AS o_custkey,
       COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
       CASE WHEN b.o_orderkey IS NULL THEN 'inserted'
            WHEN u.o_orderkey IS NULL THEN 'base'
            ELSE 'updated' END AS src
FROM orders b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
""",
    doc="MERGE INTO / SCD-1 upsert semantics as a pure-DataFrame "
    "composition (no table format required): base FULL OUTER JOIN "
    "updates on the key, COALESCE update-over-base per column, row "
    "provenance tagged base/updated/inserted. One shuffle on the merge "
    "key (sort-merge at fact scale, broadcast when the delta is small); "
    "at 100 TB the same plan is the compaction step of any "
    "copy-on-write snapshot, and key-bucketed storage makes it "
    "shuffle-free. The update/insert delta here is derived "
    "deterministically from orders itself so both engines see an "
    "identical delta without extra fixtures.",
)
def ingest_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    updates = (
        base.where(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        )
        .unionByName(
            base.where(F.col("o_orderkey") % 1000 == 0).select(
                (F.col("o_orderkey") + F.lit(100000000)).alias("o_orderkey"),
                "o_custkey",
                F.lit(42.0).alias("o_totalprice"),
            )
        )
    )
    b, u = base.alias("b"), updates.alias("u")
    merged = b.join(u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full_outer")
    return merged.select(
        F.coalesce(F.col("u.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("u.o_custkey"), F.col("b.o_custkey")).alias("o_custkey"),
        F.coalesce(F.col("u.o_totalprice"), F.col("b.o_totalprice")).alias(
            "o_totalprice"
        ),
        F.when(F.col("b.o_orderkey").isNull(), F.lit("inserted"))
        .when(F.col("u.o_orderkey").isNull(), F.lit("base"))
        .otherwise(F.lit("updated"))
        .alias("src"),
    )


_XLSX_FIXTURE_CAP = 5000  # bounds driver memory for fixture authoring at any SF


@register(
    "source_excel_roundtrip",
    oracle=f"""
SELECT c_mktsegment, COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
FROM customer
WHERE c_custkey <= {_XLSX_FIXTURE_CAP}
GROUP BY c_mktsegment
""",
    doc="The reference's Excel scan (S4/P1/P2, excel_reader.py:38-72) "
    "as a driver-checked query: customer is written to a real .xlsx "
    "(stdlib writer — header row, typed number cells), read back "
    "through the engine's Python DataSource (header→schema projection, "
    "null padding, empty-row filter — schema-on-read strings, exactly "
    "like the reference's row dicts), cast, and aggregated. Matching "
    "the oracle on the ORIGINAL parquet proves the whole Excel path is "
    "lossless including float repr round-trip. One workbook is one "
    "DataSource partition — at scale parallelism comes from many "
    "files, the same unit the reference uses (one task per workbook).",
)
def source_excel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.excel_source import read_excel
    from ..sources.xlsx_writer import write_xlsx

    # Capped fixture subset: authoring the workbook is driver-side by
    # nature (one .xlsx = one file), so bound the collect at any SF.
    cust = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= _XLSX_FIXTURE_CAP)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    rows = [["c_custkey", "c_mktsegment", "c_acctbal"]] + [
        [r["c_custkey"], r["c_mktsegment"], r["c_acctbal"]]
        for r in cust.collect()
    ]
    d = tempfile.mkdtemp(prefix="src_xlsx_")
    try:
        path = write_xlsx(f"{d}/customer.xlsx", rows)
        return (
            read_excel(spark, path)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_bal"),
            )
            .localCheckpoint()  # materialize before the temp dir is removed
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


_JSON_FIXTURE_CAP = 20_000  # bounds driver memory for fixture authoring


@register(
    "source_json_array",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_total
FROM orders
WHERE o_orderkey <= {_JSON_FIXTURE_CAP}
GROUP BY o_orderstatus
""",
    doc="The reference's flagship source — one huge top-level JSON "
    "array (S1, json_reader.py:64-65) — as a driver-checked query: "
    "orders is serialized to a single .json array file, read back "
    "through the engine's streaming array parser (incremental, "
    "O(record) memory, no whole-file load — the ijson contract), and "
    "aggregated. Matching the oracle on the ORIGINAL parquet proves "
    "the parse is lossless. A single array file is unsplittable by "
    "construction (like one workbook); at 100 TB parallelism comes "
    "from many files — the DataSource maps one file to one partition, "
    "and the glob/dir path (S2) fans out.",
)
def source_json_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..integrity import canonical_dumps
    from ..sources.json_source import read_json_array

    # Capped fixture subset: a single-array .json file is authored
    # driver-side by nature, so bound the collect at any SF.
    o = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= _JSON_FIXTURE_CAP)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    recs = [
        {"o_orderkey": r["o_orderkey"], "o_orderstatus": r["o_orderstatus"],
         "o_totalprice": r["o_totalprice"]}
        for r in o.collect()
    ]
    d = tempfile.mkdtemp(prefix="src_json_")
    try:
        path = f"{d}/orders.json"
        with open(path, "wb") as f:
            f.write(b"[")
            for i, rec in enumerate(recs):
                if i:
                    f.write(b",")
                f.write(canonical_dumps(rec))
            f.write(b"]")
        df = read_json_array(spark, path)
        return (
            df.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_total"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "source_schema_evolution",
    oracle="""
WITH old_batch AS (
  SELECT o_orderkey, o_totalprice, NULL AS o_clerk
  FROM orders WHERE o_orderkey % 2 = 0
), new_batch AS (
  SELECT o_orderkey, o_totalprice, 'clerk_' || (o_orderkey % 7) AS o_clerk
  FROM orders WHERE o_orderkey % 2 = 1
), unioned AS (
  SELECT * FROM old_batch UNION ALL SELECT * FROM new_batch
)
SELECT COALESCE(o_clerk, '<pre-migration>') AS clerk,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM unioned
GROUP BY 1
""",
    doc="Schema evolution across parquet batches: an early batch written "
    "without o_clerk and a later batch with it are read as ONE dataset "
    "via mergeSchema — the standard lifecycle of a long-lived ingestion "
    "landing zone where producers add columns over time. Spark "
    "null-fills the missing column for old files at scan time (no "
    "rewrite of historical data — the schema merge is footer-metadata "
    "work, O(files), not O(bytes)); the oracle models the same merge "
    "with a name-aligned union. Aggregating over the merged column "
    "proves old and new batches stay queryable together.",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders")
    d = tempfile.mkdtemp(prefix="src_evo_")
    try:
        o.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(f"{d}/batch=old")
        o.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_totalprice",
            F.concat(F.lit("clerk_"), (F.col("o_orderkey") % 7).cast("string")).alias(
                "o_clerk"
            ),
        ).write.mode("overwrite").parquet(f"{d}/batch=new")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{d}/batch=old", f"{d}/batch=new"
        )
        out = (
            merged.groupBy(
                F.coalesce("o_clerk", F.lit("<pre-migration>")).alias("clerk")
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double")
                .alias("total"),
            )
        )
        out = spark.createDataFrame(out.collect(), out.schema)
        return out
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "source_corrupt_quarantine",
    oracle=f"""
SELECT CASE WHEN doc_id % 10 = 3 THEN 'quarantined' ELSE 'parsed' END AS bucket,
       COUNT(*) AS n_records,
       CAST(SUM(CASE WHEN doc_id % 10 = 3 THEN 0 ELSE doc_id END) AS BIGINT)
         AS sum_good_ids
FROM documents
WHERE doc_id < 400
GROUP BY 1
""",
    doc="Corrupt-record quarantine (dead-letter path): a JSONL batch "
    "where every doc_id % 10 == 3 line is truncated mid-record is read "
    "in PERMISSIVE mode with columnNameOfCorruptRecord — bad lines land "
    "in the quarantine column with their raw bytes intact instead of "
    "failing the job (the reference aborts the whole ingestion on a "
    "parse error; at 100 TB you quarantine and continue, then replay "
    "the dead-letter set after the producer fix). Counts and the "
    "good-id checksum are oracle-checked from the seeding rule.",
)
def source_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    rows = docs.select("doc_id").collect()
    d = tempfile.mkdtemp(prefix="src_corrupt_")
    try:
        path = f"{d}/batch.jsonl"
        with open(path, "w", encoding="utf-8") as f:
            for r in rows:
                i = r["doc_id"]
                line = f'{{"doc_id": {i}, "payload": "rec-{i}"}}'
                if i % 10 == 3:
                    line = line[: len(line) // 2]  # truncated mid-record
                f.write(line + "\n")
        parsed = (
            spark.read.schema("doc_id long, payload string, _bad string")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_bad")
            .json(path)
        )
        out = (
            parsed.select(
                F.when(F.col("_bad").isNotNull(), "quarantined")
                .otherwise("parsed")
                .alias("bucket"),
                F.coalesce("doc_id", F.lit(0)).alias("good_id"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_records"),
                F.sum("good_id").alias("sum_good_ids"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "ingest_incremental_files",
    oracle="""
SELECT CAST(o_orderkey % 3 AS BIGINT) AS batch_no,
       COUNT(*) AS n_new,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders
WHERE o_orderkey % 3 != 0
GROUP BY 1
""",
    doc="File-level incremental ingest (the daily-landing-zone pattern): "
    "three batch files arrive; a processed-files manifest already "
    "contains batch 0, so the engine lists the directory, anti-joins "
    "input_file_name() against the manifest, and processes only the "
    "new files — no re-read of historical data beyond the listing "
    "(file pruning is metadata work; the manifest is broadcast-sized "
    "at any realistic file count). This is the batch-mode twin of the "
    "streaming source's checkpointed file tracking, and the file-"
    "granular coarsening of the reference's chunk-level resume (K3).",
)
def ingest_incremental_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    o = load(spark, sf_dir, "orders")
    d = tempfile.mkdtemp(prefix="src_incr_")
    try:
        # Land all three batch directories in ONE partitioned write job
        # (r12): the per-batch loop was 3 write jobs, each re-scanning
        # orders and each squeezed through coalesce(1)'s single task —
        # 3 sequential single-threaded passes to build the fixture the
        # query then prunes. partitionBy lands the same per-batch
        # directories from one parallel scan; the manifest/anti-join
        # pattern under test is unchanged (it lists files, whatever
        # their count per batch).
        o.select(
            (F.col("o_orderkey") % 3).alias("__b"),
            "o_orderkey",
            "o_totalprice",
        ).write.partitionBy("__b").mode("overwrite").parquet(f"{d}/landed")
        landed = spark.read.parquet(f"{d}/landed").withColumn(
            "__file", F.input_file_name()
        )
        manifest = spark.createDataFrame(
            [
                (f,)
                for f in spark.read.parquet(f"{d}/landed/__b=0").inputFiles()
            ],
            "__file string",
        )
        fresh = landed.join(F.broadcast(manifest), "__file", "left_anti")
        out = (
            fresh.groupBy((F.col("o_orderkey") % 3).alias("batch_no"))
            .agg(
                F.count(F.lit(1)).alias("n_new"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double")
                .alias("total"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "ingest_cdc_diff",
    oracle="""
WITH prev AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 97 <> 0
), curr AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 101 <> 0
)
SELECT COALESCE(c.o_orderkey, p.o_orderkey) AS o_orderkey,
       CASE WHEN p.o_orderkey IS NULL THEN 'I'
            WHEN c.o_orderkey IS NULL THEN 'D'
            ELSE 'U' END AS op,
       p.o_totalprice AS old_price,
       c.o_totalprice AS new_price
FROM prev p FULL OUTER JOIN curr c ON p.o_orderkey = c.o_orderkey
WHERE p.o_orderkey IS NULL OR c.o_orderkey IS NULL
   OR p.o_totalprice <> c.o_totalprice
   OR p.o_orderstatus <> c.o_orderstatus
""",
    doc="Change-data-capture snapshot diff: full-outer-join two table "
    "snapshots on the key and classify every row as Insert / Update / "
    "Delete, dropping unchanged rows (the overwhelming majority) before "
    "anything downstream sees them. The synthetic previous snapshot is "
    "derived deterministically from orders (key-mod filters simulate "
    "inserts/deletes, a price perturbation simulates updates) so the "
    "oracle reproduces it exactly. At 100 TB both snapshots shuffle "
    "once on the key (or zero times if stored bucketed by it — the "
    "join_bucketed_colocated layout), change detection is a row-local "
    "comparison, and the emitted delta is |changes|, not |table|. This "
    "is the batch CDC primitive behind incremental downstream refresh.",
)
def ingest_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    prev = o.where(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 10.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    curr = o.where(F.col("o_orderkey") % 101 != 0)
    p, c = prev.alias("p"), curr.alias("c")
    joined = p.join(c, F.col("p.o_orderkey") == F.col("c.o_orderkey"), "full_outer")
    changed = (
        F.col("p.o_orderkey").isNull()
        | F.col("c.o_orderkey").isNull()
        | (F.col("p.o_totalprice") != F.col("c.o_totalprice"))
        | (F.col("p.o_orderstatus") != F.col("c.o_orderstatus"))
    )
    return joined.where(changed).select(
        F.coalesce(F.col("c.o_orderkey"), F.col("p.o_orderkey")).alias("o_orderkey"),
        F.when(F.col("p.o_orderkey").isNull(), F.lit("I"))
        .when(F.col("c.o_orderkey").isNull(), F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("p.o_totalprice").alias("old_price"),
        F.col("c.o_totalprice").alias("new_price"),
    )


@register(
    "ingest_incremental_agg",
    oracle="""
WITH curr AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 101 <> 0
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM curr
GROUP BY o_orderstatus
""",
    doc="Incremental view maintenance: refresh a per-status aggregate "
    "from the PREVIOUS snapshot's aggregate plus the CDC delta (insert "
    "adds, delete subtracts, update subtracts old and adds new) instead "
    "of rescanning the table. The oracle aggregates the current "
    "snapshot directly — equality proves the incremental path computes "
    "the same answer. All sums stay exact DECIMAL until one final cast, "
    "so +/- contributions cancel exactly (double arithmetic would "
    "drift). At 100 TB this turns a full-table rescan into work "
    "proportional to |changes|: the base aggregate is tiny (one row "
    "per group), the delta shuffles once on the group key, and the "
    "merge is a broadcast-sized outer join.",
)
def ingest_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    dec = F.col("o_totalprice").cast("decimal(18,6)")
    prev = o.where(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 10.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    curr = o.where(F.col("o_orderkey") % 101 != 0)
    # Base aggregate over the previous snapshot (in production: the
    # stored materialized view). Sums stay DECIMAL.
    base = prev.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("base_n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("base_sum"),
    )
    # CDC delta rows with signed contributions: I -> +new, D -> -old,
    # U -> -old +new (status can change too: contributions are keyed by
    # each side's own status, so a status flip moves the row between
    # groups correctly).
    p, c = prev.alias("p"), curr.alias("c")
    joined = p.join(
        c, F.col("p.o_orderkey") == F.col("c.o_orderkey"), "full_outer"
    )
    changed = (
        F.col("p.o_orderkey").isNull()
        | F.col("c.o_orderkey").isNull()
        | (F.col("p.o_totalprice") != F.col("c.o_totalprice"))
        | (F.col("p.o_orderstatus") != F.col("c.o_orderstatus"))
    )
    delta_rows = joined.where(changed)
    minus = delta_rows.where(F.col("p.o_orderkey").isNotNull()).select(
        F.col("p.o_orderstatus").alias("o_orderstatus"),
        F.lit(-1).alias("dn"),
        (-F.col("p.o_totalprice").cast("decimal(18,6)")).alias("dsum"),
    )
    plus = delta_rows.where(F.col("c.o_orderkey").isNotNull()).select(
        F.col("c.o_orderstatus").alias("o_orderstatus"),
        F.lit(1).alias("dn"),
        F.col("c.o_totalprice").cast("decimal(18,6)").alias("dsum"),
    )
    delta = (
        minus.unionAll(plus)
        .groupBy("o_orderstatus")
        .agg(F.sum("dn").alias("delta_n"), F.sum("dsum").alias("delta_sum"))
    )
    merged = base.join(delta, "o_orderstatus", "full_outer").select(
        "o_orderstatus",
        (
            F.coalesce(F.col("base_n"), F.lit(0))
            + F.coalesce(F.col("delta_n"), F.lit(0))
        ).alias("n_orders"),
        (
            F.coalesce(F.col("base_sum"), F.lit(0).cast("decimal(18,6)"))
            + F.coalesce(F.col("delta_sum"), F.lit(0).cast("decimal(18,6)"))
        )
        .cast("double")
        .alias("sum_price"),
    )
    return merged.where(F.col("n_orders") > 0)


@register(
    "source_xml_roundtrip",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_total,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM orders
WHERE o_orderkey <= 5000
GROUP BY o_orderpriority
""",
    doc="XML source round-trip via Spark 4's native XML reader/writer "
    "(the spark-xml package merged upstream): write an orders subset as "
    "row-tagged XML split across executor part-files, read it back with "
    "schema inference, aggregate. Counts, exact decimal sums, and key "
    "ranges matching the ORIGINAL parquet prove the XML path is "
    "lossless. file_type='xml' also dispatches through the ingestion "
    "pipeline (pipeline.load_source), extending the reference's "
    "json/excel surface with the third enterprise interchange format.",
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    out = os.path.join(tempfile.mkdtemp(prefix="src_xml_"), "orders_xml")
    src = load(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 5000).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    try:
        src.write.format("xml").option("rowTag", "row").mode("overwrite").save(out)
        back = spark.read.format("xml").option("rowTag", "row").load(out)
        return (
            back.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_total"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)


@register(
    "source_gzip_jsonl",
    oracle="""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
""",
    doc="Compressed-text transparency: JSONL written with gzip codec, "
    "read back by extension with no reader changes, aggregated — counts "
    "and exact sums vs the original prove losslessness through the "
    "codec. Scale note: gzip is NOT splittable, so one .gz file = one "
    "scan task regardless of size; at 100 TB either write MANY gzip "
    "part-files (this query's layout — each executor writes its own, "
    "preserving scan parallelism) or prefer a splittable codec "
    "(bzip2) / columnar formats with internal compression.",
)
def source_gzip_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    out = os.path.join(tempfile.mkdtemp(prefix="src_gz_"), "docs_gz")
    try:
        load(spark, sf_dir, "documents").write.mode("overwrite").option(
            "compression", "gzip"
        ).json(out)
        return (
            spark.read.json(out)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)


@register(
    "ingest_backfill_partition",
    oracle="""
WITH final AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderpriority = '3-MEDIUM'
              THEN o_totalprice * 2.0 ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey <= 20000
)
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM final
GROUP BY o_orderpriority
""",
    doc="Dynamic partition-overwrite backfill: a partitioned table has "
    "ONE partition's data corrected and rewritten in place "
    "(partitionOverwriteMode=dynamic), while sibling partitions' files "
    "are untouched — the everyday fix-one-day-of-data operation that a "
    "full-table overwrite would turn into a 100 TB rewrite. The oracle "
    "computes the expected post-backfill state analytically; matching "
    "counts and exact sums across ALL partitions prove both that the "
    "target partition was replaced and that no other partition was "
    "disturbed.",
)
def ingest_backfill_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    out = os.path.join(tempfile.mkdtemp(prefix="backfill_"), "orders_part")
    src = load(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 20000).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    try:
        src.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
        fixed = (
            src.where(F.col("o_orderpriority") == "3-MEDIUM")
            .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        )
        (
            fixed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("o_orderpriority")
            .parquet(out)
        )
        return (
            spark.read.parquet(out)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_price"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)


@register(
    "ingest_compact_latest",
    oracle="""
SELECT user_id,
       arg_max(event_type,
               CAST(epoch(ts) AS BIGINT) * 1000000000 + event_id)
         AS last_event_type,
       arg_max(value,
               CAST(epoch(ts) AS BIGINT) * 1000000000 + event_id)
         AS last_value,
       COUNT(*) AS n_superseded
FROM events
GROUP BY user_id
""",
    doc="Log compaction (keep-latest per key): a change log collapses to "
    "each key's most recent record via selector aggregates on a total-"
    "order (epoch-seconds, event_id) key — the Kafka-compaction / "
    "CDC-materialization primitive. ONE hash aggregate with map-side "
    "partials; the window-function formulation (row_number DESC = 1) "
    "answers the same question but pays a per-key sort and carries "
    "whole rows through the exchange — selector aggregates carry only "
    "the selected columns and compose, which is what you want when "
    "compacting a 100 TB log down to its live set.",
)
def ingest_compact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import load as _load

    ev = _load(spark, sf_dir, "events")
    k = (
        F.unix_timestamp(F.col("ts").cast("timestamp")) * F.lit(1_000_000_000)
        + F.col("event_id")
    )
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", k).alias("last_event_type"),
        F.max_by("value", k).alias("last_value"),
        F.count(F.lit(1)).alias("n_superseded"),
    )


@register(
    "ingest_surrogate_keys",
    oracle="""
SELECT o_orderkey,
       substr(md5('ok:' || CAST(o_orderkey AS VARCHAR)), 1, 8) || '-' ||
       substr(md5('ok:' || CAST(o_orderkey AS VARCHAR)), 9, 4) || '-' ||
       substr(md5('ok:' || CAST(o_orderkey AS VARCHAR)), 13, 4) || '-' ||
       substr(md5('ok:' || CAST(o_orderkey AS VARCHAR)), 17, 4) || '-' ||
       substr(md5('ok:' || CAST(o_orderkey AS VARCHAR)), 21, 12)
         AS surrogate_uuid,
       CAST('0x' || substr(md5('ok:' || CAST(o_orderkey AS VARCHAR)), 1, 15)
            AS BIGINT) AS surrogate_int
FROM orders
WHERE o_orderkey <= 2000
""",
    doc="Deterministic surrogate keys: UUID-formatted and 60-bit integer "
    "keys derived from a salted content hash — reproducible across "
    "runs, partitionings, and engines, which is what dimension-key "
    "generation in a restartable pipeline REQUIRES. The tempting "
    "alternatives are both wrong at scale: monotonically_increasing_id "
    "changes with partitioning (a resume or repartition silently "
    "re-keys everything), and uuid()/rand() differ per execution. "
    "Hash-keying is also join-friendly: both sides of a later join "
    "derive the same key independently, no key-lookup table needed.",
)
def ingest_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    h = F.md5(F.concat(F.lit("ok:"), F.col("o_orderkey").cast("string")))
    uuid = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    return o.select(
        "o_orderkey",
        uuid.alias("surrogate_uuid"),
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("surrogate_int"),
    )


_ADAPTIVE_MAX_RECORDS = 40


@register(
    "ingest_chunk_adaptive",
    oracle=_sql_greedy_chunks(
        f"""
  SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn,
         CAST(STRLEN({_CANON_SQL}) AS BIGINT) AS record_bytes
  FROM lineitem
""",
        _BYTE_BUDGET,
        _EPOCH_ROWS,
        f"""
SELECT chunk_number,
       COUNT(*) AS n_records,
       CAST(SUM(record_bytes) AS BIGINT) AS chunk_bytes,
       COUNT(*) <= {_ADAPTIVE_MAX_RECORDS} AS count_ok
FROM assigned GROUP BY chunk_number
""",
        max_records=_ADAPTIVE_MAX_RECORDS,
    ),
    doc="Adaptive chunker (beyond-reference C1 extension): flush on "
    f"whichever limit trips first — {_BYTE_BUDGET}-byte budget OR "
    f"{_ADAPTIVE_MAX_RECORDS} records. The reference validates the two "
    "sizings as mutually exclusive (request_model.py:54-66); real "
    "consumers usually want both bounds at once (payload caps AND "
    "row-count caps). Same epoch'd greedy machinery — the record cap "
    "is one extra clamp in the per-epoch chase, and the oracle's "
    "pointer chain clamps identically — so membership stays a pure "
    "function of data+order and both engines replay it bit-for-bit.",
)
def ingest_chunk_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        byte_chunk_stats(
            li,
            _LI_ORDER,
            byte_budget=_BYTE_BUDGET,
            size_col="record_bytes",
            size_expr=F.octet_length(canonical_string_col(li)).cast("long"),
            epoch_rows=_EPOCH_ROWS,
            max_records=_ADAPTIVE_MAX_RECORDS,
        )
        .withColumn("count_ok", F.col("n_records") <= _ADAPTIVE_MAX_RECORDS)
        .select("chunk_number", "n_records", "chunk_bytes", "count_ok")
        .orderBy("chunk_number")
    )


@register(
    "source_excel_multisheet",
    oracle="""
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       n_name,
       CAST(n_regionkey AS BIGINT) AS n_regionkey,
       'Sheet' || CAST(n_nationkey % 3 + 1 AS VARCHAR) AS sheet
FROM nation
""",
    doc="Multi-sheet workbook scan (beyond-reference: the reference "
    "reads only wb.active, excel_reader.py:40): nation is split across "
    "three worksheets of ONE real .xlsx, the engine lists the sheet "
    "inventory from workbook metadata (the wb.sheetnames surface), and "
    "reads every sheet with the SAME header/padding/empty-row loop as "
    "the active-sheet path, tagging rows with their sheet of origin. "
    "Parallelism unit = one task per sheet (mapInPandas over the sheet "
    "list) — the right granularity since a single worksheet stream is "
    "unsplittable; at scale many workbooks x many sheets fan out "
    "across executors. Matching the oracle on the original parquet "
    "proves sheet routing and per-sheet parsing are lossless.",
)
def source_excel_multisheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.excel_source import iter_excel_records, sheet_names_and_paths
    from ..sources.xlsx_writer import write_xlsx

    nat = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    header = ["n_nationkey", "n_name", "n_regionkey"]
    sheets: list[list[list] | None] = [
        [list(header)] for _ in range(3)
    ]
    for r in sorted(nat.collect(), key=lambda r: r["n_nationkey"]):
        sheets[r["n_nationkey"] % 3].append(
            [r["n_nationkey"], r["n_name"], r["n_regionkey"]]
        )
    d = tempfile.mkdtemp(prefix="src_xlsx_ms_")
    try:
        path = write_xlsx(f"{d}/nation.xlsx", sheets[0], more_sheets=sheets[1:])
        inventory = spark.createDataFrame(
            sheet_names_and_paths(path), "sheet string, sheet_path string"
        ).repartition(3)

        def read_sheets(batches):
            import pandas as pd

            for pdf in batches:
                out = []
                for sheet, sheet_path in zip(pdf["sheet"], pdf["sheet_path"]):
                    for rec in iter_excel_records(path, sheet_path):
                        out.append(
                            (
                                int(rec["n_nationkey"]),
                                str(rec["n_name"]),
                                int(rec["n_regionkey"]),
                                sheet,
                            )
                        )
                yield pd.DataFrame(
                    out,
                    columns=["n_nationkey", "n_name", "n_regionkey", "sheet"],
                )

        return inventory.mapInPandas(
            read_sheets,
            schema="n_nationkey long, n_name string, n_regionkey long, sheet string",
        ).localCheckpoint()  # materialize before the temp dir is removed
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "ingest_integrity_chain",
    oracle=f"""
WITH RECURSIVE canon_t AS (
  SELECT l_orderkey, l_linenumber, {_CANON_SQL} AS canon FROM lineitem
), base AS (
  SELECT canon,
         ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, canon) AS rn
  FROM canon_t
), chunks AS (
  SELECT canon, rn, CAST(FLOOR((rn - 1) / {CHUNK_SIZE}) AS BIGINT) AS chunk_number
  FROM base
), m AS (
  SELECT chunk_number,
         COUNT(*) AS n_records,
         sha256(string_agg(canon, chr(10) ORDER BY rn)) AS checksum
  FROM chunks GROUP BY chunk_number
),
chain(chunk_number, n_records, checksum, chain_hash) AS (
  SELECT chunk_number, n_records, checksum,
         sha256('GENESIS|' || checksum)
  FROM m WHERE chunk_number = 0
  UNION ALL
  SELECT m.chunk_number, m.n_records, m.checksum,
         sha256(c.chain_hash || '|' || m.checksum)
  FROM chain c JOIN m ON m.chunk_number = c.chunk_number + 1
)
SELECT chunk_number, n_records, checksum, chain_hash FROM chain
""",
    doc="Tamper-evident integrity chain over the chunk manifest (the "
    "ledger extension of I2/I3): each chunk's chain hash commits to "
    "EVERY prior chunk (sha256(prev_chain || checksum)), so altering, "
    "dropping, or reordering any historical chunk invalidates all "
    "later hashes — the audit-log property plain per-chunk checksums "
    "lack. The heavy work (canonicalization, per-chunk sha256) stays "
    "the distributed manifest plan; only the O(#chunks) chain fold "
    "runs driver-side — the same bounded-driver-state pattern as the "
    "chunker's offset merge (SURVEY §4.3). Oracle replays the chain "
    "with a recursive CTE.",
)
def ingest_integrity_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    li = load(spark, sf_dir, "lineitem")
    manifest = chunk_manifest(li, _LI_ORDER, CHUNK_SIZE, _INGESTION_ID).select(
        "chunk_number", "n_records", "checksum"
    )
    # Stream the inherently-sequential fold instead of collect()ing the
    # whole manifest (r10 verdict: at 100 TB / ~37M chunks that list is
    # multi-GB driver state). ascending_chunk_layout gives an ordered
    # drain with no sampling pass and no AQE-mergeable coalesce (the
    # chunker's own drain layout); toLocalIterator then holds ONE
    # partition of tiny manifest rows at a time, and finished chain
    # rows spill to parquet every _CHAIN_SPILL_BATCH chunks —
    # driver state is O(partition + batch), independent of chunk count.
    #
    # n_chunks sizing: exact, not a proxy — chunk_manifest over li with
    # a count-based chunker yields precisely ceil(count/CHUNK_SIZE)
    # DENSE chunk_numbers 0..n-1 by construction; the function REQUIRES
    # that density (a filtered/resumed manifest has no well-defined
    # chain), and the drain-order check below enforces it at runtime
    # (r11 advice, low). The count itself is a metadata-only parquet
    # job (footers, no data scan).
    n_chunks = -(-li.count() // CHUNK_SIZE)
    n_parts = min(max(n_chunks // _CHAIN_CHUNKS_PER_PART, 1), 2048)
    ordered = ascending_chunk_layout(manifest, n_chunks, n_parts)
    schema = (
        "chunk_number long, n_records bigint, checksum string, chain_hash string"
    )
    prev: str | None = None
    expected = 0
    batch: list[tuple] = []
    spill_dir: str | None = None
    for r in ordered.toLocalIterator():
        if r["chunk_number"] != expected:  # chain integrity precondition
            raise ValueError(
                f"manifest drain out of order: got chunk {r['chunk_number']}, "
                f"expected {expected}"
            )
        expected += 1
        seed = (
            ("GENESIS|" + r["checksum"])
            if prev is None
            else (prev + "|" + r["checksum"])
        )
        prev = hashlib.sha256(seed.encode()).hexdigest()
        batch.append((r["chunk_number"], r["n_records"], r["checksum"], prev))
        if len(batch) >= _CHAIN_SPILL_BATCH:
            if spill_dir is None:
                spill_dir = _spill_dir(spark, "integrity_chain")
            spark.createDataFrame(batch, schema).write.mode("append").parquet(
                spill_dir
            )
            batch = []
    if spill_dir is None:  # test/bench scale: one local relation, no IO
        return spark.createDataFrame(batch, schema)
    try:
        if batch:
            spark.createDataFrame(batch, schema).write.mode("append").parquet(
                spill_dir
            )
        # materialize (executor block manager) before the dir is removed
        return spark.read.parquet(spill_dir).localCheckpoint()
    finally:
        _hadoop_rmtree(spark, spill_dir)


@register(
    "ingest_late_arriving_dim",
    oracle="""
WITH early AS (
  SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 7 <> 0
),
late AS (
  SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 7 = 0
),
p1 AS (
  SELECT o.o_orderkey, o.o_custkey, e.c_nationkey,
         CASE WHEN e.c_custkey IS NULL THEN 1 ELSE 0 END AS inferred
  FROM orders o LEFT JOIN early e ON e.c_custkey = o.o_custkey
),
fixed AS (
  SELECT p.o_orderkey,
         COALESCE(p.c_nationkey, l.c_nationkey) AS c_nationkey,
         p.inferred
  FROM p1 p LEFT JOIN late l
    ON p.inferred = 1 AND l.c_custkey = p.o_custkey
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_facts,
       CAST(SUM(inferred) AS BIGINT) AS n_repaired
FROM fixed GROUP BY c_nationkey
""",
    doc="Late-arriving dimension repair — the warehouse pattern for "
    "facts that land before their dimension row (Kimball's inferred "
    "member): pass 1 left-joins the early dim snapshot and flags "
    "misses as inferred members; the repair pass joins ONLY the "
    "inferred subset against the late-arriving rows (the efficiency "
    "point — a 100 TB fact table re-touches just its unresolved "
    "slice), then the report aggregates facts and repairs per "
    "dimension attribute. Both dim sides broadcast; reference parity: "
    "the reference has no dimensional model — beyond-reference "
    "surface next to ingest_upsert_snapshot / ingest_scd2_history.",
)
def ingest_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    early = cust.where(F.col("c_custkey") % 7 != 0)
    late = cust.where(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("l_custkey"),
        F.col("c_nationkey").alias("l_nationkey"),
    )
    p1 = orders.join(
        F.broadcast(early), F.col("c_custkey") == F.col("o_custkey"), "left"
    ).select(
        "o_orderkey",
        "o_custkey",
        "c_nationkey",
        F.when(F.col("c_custkey").isNull(), 1).otherwise(0).alias("inferred"),
    )
    fixed = p1.join(
        F.broadcast(late),
        (F.col("inferred") == 1) & (F.col("l_custkey") == F.col("o_custkey")),
        "left",
    ).select(
        "o_orderkey",
        F.coalesce(F.col("c_nationkey"), F.col("l_nationkey")).alias(
            "c_nationkey"
        ),
        "inferred",
    )
    return fixed.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n_facts"),
        F.sum("inferred").cast("long").alias("n_repaired"),
    )


# ------------------------------------------- content-defined chunking

CDC_AVG = 64  # expected records per chunk (boundary prob = 1/64)


@register(
    "ingest_chunk_content_defined",
    oracle=None,  # set below (needs the orders schema for the canonical fragment)
    doc="Content-defined chunk boundaries (the FastCDC/Rabin idea at "
    "record granularity): a record ENDS a chunk when the 60-bit md5 "
    "of its canonical string is 0 mod 64, so boundaries are a pure "
    "function of record CONTENT — an insert or delete re-chunks only "
    "the neighborhood of the edit, while count-based chunking shifts "
    "every downstream boundary (the dedup-storage property, "
    "asserted in tests/test_analytics.py::"
    "test_content_defined_chunks_stable_under_deletion). Chunk "
    "membership = running count of boundaries before each record — "
    "the shared distributed prefix-sum helper (range partitions + "
    "local cumsum + broadcast offsets), so no single-task sort at "
    "any scale; expected chunk size 64 records.",
)
def ingest_chunk_content_defined(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return _content_defined_chunks(orders)


def _content_defined_chunks(orders: DataFrame) -> DataFrame:
    from ..integrity import canonical_string_col
    from .stats_tests import _global_running
    from .textops import md5_hash60

    flagged = orders.select(
        "o_orderkey",
        F.when(
            md5_hash60(canonical_string_col(orders)) % CDC_AVG == 0, 1
        )
        .otherwise(0)
        .alias("bf"),
    )
    run = _global_running(flagged, "o_orderkey", ["bf"])
    chunks = run.select(
        "o_orderkey",
        (F.col("cum_bf") - F.col("bf")).cast("long").alias("chunk_idx"),
    )
    return chunks.groupBy("chunk_idx").agg(
        F.count("*").cast("long").alias("n_records"),
        F.min("o_orderkey").cast("long").alias("first_key"),
        F.max("o_orderkey").cast("long").alias("last_key"),
    )


def _bind_cdc_oracle() -> None:
    from ..integrity import sql_canonical_string
    from ..registry import _REGISTRY
    from .textops import sql_md5_hash60

    cols = [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "varchar"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "varchar"),
    ]
    canon = sql_canonical_string(cols)
    sql = f"""
WITH canon AS (
  SELECT o_orderkey, {canon} AS cs FROM orders
),
b AS (
  SELECT o_orderkey,
         CASE WHEN {sql_md5_hash60("cs")} % {CDC_AVG} = 0 THEN 1 ELSE 0 END AS bf
  FROM canon
),
cum AS (
  SELECT o_orderkey, bf,
         SUM(bf) OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cb
  FROM b
)
SELECT CAST(cb - bf AS BIGINT) AS chunk_idx,
       CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS last_key
FROM cum GROUP BY cb - bf
"""
    q = _REGISTRY["ingest_chunk_content_defined"]
    _REGISTRY["ingest_chunk_content_defined"] = type(q)(
        name=q.name, fn=q.fn, oracle=sql, doc=q.doc
    )


_bind_cdc_oracle()


# ------------------------------------------- checksum reconciliation

_RECON_HASH = (
    "CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|' || "
    "CAST(cents AS VARCHAR) || '|' || o_orderstatus), 1, 15) AS BIGINT)"
)

_RECON_SQL = f"""
WITH a AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
b AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 613 = 0 THEN cents + 100 ELSE cents END AS cents
  FROM a WHERE o_orderkey % 1009 <> 0
),
ba AS (
  SELECT o_orderkey % 256 AS bucket, COUNT(*) AS n_a,
         bit_xor({_RECON_HASH}) AS x_a, SUM({_RECON_HASH}) AS s_a
  FROM a GROUP BY o_orderkey % 256
),
bb AS (
  SELECT o_orderkey % 256 AS bucket, COUNT(*) AS n_b,
         bit_xor({_RECON_HASH}) AS x_b, SUM({_RECON_HASH}) AS s_b
  FROM b GROUP BY o_orderkey % 256
)
SELECT CAST(ba.bucket AS BIGINT) AS bucket,
       CAST(ba.n_a AS BIGINT) AS n_a,
       CAST(COALESCE(bb.n_b, 0) AS BIGINT) AS n_b
FROM ba LEFT JOIN bb ON ba.bucket = bb.bucket
WHERE bb.bucket IS NULL OR ba.n_a <> bb.n_b
   OR ba.x_a <> bb.x_b OR ba.s_a <> bb.s_b
"""


@register(
    "ingest_checksum_reconcile",
    oracle=_RECON_SQL,
    doc="Merkle-style table reconciliation — the anti-entropy check "
    "that makes 100 TB replica comparison affordable: instead of a "
    "row-level diff (ingest_cdc_diff, O(|table|) shuffle), each side "
    "collapses to 256 bucket digests (count + bit-XOR + sum of a "
    "60-bit md5 row hash, all mergeable map-side), and only buckets "
    "whose digests disagree are reported for targeted re-scan — the "
    "shuffle carries O(buckets), not O(rows). Two independent "
    "digests (xor + sum) make coincidental cancellation of multiple "
    "row edits within a bucket astronomically unlikely. The fixture "
    "replica deterministically drops every 1009th key and perturbs "
    "every 613th price, so the mismatching bucket set is exact. Row "
    "hashes use integer CENTS (double*100 rounds identically in both "
    "engines) so the canonical string is representation-stable.",
)
def ingest_checksum_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import md5_hash60

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    b = orders.where(F.col("o_orderkey") % 1009 != 0).withColumn(
        "cents",
        F.when(
            F.col("o_orderkey") % 613 == 0, F.col("cents") + 100
        ).otherwise(F.col("cents")),
    )

    def digests(side: DataFrame, tag: str) -> DataFrame:
        h = md5_hash60(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("cents").cast("string"),
                F.col("o_orderstatus"),
            )
        )
        return (
            side.select((F.col("o_orderkey") % 256).alias("bucket"), h.alias("h"))
            .groupBy("bucket")
            .agg(
                F.count("*").alias(f"n_{tag}"),
                F.expr("bit_xor(h)").alias(f"x_{tag}"),
                # decimal(38,0): 60-bit hashes overflow int64 after ~8
                # rows; DuckDB's SUM(BIGINT) widens to HUGEINT the same
                # way. The sums are compared, never output.
                F.sum(F.col("h").cast("decimal(38,0)")).alias(f"s_{tag}"),
            )
        )
    da, db = digests(orders, "a"), digests(b, "b")
    joined = da.join(db, "bucket", "left")
    return joined.where(
        F.col("n_b").isNull()
        | (F.col("n_a") != F.col("n_b"))
        | (F.col("x_a") != F.col("x_b"))
        | (F.col("s_a") != F.col("s_b"))
    ).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_a").cast("long").alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
    )
