"""Reshape operators: pivot, unpivot, and stratified sampling.

The reference has no relational surface (SURVEY.md §2.2); these cover
the wide↔long reshaping and corpus-subsampling operations a training-
data pipeline needs around the core query set.

Scale notes:

* ``pivot`` with an explicit value list compiles to one hash aggregate
  with N conditional aggregates — a single shuffle, no per-value scan.
  Never call pivot without the value list at scale: Spark must then
  run a distinct job over the pivot column first.
* ``unpivot`` is a generate/explode projection — map-side only, no
  shuffle.
* Stratified sampling uses a deterministic hash gate, not
  ``sample()``'s RNG: reproducible across runs, partitionings, and
  engines (oracle-checkable), and embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load
from ._det import dsum, sql_dsum
from .dedup import _SQL_JACCARD_EDGES
from .textops import sql_md5_hash60

_STATUSES = ("F", "O", "P")


@register(
    "reshape_pivot",
    oracle=f"""
SELECT o_orderpriority,
       {", ".join(
           f"CAST(SUM(CAST(CASE WHEN o_orderstatus = '{s}' THEN o_totalprice END "
           f"AS DECIMAL(18,6))) AS DOUBLE) AS total_{s}" for s in _STATUSES)},
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
    doc="PIVOT (long → wide): total order value per priority, one "
    "column per order status. The explicit value list keeps it a "
    "single hash aggregate with 3 conditional sums — one shuffle, no "
    "pre-pass distinct job on the pivot column.",
)
def reshape_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    pivoted = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(_STATUSES))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"),
        )
    )
    renamed = pivoted.select(
        "o_orderpriority",
        *[F.col(s).alias(f"total_{s}") for s in _STATUSES],
    )
    counts = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return renamed.join(counts, "o_orderpriority")


@register(
    "reshape_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, metric, val
FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
  FROM lineitem WHERE l_orderkey < 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
  FROM lineitem WHERE l_orderkey < 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
  FROM lineitem WHERE l_orderkey < 100
) t
""",
    doc="UNPIVOT (wide → long): three measure columns melt into "
    "(metric, val) rows. Compiles to an Expand projection — map-side "
    "only, zero shuffle; the key-range filter bounds oracle size.",
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    )


@register(
    "reshape_sample_stratified",
    oracle=f"""
SELECT l_returnflag, COUNT(*) AS n_sampled, {sql_dsum('l_quantity', 'sum_qty')}
FROM lineitem
WHERE md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))
      LIKE '0%'
GROUP BY l_returnflag
""",
    doc="Stratified ~1/16 sample via a deterministic hash gate on the "
    "row key (md5 first hex digit = '0'): reproducible across runs, "
    "partitionings, and engines, unlike sample()'s per-partition RNG. "
    "Per-stratum counts verify the gate; this is the corpus-"
    "subsampling primitive (sample by hash of document id) used to cut "
    "training corpora without coordination — embarrassingly parallel, "
    "no shuffle before the verification aggregate.",
)
def reshape_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        ":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    return (
        li.where(F.md5(key).startswith("0"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_sampled"), dsum("l_quantity", "sum_qty"))
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "profile_column_stats",
    oracle="""
SELECT 'l_quantity' AS col, COUNT(*) AS n_rows,
       CAST(COUNT(l_quantity) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
       CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
       CAST(MAX(l_quantity) AS DOUBLE) AS max_val
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', COUNT(*), COUNT(l_extendedprice),
       COUNT(DISTINCT l_extendedprice),
       CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE)
FROM lineitem
UNION ALL
SELECT 'l_discount', COUNT(*), COUNT(l_discount), COUNT(DISTINCT l_discount),
       CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
FROM lineitem
UNION ALL
SELECT 'l_tax', COUNT(*), COUNT(l_tax), COUNT(DISTINCT l_tax),
       CAST(MIN(l_tax) AS DOUBLE), CAST(MAX(l_tax) AS DOUBLE)
FROM lineitem
""",
    doc="Column profiling (the ANALYZE/data-quality pass every warehouse "
    "runs before heavy queries): per-column row/non-null/distinct "
    "counts and min/max, computed in ONE scan — a single wide "
    "aggregate row (count_distinct expands to per-column partial "
    "aggregates map-side), then unpivoted driver-side from one row. "
    "The oracle re-scans per column; the engine plan reads the table "
    "once no matter how many columns are profiled, which is the "
    "difference that matters at 100 TB.",
)
def profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n_rows"),
            F.count(c).alias(f"{c}__n_nonnull"),
            F.count_distinct(F.col(c)).alias(f"{c}__n_distinct"),
            F.min(c).cast("double").alias(f"{c}__min_val"),
            F.max(c).cast("double").alias(f"{c}__max_val"),
        ]
    row = li.agg(*aggs).collect()[0]
    out = [
        (
            c,
            row[f"{c}__n_rows"],
            row[f"{c}__n_nonnull"],
            row[f"{c}__n_distinct"],
            row[f"{c}__min_val"],
            row[f"{c}__max_val"],
        )
        for c in _PROFILE_COLS
    ]
    return spark.createDataFrame(
        out,
        "col string, n_rows long, n_nonnull long, n_distinct long, "
        "min_val double, max_val double",
    )


# ---------------------------------------------------------------------------
# Training-data splitting / ordering / mixing — the three corpus-level
# sampling primitives every LLM pretraining pipeline runs after curation.
# All three use deterministic md5 hash gates (reproducible across runs,
# partitionings, and engines) — never sample()'s per-partition RNG.

# Lexicographic thresholds over the first two md5 hex chars: 'e5' keeps
# buckets 0x00–0xe5 (230/256 ≈ 89.8%) for train, 'f2' the next 13/256
# ≈ 5.1% for val, remainder test. String compare is portable; no
# hex→int conversion (engines disagree on that surface).
_SPLIT_TRAIN_HI = "e5"
_SPLIT_VAL_HI = "f2"


@register(
    "reshape_split_train_val",
    oracle=f"""
SELECT doc_id, source,
       CASE WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{_SPLIT_TRAIN_HI}'
                 THEN 'train'
            WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{_SPLIT_VAL_HI}'
                 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
    doc="Deterministic train/val/test split (~90/5/5) via a hash gate "
    "on doc_id: the split is a pure function of the key, so it is "
    "stable under re-runs, repartitioning, incremental corpus growth "
    "(a doc never migrates between splits), and engines. Map-side "
    "only — no shuffle at any corpus size; the standard alternative "
    "randomSplit() resamples per run and per partitioning.",
)
def reshape_split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return d.select(
        "doc_id",
        "source",
        F.when(bucket <= _SPLIT_TRAIN_HI, "train")
        .when(bucket <= _SPLIT_VAL_HI, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "reshape_shuffle_global",
    oracle="""
SELECT doc_id,
       ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS shuffle_pos
FROM documents
""",
    doc="Deterministic global training-order shuffle: shuffle_pos is "
    "the rank of md5(doc_id) — a reproducible pseudorandom permutation "
    "of the corpus (seeded by the key itself). Runs through the "
    "engine's distributed zipWithIndex (chunker.global_row_number): "
    "sampled range boundaries on the hash, per-range JVM window, "
    "broadcast offsets — no global single-task sort at any scale, "
    "unlike a naive ROW_NUMBER() OVER (ORDER BY ...) window. doc_id "
    "tiebreak totalizes the order against hash collisions.",
)
def reshape_shuffle_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..chunker import global_row_number

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("__h")
    )
    return global_row_number(d, ["__h", "doc_id"], "shuffle_pos").select(
        "doc_id", "shuffle_pos"
    )


# Per-source mixing rates: heavier sources are down-sampled harder.
# Rates are expressed as the inclusive upper bucket ('ff' keeps all
# 256 buckets = rate 1.0; '7f' keeps 128/256 = 0.5; '3f' keeps 0.25).
_MIX_RATES = {"src0": "ff", "src1": "7f", "src2": "3f"}
_MIX_DEFAULT_HI = "bf"  # 192/256 = 0.75 for every other source


def _mix_cases_sql() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN '{hi}'" for s, hi in _MIX_RATES.items()
    )
    return f"CASE {whens} ELSE '{_MIX_DEFAULT_HI}' END"


@register(
    "reshape_mix_sources_weighted",
    oracle=f"""
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                          <= {_mix_cases_sql()}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents
GROUP BY source
""",
    doc="Weighted source mixing (domain reweighting for pretraining): "
    "each source keeps a configured fraction of its documents via the "
    "same deterministic hash gate as the split — e.g. keep all of a "
    "high-quality source, a quarter of a boilerplate-heavy one. The "
    "gate is per-row map-side work; the verification aggregate is the "
    "only shuffle. Being a pure function of (doc_id, source), the mix "
    "composes with the train/val split without correlation (different "
    "byte positions would decorrelate further if desired).",
)
def reshape_mix_sources_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    hi = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(v))
            for s, v in _MIX_RATES.items()
        ],
        F.lit(_MIX_DEFAULT_HI),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(bucket <= hi, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )


ONE_HOT_LANGS = ("en", "de", "es", "fr", "zh")


@register(
    "reshape_one_hot",
    oracle=f"""
SELECT doc_id,
       {", ".join(f"CASE WHEN lang = '{l}' THEN 1 ELSE 0 END AS is_{l}" for l in ONE_HOT_LANGS)},
       CASE WHEN lang NOT IN ({", ".join(f"'{l}'" for l in ONE_HOT_LANGS)})
            THEN 1 ELSE 0 END AS is_other
FROM documents
""",
    doc="One-hot encoding with an EXPLICIT category list (plus an "
    "is_other catch-all): the feature-prep step before training-data "
    "export. A fixed list keeps this a pure map-side projection — "
    "deriving categories from the data would need a distinct pre-pass "
    "AND make the output schema data-dependent, which breaks "
    "downstream consumers when a new category appears; the catch-all "
    "column is where schema stability comes from. Zero shuffles, "
    "codegen only.",
)
def reshape_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cols = [
        F.when(F.col("lang") == l, 1).otherwise(0).alias(f"is_{l}")
        for l in ONE_HOT_LANGS
    ]
    other = (
        F.when(~F.col("lang").isin(*ONE_HOT_LANGS), 1).otherwise(0).alias("is_other")
    )
    return d.select("doc_id", *cols, other)


N_FOLDS = 5


@register(
    "reshape_kfold",
    oracle=f"""
WITH folds AS (
  SELECT doc_id,
         CAST({sql_md5_hash60("CAST(doc_id AS VARCHAR)")} % {N_FOLDS}
              AS INTEGER) AS fold
  FROM documents
)
SELECT fold, COUNT(*) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM folds GROUP BY fold
""",
    doc=f"Deterministic {N_FOLDS}-fold cross-validation assignment via "
    "a hash of the key (fold = H(doc_id) mod k): every document lands "
    "in exactly one fold, assignments survive re-runs, repartitioning, "
    "and corpus growth (a doc never changes folds), and any fold's "
    "train set is a pushable `fold != i` predicate — no materialized "
    "fold tables, no randomSplit drift. Map-side only; the report "
    "aggregates fold sizes to expose balance.",
)
def reshape_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import md5_hash60

    d = load(spark, sf_dir, "documents")
    fold = (md5_hash60(F.col("doc_id").cast("string")) % N_FOLDS).cast("int")
    return (
        d.select("doc_id", fold.alias("fold"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@register(
    "profile_dq_rules",
    oracle="""
SELECT 'null_custkey' AS rule,
       COUNT(*) FILTER (WHERE o_custkey IS NULL) AS n_violations
FROM orders
UNION ALL
SELECT 'nonpositive_totalprice',
       COUNT(*) FILTER (WHERE o_totalprice <= 0)
FROM orders
UNION ALL
SELECT 'bad_status_domain',
       COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
FROM orders
UNION ALL
SELECT 'date_before_1995',
       COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1995-01-01')
FROM orders
UNION ALL
SELECT 'dup_orderkey', COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
UNION ALL
SELECT 'fk_orphan_customer', COUNT(*)
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
""",
    doc="Declarative data-quality gate (the audit step a WAP publish or "
    "ingestion contract runs): null checks, range checks, domain "
    "checks, duplicate-key and FK-orphan counts as one report of "
    "(rule, n_violations). All scalar rules ride ONE scan of the fact "
    "(conditional aggregates in a single wide aggregate row — adding a "
    "rule is free); only the referential check needs a join, and it "
    "broadcasts the dimension side's keys. The oracle recomputes every "
    "rule independently, so a silently-miscounting rule fails the "
    "hash match — the DQ gate is itself quality-gated.",
)
def profile_dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")

    def n(cond):
        return F.count(F.when(cond, 1))

    scalar = o.agg(
        n(F.col("o_custkey").isNull()).alias("null_custkey"),
        n(F.col("o_totalprice") <= 0).alias("nonpositive_totalprice"),
        n(~F.col("o_orderstatus").isin("O", "F", "P")).alias("bad_status_domain"),
        n(F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp")).alias(
            "date_before_1995"
        ),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("dup_orderkey"),
    )
    # one row in, five out: unpivot the wide aggregate into the report
    report = scalar.unpivot([], scalar.columns, "rule", "n_violations")
    orphans = (
        o.join(
            F.broadcast(c.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("fk_orphan_customer").alias("rule"), "n_violations")
    )
    return report.unionByName(orphans)


@register(
    "reshape_balance_oversample",
    oracle="""
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
m AS (SELECT MAX(n) AS m FROM c),
d AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
    FROM documents
),
x AS (
    SELECT d.doc_id, d.lang,
           (m.m // c.n) + CASE WHEN d.rn <= m.m % c.n THEN 1 ELSE 0 END
               AS copies
    FROM d JOIN c USING (lang) CROSS JOIN m
)
SELECT doc_id, lang, CAST(UNNEST(range(0, copies)) AS BIGINT) AS copy_idx
FROM x
""",
    doc="Deterministic class rebalancing by oversampling: every language "
    "is replicated up to EXACTLY the majority class's count — each doc "
    "gets floor(max/n) copies and the first max%n docs (by doc_id rank) "
    "one more, so per-class totals are equal by construction, "
    "reproducibly (no RNG — re-running the pipeline yields the same "
    "epoch mix, the property samplers with seeds only approximate). "
    "Plan: one tiny per-class count (broadcast back), one window rank, "
    "one generator explode — the multiplier table is O(classes) and "
    "rows are emitted map-side, so cost is O(output), never a shuffle "
    "of replicated data.",
)
def reshape_balance_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    m = c.agg(F.max("n").alias("m"))
    rn = F.row_number().over(Window.partitionBy("lang").orderBy("doc_id"))
    copies = (
        F.floor(F.col("m") / F.col("n"))
        + F.when(F.col("rn") <= F.col("m") % F.col("n"), 1).otherwise(0)
    ).alias("copies")
    return (
        d.select("doc_id", "lang")
        .withColumn("rn", rn)
        .join(F.broadcast(c), "lang")
        .crossJoin(F.broadcast(m))
        .select("doc_id", "lang", copies)
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(0), F.col("copies") - 1)).alias("copy_idx"),
        )
        .withColumn("copy_idx", F.col("copy_idx").cast("bigint"))
    )


@register(
    "reshape_split_leakage_safe",
    oracle=f"""
WITH RECURSIVE {_SQL_JACCARD_EDGES},
reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN jedges e ON e.src = r.node
),
comp AS (SELECT src AS doc_id, MIN(node) AS component_id FROM reach GROUP BY src)
SELECT doc_id, component_id,
       CASE WHEN SUBSTR(md5(CAST(component_id AS VARCHAR)), 1, 1) <= 'b'
            THEN 'train' ELSE 'val' END AS split
FROM comp
""",
    doc="Leakage-safe train/val split: hash-split by near-dup CLUSTER, "
    "not by document, so a near-duplicate pair can never straddle the "
    "split and leak evaluation text into training — the step naive "
    "per-doc splits get wrong. Composes the engine's own primitives: "
    "n-gram-Jaccard near-dup pairs → connected components (iterative "
    "min-label propagation) → deterministic md5 bucket on the "
    "component representative. Every doc in a component lands on the "
    "same side by construction; the oracle replays the full chain "
    "(shingle index, Jaccard threshold, recursive-CTE components, "
    "same hash rule).",
)
def reshape_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import dedup_connected_components

    comp = dedup_connected_components(spark, sf_dir)
    return comp.select(
        "doc_id",
        "component_id",
        F.when(
            F.substring(F.md5(F.col("component_id").cast("string")), 1, 1) <= "b",
            "train",
        )
        .otherwise("val")
        .alias("split"),
    )


@register(
    "reshape_interleave_datasets",
    oracle="""
WITH tagged AS (
    SELECT doc_id, doc_id % 2 AS ds,
           ROW_NUMBER() OVER (PARTITION BY doc_id % 2 ORDER BY doc_id) AS rk
    FROM documents
),
c AS (
    SELECT MIN(cnt) AS k
    FROM (SELECT ds, COUNT(*) AS cnt FROM tagged GROUP BY ds)
)
SELECT doc_id, CAST(ds AS BIGINT) AS ds,
       CAST(CASE WHEN rk <= k THEN (rk - 1) * 2 + ds
                 ELSE k + rk - 1 END AS BIGINT) AS position
FROM tagged CROSS JOIN c
""",
    doc="Deterministic dataset interleaving (the datasets.interleave "
    "step that fixes a training run's example order): two corpora "
    "alternate strictly by per-dataset rank until the shorter "
    "exhausts, then the longer's remainder appends in order — the "
    "position column is a closed-form function of (rank, dataset, "
    "min-count), PROVABLY a permutation (contiguous interleaved block "
    "then contiguous tail), so epoch order reproduces bit-for-bit "
    "across runs and partitionings, where iterator-based interleaving "
    "depends on worker scheduling. One rank window per dataset and a "
    "broadcast 1-row min-count — no shuffle of the interleaved data "
    "itself.",
)
def reshape_interleave_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tagged = d.select(
        "doc_id", (F.col("doc_id") % 2).alias("ds")
    ).withColumn(
        "rk", F.row_number().over(Window.partitionBy("ds").orderBy("doc_id"))
    )
    k = tagged.groupBy("ds").agg(F.count(F.lit(1)).alias("cnt")).agg(
        F.min("cnt").alias("k")
    )
    pos = F.when(
        F.col("rk") <= F.col("k"), (F.col("rk") - 1) * 2 + F.col("ds")
    ).otherwise(F.col("k") + F.col("rk") - 1)
    return (
        tagged.crossJoin(F.broadcast(k))
        .select(
            "doc_id",
            F.col("ds").cast("bigint").alias("ds"),
            pos.cast("bigint").alias("position"),
        )
    )


# -------------------------------------------- temperature mixing

MIX_TEMP_TARGET = 200  # total docs the tempered mix selects


@register(
    "reshape_mix_temperature",
    oracle=f"""
WITH srcs AS (
  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS chars
  FROM documents GROUP BY source
),
sq AS (
  SELECT source, n_docs, chars, chars * chars AS sqw,
         SUM(chars * chars) OVER () AS totsq
  FROM srcs
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
             AS rn
  FROM documents
)
SELECT s.source,
       CAST(s.n_docs AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN r.rn * s.totsq <= {MIX_TEMP_TARGET} * s.sqw
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       CAST(SUM(CASE WHEN r.rn * s.totsq <= {MIX_TEMP_TARGET} * s.sqw
                     THEN r.doc_id ELSE 0 END) AS BIGINT) AS sel_id_sum
FROM ranked r JOIN sq s USING (source)
GROUP BY s.source, s.n_docs
""",
    doc="Temperature-weighted source mixing at alpha=2 (the "
    "upweight-the-heavy-sources counterpart of temperature sampling; "
    "alpha=2 because integer SQUARES keep every weight exact where "
    "fractional alphas need pow()): each source's quota is "
    f"floor({MIX_TEMP_TARGET} * chars_s^2 / sum(chars^2)), selection "
    "is the quota-prefix of a deterministic md5 shuffle within the "
    "source, and the quota test is INTEGER cross-multiplication "
    "(rn * totsq <= N * sq_s) — no division, no floats, bit-exact "
    "parity. Emits per-source selected counts plus the selected-id "
    "sum so the exact membership is hash-checked. Shape: one source "
    "aggregate (tiny), one per-source rank window, one broadcast "
    "join — the fact table shuffles once on source. Integer "
    "headroom: rn * sum(chars^2) stays under 2^63 while per-source "
    "chars < ~3e9 / sqrt(|sources|); move to DECIMAL(38,0) beyond.",
)
def reshape_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    srcs = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars")
    )
    sq = srcs.select(
        "source",
        "n_docs",
        (F.col("chars") * F.col("chars")).alias("sqw"),
    ).withColumn("totsq", F.sum("sqw").over(Window.partitionBy()))
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rn"),
    )
    j = ranked.join(F.broadcast(sq), "source")
    sel = F.col("rn") * F.col("totsq") <= MIX_TEMP_TARGET * F.col("sqw")
    return j.groupBy("source", "n_docs").agg(
        F.sum(sel.cast("int")).cast("long").alias("n_selected"),
        F.sum(F.when(sel, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("sel_id_sum"),
    ).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_selected",
        "sel_id_sum",
    )
