"""Chunker invariants: deterministic global numbering and strict byte
budgets, verified against both a window-function oracle and a pure
Python greedy reference."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestion_pimcore_spark.chunker import (
    assign_chunks_by_bytes,
    assign_chunks_by_count,
    global_row_number,
)
from data_ingestion_pimcore_spark.tables import load

SF = "/root/testdata/sf0.001"
ORDER = ["l_orderkey", "l_linenumber"]


def test_global_row_number_matches_window(spark):
    """Scalable (deterministic-range + offsets) numbering must equal the
    single-window row_number over the same total order.

    (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
    totalize with the canonical record string."""
    from data_ingestion_pimcore_spark.integrity import canonical_string_col

    li = load(spark, SF, "lineitem")
    li = li.withColumn("__canon", canonical_string_col(li))
    order = [*ORDER, "__canon"]
    scalable = global_row_number(li, order, "rn", num_partitions=7)
    w = Window.orderBy(*order)
    oracle = li.withColumn("rn_o", F.row_number().over(w).cast("long"))
    joined = scalable.join(oracle, order)
    assert joined.where(F.col("rn") != F.col("rn_o")).count() == 0
    n = li.count()
    assert scalable.agg(F.min("rn"), F.max("rn")).first() == (1, n)


def test_global_row_number_descending_via_negation(spark):
    """The descending-rank pattern stats_pareto_share relies on: rank
    ascending on a NEGATED decimal equals row_number over (col DESC,
    tiebreak ASC) — including heavy ties (few distinct values) that
    stress the range-boundary sampling."""
    rows = [(i, float((i * 7) % 5)) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v double").withColumn(
        "dv", F.col("v").cast("decimal(18,2)")
    )
    ranked = global_row_number(
        df.withColumn("neg", -F.col("dv")), ["neg", "k"], "rk",
        num_partitions=7,
    )
    w = Window.orderBy(F.col("dv").desc(), "k")
    oracle = df.withColumn("rk_o", F.row_number().over(w).cast("long"))
    joined = ranked.join(oracle, ["k"])
    assert joined.where(F.col("rk") != F.col("rk_o")).count() == 0


def test_chunk_by_count_sizes(spark):
    li = load(spark, SF, "lineitem")
    chunked = assign_chunks_by_count(li, ORDER, 1000, num_partitions=5)
    sizes = {
        r["chunk_number"]: r["count"]
        for r in chunked.groupBy("chunk_number").count().collect()
    }
    n = li.count()
    full, rem = divmod(n, 1000)
    assert sorted(sizes) == list(range(full + (1 if rem else 0)))
    for c, sz in sizes.items():
        assert sz == (1000 if c < full else rem)


def test_byte_budget_invariants(spark):
    budget = 16 * 1024
    li = load(spark, SF, "lineitem")
    chunked = assign_chunks_by_bytes(li, ORDER, budget, num_partitions=5)
    stats = (
        chunked.groupBy("chunk_number")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("record_bytes").alias("bytes"),
        )
        .collect()
    )
    ids = sorted(r["chunk_number"] for r in stats)
    assert ids == list(range(len(ids)))  # contiguous 0-based numbering
    for r in stats:
        assert r["n"] > 0  # no empty chunks
        assert r["bytes"] <= budget or r["n"] == 1  # strict budget

    # chunk order respects record order: per-chunk [min,max] rn ranges
    # must not interleave
    withrn = global_row_number(chunked, ORDER, "rn", num_partitions=5)
    ranges = sorted(
        (r["chunk_number"], r["lo"], r["hi"])
        for r in withrn.groupBy("chunk_number")
        .agg(F.min("rn").alias("lo"), F.max("rn").alias("hi"))
        .collect()
    )
    for (c1, _lo1, hi1), (c2, lo2, _hi2) in zip(ranges, ranges[1:]):
        assert c2 == c1 + 1 and lo2 == hi1 + 1


def test_byte_chunk_stats_matches_row_level_aggregation(spark):
    """The fused one-pass stats must equal aggregating the row-level
    assignment — same boundary chase, so identical chunk membership."""
    from data_ingestion_pimcore_spark.chunker import byte_chunk_stats

    budget = 16 * 1024
    li = load(spark, SF, "lineitem")
    fused = {
        r["chunk_number"]: (r["n_records"], r["chunk_bytes"], r["max_record_bytes"])
        for r in byte_chunk_stats(li, ORDER, budget, num_partitions=5).collect()
    }
    rowlevel = {
        r["chunk_number"]: (r["n"], r["b"], r["m"])
        for r in assign_chunks_by_bytes(li, ORDER, budget, num_partitions=5)
        .groupBy("chunk_number")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("record_bytes").alias("b"),
            F.max("record_bytes").alias("m"),
        )
        .collect()
    }
    assert fused == rowlevel


def test_byte_budget_single_partition_matches_python_greedy(spark):
    """With one partition, the distributed greedy must equal the
    reference's sequential pre-append-check algorithm exactly
    (json_reader.py:129-136)."""
    budget = 8 * 1024
    li = load(spark, SF, "lineitem").limit(500)
    chunked = assign_chunks_by_bytes(li, ORDER, budget, num_partitions=1)
    rows = chunked.orderBy(*ORDER).select("record_bytes", "chunk_number").collect()

    chunk, cur = 0, 0
    for r in rows:
        size = r["record_bytes"]
        if cur > 0 and cur + size > budget:
            chunk += 1
            cur = 0
        cur += size
        assert r["chunk_number"] == chunk


def test_chunker_invariants_property(spark):
    """Property-based: for arbitrary skewed key distributions, record
    sizes, chunk sizes, and range counts, the chunker must keep every
    invariant. Hypothesis drives the data; one Spark job per example is
    too slow, so examples are drawn once and asserted in a loop over
    deterministic derived cases."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=12, deadline=None)
    @given(
        n=st.integers(1, 400),
        chunk=st.integers(1, 97),
        parts=st.integers(1, 9),
        skew=st.sampled_from(["uniform", "allsame", "halfsame"]),
    )
    def check(n, chunk, parts, skew):
        if skew == "uniform":
            keys = list(range(n))
        elif skew == "allsame":
            keys = [7] * n
        else:
            keys = [3] * (n // 2) + list(range(1000, 1000 + n - n // 2))
        rows = [(k, i) for i, k in enumerate(keys)]
        df = spark.createDataFrame(rows, "k long, uniq long")
        out = assign_chunks_by_count(
            df, ["k", "uniq"], chunk, num_partitions=parts
        ).collect()
        # no empty chunks, contiguous numbering, exact sizes, order kept
        by_chunk: dict[int, list] = {}
        for r in out:
            by_chunk.setdefault(r["chunk_number"], []).append((r["k"], r["uniq"]))
        full, rem = divmod(n, chunk)
        assert sorted(by_chunk) == list(range(full + (1 if rem else 0)))
        seen = []
        for c in sorted(by_chunk):
            grp = sorted(by_chunk[c])
            assert len(grp) == (chunk if c < full else rem)
            seen.extend(grp)
        assert seen == sorted((k, u) for k, u in rows)

    check()


def test_byte_chunks_invariant_to_partitioning(spark):
    """K3 reproducibility contract: epoch'd byte-mode chunk membership
    is a pure function of (data, order, budget, epoch_rows) — the
    range count used for row numbering must not change a single
    assignment (a crashed run and its resume may compute row numbers
    with different partitionings)."""
    # deterministic subset (limit() may pick different rows per
    # evaluation; each num_partitions variant re-evaluates the lineage)
    li = load(spark, SF, "lineitem").where(F.col("l_orderkey") <= 800)
    budget = 8 * 1024
    ref = None
    for parts in (1, 5, 13):
        chunked = assign_chunks_by_bytes(
            li, ORDER, budget, num_partitions=parts, epoch_rows=512
        )
        got = {
            tuple(r[c] for c in ORDER): r["chunk_number"]
            for r in chunked.collect()
        }
        if ref is None:
            ref = got
        else:
            assert got == ref, f"partitioning {parts} changed chunk ids"


def test_adaptive_chunker_respects_both_limits(spark):
    budget = 16 * 1024
    cap = 25
    li = load(spark, SF, "lineitem")
    chunked = assign_chunks_by_bytes(
        li, ORDER, budget, num_partitions=5, max_records=cap
    )
    stats = (
        chunked.groupBy("chunk_number")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("record_bytes").alias("bytes"))
        .collect()
    )
    ids = sorted(r["chunk_number"] for r in stats)
    assert ids == list(range(len(ids)))
    for r in stats:
        assert 0 < r["n"] <= cap  # count cap strict
        assert r["bytes"] <= budget or r["n"] == 1  # byte budget strict

    # with a never-binding cap, membership must equal plain byte mode
    plain = assign_chunks_by_bytes(li, ORDER, budget, num_partitions=5)
    wide = assign_chunks_by_bytes(
        li, ORDER, budget, num_partitions=5, max_records=10**9
    )
    a = {
        (r["l_orderkey"], r["l_linenumber"]): r["chunk_number"]
        for r in plain.select("l_orderkey", "l_linenumber", "chunk_number").collect()
    }
    b = {
        (r["l_orderkey"], r["l_linenumber"]): r["chunk_number"]
        for r in wide.select("l_orderkey", "l_linenumber", "chunk_number").collect()
    }
    assert a == b


def test_adaptive_single_partition_matches_python_greedy(spark):
    """With one partition, adaptive chunking must equal the sequential
    pre-append-check fold extended with a record cap: flush before a
    record that would exceed the byte budget OR the count cap."""
    budget, cap = 8 * 1024, 13
    li = load(spark, SF, "lineitem").limit(500)
    chunked = assign_chunks_by_bytes(
        li, ORDER, budget, num_partitions=1, max_records=cap
    )
    rows = chunked.orderBy(*ORDER).select("record_bytes", "chunk_number").collect()

    chunk, cur, n = 0, 0, 0
    for r in rows:
        size = r["record_bytes"]
        if n > 0 and (cur + size > budget or n >= cap):
            chunk += 1
            cur, n = 0, 0
        cur += size
        n += 1
        assert r["chunk_number"] == chunk


def test_pid_sql_matches_column_tree_on_hostile_keys(spark):
    """The SQL-string range-id builder (chunker._pid_sql, round 7) must
    assign the IDENTICAL pid as the Column-tree fallback for every row,
    including keys that stress literal rendering: quotes, backslashes,
    unicode, negative floats, NULLs, and timestamps. pids only balance
    load, but a rendering bug would surface as a parse error or a
    silently different balance — this pins byte-exact agreement."""
    import datetime

    from pyspark.sql import functions as F

    from data_ingestion_pimcore_spark import chunker

    rows = []
    base = datetime.datetime(2024, 1, 1)
    strings = [
        "plain", "it's", 'dq"uote', "back\\slash", "unié中",
        "semi;colon", "new\nline", None, "", "O'Brien\\x",
    ]
    for i in range(400):
        rows.append(
            (
                strings[i % len(strings)],
                i - 200,
                # every 17th double is NaN: the boundary sample sort
                # must stay a TOTAL order (NaN greatest, like Spark)
                float("nan") if i % 17 == 0 else (i - 200) * 1.5,
                base + datetime.timedelta(minutes=i),
            )
        )
    df = spark.createDataFrame(
        rows, "k_str string, k_int long, k_dbl double, k_ts timestamp"
    )
    order_cols = ["k_str", "k_int", "k_dbl", "k_ts"]

    # The SQL fast path must actually be in play for these types — a
    # silent fallback would make the parity check compare the Column
    # tree against itself (vacuous).
    boundaries = chunker._sampled_boundaries(df, order_cols, 8, None)
    sql = chunker._pid_sql(df, order_cols, boundaries)
    assert "CASE WHEN" in sql and "named_struct" in sql

    with_sql, n1 = chunker._deterministic_pid(df, order_cols, 8, None)
    # ...and _deterministic_pid itself must have TAKEN the fast path —
    # if F.expr/withColumn threw and it silently fell back, the parity
    # check below would compare the Column tree against itself.
    assert chunker._LAST_PID_PATH == "sql"

    real = chunker._pid_sql
    try:
        chunker._pid_sql = lambda *a, **k: (_ for _ in ()).throw(
            chunker._Unrenderable("forced")
        )
        with_tree, n2 = chunker._deterministic_pid(df, order_cols, 8, None)
        assert chunker._LAST_PID_PATH == "tree"
    finally:
        chunker._pid_sql = real

    assert n1 == n2
    key = [F.col(c) for c in order_cols]

    def keyof(r):
        # NaN != NaN would make dict comparison fail on matching rows
        return tuple(
            "NaN" if isinstance(v, float) and v != v else v for v in r[:-1]
        )

    a = {keyof(r): r[-1] for r in with_sql.select(*key, "__pid").collect()}
    b = {keyof(r): r[-1] for r in with_tree.select(*key, "__pid").collect()}
    assert a == b


def test_sql_literal_round_trips_hostile_values(spark):
    """chunker._sql_literal must render every supported boundary type
    as a SQL literal that evaluates EXACTLY equal to F.lit(v).cast(t) —
    shortest-repr doubles (subnormals, ±0.0, ±inf, NaN), strings with
    quotes/backslashes/newlines/unicode, decimals, dates, timestamps,
    and NULLs of each type."""
    import datetime
    from decimal import Decimal

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_ingestion_pimcore_spark.chunker import _sql_literal

    cases = [
        (T.DoubleType(), 0.0), (T.DoubleType(), -0.0),
        (T.DoubleType(), 5e-324), (T.DoubleType(), -5e-324),
        (T.DoubleType(), 1.7976931348623157e308),
        (T.DoubleType(), -1.1), (T.DoubleType(), 3.141592653589793),
        (T.DoubleType(), 1e16 + 2.0),
        (T.DoubleType(), float("inf")), (T.DoubleType(), float("-inf")),
        (T.DoubleType(), float("nan")),
        (T.FloatType(), -2.5),
        (T.LongType(), -(2**62)), (T.IntegerType(), -1),
        (T.BooleanType(), True), (T.BooleanType(), False),
        (T.StringType(), "it's"), (T.StringType(), "back\\slash"),
        (T.StringType(), 'd"q'), (T.StringType(), "new\nline"),
        (T.StringType(), "tab\tand\runi 中 é"), (T.StringType(), ""),
        (T.StringType(), "mix'\\'\\n"),
        (T.DecimalType(18, 6), Decimal("-12345.678901")),
        (T.DecimalType(5, 0), Decimal("99999")),
        (T.DateType(), datetime.date(1999, 12, 31)),
        (T.TimestampType(), datetime.datetime(2024, 2, 29, 23, 59, 59, 999999)),
        (T.DoubleType(), None), (T.StringType(), None),
        (T.DateType(), None), (T.LongType(), None),
    ]
    checks = []
    for i, (dt, v) in enumerate(cases):
        rendered = F.expr(_sql_literal(v, dt))
        expected = F.lit(v).cast(dt)
        eq = (
            rendered.eqNullSafe(expected)
            | (F.isnan(rendered) & F.isnan(expected))
            if isinstance(dt, (T.DoubleType, T.FloatType))
            else rendered.eqNullSafe(expected)
        )
        checks.append(eq.alias(f"c{i}"))
    (row,) = spark.range(1).select(*checks).collect()
    bad = [cases[i] for i in range(len(cases)) if not row[f"c{i}"]]
    assert not bad, bad


def test_murmur3_hash_long_matches_spark_hash(spark):
    """chunker._murmur3_hash_long must equal F.hash for LongType — the
    sentinel layout's identity-placement guarantee rests on it."""
    from pyspark.sql import functions as F

    from data_ingestion_pimcore_spark.chunker import _murmur3_hash_long

    vals = [0, 1, -1, 42, 63, 2**31, -(2**31) - 1, 2**63 - 1, -(2**63),
            987654321987654321]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    for r in df.select("x", F.hash("x").alias("h")).collect():
        assert _murmur3_hash_long(r["x"]) == r["h"], r["x"]


def test_ascending_chunk_layout_identity_placement(spark):
    """ascending_chunk_layout places chunk c in physical partition
    floor(c / ceil(n_chunks/n_parts)) — ascending across partitions,
    sorted within, clamped at the last partition, with NO sampling job
    over the child (the plan shows a plain hash exchange, no
    rangepartitioning)."""
    from pyspark.sql import functions as F

    from data_ingestion_pimcore_spark.chunker import (
        ascending_chunk_layout,
        _partition_sentinels,
        _murmur3_hash_long,
    )

    # sentinel invariant directly
    for n in (2, 3, 5, 32, 256):
        for p, x in enumerate(_partition_sentinels(n)):
            assert _murmur3_hash_long(x) % n == p

    rows = [(c, f"payload{c}") for c in range(0, 200, 3)]  # sparse chunks
    df = spark.createDataFrame(rows, "chunk_number long, payload string")
    for n_parts in (1, 2, 3, 7):
        out = ascending_chunk_layout(df.repartition(13), 200, n_parts)
        got = out.select(
            F.spark_partition_id().alias("pid"), "chunk_number"
        ).collect()
        cpp = -(-200 // n_parts)
        for r in got:
            assert r["pid"] == min(r["chunk_number"] // cpp, n_parts - 1)
        # global drain order: iterating partitions in order yields
        # strictly ascending chunk numbers
        seq = [r["chunk_number"] for r in out.toLocalIterator()]
        assert seq == sorted(seq)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()


def test_scalar_boundary_reduction_matches_struct_pids(spark):
    """The scalar-prefix pid fast path (round 8): when boundaries are
    pairwise distinct on the first order column, the CASE tree compares
    that scalar only. Equal full keys must still land in one range and
    pids must stay monotone in the total order — asserted by comparing
    global row numbers (boundary-neutral) against a forced full-struct
    run, and by checking the reduction's gates directly."""
    from data_ingestion_pimcore_spark import chunker as ck

    rows = [(i // 3, i % 7, f"v{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "a long, b long, s string")
    order = ["a", "b"]

    got = ck.global_row_number(df, order, "rn", num_partitions=8)
    expect = (
        df.orderBy("a", "b")
        .collect()
    )
    by_rn = {r["rn"]: (r["a"], r["b"]) for r in got.collect()}
    assert len(by_rn) == 500
    for i, r in enumerate(expect, start=1):
        assert by_rn[i] == (r["a"], r["b"])

    # gate behavior: null / NaN / duplicate firsts refuse the reduction
    assert ck._scalar_boundaries([(1, 2), (3, 4)]) == [(1,), (3,)]
    assert ck._scalar_boundaries([(None, 2), (3, 4)]) is None
    assert ck._scalar_boundaries([(float("nan"), 2), (3, 4)]) is None
    assert ck._scalar_boundaries([(1, 2), (1, 4)]) is None
    assert ck._scalar_boundaries([([1], 2)]) is None  # unhashable


def test_offsets_df_is_jvm_local_relation(spark):
    """_offsets_df must stay a JVM LocalRelation (round 8): a Python-RDD
    scan on the broadcast build side re-forks Python workers on every
    drain job (~6 core-s per sf0.1 ingest)."""
    from data_ingestion_pimcore_spark import chunker as ck

    off = ck._offsets_df([(0, 10), (1, 32)], spark, "__offset")
    assert [tuple(r) for r in off.orderBy("__pid").collect()] == [
        (0, 0),
        (1, 10),
    ]
    plan = off._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_integrity_chain_streamed_fold_and_spill_path(spark, monkeypatch):
    """The chain fold must not collect() the manifest: it drains an
    ascending layout through toLocalIterator (bounded driver state) and
    spills finished chain rows past _CHAIN_SPILL_BATCH. Forcing a tiny
    batch exercises the spill branch end-to-end and must produce the
    exact same chain the in-memory branch (and the recursive-CTE
    oracle) produces; a scrambled drain must be refused, not silently
    mis-chained."""
    from data_ingestion_pimcore_spark.ops import ingestion_queries as iq

    sf = "/root/testdata/sf0.001"
    baseline = {
        r["chunk_number"]: tuple(r)
        for r in iq.ingest_integrity_chain(spark, sf).collect()
    }
    assert len(baseline) > 1
    # chain property: each hash commits to the previous one
    import hashlib

    prev = None
    for i in sorted(baseline):
        _, _, checksum, chain_hash = baseline[i]
        seed = ("GENESIS|" + checksum) if prev is None else (prev + "|" + checksum)
        assert chain_hash == hashlib.sha256(seed.encode()).hexdigest()
        prev = chain_hash

    monkeypatch.setattr(iq, "_CHAIN_SPILL_BATCH", 2)
    monkeypatch.setattr(iq, "_CHAIN_CHUNKS_PER_PART", 1)
    spilled = {
        r["chunk_number"]: tuple(r)
        for r in iq.ingest_integrity_chain(spark, sf).collect()
    }
    assert spilled == baseline


def test_integrity_chain_spill_lands_in_configured_root(
    spark, monkeypatch, tmp_path
):
    """r11 advice (medium): the spill is WRITTEN AND READ BY EXECUTORS,
    so it must land in a cluster-visible root (the engine spill conf /
    checkpoint dir / warehouse dir), never a driver-local mkdtemp — and
    be cleaned up through the Hadoop FS API after materialization."""
    from data_ingestion_pimcore_spark.ops import ingestion_queries as iq

    sf = "/root/testdata/sf0.001"
    baseline = {
        r["chunk_number"]: tuple(r)
        for r in iq.ingest_integrity_chain(spark, sf).collect()
    }
    monkeypatch.setattr(iq, "_CHAIN_SPILL_BATCH", 2)
    monkeypatch.setattr(iq, "_CHAIN_CHUNKS_PER_PART", 1)
    spill_root = tmp_path / "spill"
    spill_root.mkdir()
    captured = []
    real_rm = iq._hadoop_rmtree
    monkeypatch.setattr(
        iq,
        "_hadoop_rmtree",
        lambda s, p: (captured.append(p), real_rm(s, p))[1],
    )
    spark.conf.set(iq.SPILL_DIR_CONF, str(spill_root))
    try:
        spilled = {
            r["chunk_number"]: tuple(r)
            for r in iq.ingest_integrity_chain(spark, sf).collect()
        }
    finally:
        spark.conf.unset(iq.SPILL_DIR_CONF)
    assert spilled == baseline
    assert captured and captured[0].startswith(str(spill_root))
    assert list(spill_root.iterdir()) == []  # spill dir removed after use
