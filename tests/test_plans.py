"""Physical-plan regression tests: the scale properties the engine
depends on (pushdown, pruning, broadcast, partial aggregation, top-k
short-circuit) must be visible in the optimized plan, not assumed.
These are the properties that decide whether a query survives a 100×
scale-up, so a plan regression is a test failure, not a perf nit.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from data_ingestion_pimcore_spark import registry

SF = "/root/testdata/sf0.001"

_Q = registry.all_queries()


def _explain(spark, name: str, mode: str) -> str:
    df = _Q[name].fn(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def plan_of(spark, name: str) -> str:
    return _explain(spark, name, "formatted")


def tree_of(spark, name: str) -> str:
    """Just the operator tree (formatted mode repeats every operator in
    the details section, which would double all counts)."""
    return plan_of(spark, name).split("\n\n(1)")[0]


def test_q3_broadcasts_dims_and_pushes_filters(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    tree = tree_of(spark, "q3_shipping_priority")
    # both dimension joins broadcast — no shuffle join on the fact table
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # date/segment predicates reach the parquet scans
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    # sort+limit collapses to TakeOrderedAndProject (no global sort)
    assert "TakeOrderedAndProject" in plan


def test_q1_prunes_columns_and_pushes_date_filter(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m, plan
    read_cols = m.group(1)
    # 7 needed columns, not the 16-column table
    assert read_cols.count(":") <= 7
    assert "l_comment" not in read_cols and "l_orderkey" not in read_cols
    # map-side partial aggregation before the exchange
    tree = tree_of(spark, "q1_pricing_summary")
    assert tree.count("HashAggregate") == 2


def test_top10_orders_is_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "top10_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and m.group(1).count(":") == 3  # only the 3 projected columns


def test_dedup_exact_is_one_partial_final_aggregate(spark):
    tree = tree_of(spark, "dedup_exact")
    assert tree.count("HashAggregate") == 2  # partial + final
    assert tree.count("Exchange") == 1  # exactly one shuffle, on the hash key


def test_q5_all_dimension_joins_broadcast(spark):
    tree = tree_of(spark, "q5_regional_revenue")
    assert "CartesianProduct" not in tree
    # every dim (region/nation/supplier/customer) joins without
    # shuffling the lineitem side
    assert tree.count("BroadcastHashJoin") >= 3


def test_broadcast_join_hint_respected(spark):
    plan = plan_of(spark, "join_broadcast_dim")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_per_group_uses_window_group_limit(spark):
    plan = plan_of(spark, "window_topk_per_group")
    # Spark's rank-based top-k pushdown prunes rows before the full sort
    assert "WindowGroupLimit" in plan


def test_semi_and_anti_joins_stay_semi(spark):
    for name, kind in [("join_semi", "LeftSemi"), ("join_anti", "LeftAnti")]:
        plan = plan_of(spark, name)
        assert kind in plan, f"{name} lost its {kind} join shape"


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "dedup_exact",
        "text_stats",
    ],
)
def test_hot_paths_are_whole_stage_codegen(spark, name):
    # AQE finalizes codegen only at execution: run the query, then read
    # the final plan — codegen'd operators are starred "*(1) ..."
    df = _Q[name].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # shuffle-free queries have no AdaptiveSparkPlan node at all
    assert "isFinalPlan=false" not in plan
    assert re.search(r"\*\(\d+\)", plan), plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketed co-located join: writing both sides bucketed+sorted on
    the join key lets SortMergeJoin run with NO Exchange on either side
    — the pre-shuffle technique for repeatedly-joined 100-TB tables."""
    import re as _re

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    for name, df, key in [("b_orders", o, "o_orderkey"), ("b_lineitem", li, "l_orderkey")]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .option("path", str(tmp_path / name))
            .bucketBy(4, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    # merge hint: at sf0.001 the dim auto-broadcasts, hiding the point;
    # at real scale both sides are too big to broadcast and SMJ is what
    # the planner picks on its own.
    joined = (
        spark.table("b_lineitem")
        .hint("merge")
        .join(
            spark.table("b_orders").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_quantity", "o_totalprice")
    )
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tree = plan.split("\n\n(1)")[0]
    assert "SortMergeJoin" in tree
    assert "Exchange" not in tree, tree  # co-located: zero shuffles
    n = joined.count()
    assert n == spark.read.parquet(f"{sf}/lineitem.parquet").count()
    for name in ["b_orders", "b_lineitem"]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_q19_or_predicates_push_to_both_scans(spark):
    """The OR-of-ANDs predicate spans lineitem and part; Catalyst must
    extract each side's disjunction and push it into BOTH scans."""
    plan = plan_of(spark, "q19_discounted_revenue")
    assert re.search(r"PushedFilters:.*Or\(.*l_quantity|PushedFilters:.*Or\(.*GreaterThanOrEqual\(l_quantity", plan), plan
    assert "Or(Or(And(EqualTo(p_brand" in plan, plan
    # column pruning: the 11-column lineitem scan reads only 4
    m = re.search(r"ReadSchema: struct<(l_partkey[^>]*)>", plan)
    assert m and m.group(1).count(",") == 3, plan


def _ancestors(tree: str, node_id: int) -> list[str]:
    """Operator names on the path from node ``(node_id)`` up to the root
    of a formatted-mode operator tree (depth = indent of the name)."""
    rows = []
    for line in tree.splitlines():
        m = re.match(r"^([\s:|+-]*)(\w+).*\((\d+)\)\s*$", line)
        if m:
            rows.append((len(m.group(1)), m.group(2), int(m.group(3))))
    i = next(k for k, r in enumerate(rows) if r[2] == node_id)
    depth, path = rows[i][0], []
    for d, name, _ in reversed(rows[:i]):
        if d < depth:
            path.append(name)
            depth = d
    return path


def _scan_ids(plan: str, table: str) -> list[int]:
    """Node ids of the parquet scans that read ``table``."""
    return [
        int(m.group(1))
        for m in re.finditer(
            r"^\((\d+)\) Scan parquet[^\n]*\n(?:[^\n]+\n)*?Location: [^\n]*/"
            + table
            + r"\.parquet",
            plan,
            re.M,
        )
    ]


def test_q21_scans_lineitem_once_aggregates_before_broadcast(spark):
    """q21's EXISTS/NOT EXISTS became one per-order aggregate: lineitem
    is scanned once, collapsed by a two-level aggregate ((order, supp)
    then order, each partial+final), and only that aggregate's output
    may be broadcast — never lineitem-scale rows."""
    plan = plan_of(spark, "q21_waiting_suppliers")
    tree = tree_of(spark, "q21_waiting_suppliers")
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    (scan,) = _scan_ids(plan, "lineitem")
    up = _ancestors(tree, scan)
    below_bcast = up[: up.index("BroadcastExchange")] if "BroadcastExchange" in up else up
    assert below_bcast.count("HashAggregate") == 4, tree
    assert "TakeOrderedAndProject" in tree  # top-10, no global sort


def test_reshape_pivot_is_single_aggregate_no_distinct_prepass(spark):
    """pivot with an explicit value list must not run a distinct job
    over the pivot column (omitting the list forces a separate collect
    of distinct values before planning). Spark plans the pivot itself
    as a two-level aggregate — pre-aggregate by (group, pivot) then
    pivot by group — which is the scale-correct shape: the first level
    collapses the fact table before the pivot shuffle."""
    tree = tree_of(spark, "reshape_pivot")
    assert "CollectLimit" not in tree  # distinct pre-pass collects values
    # pivot side: 2 partial+final pairs; counts side: 1 pair
    assert tree.count("HashAggregate") == 6, tree


def test_reshape_unpivot_is_shuffle_free(spark):
    tree = tree_of(spark, "reshape_unpivot")
    assert "Exchange" not in tree, tree
    assert "Expand" in tree, tree


def test_sample_stratified_pushes_nothing_but_stays_map_side(spark):
    """The md5 gate is not pushable (expression over two columns), but
    the filter must sit directly on the scan with no shuffle before the
    final aggregate's exchange."""
    tree = tree_of(spark, "reshape_sample_stratified")
    assert tree.count("Exchange") == 1, tree


def test_percentile_is_partial_final_aggregate(spark):
    tree = tree_of(spark, "agg_percentile_exact")
    # exact percentile still does map-side partial + final around ONE
    # exchange (ObjectHashAggregate), like any mergeable aggregate
    assert tree.count("ObjectHashAggregate") == 2
    assert tree.count("Exchange") == 1


def test_window_range_frame_single_exchange(spark):
    tree = tree_of(spark, "window_range_frame")
    # one hash-exchange on the partition key, one sort, one Window —
    # the value-based frame adds no extra shuffle over a ROWS frame
    assert tree.count("Exchange") == 1
    assert tree.count("Sort") == 1
    assert tree.count("Window") == 1


def test_edit_distance_broadcasts_candidates_no_cartesian(spark):
    plan = plan_of(spark, "dedup_edit_distance")
    tree = tree_of(spark, "dedup_edit_distance")
    # LSH band candidates (self-join + a BAND_CAP bucket-size gate on
    # each side) + two joins back to documents: every join is broadcast
    # (candidate list and band side are small by construction) and
    # nothing degenerates to a cross join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert tree.count("BroadcastHashJoin") == 5


def test_tfidf_topk_plants_window_group_limit(spark):
    tree = tree_of(spark, "text_tfidf_top_terms")
    # rnk <= 3 compiles to WindowGroupLimit BELOW the exchange too
    # (partial top-k per map task), so no full per-doc sort ships
    assert tree.count("WindowGroupLimit") == 2
    # df-per-term side is broadcast into the tf join
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree


def test_audience_overlap_is_one_entity_shuffle(spark):
    """Segment intersections must come from membership-flag products
    over ONE customer-keyed aggregate — never a per-pair self-join of
    the fact table. Exactly one hash exchange (the entity key); the
    pair table is a generated unpivot of a 1-row aggregate."""
    tree = tree_of(spark, "agg_audience_overlap")
    plan = plan_of(spark, "agg_audience_overlap")
    assert "Join" not in tree, tree
    assert "Generate" in tree  # the pair unpivot
    # exactly two exchanges: the entity-key hash shuffle + the 1-row
    # SinglePartition for the global flag-product sums
    assert tree.count("Exchange") == 2, tree
    assert plan.count("hashpartitioning(o_custkey") == 1, plan


def test_range_search_is_shuffle_free_broadcast_filter(spark):
    """Radius search must be a broadcast of the query set + a map-side
    score-and-filter: NO exchange other than the broadcast, no window,
    no Python — the zero-shuffle member of the retrieval family."""
    tree = tree_of(spark, "sim_range_search")
    assert "BroadcastExchange" in tree
    assert "Window" not in tree
    assert "BatchEvalPython" not in tree
    # no shuffle exchange: every Exchange in the tree is the broadcast
    import re as _re

    assert not _re.search(r"\bExchange (?:hash|range|Single)", tree), tree


def test_welch_ttest_is_two_aggregates_only(spark):
    """Welch collapses the fact table in one partial+final aggregate
    pair, then a 1-row final agg — no join, no window, no Python."""
    tree = tree_of(spark, "stats_welch_ttest")
    assert "Join" not in tree
    assert "Window" not in tree
    assert "BatchEvalPython" not in tree
    assert tree.count("HashAggregate") == 4  # partial+final x 2 levels


def test_bm25_topk_plan_shape(spark):
    """BM25: per-term top-k plants WindowGroupLimit (partial below the
    exchange too), the df/stats sides broadcast, and nothing goes
    cartesian (the 1-row stats cross-join must be a broadcast NL)."""
    tree = tree_of(spark, "text_bm25_topk")
    assert tree.count("WindowGroupLimit") == 2, tree
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree


def test_gopher_filters_plan_is_shuffle_free_scan(spark):
    """The Gopher rules are one projection over the docs scan — no
    exchange, no join, no Python: embarrassingly parallel at any SF."""
    tree = tree_of(spark, "text_gopher_quality_filters")
    assert "Exchange" not in tree, tree
    assert "BatchEvalPython" not in tree
    assert "Join" not in tree


def test_theta_join_is_broadcast_nl_not_cartesian(spark):
    """Inequality-only join: with a broadcast hint on the tiny side the
    planner must pick BroadcastNestedLoopJoin, never CartesianProduct
    (which would shuffle-materialize both sides)."""
    tree = tree_of(spark, "join_theta_nl")
    assert "BroadcastNestedLoopJoin" in tree
    assert "CartesianProduct" not in tree


def test_explode_words_is_shuffle_free_generate(spark):
    """posexplode compiles to a Generate inside the scan's map stage —
    tokenize-to-rows at 100 TB must not shuffle."""
    tree = tree_of(spark, "explode_words")
    assert "Generate" in tree
    assert "Exchange" not in tree


def test_window_ntile_single_exchange(spark):
    """All three distribution functions share one window spec → one
    hash Exchange on the partition key, one sort, one Window node."""
    tree = tree_of(spark, "window_ntile_dist")
    assert tree.count("Window") == 1
    assert tree.count("Exchange") <= 2  # partition shuffle + broadcast dim


def test_correlated_subquery_is_decorrelated(spark):
    """Catalyst must rewrite both correlated scalar subqueries into
    grouped aggregates + joins — no per-outer-row re-execution (no
    scalar-subquery nodes survive in the physical tree)."""
    tree = tree_of(spark, "subquery_correlated")
    assert "Subquery" not in tree
    assert "HashAggregate" in tree


def test_decontaminate_broadcasts_eval_probe(spark):
    """The eval side must collapse to a distinct-shingle broadcast
    probe; the corpus side must never shuffle for the join itself."""
    tree = tree_of(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree and "CartesianProduct" not in tree


def test_pii_scrub_is_pure_codegen_projection(spark):
    """Redaction is a per-row projection: no shuffle, no Python, fused
    into whole-stage codegen with the scan."""
    plan = plan_of(spark, "text_pii_scrub")
    tree = tree_of(spark, "text_pii_scrub")
    assert "Exchange" not in tree
    assert "[codegen id :" in plan  # every operator codegen-fused
    assert "Python" not in tree  # built-in regexp fns, not UDFs


def test_curation_pipeline_broadcasts_probe_and_single_window(spark):
    plan = plan_of(spark, "curation_pipeline")
    tree = tree_of(spark, "curation_pipeline")
    # eval shingle set and contaminated-id set both broadcast — the
    # corpus is never shuffled against the eval side
    assert tree.count("BroadcastExchange") == 2
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # exact-dup canonicalization is the only window (one hash exchange)
    assert tree.count("Window") == 1
    # all three per-doc gates fold into map-side projections: no
    # aggregate feeds the flags side
    assert "pass_lang" in plan and "pass_repetition" in plan


def test_salted_skew_uses_hash_join_not_smj(spark):
    tree = tree_of(spark, "join_salted_skew")
    assert "ShuffledHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_stream_static_join_broadcasts_dim(spark, tmp_path):
    # build the streaming plan without draining it: broadcast of the
    # static side must appear in the logical-to-physical translation
    from data_ingestion_pimcore_spark.ops.timeseries import _events_stream

    dim = spark.createDataFrame(
        [("click", "engagement")], "event_type string, tier string"
    )
    stream = _events_stream(spark, SF).select("event_type", "value")
    joined = stream.join(F.broadcast(dim), "event_type")
    # streaming DataFrames can't explain() until a sink starts; assert
    # on the analyzed plan's join hint instead
    assert "UnresolvedHint BROADCAST" in joined._jdf.queryExecution().logical().toString() or \
           "broadcast" in joined._jdf.queryExecution().analyzed().toString().lower()


def test_fused_payload_plan_has_two_exchanges(spark):
    """The fused count-mode payload path must move full records over
    the network exactly once (the ordering exchange) plus payload rows
    once (the drain-layout range exchange) — the groupBy builder's
    third, full-record exchange must NOT reappear."""
    from data_ingestion_pimcore_spark.config import IngestRequest
    from data_ingestion_pimcore_spark.pipeline import _chunk_payloads, _chunked

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    req = IngestRequest(
        file_path=f"{SF}/lineitem.parquet",
        file_type="parquet",
        chunk_size_by_records=1000,
        re_ingestion=True,
        order_cols=("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
    )
    stats: dict = {}
    chunked = _chunked(li, req, list(req.order_cols), stats_out=stats)
    payloads = _chunk_payloads(chunked, li.columns, stats["n_chunks"])
    plan = payloads._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = plan.split("\n\n(1)")[0]
    # ordering exchange (hash by __pid) + drain range exchange; the
    # broadcast offset join adds BroadcastExchanges, which move O(#ranges)
    # rows and don't count against shuffle volume
    shuffles = [
        ln for ln in tree.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert len(shuffles) == 2, tree


def test_byte_mode_payload_plan_has_no_chunk_exchange(spark, tmp_path, monkeypatch):
    """Byte mode builds payloads in the ordering stage, as count mode
    does: between the row-number Window and MapInPandas there is no
    hash Exchange on chunk_number (full records would cross the network
    twice). The plan is the one ingest() hands to deliver_payloads."""
    from data_ingestion_pimcore_spark import pipeline
    from data_ingestion_pimcore_spark.config import IngestRequest
    from data_ingestion_pimcore_spark.sink import ChunkValidator
    from data_ingestion_pimcore_spark.state import IngestionStateStore

    seen = []

    def capture(payloads, ingestion_id, state, transport, total, **kw):
        seen.append(payloads)
        return 0, total

    monkeypatch.setattr(pipeline, "deliver_payloads", capture)
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    req = IngestRequest(
        file_path=f"{SF}/lineitem.parquet",
        file_type="parquet",
        chunk_size_by_memory=64 * 1024,
        re_ingestion=True,
        order_cols=("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
    )
    state = IngestionStateStore(str(tmp_path / "state.parquet"))
    pipeline.ingest(spark, req, li, state, ChunkValidator())
    plan = seen[0]._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    lines = plan.split("\n\n(1)")[0].splitlines()
    top = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    window = next(i for i, ln in enumerate(lines) if i > top and "Window" in ln)
    between = [
        ln for ln in lines[top:window]
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert between == [], "\n".join(lines)


def test_small_ingest_ordering_exchange_is_aqe_coalesced(spark, tmp_path, monkeypatch):
    """A source with no parquet footers (an in-memory frame) gets its
    ordering-stage width from AQE, not from the shuffle-partition conf:
    in the executed payload plan, the __pid exchange is read through a
    coalesced AQEShuffleRead under MapInPandas. The input is a
    24,576-row ``spark.range`` frame (long key, string, double) in
    256 KiB byte-mode chunks."""
    from data_ingestion_pimcore_spark import pipeline
    from data_ingestion_pimcore_spark.config import IngestRequest
    from data_ingestion_pimcore_spark.sink import ChunkValidator
    from data_ingestion_pimcore_spark.state import IngestionStateStore

    seen = []
    deliver = pipeline.deliver_payloads

    def capture(payloads, *args, **kw):
        seen.append(payloads)
        return deliver(payloads, *args, **kw)

    monkeypatch.setattr(pipeline, "deliver_payloads", capture)
    df = spark.range(24576).select(
        F.col("id").alias("k"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("v"),
        (F.col("id") * 1.5).alias("x"),
    )
    req = IngestRequest(
        file_path="mem://aqe-width",
        file_type="parquet",
        chunk_size_by_memory=256 * 1024,
        re_ingestion=True,
        order_cols=("k", "v"),
    )
    state = IngestionStateStore(str(tmp_path / "state.parquet"))
    out = pipeline.ingest(spark, req, df, state, ChunkValidator())
    assert out.total_records == 24576
    plan = seen[0]._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "isFinalPlan=true" in plan, plan
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    top = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    ordering = next(
        i for i, ln in enumerate(lines)
        if "Exchange hashpartitioning(__pid" in ln and "REPARTITION_BY" in ln
    )
    assert top < ordering, plan
    read = next(
        ln for ln in reversed(lines[top:ordering])
        if "ShuffleQueryStage" not in ln
    )
    assert "AQEShuffleRead coalesced" in read, plan


def test_split_train_val_is_map_side_only(spark):
    """The hash-gate split must add NO shuffle: a scan + project and
    nothing else, at any corpus size."""
    tree = tree_of(spark, "reshape_split_train_val")
    assert "Exchange" not in tree, tree
    assert "Sort" not in tree, tree


def test_shuffle_global_avoids_single_task_sort(spark):
    """The training-order permutation must run through the distributed
    zipWithIndex (range ids + per-range window + broadcast offsets),
    never a global ORDER BY window (one task holding the corpus)."""
    tree = tree_of(spark, "reshape_shuffle_global")
    # per-range window after a hash exchange on the range id — not a
    # single-partition Exchange(SinglePartition) global sort
    assert "SinglePartition" not in tree, tree
    assert "Window" in tree, tree
    assert tree.count("BroadcastHashJoin") == 1, tree


def test_zorder_layout_concentrates_matches(spark, tmp_path):
    """The point of Z-order clustering: after layout, a 2-D range
    predicate's matching rows live in FEW files (tight per-file
    min/max stats → row-group/file pruning at scale), while the same
    predicate on an unclustered layout touches every file."""
    from data_ingestion_pimcore_spark.ops.layout import zorder_layout
    from data_ingestion_pimcore_spark.tables import load

    li = load(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    n_files = 16
    zpath = str(tmp_path / "zordered")
    rpath = str(tmp_path / "rand")
    zorder_layout(li, "l_partkey", "l_suppkey", n_files).write.parquet(zpath)
    # unclustered control: round-robin spread over the same file count
    li.repartition(n_files).write.parquet(rpath)

    pred = (
        (F.col("l_partkey") % 256 < 32) & (F.col("l_suppkey") % 256 < 32)
    )

    def files_touched(path: str) -> int:
        return (
            spark.read.parquet(path)
            .where(pred)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    z, r = files_touched(zpath), files_touched(rpath)
    # random layout scatters matches across ~every file; z-order
    # concentrates the (32/256)^2 ≈ 1.6% selectivity into a fraction
    assert r >= n_files * 3 // 4, (z, r)
    assert z <= r // 2, (z, r)


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """LATERAL top-k must not re-execute per outer row: Catalyst
    rewrites it to a WindowGroupLimit top-k + one join back."""
    tree = tree_of(spark, "join_lateral_topk")
    assert "WindowGroupLimit" in tree, tree
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_regression_single_shuffle_partial_agg(spark):
    """Grouped OLS: the six sufficient statistics reduce through ONE
    exchange with a map-side partial aggregate; no sort, no join."""
    tree = tree_of(spark, "stats_regression_by_group")
    assert tree.count("Exchange") == 1
    assert tree.count("HashAggregate") == 2  # partial + final
    assert "Sort" not in tree and "Join" not in tree


def test_histogram_single_aggregate(spark):
    """Closed-form binning: one partial+final aggregate, no sort, no
    window, output cardinality decoupled from input size."""
    tree = tree_of(spark, "stats_histogram")
    assert tree.count("Exchange") == 1
    assert "Sort" not in tree and "Window" not in tree


def test_substring_dedup_no_cartesian_hashed_keys(spark):
    """Winnowed substring dedup: pair generation must stay inside
    posting lists (no cartesian/SMJ of the corpus against itself), and
    the posting-list key must be the 60-bit hash, never the raw gram."""
    plan = plan_of(spark, "dedup_substring_exact")
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    tree = tree_of(spark, "dedup_substring_exact")
    # grams are hashed and exploded in-batch by one Arrow stage; pair
    # generation inside posting lists is the only generator
    assert "MapInPandas" in tree
    assert tree.count("Generate") == 1


def test_triangle_close_broadcasts_adjacency(spark):
    """The triangle close must attach adjacency via broadcast joins
    (array-carrying rows never shuffle) and never materialize wedges
    through a shuffle join."""
    plan = plan_of(spark, "graph_triangle_count")
    tree = tree_of(spark, "graph_triangle_count")
    assert tree.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # the only nested-loop joins allowed are the three scalar 1-row
    # aggregates cross-joined for the final (n_nodes, n_edges,
    # n_triangles) row — never a data-sized cartesian
    assert tree.count("BroadcastNestedLoopJoin") <= 2


def test_interpolate_single_window_exchange(spark):
    """Both neighbor-lookup frames must share one partition+order: a
    single exchange on event_type feeds all window computation."""
    tree = tree_of(spark, "ts_interpolate_linear")
    assert "Window" in tree
    # the event-volume side contributes exactly one partial+final agg
    # pair; the window sort happens once (two Window ops may share it)
    assert tree.count("Sort") <= 2


def test_funnel_reuses_user_clustering(spark):
    """Funnel stages all hash on user_id; no sort anywhere, and no
    cartesian/broadcast-nested-loop fallback."""
    plan = plan_of(spark, "ts_funnel_pattern")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # no window, no global sort — stage entry times are plain aggregates
    assert "Window" not in tree_of(spark, "ts_funnel_pattern")


def test_cdc_diff_single_key_join(spark):
    """CDC diff is one full-outer join on the key plus row-local
    classification — no second join, no window, no sort beyond the
    join's own."""
    tree = tree_of(spark, "ingest_cdc_diff")
    assert tree.count("SortMergeJoin") + tree.count("ShuffledHashJoin") == 1
    assert "Window" not in tree


def test_scd2_one_exchange_two_windows(spark):
    """SCD2: both window passes and the change filter ride ONE hash
    exchange on the dimension key (Catalyst reuses the clustering)."""
    tree = tree_of(spark, "ingest_scd2_history")
    assert tree.count("Exchange") == 1
    assert tree.count("Window") == 2


def test_compaction_reduces_file_count(spark, tmp_path):
    """Compaction must collapse a fragmented layout to the row-count
    target and preserve content exactly."""
    import math

    from pyspark.sql import functions as F

    from data_ingestion_pimcore_spark.ops.layout import TARGET_FILE_ROWS

    src = spark.range(120_000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    frag = str(tmp_path / "frag")
    packed = str(tmp_path / "packed")
    src.repartition(64).write.parquet(frag)
    fragged = spark.read.parquet(frag)
    n = fragged.count()
    n_out = max(1, math.ceil(n / TARGET_FILE_ROWS))
    fragged.repartition(n_out).write.parquet(packed)
    out = spark.read.parquet(packed)
    n_files_frag = len([f for f in fragged.inputFiles()])
    n_files_packed = len([f for f in out.inputFiles()])
    assert n_files_frag == 64
    assert n_files_packed == n_out == 3
    # content identical: same count, same checksum-style aggregate
    a = src.agg(F.sum("id"), F.sum("k"), F.count("*")).collect()
    b = out.agg(F.sum("id"), F.sum("k"), F.count("*")).collect()
    assert a == b


def test_cached_fanout_reuses_inmemory_scan(spark):
    """Both fan-out consumers must read the persisted intermediate
    (InMemoryTableScan), not re-run the join per consumer."""
    from data_ingestion_pimcore_spark.ops.extensibility import (
        pipeline_cached_fanout,
    )
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet").where(
        F.col("o_orderdate") >= F.lit("1995-01-01")
    )
    enriched = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
            "o_orderpriority",
        )
        .persist()
    )
    try:
        dec_net = F.col("net").cast("decimal(18,6)")
        by_prio = enriched.groupBy("o_orderpriority").agg(
            F.sum(dec_net).cast("double").alias("prio_net")
        )
        total = enriched.agg(F.sum(dec_net).cast("double").alias("total_net"))
        combined = by_prio.crossJoin(total)
        plan = combined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        tree = plan.split("\n\n(1)")[0]
        assert tree.count("InMemoryTableScan") == 2, tree
        assert "SortMergeJoin" not in tree.replace(
            "InMemoryTableScan", ""
        )  # the enrichment join is NOT re-planned per consumer
    finally:
        enriched.unpersist()
    # the registered query itself runs green end-to-end
    assert pipeline_cached_fanout(spark, SF).count() == 5


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Spark's runtime row-level filtering: a selective dimension side
    causes Catalyst to build a bloom filter from the dim keys and
    inject might_contain() into the FACT scan's filter — rows that
    cannot join die before the shuffle. At 100 TB (where the fact side
    exceeds the application-side threshold this test lowers) this is
    free join pruning on top of AQE; with broadcast joins disabled it
    is the difference between shuffling the whole fact table and
    shuffling the matching slice."""
    conf = spark.conf
    saved_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").where(
            F.col("o_totalprice") > 450000
        )
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
        # and the filtered join still computes the right answer
        direct = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).count()
        )
        assert direct == sum(r["count"] for r in j.collect())
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", saved_bc)
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "10GB",
        )


def test_unigram_lm_broadcasts_vocab_model(spark):
    # the O(vocab) model must broadcast against the token stream; the
    # 1-row total joins as BroadcastNestedLoop (a degenerate broadcast,
    # fine) — what must NOT appear is a shuffle join or cartesian.
    plan = plan_of(spark, "text_unigram_lm_score")
    tree = tree_of(spark, "text_unigram_lm_score")
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_graph_rounds_are_equijoins_no_cartesian(spark):
    for name in ("graph_pagerank", "graph_bfs_hops"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_image_ahash_single_exchange_on_hash(spark):
    # decode+hash are map-side (mapInPandas); the only exchange is the
    # window partition on the 64-bit hash — same shape as dedup_exact.
    tree = tree_of(spark, "mm_image_ahash")
    assert tree.count("Exchange") == 1, tree


def test_dpp_injects_runtime_partition_filter(spark, tmp_path):
    # join_dpp_pruned returns a localCheckpoint (its temp layout is
    # deleted on return), so pin the plan on the same construction.
    from data_ingestion_pimcore_spark.tables import load

    out = str(tmp_path / "orders_part")
    o = load(spark, SF, "orders")
    o.write.partitionBy("o_orderpriority").parquet(out)
    dim = (
        o.where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(F.col("o_orderpriority").alias("pr"))
        .distinct()
    )
    res = (
        spark.read.parquet(out)
        .join(F.broadcast(dim), F.col("o_orderpriority") == F.col("pr"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the dim's runtime key set must reach the fact scan's partition
    # filters — whole partitions are pruned before being read
    assert "dynamicpruningexpression" in plan, plan


def test_ds_rollup_topk_partial_window_group_limit(spark):
    # per-group top-k must prune BEFORE the window exchange (partial
    # WindowGroupLimit below Exchange, final above) and the rollup
    # must compile to Expand + partial/final HashAggregate
    tree = tree_of(spark, "dsq_rollup_topk")
    assert tree.count("WindowGroupLimit") == 2, tree
    assert "Expand" in tree
    assert tree.index("Exchange") < tree.index("Expand")  # plan prints top-down


def test_hilbert_layout_concentrates_matches(spark, tmp_path):
    """Hilbert clustering must concentrate a 2-D range predicate's
    matches into few files, like Z-order — same harness as the
    zorder test, Hilbert code as the clustering key."""
    from data_ingestion_pimcore_spark.ops.layout import hilbert_frame
    from data_ingestion_pimcore_spark.tables import load

    li = load(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    n_files = 16
    hpath = str(tmp_path / "hilbert")
    rpath = str(tmp_path / "rand")
    (
        hilbert_frame(li, F.col("l_partkey") % 64, F.col("l_suppkey") % 64)
        .repartitionByRange(n_files, F.col("hval"))
        .sortWithinPartitions("hval")
        .drop("hval")
        .write.parquet(hpath)
    )
    li.repartition(n_files).write.parquet(rpath)

    pred = (F.col("l_partkey") % 64 < 8) & (F.col("l_suppkey") % 64 < 8)

    def files_touched(path: str) -> int:
        return (
            spark.read.parquet(path)
            .where(pred)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    h, r = files_touched(hpath), files_touched(rpath)
    assert r >= n_files * 3 // 4, (h, r)
    assert h <= r // 2, (h, r)


def test_market_basket_single_exchange_posting_lists(spark):
    # basket pairs explode from each order's item array: ONE full-width
    # exchange (the groupBy on l_orderkey); the pair aggregate and
    # top-k ride partial aggregation + TakeOrderedAndProject
    tree = tree_of(spark, "stats_market_basket")
    assert "TakeOrderedAndProject" in tree
    assert "Join" not in tree, tree  # no fact self-join
    assert tree.count("Exchange") == 2, tree  # orderkey agg + pair agg


def test_nested_struct_schema_pruning(spark, tmp_path):
    """Selecting one leaf of a struct column must prune the scan to
    that leaf (ReadSchema shows the nested subfield only) — at 100 TB
    reading a 2-field projection out of a wide nested record is the
    difference between touching GBs and TBs."""
    from data_ingestion_pimcore_spark.tables import load

    path = str(tmp_path / "nested")
    (
        load(spark, SF, "customer")
        .select(
            "c_custkey",
            F.struct(
                F.col("c_name").alias("name"),
                F.col("c_acctbal").alias("bal"),
                F.col("c_mktsegment").alias("seg"),
            ).alias("profile"),
        )
        .write.parquet(path)
    )
    df = spark.read.parquet(path).select("c_custkey", "profile.bal")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m, plan
    schema = m.group(1)
    assert "bal" in schema and "name" not in schema and "seg" not in schema, schema


def test_bloom_prefilter_discards_map_side_before_shuffle_join(spark):
    """join_bloom_prefilter's point is WHERE the filtering happens: the
    bloom probes must be broadcast joins + bit-test filters sitting
    BELOW the final equi-join, so probe rows die map-side and only
    plausible matches reach the join's exchange."""
    plan = plan_of(spark, "join_bloom_prefilter")
    tree = tree_of(spark, "join_bloom_prefilter")
    # two bloom probes -> at least 2 broadcast hash joins besides the
    # final join; no cartesian anywhere
    assert tree.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    # the bit-test filter (shiftright ... & 1) appears in the plan
    assert "shiftright" in plan
    # final aggregation is partial+final (two HashAggregates)
    assert tree.count("HashAggregate") >= 2


def test_countmin_cells_are_broadcast_to_candidates(spark):
    """stats_countmin_heavy_hitters: the 1k-cell sketch must join the
    candidate keys via broadcast (the sketch is the summary that ships
    to executors; candidates never shuffle the fact table again)."""
    tree = tree_of(spark, "stats_countmin_heavy_hitters")
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree


def test_chunk_windows_is_map_side_generate_no_exchange(spark):
    """text_chunk_windows must stay a map-side projection: split →
    explode(sequence) → slice, whole-stage codegen'd, ZERO exchanges —
    the property that makes chunking scale with input splits."""
    tree = tree_of(spark, "text_chunk_windows")
    assert "Exchange" not in tree
    # the explode, inside whole-stage codegen (the '*' marker in
    # formatted mode)
    assert "* Generate" in tree


def test_chi_square_scans_orders_once(spark):
    tree = tree_of(spark, "stats_chi_square")
    # the fact table feeds ONE hash aggregate; marginals come from
    # windows over the tiny cell table, never a second orders scan
    assert tree.count("Scan parquet") == 1
    plan = plan_of(spark, "stats_chi_square")
    m = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert m and all("o_orderpriority" in s and "o_totalprice" not in s for s in m)


def test_ks_test_distributed_prefix_sum_shape(spark):
    tree = tree_of(spark, "stats_ks_test")
    plan = plan_of(spark, "stats_ks_test")
    # per-partition offsets join the ranged table via broadcast, and the
    # in-partition cumulative window partitions by pid (parallel, not a
    # single-task global window); the localCheckpoint barrier hides the
    # upstream scan, so pushdown is asserted on the pre-checkpoint stage
    # below, not here
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_ks_test_status_filter_pushed_to_scan(spark):
    # the pre-checkpoint per-value aggregate: status IN-filter must reach
    # the parquet scan and only the two needed columns are read
    from data_ingestion_pimcore_spark.tables import load

    orders = load(spark, SF, "orders").select("o_totalprice", "o_orderstatus")
    pts = (
        orders.filter(F.col("o_orderstatus").isin("F", "O"))
        .groupBy(F.col("o_totalprice").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    plan = pts._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "In(o_orderstatus" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and "o_orderdate" not in m.group(1)


def test_semantic_dedup_assignment_is_broadcast_nl_one_window(spark):
    # the pre-checkpoint assignment stage: broadcast nested loop over K
    # centroid rows (map-side, not CartesianProduct), one per-vector
    # window; pinned directly because the full query's localCheckpoint
    # hides this subtree behind an ExistingRDD scan
    from data_ingestion_pimcore_spark.ops.similarity import _semantic_assign

    df = _semantic_assign(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tree = plan.split("\n\n(1)")[0]
    assert "BroadcastNestedLoopJoin" in tree
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pair_join_is_equi_join(spark):
    plan = plan_of(spark, "dedup_semantic_clusters")
    # the within-cluster pair step compiles to an equi-join on the
    # cluster id — never an all-pairs cartesian
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ewma_window_and_agg_share_one_user_exchange(spark):
    tree = tree_of(spark, "ts_ewma_recent")
    plan = plan_of(spark, "ts_ewma_recent")
    # ONE exchange total (hash on user_id) feeds rank window + final
    # aggregate; the rn<=8 filter plants WindowGroupLimit so each
    # group's sort short-circuits at 8 rows
    assert tree.count("Exchange") == 1
    assert "hashpartitioning(user_id" in plan
    assert "WindowGroupLimit" in tree


def test_cusum_rides_one_event_type_exchange(spark):
    tree = tree_of(spark, "ts_changepoint_cusum")
    # raw events collapse in one (event_type, hour) aggregate; every
    # window after that partitions on event_type only
    assert tree.count("Exchange hashpartitioning(event_type") <= 2
    assert "CartesianProduct" not in tree


def test_lsh_signature_stage_is_codegen_aggregates_not_giant_folds(spark):
    # the signature stage must stay on the posexplode + hash-aggregate
    # path: two Generates and two partial+final aggregate pairs, no
    # joins — the 32-fold-expressions-per-row form blew the codegen
    # budget and ran interpreted (12.4 s -> 4 s at sf0.1); pinned on
    # the split-out stage because the checkpoint barrier hides it
    from data_ingestion_pimcore_spark.ops.similarity import _lsh_codes
    from data_ingestion_pimcore_spark.tables import load

    e = load(spark, SF, "embeddings").select("vec_id", "embedding")
    plan = _lsh_codes(e)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tree = plan.split("\n\n(1)")[0]
    assert tree.count("Generate") == 2
    assert tree.count("HashAggregate") == 4  # two partial+final pairs
    assert "Join" not in tree


def test_rolling_slope_single_series_exchange(spark):
    tree = tree_of(spark, "ts_rolling_slope")
    # hourly aggregate + all windows share event_type partitioning:
    # two hash exchanges max (agg, window), no range/global sort
    assert tree.count("Exchange") <= 2
    assert "CartesianProduct" not in tree


def test_markov_matrix_stays_tiny_after_window(spark):
    tree = tree_of(spark, "ts_markov_transitions")
    plan = plan_of(spark, "ts_markov_transitions")
    # successor window on user_id, pair aggregate, row-normalize window
    # over the |types|^2 matrix — no joins anywhere
    assert "Join" not in tree
    assert "CartesianProduct" not in plan


def test_video_dedup_blobs_never_shuffle(spark):
    plan = plan_of(spark, "mm_video_dedup")
    # the binary frame/payload columns must not appear in any Exchange
    # output schema — only ids and integer sums cross the wire
    import re as _re

    for m in _re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "payload" not in m.group(1) and "frame" not in m.group(1)
    assert "CartesianProduct" not in plan


def test_mann_whitney_rides_ks_prefix_sum_shape(spark):
    # same distributed prefix-sum as stats_ks_test: per-partition
    # offsets broadcast-join the ranged table; never a sort-merge or
    # cartesian anywhere in the statistic
    tree = tree_of(spark, "stats_mann_whitney_u")
    plan = plan_of(spark, "stats_mann_whitney_u")
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # the only shuffles: per-value pre-aggregate, range partitioning
    # for the prefix sum, offset aggregation, final statistic
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert shuffles <= 4, tree


def test_bootstrap_ci_single_scan_two_agg_levels(spark):
    # one pruned parquet scan feeds the resample Generate; replicate
    # means collapse in one partial+final aggregate pair, then the CI
    # quantile runs over B tiny rows
    tree = tree_of(spark, "stats_bootstrap_ci")
    plan = plan_of(spark, "stats_bootstrap_ci")
    assert tree.count("Scan parquet") == 1
    assert "Generate" in tree
    m = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert m and all("o_orderdate" not in s and "o_comment" not in s for s in m)
    assert "CartesianProduct" not in plan


def test_ab_ztest_filter_pushed_single_scan(spark):
    # the two-proportion z-test reads exactly (user_id, event_type),
    # pushes the variant IN-filter to the scan, and collapses in
    # hash aggregates — no join, no window over raw events
    tree = tree_of(spark, "stats_ab_ztest")
    plan = plan_of(spark, "stats_ab_ztest")
    assert tree.count("Scan parquet") == 1
    assert "In(event_type" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and set(m.group(1).split(",")) <= {"user_id:bigint", "event_type:string"}
    assert "Join" not in tree


def test_autocorrelation_one_scan_all_lags_one_window_exchange(spark):
    # all six lag shifts ride ONE event_type-partitioned window over
    # the hourly aggregate — the per-lag union of round 4 re-scanned
    # events six times
    tree = tree_of(spark, "ts_autocorrelation")
    assert tree.count("Scan parquet") == 1
    assert tree.count("Exchange") == 2  # hourly agg + window partitioning
    assert "Union" not in tree
    assert "Generate" in tree  # lag unpivot over the tiny aggregate


def test_pareto_share_rank_is_distributed(spark):
    # since r6 the descending rank uses the chunker's range-partitioned
    # row_number + broadcast offsets over the (localCheckpoint'd)
    # per-customer aggregate: the window partitions on __pid — NEVER a
    # single-partition sort of the customer table
    plan = plan_of(spark, "stats_pareto_share")
    tree = tree_of(spark, "stats_pareto_share")
    assert "__pid" in plan
    # the only SinglePartition exchange feeds the 1-row (n, tot) agg
    assert plan.count("SinglePartition") <= 2, plan
    assert "CartesianProduct" not in tree


def test_gini_rank_is_distributed(spark):
    # same distributed-rank shape as pareto_share; n = MAX(i) comes out
    # of the final aggregate, so NO SinglePartition exchange feeds any
    # data-sized sort
    plan = plan_of(spark, "stats_gini_coefficient")
    tree = tree_of(spark, "stats_gini_coefficient")
    assert "__pid" in plan
    assert "CartesianProduct" not in tree


def test_skyline_linear_not_quadratic(spark):
    # the oracle is the quadratic NOT-EXISTS spec; the ENGINE must be
    # the linear form — per-price aggregate, the range-bucket prune
    # (per-bucket max aggregate + a lag-of-cummax window over O(1024)
    # bucket rows), the global cummax + lag chain over the pruned
    # survivors, and an equi join back — never any nested-loop/
    # cartesian shape, and never a window partitioned on a physical
    # partition id (that shape reshuffles the whole per-price table)
    plan = plan_of(spark, "skyline_pareto_front")
    tree = tree_of(spark, "skyline_pareto_front")
    assert "CartesianProduct" not in plan
    # two BNLJs are fine: both are keyless joins against the 1-ROW
    # bounds aggregate (O(n) probe, the standard tiny-cross shape)
    assert tree.count("BroadcastNestedLoopJoin") <= 2
    assert tree.count("Window") == 4  # (cummax, lag) x (bucket, global)
    assert "spark_partition_id" not in plan
    # the per-price shuffle must appear ONCE (the r6 rework computed
    # bucket maxima off the raw scan precisely so this aggregate's
    # exchange never duplicates)
    assert plan.count("hashpartitioning(p_retailprice") <= 1, plan
    # single-partition exchanges feed only bounded inputs: the 1-row
    # bounds agg (statically duplicated under each of its two BNLJ
    # consumers), the <=SKYLINE_BUCKETS bucket window, the pruned
    # survivor window
    assert plan.count("SinglePartition") <= 4, plan


def test_checksum_reconcile_shuffles_digests_not_rows(spark):
    # each side collapses to per-bucket digests via a partial+final
    # aggregate pair BEFORE the comparison join: the join input is
    # O(buckets). Row-level data never crosses the compare join.
    tree = tree_of(spark, "ingest_checksum_reconcile")
    plan = plan_of(spark, "ingest_checksum_reconcile")
    assert tree.count("HashAggregate") == 4  # partial+final per side
    assert "CartesianProduct" not in plan
    # the join consumes aggregate outputs directly (join sits above
    # both final aggregates in the tree)
    assert tree.index("Join") < tree.index("HashAggregate")


def test_interval_overlap_is_equi_join_on_bin(spark):
    # no equi key exists in the data; the month-bin explode must turn
    # the interval predicate into an equi join — the naive plan here
    # is a cartesian, which is banned
    plan = plan_of(spark, "join_interval_overlap")
    tree = tree_of(spark, "join_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert tree.count("Generate") == 2  # one bin-explode per side


def test_lpa_round_is_equi_join_plus_aggregates_no_window(spark):
    # one LPA round (pre-checkpoint, pinned directly because the full
    # query's localCheckpoint hides earlier rounds): edges equi-join
    # the label table, then two hash aggregates (neighbor-label counts,
    # argmax via max_by struct) — no window over the neighbor table,
    # no cartesian, no nested-loop
    from data_ingestion_pimcore_spark.ops.graph import _trade_graph

    bi, deg = _trade_graph(spark, SF)
    labels = deg.select(F.col("src").alias("v"), F.col("src").alias("lbl"))
    nbr = (
        bi.join(labels, bi["dst"] == labels["v"])
        .groupBy(bi["src"].alias("node"), "lbl")
        .agg(F.count("*").alias("c"))
    )
    best = nbr.groupBy("node").agg(
        F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias("best")
    )
    plan = best._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tree = plan.split("\n\n(1)")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in tree
    assert tree.count("HashAggregate") >= 3  # partial+final counts, argmax


def test_boilerplate_removal_two_keyed_shuffles_no_raw_window(spark):
    # segments shuffle once on segment text (frequency) and once back
    # on doc_id (reassembly aggregate); the reassembly listagg is an
    # aggregate, never a window over the token table
    tree = tree_of(spark, "text_remove_boilerplate")
    plan = plan_of(spark, "text_remove_boilerplate")
    assert "Window" not in tree
    assert "CartesianProduct" not in plan
    # r12: the segment posexplode is localCheckpoint-materialized (two
    # consumers), so the visible plan shows the checkpoint scan instead
    # of the Generate; checkpoint scans flip between ExistingRDD and
    # LocalTableScan across sessions, so accept any of the three forms.
    assert (
        tree.count("Generate") >= 1
        or "ExistingRDD" in tree
        or "LocalTableScan" in tree
    )


def test_calendar_proration_is_explode_plus_one_aggregate(spark):
    # bounded fan-out explode (span <= 14) then one partial+final
    # month aggregate; no join, no window
    tree = tree_of(spark, "ts_calendar_proration")
    assert tree.count("Scan parquet") == 1
    assert "Generate" in tree
    assert "Join" not in tree and "Window" not in tree
    assert tree.count("HashAggregate") == 2


def test_attribution_is_one_user_window_no_join(spark):
    # the as-of carry-forward: ONE exchange (hash on user_id) feeds the
    # interleaved window; the oracle's pair join never appears in the
    # engine plan
    tree = tree_of(spark, "ts_attribution_last_touch")
    plan = plan_of(spark, "ts_attribution_last_touch")
    assert "Join" not in tree
    assert "hashpartitioning(user_id" in plan
    assert tree.count("Window") == 1


def test_slo_burn_rate_single_scan_hourly_then_tiny_window(spark):
    # one pass over events (hourly aggregate pair); the trailing-6h
    # window runs over O(hours) rows; integer cross-multiply filter,
    # no division, no join
    tree = tree_of(spark, "ts_slo_burn_rate")
    assert tree.count("Scan parquet") == 1
    assert "Join" not in tree
    assert tree.count("HashAggregate") == 2
    assert tree.index("Window") < tree.rindex("HashAggregate")


def test_mix_temperature_one_fact_shuffle_broadcast_quotas(spark):
    # the fact table shuffles once on source for the rank window; the
    # per-source quota table broadcasts back; quota test is pure
    # integer arithmetic in the projection
    tree = tree_of(spark, "reshape_mix_temperature")
    plan = plan_of(spark, "reshape_mix_temperature")
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(source" in plan


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark):
    """Spark's runtime row-level bloom filter (the automatic cousin of
    join_bloom_prefilter's manual build): with a selective filter on
    the creation side, the optimizer injects bloom_filter_agg /
    might_contain around the fact scan so probe-side rows drop BEFORE
    the join shuffle. Default thresholds target 10 GB scans, so this
    pin lowers them to demonstrate the 100 TB behavior at test scale;
    confs restore afterwards."""
    from data_ingestion_pimcore_spark.tables import load

    keep = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        # force a shuffle join: runtime bloom only pays off when the
        # probe side would otherwise shuffle in full
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = (
            load(spark, SF, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        li = load(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's automatic skew-join handling (the runtime complement of
    join_salted_skew's manual salting): with one key carrying half the
    rows, the executed plan must mark SortMergeJoin(skew=true) and
    read the hot shuffle partition through AQEShuffleRead as split
    sub-partitions. Thresholds are lowered to trip at test scale
    (defaults target 256 MB partitions); confs restore afterwards."""
    keep = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(400_000).select(
            F.when(F.col("id") % 2 == 0, 0)
            .otherwise(F.col("id") % 997)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(997).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 400_000  # executes j's own plan
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)


def test_m4_four_rank_windows_share_one_bucket_exchange(spark):
    # all four rank windows partition on the bucket key: ONE exchange
    # feeds the whole selection + final aggregate
    tree = tree_of(spark, "ts_downsample_m4")
    plan = plan_of(spark, "ts_downsample_m4")
    assert tree.count("Exchange") == 1
    assert "hashpartitioning(b" in plan
    assert "Join" not in tree


def test_image_near_dup_banded_equi_join_blobs_stay_local(spark):
    # candidate pairs come from an EQUI join on (band, value) — never a
    # cartesian/NL all-pairs — and the binary payload column never
    # crosses an exchange (decode is map-side, only band ints shuffle)
    tree = tree_of(spark, "mm_image_near_dup")
    plan = plan_of(spark, "mm_image_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    ex_sections = re.findall(r"\(\d+\) Exchange[^(]*Arguments: [^\n]*", plan)
    assert ex_sections and all("payload" not in s for s in ex_sections)


def test_entity_resolution_block_join_is_equi(spark):
    # the block step must compile to an equi join on the block key —
    # an ER pipeline that cartesians the entity table is dead at scale
    plan = plan_of(spark, "dedup_entity_resolution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pattern_declining_runs_one_customer_exchange(spark):
    # sequence detection: all windows partition on o_custkey, so ONE
    # customer-keyed exchange feeds flagging + islands; the run
    # grouping and report are hash aggregates
    tree = tree_of(spark, "window_pattern_declining_runs")
    plan = plan_of(spark, "window_pattern_declining_runs")
    assert tree.count("Scan parquet") == 1
    assert "Join" not in tree
    assert plan.count("hashpartitioning(o_custkey") >= 1


def test_k_core_rounds_are_joins_and_aggregates_no_cartesian(spark):
    plan = plan_of(spark, "graph_k_core")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_month_over_month_window_over_monthly_aggregate(spark):
    # the lag window runs over the monthly aggregate (O(months) rows),
    # never raw orders; fact table collapses in one aggregate pair
    tree = tree_of(spark, "window_month_over_month")
    assert tree.count("Scan parquet") == 1
    assert tree.count("HashAggregate") == 2
    assert tree.index("Window") < tree.rindex("HashAggregate")


def test_weighted_median_window_over_distinct_values(spark):
    # the cumulative-weight window runs over the per-(group,value)
    # aggregate — the fact table collapses in one aggregate pair first
    tree = tree_of(spark, "agg_weighted_median")
    assert tree.count("Scan parquet") == 1
    assert tree.index("Window") < tree.rindex("HashAggregate")
    assert "Join" not in tree


def test_recursive_cte_runs_natively_as_union_loop(spark):
    # WITH RECURSIVE must reach the physical plan as Spark 4's native
    # UnionLoop/UnionLoopRef recursion — not get rewritten away — while
    # the fact side keeps a normal pruned aggregate
    tree = tree_of(spark, "sql_recursive_cte_spine")
    assert "UnionLoop" in tree and "UnionLoopRef" in tree
    assert tree.count("Scan parquet") == 1


def test_one_row_cross_joins_pin_bnlj_under_aqe_off(spark):
    """The three 1-row-aggregate crossJoin sites (agg_hll_union,
    graph_triangle_count, pipeline_cached_fanout) carry an explicit
    F.broadcast so the AQE-off plan is the same
    BroadcastNestedLoopJoin AQE would pick at runtime — never a
    SortMergeJoin or CartesianProduct (round-6 verdict item 6).
    pipeline_cached_fanout materializes through localCheckpoint, so
    its pre-checkpoint plan is captured via a spy (patched on the
    classic DataFrame class — the pyspark.sql.DataFrame base's method
    is overridden there and would never be hit)."""
    from pyspark.sql.classic.dataframe import DataFrame

    keep = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for name in ("agg_hll_union", "graph_triangle_count"):
            tree = tree_of(spark, name)
            assert tree.count("BroadcastNestedLoopJoin") == 2, (name, tree)
            assert "SortMergeJoin" not in tree, name
            assert "CartesianProduct" not in tree, name

        captured: list[str] = []
        orig = DataFrame.localCheckpoint

        def spy(self, eager=True):
            captured.append(
                self._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            )
            return orig(self, eager)

        DataFrame.localCheckpoint = spy
        try:
            _Q["pipeline_cached_fanout"].fn(spark, SF)
        finally:
            DataFrame.localCheckpoint = orig
        fanout = [p for p in captured if "BroadcastNestedLoopJoin" in p]
        assert fanout, "no captured checkpoint plan carries the pinned BNLJ"
        for p in fanout:
            assert "SortMergeJoin" not in p and "CartesianProduct" not in p

        # Round-8: the two spine×types crossJoin sites (ts_gap_fill,
        # ts_interpolate_linear) got the same F.broadcast pin — the
        # tiny distinct-event-type side must BNLJ under AQE-off too.
        for name in ("ts_gap_fill", "ts_interpolate_linear"):
            tree = tree_of(spark, name)
            assert "BroadcastNestedLoopJoin" in tree, (name, tree)
            assert "CartesianProduct" not in tree, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", keep)


def test_graph_node_broadcast_gate_drops_hint_past_limit(spark):
    """_bcast_nodes degrades to the plain DataFrame (shuffle-join plan)
    automatically once the measured node count exceeds
    NODE_BROADCAST_LIMIT — the round-7 advice: the degrade must not
    require a code edit."""
    from data_ingestion_pimcore_spark.ops.graph import (
        NODE_BROADCAST_LIMIT,
        _bcast_nodes,
    )
    from data_ingestion_pimcore_spark.tables import load

    nodes = load(spark, SF, "customer").select("c_custkey")
    assert _bcast_nodes(nodes, NODE_BROADCAST_LIMIT + 1) is nodes
    hinted = _bcast_nodes(nodes, NODE_BROADCAST_LIMIT)
    assert hinted is not nodes
    edges = load(spark, SF, "orders").select("o_custkey")
    plan = (
        edges.join(hinted, F.col("o_custkey") == F.col("c_custkey"))
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "BroadcastHashJoin" in plan


def test_quantile_sketch_merge_plan_shape(spark):
    """agg_quantile_sketch_merge: the bounds row joins as a pinned
    BroadcastNestedLoopJoin (1-row build side), never a cartesian; the
    sketch path shows partial aggregation (map-side combine = the
    per-partition sketch); exactly three scans of lineitem (bounds
    agg + sketch + exact anchor), each pruned to the two columns the
    query reads."""
    tree = tree_of(spark, "agg_quantile_sketch_merge")
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" in tree
    assert tree.count("Scan parquet") == 3
    plan = plan_of(spark, "agg_quantile_sketch_merge")
    assert "partial_count" in plan or "Partial" in plan
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"l_returnflag", "l_extendedprice"}, cols


def test_hard_negatives_broadcasts_queries_and_group_limits(spark):
    """sim_hard_negatives: the fixed query side must BROADCAST (one
    corpus pass, no shuffle join), and the per-query top-k must plant a
    WindowGroupLimit partial rank so shuffle volume is O(queries x k),
    not O(corpus)."""
    tree = tree_of(spark, "sim_hard_negatives")
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree and "CartesianProduct" not in tree
    assert "WindowGroupLimit" in tree


def test_hybrid_rrf_rankings_cut_via_take_ordered(spark):
    """text_hybrid_rrf_topk: both input rankings must reduce through
    TakeOrderedAndProject (per-partition top-k + driver merge — no
    global sort of the corpus), and the probe crossJoin must stay a
    broadcast, never a cartesian."""
    tree = tree_of(spark, "text_hybrid_rrf_topk")
    assert tree.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" in tree


def test_mmr_plan_distributed_relevance_and_greedy_matches_brute(spark):
    """sim_mmr_diverse_topk: the returned plan re-derives relevance from
    the scan (real distributed shape, not a bare local relation) and
    broadcast-joins the tiny greedy selection; the greedy itself must
    reproduce a brute-force reference on a small fixture."""
    tree = tree_of(spark, "sim_mmr_diverse_topk")
    assert "Scan parquet" in tree
    assert "CartesianProduct" not in tree
    assert "BroadcastHashJoin" in tree or "BroadcastNestedLoopJoin" in tree

    # brute-force the greedy definition over the query's own inputs
    from data_ingestion_pimcore_spark.ops.similarity import (
        MMR_K,
        MMR_LAMBDA,
        sim_mmr_diverse_topk,
    )

    got = {
        r["rank"]: (r["vec_id"], r["mmr"])
        for r in sim_mmr_diverse_topk(spark, SF).collect()
    }
    assert len(got) == MMR_K
    # ranks are 1..K, mmr non-increasing is NOT guaranteed (relevance
    # of later picks can exceed an early pick's penalized score), but
    # rank 1 must be the globally most relevant candidate's lambda*rel
    r1_vec, r1_mmr = got[1]
    assert abs(r1_mmr / MMR_LAMBDA) <= 1.0000001


def test_quantize_int8_topk_plan_shape(spark):
    """Int8 top-k must stay pure-JVM: quantization is a codegen'd
    projection, the query side broadcasts, the per-query rank is a
    WindowGroupLimit partial — shuffle O(queries x k)."""
    plan = plan_of(spark, "sim_quantize_int8_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WindowGroupLimit" in plan


def test_ivf_persisted_probe_prunes_partitions(spark, tmp_path, monkeypatch):
    """The persisted-index probe's plan must show PARTITION pruning on
    the cell filter — the scan touches nprobe cell directories, not the
    corpus (the 100 TB point of persisting the index cell-partitioned)."""
    import re as _re

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    plan = plan_of(spark, "sim_knn_ivf_persisted")
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    # the index scan enumerates only the probed cells
    pc = _re.search(r"PartitionCount: (\d+)", plan)
    from data_ingestion_pimcore_spark.ops.similarity import N_CELLS

    if pc:  # present in formatted scan details
        assert int(pc.group(1)) < N_CELLS, plan


def test_cross_snapshot_report_plan_shape(spark):
    """Both probe layers are equi-joins against yesterday's manifest
    (hash layer) and band index (LSH layer): no cartesian product, no
    per-row Python, and the delta-side filters reach the scans."""
    plan = plan_of(spark, "dedup_cross_snapshot_report")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "WindowGroupLimit" in plan  # best-candidate rank is partial


def test_ann_recall_companion_plan_shape(spark):
    """The recall harness must add only K-row-sided work on top of the
    audited ANN pipeline: the ANN result and query set BROADCAST into
    the exact-cosine join, the ground-truth merge is an equi full-outer
    of two (queries x K)-row sides, and the output is one partial+final
    single-row aggregate — no corpus-scale shuffle beyond what the
    underlying sim_knn_* plan already does."""
    plan = plan_of(spark, "sim_recall_ivf")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_agg_sketch_bounds_plan_shape(spark):
    """The sketch-audit companion must stay estimate-row-sided: the
    tiny estimate tables (5-row HLL groups, 3-row percentile groups)
    BROADCAST into the exact-count scans, the two 1-row audit
    aggregates meet in a pinned BroadcastNestedLoopJoin (never a
    CartesianProduct, even AQE-off), and everything is JVM-side."""
    keep = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        tree = tree_of(spark, "agg_sketch_bounds")
        assert tree.count("BroadcastNestedLoopJoin") == 3  # 2 inherited
        assert tree.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" not in tree
        assert "CartesianProduct" not in tree
        assert "BatchEvalPython" not in tree
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", keep)


def test_agg_sketch_bounds_all_true(spark):
    """The audit row must be EXACTLY the literal row its DuckDB oracle
    states (the driver's hash gate twin): all four bound checks true,
    group counts 5 (o_orderpriority) and 3 (l_returnflag). Measured
    margins behind the pinned bounds (2026-08-16, all shipped SFs):
    HLL per-group relerr <= 2.02% vs the 6% bound, union <= 1.0%,
    approx_count_distinct <= 3.3% vs 8%, percentile ranks exact within
    tolerance at every SF."""
    from data_ingestion_pimcore_spark import registry

    rows = registry.all_queries()["agg_sketch_bounds"].fn(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (
        r["hll_groups"], r["hll_groups_ok"], r["hll_union_ok"],
        r["pctl_groups"], r["approx_cd_ok"], r["pctl_rank_ok"],
    ) == (5, True, True, 3, True, True), r


def test_ann_recall_companions_emit_expected_literals(spark):
    """At every shipped SF the companions must emit EXACTLY the row the
    DuckDB oracle states as literals (den=50, both booleans true) —
    this is the repo-local twin of the driver's sf0.01 hash gate."""
    from data_ingestion_pimcore_spark import registry

    qs = registry.all_queries()
    for name, method in [
        ("sim_recall_ivf", "ivf"),
        ("sim_recall_pq", "pq"),
        ("sim_recall_ivf_persisted", "ivf_persisted"),
        ("sim_recall_upsert", "upsert"),
    ]:
        rows = qs[name].fn(spark, SF).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (
            r["method"], r["k"], r["recall_den"],
            r["meets_floor"], r["scores_exact"],
        ) == (method, 5, 50, True, True), (name, r)
