"""Plan-quality guards: the physical plans we designed for are the plans
Catalyst actually produces.  These assertions catch silent regressions into
full scans, shuffle joins of tiny dims, or global sorts — the difference
between working at sf0.1 and working at 100 TB."""

from __future__ import annotations

import pytest

from lakehouse_sfc_spark.queries.registry import QUERIES
import lakehouse_sfc_spark.queries  # noqa: F401  (register all)

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF)
    return spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filters_push_down_to_scan(spark):
    """Selective predicates must reach the parquet scan as PushedFilters."""
    plan = _formatted(spark, "tpch_q6")
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no predicates pushed to the lineitem scan"


def test_projection_prunes_columns(spark):
    """q4 selects 3 of 11 lineitem columns; the scan must read only those."""
    plan = _formatted(spark, "q4_order_limit")
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    assert "l_returnflag" not in read_schema
    assert "l_comment" not in read_schema


def test_topk_avoids_global_sort(spark):
    """ORDER BY + LIMIT compiles to TakeOrderedAndProject, not a global
    Sort + Exchange."""
    plan = _plan(spark, "q4_order_limit")
    assert "TakeOrderedAndProject" in plan


def test_dims_broadcast_in_star_joins(spark):
    """Star joins must broadcast every dim side (no SortMergeJoin against
    nation/region/customer-sized inputs)."""
    for q in ("tpch_q5", "tpch_q8", "j_multi3"):
        plan = _plan(spark, q)
        assert "BroadcastHashJoin" in plan, f"{q}: no broadcast join"
        assert "SortMergeJoin" not in plan, f"{q}: dim fell into a shuffle join"


def test_semi_anti_join_types(spark):
    assert "LeftSemi" in _plan(spark, "j_semi")
    assert "LeftAnti" in _plan(spark, "j_anti")


def test_aggregation_is_partial(spark):
    """Group-by aggregates must do map-side partial aggregation (two
    HashAggregate phases), not shuffle raw rows."""
    plan = _plan(spark, "q3_group_by")
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize("name", ["tpch_q1", "q1_filter"])
def test_whole_stage_codegen_active(spark, name):
    """The hot path stays inside whole-stage codegen (no interpreted
    row-at-a-time fallback in the scan/agg pipeline).  AQE only reveals
    codegen stages in the FINAL plan, so execute first."""
    df = QUERIES[name].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "*(" in plan, "no WholeStageCodegen stage markers in final plan"


def test_q19_common_factor_reaches_scan(spark):
    """Q19's OR branches share l_returnflag='N' and a quantity envelope; we
    factor them below the join by hand (Catalyst doesn't), so they must show
    up as pushed filters on the lineitem scan."""
    plan = _formatted(spark, "tpch_q19")
    assert "PushedFilters: [" in plan
    assert "l_returnflag" in plan.split("PushedFilters: [", 1)[1].split("]")[0]


def test_embedding_cosine_is_blocked_not_nested_loop(spark):
    """dedup_embedding_cosine must plan as the block-partitioned scorer
    (explode → hash shuffle on the block-pair key → applyInPandas), never
    the all-pairs BroadcastNestedLoopJoin/CartesianProduct the oracle uses."""
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_q21_self_joins_stay_hash_based(spark):
    """Q21's EXISTS/NOT-EXISTS self-joins carry non-equi side conditions;
    they must still plan as hash joins on the orderkey equi-key, never a
    nested-loop or cartesian fallback."""
    plan = _plan(spark, "tpch_q21")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["tpch_q2", "tpch_q11", "tpch_q20"])
def test_decorrelated_subqueries_scan_lineitem_once(spark, name):
    """Q2/Q11/Q20 decorrelate their scalar subqueries onto the SAME grouped
    lineitem aggregate (window/exact-total reuse) instead of re-scanning
    lineitem per subquery — the canonical forms scan it twice."""
    plan = _plan(spark, name)
    assert plan.count("lineitem.parquet") == 1, (
        f"{name}: lineitem scanned {plan.count('lineitem.parquet')}x"
    )


def test_ivf_partitioned_probe_prunes_partitions(spark):
    """The cell-partitioned ANN variant must resolve its probe as
    PartitionFilters against the hive directory layout — reading ~9 of the
    cell partitions, never the whole table."""
    df = QUERIES["ann_ivf_partitioned_topk"].fn(spark, SF)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, "no PartitionFilters in plan"
    assert any("cell" in ln for ln in pf), pf


def test_month_partitioned_scan_prunes_partitions(spark):
    """layout_partitioned_scan's month predicate must resolve as
    PartitionFilters against the hive layout (12 of ~80 month dirs read)."""
    df = QUERIES["layout_partitioned_scan"].fn(spark, SF)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("ship_month" in ln for ln in pf), pf


def test_asof_join_is_single_shuffle_window(spark):
    """j_asof must be the union+window composition: hash exchanges only —
    no range/nested-loop join anywhere."""
    plan = _plan(spark, "j_asof")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_range_join_is_bucket_blocked(spark):
    """j_range must hash-join on (user, hour bucket) with the containment
    predicate as a post-condition — never a nested-loop/cartesian plan."""
    plan = _plan(spark, "j_range")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_time_rollup_scans_events_once(spark):
    """Hierarchical rollup: day/month re-aggregate the hourly exchange
    (ReusedExchange), so the events table is scanned exactly once."""
    from lakehouse_sfc_spark.runner.metrics import plan_scan_metrics

    df = QUERIES["a_time_rollup"].fn(spark, SF)
    df.collect()
    m = plan_scan_metrics(df)
    assert m["files_scanned"] == 1
    # reuse only materializes in the FINAL adaptive plan, post-execution
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") >= 1


def test_knn_join_is_hash_join_on_cells(spark):
    """ann_knn_join probes via cell-equality hash join (query exploded to 9
    probe cells) — never a nested-loop/cartesian pairing of queries x
    candidates."""
    plan = _plan(spark, "ann_knn_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_topk_is_hash_join_on_cells(spark):
    """dedup_embedding_topk's candidate generation must be a hash join on
    cell equality (probe explode → shuffle bounded by cell occupancy), never
    an all-pairs nested-loop/cartesian fallback, with the per-query top-k as
    a window — the production ANN shape."""
    plan = _plan(spark, "dedup_embedding_topk")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_pack_sequences_no_single_partition_window(spark):
    """The packing prefix sum must be the distributed two-job shape
    (operators/prefix.py), never a bare global-order window's
    Exchange SinglePartition."""
    plan = _plan(spark, "pack_sequences")
    assert "SinglePartition" not in plan, plan


def test_funnel_single_shuffle_on_user(spark):
    """a_funnel's three chained windows + the per-user aggregate must share
    ONE user_id hash exchange — stacking stages on an existing partitioning
    is the whole point of the design."""
    plan = _plan(spark, "a_funnel")
    import re

    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", plan)
    data_sized = [e for e in exchanges if "hashpartitioning" in e[0]]
    assert len(data_sized) == 1, exchanges
    assert "user_id" in data_sized[0][1], exchanges


def test_concurrent_sweep_is_day_partitioned(spark):
    """a_concurrent's data-sized prefix sum must run under a day-hash
    partitioning; the only SinglePartition exchange feeds the per-day
    carry window (one row per day, not data-sized)."""
    plan = _plan(spark, "a_concurrent")
    assert "hashpartitioning(day" in plan
    # the day-partitioned window must appear (running sum over t)
    assert "windowspecdefinition(day" in plan


def test_salted_join_keys_include_salt(spark):
    """j_skew_salted must actually join on (key, salt) — if the salt column
    were optimized away the skew spreading silently disappears."""
    plan = _plan(spark, "j_skew_salted")
    assert "__salt" in plan


def test_pagerank_iterations_reuse_checkpointed_edges(spark):
    """graph_pagerank unrolls 3 iterations; the fact-table join pipeline
    must be cut off by the localCheckpoint so lineitem is scanned at most
    once (the checkpoint itself), not once per iteration."""
    df = QUERIES["graph_pagerank"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 0, (
        "iterations re-derive edges from the fact table instead of the "
        "checkpointed edge set"
    )


def test_docs_lang_partitioned_scan_prunes_partitions(spark):
    """layout_docs_partitioned_scan's lang predicate must resolve as
    PartitionFilters (2 of 5 language dirs read), with the length cut
    pushed to the parquet scan inside surviving partitions."""
    df = QUERIES["layout_docs_partitioned_scan"].fn(spark, SF)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("lang" in ln for ln in pf), pf
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "n_chars" in pushed, pushed


def test_decontaminate_broadcasts_benchmark_side(spark):
    """text_decontaminate must stream the (huge) training corpus through a
    BroadcastHashJoin against the (tiny) benchmark shingle set — a shuffle
    or nested-loop pairing would not survive a 100 TB corpus."""
    plan = _plan(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_keep_centroid_is_key_equality_throughout(spark):
    """dedup_embedding_keep_centroid: centroid build + alignment scoring
    must be key-equality joins/aggregations over (cell, dim) — never an
    all-pairs vector comparison — with the per-cell keep as a window."""
    plan = _plan(spark, "dedup_embedding_keep_centroid")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_repetition_ratio_is_two_keyed_aggregations(spark):
    """text_repetition_ratio: explode → (doc, gram) count → per-doc reduce;
    no window over raw occurrences, no join at all."""
    plan = _plan(spark, "text_repetition_ratio")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_containment_candidates_are_gram_equality(spark):
    """dedup_containment: the prefix-filter candidate join must pair docs
    on n-gram EQUALITY (hash-partitionable at 100 TB) — never an all-pairs
    nested-loop — and verification must touch candidate pairs only."""
    plan = _plan(spark, "dedup_containment")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_pack_length_buckets_single_agg_no_join(spark):
    """pack_length_buckets: one keyed aggregation over a narrow projection;
    the CASE-ladder bucket must not introduce joins or windows."""
    plan = _plan(spark, "pack_length_buckets")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_range_search_broadcasts_query_probes(spark):
    """ann_range_search: the query-probe side is tiny and must broadcast
    into a cell-equality hash join; the corpus never moves."""
    plan = _plan(spark, "ann_range_search")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_centroid_is_explode_plus_one_agg(spark):
    """emb_centroid_per_label: posexplode + one map-side-combinable keyed
    aggregation; no joins, no windows."""
    plan = _plan(spark, "emb_centroid_per_label")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate" in plan  # the posexplode
    assert "HashAggregate" in plan


def test_cluster_sizes_two_aggs_no_join(spark):
    """dedup_cluster_sizes: hash → cluster size → histogram, no joins."""
    plan = _plan(spark, "dedup_cluster_sizes")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_split_leakage_no_allpairs(spark):
    """sample_split_leakage: candidates must come from the prefix-filter
    equality join, never an all-pairs comparison."""
    plan = _plan(spark, "sample_split_leakage")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_tolerance_single_shuffle_window(spark):
    """j_asof_tolerance: union + ONE keyed window carry — no range join,
    no nested-loop."""
    plan = _plan(spark, "j_asof_tolerance")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_referential_integrity_anti_joins_broadcast_dims(spark):
    """dq_referential_integrity: orphan checks are LEFT ANTI hash joins
    with the parent key set broadcast.  The BroadcastNestedLoopJoins in
    this plan are the 1-row scalar (total x orphan-count) cross joins —
    the footnoted acceptable pattern — so the guard checks the anti joins
    are hash-based rather than banning BNLJ outright."""
    plan = _plan(spark, "dq_referential_integrity")
    assert "CartesianProduct" not in plan
    assert plan.count("LeftAnti") == 4
    # every anti join is a broadcast HASH join, never nested-loop
    for ln in plan.splitlines():
        if "LeftAnti" in ln:
            assert "BroadcastHashJoin" in ln, ln


def test_profile_drift_single_agg_tiny_broadcast(spark):
    """profile_drift: one keyed aggregation + a 1-row totals broadcast; the
    only joins are the scalar cross joins."""
    plan = _plan(spark, "profile_drift")
    assert plan.count("HashAggregate") >= 2
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_boilerplate_prefix_no_join(spark):
    """text_boilerplate_prefix: narrow hash projection + one groupBy."""
    plan = _plan(spark, "text_boilerplate_prefix")
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_semantic_incremental_broadcasts_batch_probes(spark):
    """dedup_semantic_incremental: the batch probe side broadcasts into a
    cell-equality hash join; the corpus is never self-joined or
    nested-looped."""
    plan = _plan(spark, "dedup_semantic_incremental")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_uniqueness_is_distinct_aggregates_no_join(spark):
    """dq_uniqueness: one distinct-aggregate per table, no joins at all."""
    plan = _plan(spark, "dq_uniqueness")
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_benford_single_agg_tiny_broadcast(spark):
    """profile_benford: one 9-key groupBy + a 1-row totals broadcast."""
    plan = _plan(spark, "profile_benford")
    assert plan.count("HashAggregate") >= 2
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_filtered_ann_pushes_label_predicate(spark):
    """ann_filtered_topk's contract is PRE-filtering: the label predicate
    must reach the parquet scan (PushedFilters) before any scoring."""
    plan = _formatted(spark, "ann_filtered_topk")
    assert "label" in plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "CartesianProduct" not in plan


def test_substring_windows_joins_stay_hash_based(spark):
    """Window-frequency join must be key-equality (hash), never a nested
    loop over document pairs."""
    plan = _plan(spark, "dedup_substring_windows")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_token_df_score_joins_stay_hash_based(spark):
    plan = _plan(spark, "text_token_df_score")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_reservoir_hash_avoids_global_sort(spark):
    """Top-k by digest must be TakeOrderedAndProject, not a full sort."""
    plan = _plan(spark, "sample_reservoir_hash")
    assert "TakeOrderedAndProject" in plan


def test_pca_power_broadcasts_direction_vectors_only(spark):
    """Each power-iteration step broadcasts the 1-row direction vector; the
    only nested-loop joins allowed are those condition-less 1-row
    broadcasts (never relation×relation)."""
    plan = _plan(spark, "emb_pca_power")
    assert "CartesianProduct" not in plan
    # x⋈s joins on vec_id are hash joins
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_common_neighbors_pushes_recency_and_stays_hash_based(spark):
    """graph_common_neighbors scopes the graph to recent orders: the date
    predicate must reach the orders parquet scan as a pushed filter, the
    wedge/adjacency joins must stay key-equality (no nested loop over part
    pairs), and the top-20 must be TakeOrderedAndProject."""
    from lakehouse_sfc_spark.queries.graphq import _edges_recent_build

    edges = _edges_recent_build(spark, SF)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        edges._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [" in plan
    assert "o_orderdate" in plan, "date predicate not pushed to orders scan"
    raw = _plan(spark, "graph_common_neighbors")
    assert "BroadcastNestedLoopJoin" not in raw
    assert "CartesianProduct" not in raw
    assert "TakeOrderedAndProject" in raw


def test_common_neighbors_broadcast_is_size_gated(spark, monkeypatch):
    """The adjacency anti-join's broadcast hint must be gated on |E|: the
    recent-edge relation grows with data, so above _CN_BCAST_MAX_EDGES the
    plan must fall back to a shuffled anti-join instead of forcing a
    multi-GB broadcast (the literal-100x-replay failure the r9 verdict
    flagged).  Simulate the large-|E| regime by dropping the gate to 0."""
    from lakehouse_sfc_spark.queries import graphq

    def anti_joins(plan: str) -> list[str]:
        return [ln for ln in plan.splitlines() if "LeftAnti" in ln]

    # Disable auto-broadcast so the ONLY way the anti-join broadcasts is
    # the explicit hint — isolates the gate from Catalyst's tiny-fixture
    # size estimates.
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        # Gate open (|E| at sf0.001 is far under the cap): the hint forces
        # the broadcast even with auto-broadcast off.
        small = _plan(spark, "graph_common_neighbors")
        assert any("Broadcast" in ln for ln in anti_joins(small)), (
            "under the gate the |E|-sized build side should broadcast"
        )
        # Gate forced closed — as if |E| exceeded _CN_BCAST_MAX_EDGES: no
        # hint, so the anti-join must plan as a shuffled join.
        monkeypatch.setattr(graphq, "_CN_BCAST_MAX_EDGES", 0)
        big = _plan(spark, "graph_common_neighbors")
        lines = anti_joins(big)
        assert lines, "anti-join disappeared from the plan"
        assert all("Broadcast" not in ln for ln in lines), (
            "broadcast anti-join above the size gate — OOM at 100x"
        )
    finally:
        spark.conf.set(key, saved)


def test_kcore_rounds_reuse_cached_edges(spark):
    """graph_kcore's three peel rounds run on the materialized edge
    relation: the fact table must never be rescanned, and the survivor
    semi-joins must be broadcast hash joins (the survivor set is |V|-sized,
    the edge list is the big side)."""
    df = QUERIES["graph_kcore"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 0, (
        "peel rounds re-derive edges from the fact table instead of the "
        "fingerprint-cached edge relation"
    )
    assert "LeftSemi" in plan
