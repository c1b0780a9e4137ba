"""Physical-plan shape assertions (SURVEY.md §4).

Correctness tests prove the right rows come back; these prove the right
PLAN produces them — the properties that decide whether an operator
survives a 100× scale-up: predicate pushdown into the Parquet reader,
column pruning, broadcast joins for small dims, partial aggregation,
and bounded-heap top-k.
"""

from __future__ import annotations

import os
import re

import pytest

from sparkify_datalake_spark.registry import queries

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(spark, name: str) -> str:
    df = queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prune_columns_reads_two_columns(spark):
    plan = _plan(spark, "scan_prune_columns")
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity" in plan
    # the 11-column lineitem schema must NOT be read
    assert "l_comment" not in plan


def test_scan_filter_pushdown_reaches_parquet(spark):
    plan = _plan(spark, "scan_filter_pushdown")
    assert "PushedFilters: [" in plan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_join_broadcast_uses_broadcast_hash_join(spark):
    plan = _plan(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan


def test_join_3way_broadcasts_all_dims(spark):
    # lineitem is the fact side; orders/customer/nation must all arrive
    # broadcast at fixture scale (no sort-merge shuffle of the fact table).
    plan = _plan(spark, "join_3way")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_dedup_exact_shuffles_on_digest_not_text(spark):
    # VERDICT r10 #2: the dedup shuffle key must be the md5 digest so
    # the exchange carries ~32-byte keys, never whole documents.
    plan = _plan(spark, "dedup_exact")
    # the digest is computed map-side in the pre-shuffle Project...
    assert "md5(cast(text" in plan, plan[:2000]
    # ...and the one exchange partitions on it (Catalyst rewrites the
    # groupBy alias to _groupingexpression), never on the raw text
    assert re.search(r"hashpartitioning\((_k|_groupingexpression)#", plan), \
        plan[:2000]
    assert "hashpartitioning(text#" not in plan, plan[:2000]


def test_agg_groupby_has_partial_and_final_agg(spark):
    plan = _plan(spark, "agg_groupby")
    assert "partial_" in plan, "map-side partial aggregation missing"
    assert plan.count("HashAggregate") >= 2


def test_sort_limit_topk_uses_bounded_heap(spark):
    plan = _plan(spark, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan, (
        "top-k must use the bounded-heap operator, not a global sort"
    )


def test_join_semi_anti_plan_types(spark):
    assert "LeftSemi" in _plan(spark, "join_semi")
    assert "LeftAnti" in _plan(spark, "join_anti")


def test_whole_stage_codegen_on_hot_path(spark):
    plan = _plan(spark, "project_arith")
    # codegen stages print as "*(n) Operator" in the executed plan
    assert "*(1)" in plan


def test_q3_composite_plan_shape(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan
    # all three scans carry pushed filters
    assert plan.count("PushedFilters: [") >= 3


def test_contamination_broadcasts_eval_side(spark):
    # the eval shingle set must arrive broadcast; the corpus side must
    # never participate in a shuffled (sort-merge) self-join
    plan = _plan(spark, "text_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sampling_is_map_side_only(spark):
    # hash sampling/splitting must not shuffle: no Exchange in the plan
    for name in ("sample_hash_pct", "split_train_valid_test"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"


def test_two_phase_ntile_has_no_status_only_window_sort(spark):
    # the de-skewed variant keys EVERY full-size window on
    # (status, bin) — thousands of bounded band-width partitions —
    # never on the 3-value status alone; the only status-keyed window
    # allowed is the bin-offset rollup over the tiny
    # (status × #bins) counts table, which orders by `bin`
    plan = _plan(spark, "win_ntile_twophase")
    assert "row_number()" in plan
    assert re.search(
        r"windowspecdefinition\(o_orderstatus#\d+, bin#\d+", plan
    ), plan[:2000]
    for m in re.finditer(
        r"windowspecdefinition\(o_orderstatus#\d+, (\w+)#\d+", plan
    ):
        assert m.group(1) in {"bin"}, m.group(0)
    # status-alone windows may only be the tiny offset rollup
    # (ordered by bin) — never a row-level price sort
    for m in re.finditer(
        r"windowspecdefinition\(o_orderstatus#\d+, o_totalprice", plan
    ):
        raise AssertionError(f"status-only row-level window: {m.group(0)}")


def test_ivf_probe_scan_reads_only_probed_partitions(spark):
    # the persisted-IVF contract: a probe must touch only the nprobe
    # cluster partition directories of the assignment table — partition
    # pruning is the entire point of the inverted file
    from pyspark.sql import functions as F

    from sparkify_datalake_spark.operators import similarity as sim

    sim.ivf_build(spark, SF_DIR, force=True)
    probed = [1, 3, 5]
    scan = sim.ivf_probe_scan(spark, SF_DIR, probed)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan
    # execution truth, not just plan text: every file actually read
    # comes from a probed cluster=<c> directory
    files = [
        r[0]
        for r in scan.select(F.input_file_name()).distinct().collect()
    ]
    assert files, "probe scan read no files"
    assert all(
        any(f"cluster={c}/" in f for c in probed) for f in files
    ), files


def test_pq_probe_scans_codes_and_broadcasts_rerank(spark):
    # the persisted-PQ contract: the ADC pass scans the codes table
    # (vec_id + small-int codes, no raw vectors), and raw embeddings
    # enter only through the broadcast top-k re-rank join
    from sparkify_datalake_spark.operators import similarity as sim

    sim.pq_build(spark, SF_DIR, force=True)
    plan = _plan(spark, "sim_pq_topk")
    assert re.search(r"ReadSchema: struct<vec_id:bigint,codes:array", plan)
    assert "BroadcastHashJoin" in plan


def test_ranking_topk_uses_bounded_heap_and_broadcasts(spark):
    # retrieval must rank via TakeOrderedAndProject (bounded heap, no
    # global sort) with df/corpus-stats arriving broadcast
    for name in ("text_tfidf_topk", "text_bm25_topk"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_dynamic_partition_pruning_fires_on_partitioned_sink(
    spark, tmp_path
):
    # the last big-cluster plan feature without an explicit test: a
    # fact table partitioned on the join key, joined to a filtered dim,
    # must plan a dynamicpruning subquery on the partition column so
    # only the dim-selected partition directories are scanned at runtime
    from pyspark.sql import functions as F

    from sparkify_datalake_spark.sources.load import load
    from sparkify_datalake_spark.sources.sinks import (
        write_partitioned_parquet,
    )

    path = str(tmp_path / "orders_by_status")
    orders = load(spark, SF_DIR, "orders")
    write_partitioned_parquet(orders, path, ["o_orderstatus"])
    # NOTE: no input_file_name() inside the fact projection — it is
    # nondeterministic, which blocks the DPP filter from being pushed
    # through the Project down to the scan
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    ).filter(F.col("label") == "open")
    # broadcast-hint the dim so the partitioned fact is the probe side
    # regardless of fixture-scale size stats (at real scale the
    # optimizer picks this shape on its own)
    joined = fact.join(
        F.broadcast(dim), fact["o_orderstatus"] == dim["status"]
    ).select("o_orderkey", "label")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:3000]
    # execution truth: the probe side streams straight from the scan
    # stage, so input_file_name() on the join output names the files
    # actually read — only the dim-selected partition dir may appear
    files = [
        r[0]
        for r in joined.select(F.input_file_name().alias("src"))
        .distinct()
        .collect()
    ]
    assert files and all("o_orderstatus=O/" in f for f in files), files


def test_q21_compiles_to_semi_and_anti_joins(spark):
    """q21's EXISTS / NOT EXISTS must be semi/anti joins (no subquery
    re-execution per row) with the equi orderkey key carried by the
    join, the supplier inequality as a residual condition."""
    plan = _plan(spark, "q21_sole_blame_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q14_broadcasts_part_single_agg_pass(spark):
    """q14's part side broadcasts (dimension), and the ratio is one
    partial->final aggregate pass — two HashAggregates, no extra
    shuffle beyond the final single-row exchange."""
    plan = _plan(spark, "q14_promo_effect")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") == 2


def test_q13_priority_filter_pushed_to_orders_scan(spark):
    """q13's ON-clause priority filter must reach the orders Parquet
    scan as a pushed predicate, and the join must stay a LEFT OUTER
    (pre-filtering the right side of a left join is the pushdown-
    preserving rewrite of a right-side-only ON condition)."""
    plan = _plan(spark, "q13_order_count_distribution")
    m = re.search(r"PushedFilters: \[[^\]]*o_orderpriority[^\]]*\]", plan)
    assert m, "priority filter not pushed to the orders scan"
    assert "LeftOuter" in plan


def test_q2_single_lineitem_scan_with_window_min(spark):
    # The correlated min subquery must decorrelate into ONE derived cost
    # table + a window over the part key — not a second lineitem scan
    # per the naive rewrite (the plan would show two parquet lineitem
    # relations and a re-aggregation).
    plan = _plan(spark, "q2_min_cost_supplier")
    assert len(re.findall(r"Scan parquet[^\n]*lineitem", plan)) == 1
    assert "RunningWindowFunction" in plan or "Window" in plan
    # top-100 by acctbal is a bounded heap, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_q16_anti_join_and_distinct_partial(spark):
    plan = _plan(spark, "q16_supplier_count")
    # complaint suppliers (NOT IN on a non-null key) = broadcast anti join
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # count(DISTINCT) runs partial distinct aggregation before the final
    # group-key shuffle (two HashAggregate layers minimum)
    assert plan.count("HashAggregate") >= 3


def test_q15_materializes_revenue_view_once(spark):
    # The revenue view feeds both the max-scalar and the probe; the lazy
    # localCheckpoint must collapse it to one computed subtree so the
    # plan holds a checkpointed scan, not two parquet lineitem scans.
    plan = _plan(spark, "q15_top_supplier")
    assert len(re.findall(r"Scan parquet[^\n]*lineitem", plan)) == 0
    assert "ExistingRDD" in plan or "LocalTableScan" in plan


def test_sessionize_single_sort_single_shuffle(spark):
    # lag-flag, running-sum AND the per-session aggregate must all ride
    # ONE user_id exchange + ONE sort: the two window specs share the
    # (user_id | ts) order, and grouping on (user_id, session_seq) is
    # satisfied by the user_id hash partitioning. A second Exchange or
    # Sort means the composition broke.
    plan = _plan(spark, "ts_sessionize")
    assert plan.count("Exchange") == 1, plan[:2000]
    assert plan.count("Sort ") == 1, plan[:2000]
    assert plan.count("Window") == 2


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    # The non-broadcast sibling of DPP: when the dim side of a SHUFFLE
    # join carries a selective filter, the optimizer builds a bloom
    # filter from the dim keys (bloom_filter_agg) and injects
    # might_contain onto the fact scan — at 100 TB this drops most fact
    # rows BEFORE the shuffle. Thresholds are sized for clusters, so
    # pin them down to fixture scale for the shape assertion.
    from sparkify_datalake_spark.sources.load import load

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        import pyspark.sql.functions as F

        li = load(spark, SF_DIR, "lineitem")
        orders = load(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:3000]
        assert "might_contain" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_funnel_single_event_shuffle(spark):
    # the three chained stage-minima must share ONE user_id exchange +
    # ONE sort (the staged aggregate-join formulation measured 14
    # exchanges); the remaining two exchanges are the tiny global
    # aggregate's partial/final pair
    plan = _plan(spark, "events_funnel")
    assert plan.count("Exchange") <= 3, plan[:2500]
    assert plan.count("Sort ") == 1


def test_sql_front_door_runs_adhoc_text(spark):
    # arbitrary multi-table SQL text over the full catalog must plan
    # through the same Catalyst pipeline (broadcast + pushdown intact)
    from sparkify_datalake_spark.plans.sql_surface import sql

    df = sql(
        spark,
        SF_DIR,
        """
        SELECT n.n_name, count(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > 0
        GROUP BY n.n_name
        """,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal" in plan
    assert df.count() > 0


def test_feat_onehot_is_shuffle_free_two_column_scan(spark):
    # one-hot must stay a map-side projection: no exchange at all, and
    # column pruning reaches the customer scan
    plan = _plan(spark, "feat_onehot")
    assert "Exchange" not in plan
    assert "c_custkey" in plan and "c_mktsegment" in plan
    assert "c_acctbal" not in plan and "c_name" not in plan


def test_corr_matrix_single_aggregation_pass(spark):
    # all 6 Pearson cells from ONE partial+final aggregate over ONE scan
    plan = _plan(spark, "corr_matrix")
    assert plan.count("Scan parquet") == 1
    assert "partial_corr" in plan


def test_win_count_distinct_single_exchange(spark):
    # both window passes share the user_id hash partitioning: one
    # Exchange (plus AQE reads), never two shuffles
    plan = _plan(spark, "win_count_distinct")
    n_exchange = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchange == 1, plan


def test_events_anomaly_windows_on_aggregate_not_raw_events(spark):
    # the z-score window must consume the (type, hour) aggregate; the
    # raw-event pass partial-aggregates map-side
    plan = _plan(spark, "events_anomaly")
    assert "partial_count" in plan
    win_after_agg = plan.index("Window") < plan.index("Scan parquet")
    assert win_after_agg  # executedPlan prints top-down: Window above scan


def test_knn_graph_shuffles_candidates_not_matrix(spark):
    # the post-GEMM exchange carries (src, dst, cos_sim) top-k rows —
    # the O(n²) similarity matrix must never appear as exchanged rows
    plan = _plan(spark, "sim_knn_graph")
    assert "FlatMapGroupsInPandas" in plan
    after_gemm = plan.split("FlatMapGroupsInPandas")[0]
    assert "src" in after_gemm and "cos_sim" in after_gemm


def test_rollup_hierarchy_chains_aggregates_without_rescan(spark):
    # one events scan feeds the whole minute->hour->day chain; the day
    # level must re-aggregate the hour level, not the raw table
    plan = _plan(spark, "ts_rollup_hierarchy")
    assert plan.count("Scan parquet") <= 2  # one per union branch max
    assert "partial_count" in plan or "partial_sum" in plan


def test_dau_wau_dedupes_before_fanout(spark):
    # the 7x cover-set explode must consume the DISTINCT (user, day)
    # frame — Generate above the distinct aggregate, below raw events
    plan = _plan(spark, "events_dau_wau")
    gen = plan.index("Generate")
    agg_positions = [i for i in range(len(plan)) if plan.startswith("HashAggregate", i)]
    assert any(i > gen for i in agg_positions), "distinct must sit under the explode"
    assert "Scan parquet" in plan


def test_rfm_windows_run_on_user_aggregate(spark):
    # the three ntile sorts must consume the per-user aggregate: window
    # operators appear above the aggregation of the raw scan
    plan = _plan(spark, "events_rfm")
    assert "partial_count" in plan or "partial_max" in plan
    assert plan.index("Window") < plan.index("Scan parquet")


def test_ewma_fold_stays_in_codegen(spark):
    # the weighted fold must be higher-order functions (no Python eval
    # node), and the frame one entity-keyed window
    plan = _plan(spark, "feat_ewma")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan


@pytest.mark.parametrize(
    "name", ["dedup_near_exact", "dedup_ngram", "dedup_containment"]
)
def test_all_pairs_anchors_are_one_arrow_kernel(spark, name):
    # the bounded all-pairs samples go through one coalesced Arrow
    # overlap kernel: no nested-loop self-join, no exchange
    plan = _plan(spark, name)
    assert "MapInArrow" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange" not in plan


def test_band_lookup_broadcasts_intervals(spark):
    # the pure range join must broadcast the 10-row band table and keep
    # the fact map-side: BroadcastNestedLoopJoin, never a sort-merge
    plan = _plan(spark, "join_band_lookup")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_relational_division_partial_aggregates(spark):
    # the counting rewrite must partial-aggregate the distinct and the
    # per-customer count; the year filter must reach the orders scan
    plan = _plan(spark, "join_relational_division")
    assert "partial_count" in plan
    assert "PushedFilters" in plan and "1995" in plan


def test_dedup_first_in_window_is_one_aggregation(spark):
    # windowed debounce must plan as a single groupBy (no Window/Sort
    # operator at all) — it is an aggregation, not an ordering problem
    plan = _plan(spark, "events_dedup_first_in_window")
    assert "Window" not in plan
    assert "partial_min" in plan or "partial_count" in plan


def test_sample_weighted_uses_bounded_heap_and_pruned_scan(spark):
    plan = _plan(spark, "sample_weighted")
    assert "TakeOrderedAndProject" in plan, "must be per-partition heaps"
    assert "Sort " not in plan, "no full sort for a top-k sample"
    assert "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>" in plan


def test_events_streaks_reuses_user_partitioning(spark):
    # distinct days, the row_number window and both aggregates all key on
    # user_id: exactly ONE hashpartitioning exchange may touch raw rows
    # (AQE may add tiny post-window exchanges on the streaks frame).
    plan = _plan(spark, "events_streaks")
    assert plan.count("hashpartitioning(user_id") <= 2
    assert "Window" in plan


def test_orders_backlog_windows_on_month_grain(spark):
    # the cumulative sum must consume the month grid, not raw deltas:
    # the single-partition window is fed by an aggregate, and no window
    # sits directly over the order/lineitem join output.
    plan = _plan(spark, "orders_backlog")
    w = plan.index("Window")
    agg_before_window = plan[w:].split("Window", 1)[1]
    assert "HashAggregate" in agg_before_window, (
        "cumsum window must sit above the monthly aggregate"
    )


def test_ts_autocorr_single_rawrow_shuffle(spark):
    # only the daily-grain groupBy shuffles raw events; lag windows and
    # corr re-aggregates run on the tiny grain (event_type partitioning).
    plan = _plan(spark, "ts_autocorr")
    assert plan.count("Scan parquet") <= 2  # union branches may re-scan grain
    assert "hashpartitioning(event_type" in plan


def test_zipf_fit_cuts_head_before_ranking_window(spark):
    plan = _plan(spark, "text_zipf_fit")
    assert "TakeOrderedAndProject" in plan, (
        "vocab head must be a bounded heap, not a global sort of the vocab"
    )


def test_cooccurrence_pmi_broadcasts_marginals(spark):
    plan = _plan(spark, "events_cooccurrence_pmi")
    assert plan.count("BroadcastHashJoin") >= 2, (
        "type marginals and the 1-row N must arrive broadcast"
    )


def test_chi2_windows_on_cell_frame(spark):
    # margins are windows over the contingency cells (post-aggregate),
    # never over raw documents.
    plan = _plan(spark, "stat_chi2_independence")
    first_window = plan.index("Window")
    below = plan[first_window:]
    assert "HashAggregate" in below, "margin windows must sit above the cell agg"


def test_ks_test_windows_on_value_grid(spark):
    # the CDF window runs over the 2dp value grid (post-aggregate),
    # never over raw events — the domain-bounded-window discipline.
    plan = _plan(spark, "stat_ks_test")
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[first_window:], (
        "CDF window must sit above the grid aggregation"
    )


def test_spearman_joins_midranks_broadcast(spark):
    # marginal midrank frames are tiny (bounded by the value domains)
    # and must arrive broadcast onto the joint grid.
    plan = _plan(spark, "corr_spearman")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_referential_integrity_prunes_to_fk_column(spark):
    # Each FK edge contributes its own single-column-pruned child scan
    # — lineitem appears as three single-column scans, never a
    # 3-column scan expanded ×3 (the GROUPING SETS form measured
    # 22.8 s vs 9.2 s per-edge at the 64× probe: Expand multiplies the
    # fact stream before partial aggregation). Since round 9 the seven
    # per-edge pipelines fuse under an edge tag into ONE key-grain
    # left join + one edge-grain fold (27 jobs → ~12), so the plan
    # must show exactly one audit join, still UNHINTED: at fixture
    # scale the planner may broadcast the unioned parent key set,
    # while at 64×+ AQE crosses it to a co-partitioned shuffle join
    # (the child side is already deduped key grain).
    plan = _plan(spark, "dq_referential_integrity")
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        scans = re.findall(rf"FileScan parquet \[{col}[^\]]*\]", plan)
        assert len(scans) == 1, (col, scans)
        # single-column pruned: no other l_ column rides the scan
        others = [c for c in ("l_orderkey", "l_partkey", "l_suppkey")
                  if c != col]
        assert not any(o in scans[0] for o in others), scans[0]
    assert "Expand" not in plan, "per-edge passes must not Expand"
    n_joins = plan.count("BroadcastHashJoin") + plan.count(
        "SortMergeJoin"
    ) + plan.count("ShuffledHashJoin")
    assert n_joins == 1, f"expected ONE fused audit join, saw {n_joins}"


def test_link_prediction_caps_hubs_and_broadcasts_degrees(spark):
    plan = _plan(spark, "graph_link_prediction")
    # degree cap filter exists pre-wedge, degree lookups broadcast,
    # and the top-20 is a bounded heap.
    assert plan.count("BroadcastHashJoin") >= 3
    assert "TakeOrderedAndProject" in plan


def test_collocations_broadcast_unigrams_bounded_head(spark):
    plan = _plan(spark, "text_collocations_pmi")
    assert plan.count("BroadcastHashJoin") >= 2, (
        "unigram counts + corpus stats must arrive broadcast"
    )
    assert "TakeOrderedAndProject" in plan


def test_survival_crossjoins_user_frame_not_events(spark):
    # the 22-offset grid expands the per-user frame (post-aggregate),
    # never raw events: the explode/cross-join must sit above the
    # user-level aggregation.
    plan = _plan(spark, "events_survival")
    import re as _re

    m = _re.search(r"BroadcastNestedLoopJoin", plan)
    assert m is not None
    assert "HashAggregate" in plan[m.start():], (
        "offset grid must expand the user aggregate, not raw events"
    )


def test_seasonal_decompose_windows_on_daily_grain(spark):
    plan = _plan(spark, "ts_seasonal_decompose")
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[first_window:], (
        "trend window must run on the daily grain"
    )
    assert "BroadcastHashJoin" in plan  # seasonal frame joins broadcast


def test_mannwhitney_windows_distinct_values_not_rows(spark):
    # midranks must be assigned over the per-DISTINCT-value frame: the
    # single-partition global window is fed by an aggregate, so a
    # partial_ HashAggregate must appear BELOW the Window operator
    # (ranking raw rows would put Window directly over the scan).
    plan = _plan(spark, "stat_mannwhitney")
    assert "Window" in plan
    assert "partial_count" in plan
    assert plan.index("partial_count") > plan.index("Window"), (
        "window should sit above the distinct-value aggregate "
        "(plans print top-down)"
    )


def test_type_affinity_broadcasts_type_counts(spark):
    # pair generation is one self-equi-join on the basket key; the two
    # 5-row per-type count frames must arrive broadcast.
    plan = _plan(spark, "events_type_affinity")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_cross_correlation_broadcasts_lag_dimension(spark):
    # the 7-value lags dimension must never shuffle the series: one
    # BroadcastNestedLoopJoin/cross for the fan-out, broadcast equi-join
    # for the shifted-date pairing, zero sort-merge joins.
    plan = _plan(spark, "ts_cross_correlation")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_moving_median_single_user_shuffle(spark):
    # the collect_list frame rides the same user-keyed window as
    # win_moving: exactly one hash exchange on user_id, no global sort.
    plan = _plan(spark, "win_moving_median")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_growth_accounting_windows_activity_grain(spark):
    # lag/lead must ride the DISTINCT (user, day) grain — the Window's
    # input is the distinct aggregate, not raw events; churn/max_d
    # frames arrive broadcast.
    plan = _plan(spark, "events_growth_accounting")
    assert "Window" in plan
    # the activity grain is localCheckpointed: the lag/lead windows must
    # feed from the materialized RDD (events fact scans ZERO times in
    # this plan — it was read once at grain materialization), and the
    # churn/max_d frames arrive broadcast.
    assert "ExistingRDD" in plan
    assert plan.count("FileScan parquet") == 0
    assert "BroadcastHashJoin" in plan


def test_centroid_classify_is_mapside_until_confusion_rollup(spark):
    # the 10×64 model enters as literals: no join of any kind before
    # the confusion-grid aggregate except the broadcast totals join.
    plan = _plan(spark, "sim_centroid_classify")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # exactly one scan of embeddings in the classification plan: the
    # fit ran eagerly at build time (driver-held literals) and the
    # recall denominator is a window over the ≤100-row grid, not a
    # totals join that would re-derive the whole subtree
    assert plan.count("FileScan parquet") == 1


def test_class_balanced_ranks_within_class_partitions(spark):
    # per-class md5 rank: window partitioned by event_type, min(n)
    # scalar arrives broadcast — no global sort, no SMJ.
    plan = _plan(spark, "sample_class_balanced")
    assert "Window" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row k scalar


def test_power_analysis_single_pass_moments(spark):
    # one partial→final aggregate pair over events; the sizing math is
    # a projection, not further shuffles.
    plan = _plan(spark, "stat_power_analysis")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan and "partial_sum" in plan


def test_cross_source_overlap_broadcasts_totals(spark):
    # the fingerprint self-join may shuffle (both sides are the same
    # distinct grain); the 20-row per-source totals must NOT.
    plan = _plan(spark, "dedup_cross_source_overlap")
    assert plan.count("BroadcastHashJoin") >= 2


def test_hhi_broadcasts_part_dim(spark):
    plan = _plan(spark, "mine_hhi_concentration")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_revenue_retention_materializes_grain_once(spark):
    # the (year, customer) grain is localCheckpointed: the final plan
    # must consume the materialized RDD three times (a/b/mx) and scan
    # the ORDERS fact zero times — without this the fact scans 3×.
    # (The decimal money discipline inside the grain is proven by the
    # hash check; the checkpoint truncates it out of this plan text.)
    plan = _plan(spark, "orders_revenue_retention")
    assert "ExistingRDD" in plan
    assert plan.count("FileScan parquet") == 0


def test_kpi_tree_single_pass_day_grain(spark):
    # one partial→final day-grain aggregate; the lag window and log
    # decomposition ride the ~|days| frame with no further fact scans.
    plan = _plan(spark, "events_kpi_tree")
    assert plan.count("FileScan parquet") == 1
    assert "Window" in plan


def test_profile_similarity_joins_tiny_grid_only(spark):
    # the self-join must happen on the types×24 grid, never raw events:
    # both join inputs are aggregates (partial_count below the join).
    plan = _plan(spark, "ts_profile_similarity")
    assert "SortMergeJoin" not in plan
    assert re.search(r"Join.*partial_count", plan, re.S)


def test_anova_single_pass_moments(spark):
    plan = _plan(spark, "stat_anova_oneway")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan


def test_clustering_coefficient_repartitions_wedge_join(spark):
    # the closure join must carry the explicit shuffle width (the AQE
    # fan-out lesson) and the wedge denominator must not join at all.
    plan = _plan(spark, "graph_clustering_coefficient")
    # REPARTITION_BY_NUM appears iff repartition(n, key) is present —
    # the old disjunct was vacuously true without the hint (ADVICE r4).
    assert "REPARTITION_BY_NUM" in plan
    assert "CartesianProduct" not in plan


def test_knn_consistency_shuffles_local_topk_not_pairs(spark):
    # the GEMM kernel emits per-batch local top-12 per probe; the only
    # wide movement after the scan is the per-query ranking window —
    # the 500×|corpus| pair matrix must never hit an exchange.
    plan = _plan(spark, "sim_knn_label_consistency")
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan parquet") == 1


def test_lorenz_single_fact_scan_total_order_ntile(spark):
    # user grain once; NTILE must carry the (n, user_id) total order so
    # ties bucket identically cross-engine.
    plan = _plan(spark, "events_lorenz_curve")
    assert plan.count("FileScan parquet") == 1
    assert "ntile(10)" in plan
    assert re.search(r"windowspecdefinition\(n.*user_id", plan)


def test_pairwise_ttest_one_moment_pass(spark):
    # the 5-row moment frame is localCheckpointed: the pair grid must
    # consume the materialized RDD on both sides, with events scanned
    # ZERO times in this plan (once, at grain materialization).
    plan = _plan(spark, "stat_pairwise_ttest_bonferroni")
    assert "ExistingRDD" in plan
    assert plan.count("FileScan parquet") == 0
    assert "SortMergeJoin" not in plan


def test_seasonal_index_money_stays_decimal(spark):
    # one orders scan; decimal money; totals via an unbounded window
    # over the 12-row frame, not a re-deriving totals join.
    plan = _plan(spark, "orders_seasonal_index")
    assert "decimal(18,2)" in plan.lower()
    assert plan.count("FileScan parquet") == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_calendar_gaps_generates_calendar_without_data_scan(spark):
    # the dense calendar must come from the 1-row bounds aggregate
    # (sequence+explode), and active days must arrive broadcast —
    # orders scans at most twice (bounds + distinct days), never per day.
    plan = _plan(spark, "dq_calendar_gaps")
    assert "explode(sequence" in plan
    assert "BroadcastHashJoin" in plan


def test_bloom_filter_probes_via_broadcast(spark):
    """The bloom bitmap must reach the probe side as a broadcast (the
    runtime-filter shape: KB bitmap to every scan task) — a shuffled
    words join would defeat the op's entire purpose."""
    plan = _plan(spark, "agg_bloom_runtime_filter")
    # probe-vs-bitmap: the k=3 membership tests ride k COLUMNS + k
    # broadcast joins keyed on the word expressions (the word-keyed
    # hash exchange that DOES appear belongs to the 2048-row bitmap
    # AGGREGATION on the build side, pre-broadcast); ground-truth
    # membership broadcasts the dimension as the 4th
    assert "BroadcastHashJoin [FLOOR(" in plan, plan
    assert plan.count("BroadcastHashJoin") == 4, plan
    # the fact side must never shuffle: no exchange keyed on the
    # probe's order/customer grain (the old exploded-position form
    # re-aggregated through one)
    assert "hashpartitioning(o_orderkey" not in plan, plan


def test_hybrid_rrf_rankers_are_bounded_heaps(spark):
    """Both RRF pools must come from TakeOrderedAndProject (bounded
    heap), never a global sort of scored candidates; the rank windows
    then run on the 50-row pools only."""
    plan = _plan(spark, "sim_hybrid_rrf")
    assert plan.count("TakeOrderedAndProject(limit=50") == 2, plan
    assert plan.count("TakeOrderedAndProject(limit=20") == 1, plan


def test_doc_packing_windows_partition_by_source(spark):
    """The packing cumsum must partition by source (the shard key) —
    a global total-order window would serialize ingestion at scale."""
    plan = _plan(spark, "doc_packing_plan")
    assert "windowspecdefinition(source" in plan, plan
    assert "windowspecdefinition(doc_id" not in plan


def test_scd2_windows_share_entity_partitioning(spark):
    """Both SCD2 windows (lag change-point filter, lead/version close)
    must partition on the entity key; no global window anywhere."""
    plan = _plan(spark, "dim_scd2_build")
    assert "windowspecdefinition(o_custkey" in plan
    # exactly one custkey-only exchange feeds both stacked windows
    assert plan.count("hashpartitioning(o_custkey#") >= 1


def test_hamming_topk_is_popcount_scan_with_bounded_heap(spark):
    """The binary search must stay a projection-scan: sign-pack in one
    projection, xor+bit_count in codegen, top-k as a bounded heap —
    never a shuffle of the vector table or a global sort."""
    plan = _plan(spark, "sim_hamming_topk")
    assert "TakeOrderedAndProject(limit=10" in plan, plan
    # the only join is the broadcast 1-row probe
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan, plan


def test_resamplers_never_multiply_the_fact_stream(spark):
    """The permutation test and bootstrap must keep their wide
    one-pass-aggregate shape: replicates ride a 1-row stack() Generate,
    never a grid crossJoin that multiplies fact rows ×B before
    aggregation (the 54 s / 64× pathology both were rewritten out of).
    The only nested-loop joins allowed are 1-row scalar broadcasts."""
    for name, max_bnlj in (("stat_permutation_test", 2),
                           ("stat_bootstrap_ci", 1)):
        plan = _plan(spark, name)
        assert plan.count("stack(") == 1, (name, "wide stack form gone")
        # one Generate = the 1-row stack reshape; a second would mean a
        # fact-side explode came back
        assert plan.count("Generate") == 1, (name, plan.count("Generate"))
        assert plan.count("BroadcastNestedLoopJoin") <= max_bnlj, name
        assert "Expand" not in plan, name


def test_scd2_pit_is_window_carry_forward_not_interval_join(spark):
    """The PIT lookup must stay the union + carry-forward window: zero
    joins between facts and the dim (the interval equi-join fanned
    every fact to all of its customer's versions — 39.9 s at 64×)."""
    plan = _plan(spark, "join_scd2_pit")
    assert "BroadcastNestedLoopJoin" not in plan
    # the only joins allowed are the fact-prep lineitem⋈orders
    # equi-join(s); the dim side must arrive via Union + Window
    assert "Union" in plan and "Window" in plan, plan
    assert "last(regime" in plan, plan


def test_cume_dist_two_phase_has_no_status_only_window(spark):
    # win_cume_dist (round 8): the ECDF numerator's full-size window
    # must key on (status, bin); a status-only window over
    # o_totalprice would be the 3-task single-sort pathology the
    # binned plan exists to avoid. The only status-keyed window
    # allowed is the tiny per-bin offset rollup (ordered by bin).
    plan = _plan(spark, "win_cume_dist")
    assert re.search(
        r"windowspecdefinition\(o_orderstatus#\d+, bin#\d+", plan
    ), plan[:2000]
    for m in re.finditer(
        r"windowspecdefinition\(o_orderstatus#\d+, o_totalprice", plan
    ):
        raise AssertionError(f"status-only row-level window: {m.group(0)}")
    # dims arrive broadcast, never shuffled against the row grain
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dup_ngram_coverage_never_enumerates_pairs(spark):
    # the O(total grams) contract: gram document-frequency joins back
    # to the (doc, gram) grain by the gram key — no self-join of the
    # corpus against itself (no cartesian, no doc×doc key) appears
    plan = _plan(spark, "text_dup_ngram_coverage")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_bucket_matches_global_ntile(spark):
    """feat_quantile_bucket's bin-arithmetic rewrite must reproduce the
    global-sort ntile(10) plan exactly (counts AND boundary prices) —
    the NTILE rank spans and order statistics are computed in the
    driver from bounded bin counts, so any off-by-one in the rank
    arithmetic shows here.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sparkify_datalake_spark.operators.features import (
        _quantile_bucket_binned,
    )
    from sparkify_datalake_spark.sources.load import load

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        orders = load(spark, sf_dir, "orders")
        got = sorted(
            tuple(r)
            for r in _quantile_bucket_binned(spark, orders).collect()
        )
        ref = sorted(
            tuple(r)
            for r in orders.select(
                "o_totalprice",
                F.ntile(10)
                .over(Window.orderBy("o_totalprice", "o_orderkey"))
                .alias("bucket"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.min("o_totalprice"), 2).alias("lo"),
                F.round(F.max("o_totalprice"), 2).alias("hi"),
            )
            .collect()
        )
        assert got == ref


# Jobs that only decode driver-held rows or evaluate a SQL-expressible
# formula run no Python worker: no pickled-RDD scan (`Scan ExistingRDD`)
# and no pandas kernel (`MapInPandas`) in the executed plan.
@pytest.mark.parametrize("name", ["pipeline_curation_e2e", "sim_ivf_topk"])
def test_driver_rows_and_ivf_probe_start_no_python_worker(spark, name):
    df = queries()[name](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "MapInPandas" not in plan, plan


def test_merge_delta_reenters_delta_as_local_relation(
    spark, tmp_path, monkeypatch
):
    from pyspark.sql import functions as F

    from sparkify_datalake_spark.sources import matview
    from sparkify_datalake_spark.sources.load import load

    orders = load(spark, SF_DIR, "orders")
    path = str(tmp_path / "mv")
    cutoff = "1998-01-01"
    matview.matview_init(
        spark, orders.filter(F.col("o_orderdate") < cutoff), path
    )
    plans = []
    write = matview.overwrite_partitions_dynamic

    def capture(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(df, *args, **kwargs)

    monkeypatch.setattr(matview, "overwrite_partitions_dynamic", capture)
    assert matview.matview_apply(
        spark, path, orders.filter(F.col("o_orderdate") >= cutoff)
    )
    assert len(plans) == 1
    assert "LocalTableScan" in plans[0], plans[0]
    assert "ExistingRDD" not in plans[0], plans[0]


def test_local_frame_matches_create_dataframe(spark):
    import datetime as dt

    from sparkify_datalake_spark.sources.load import local_frame

    ddl = "a long, b int, c double, d string, e date, f array<double>"
    rows = [
        (1, 2, 0.5, "x", dt.date(1996, 6, 15), [1.0, -2.5]),
        (None, None, None, None, None, None),
        (2**40, -7, -1e300, "", dt.date(1970, 1, 1), []),
        (3, 0, 1.0, "ü", dt.date(2024, 2, 29), [None, 3.25]),
    ]
    for data in (rows, []):
        got = local_frame(spark, data, ddl)
        want = spark.createDataFrame(data, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert "LocalTableScan" in (
            got._jdf.queryExecution().executedPlan().toString()
        )


def test_ivf_at_full_probe_equals_exact_twin(spark):
    # nprobe = _IVF_K scans every cluster, so the IVF probe must return
    # exactly the brute-force rows: same expression, rounding and order
    from sparkify_datalake_spark.operators import similarity as sim

    got = sim.ivf_topk(spark, SF_DIR, sim._IVF_K).collect()
    want = queries()["sim_cosine_topk"](spark, SF_DIR).collect()
    assert len(want) == 10
    assert got == want
