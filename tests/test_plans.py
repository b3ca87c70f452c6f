"""Physical-plan shape tests — the 100 TB design assertions (SURVEY.md §7
Phase 6). Correctness tests prove the small-SF answer; these prove the plan
is the one that survives a 1000-executor scale-up: filters reach the
parquet scan, projections prune columns, tiny dims broadcast, the cleaning
pipeline stays shuffle-free, and top-k never globally sorts."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from sales_data_pipeline_gcp_spark.plans import registry

QS = registry.all_queries()


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_flagship_pushdown_and_pruning(spark, sf_dir):
    plan = plan_str(QS["q_agg_group"].fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns are read
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    # partial aggregation: two HashAggregates around one exchange
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = plan_str(QS["q_join_star"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_cleaning_is_narrow(spark, sf_dir):
    plan = plan_str(QS["q_case_impute"].fn(spark, sf_dir))
    assert "Exchange" not in plan, "cleaning pipeline must stay shuffle-free"
    # '*(n)' marks a whole-stage-codegen stage in simple mode
    assert "*(1)" in plan_str(QS["q_case_impute"].fn(spark, sf_dir), "simple")


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_str(QS["q_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_scalar_packs_stay_in_codegen(spark, sf_dir):
    for name in ("q_math_scalars", "q_string_scalars", "q_date_scalars"):
        plan = plan_str(QS[name].fn(spark, sf_dir), "simple")
        assert "*(1)" in plan, name
        assert "BatchEvalPython" not in plan, f"{name} must not fall back to Python UDFs"


def test_semi_anti_prefilter_pushdown(spark, sf_dir):
    # the o_totalprice filter must reach the orders scan, not run post-join
    plan = plan_str(QS["q_join_semi_anti"].fn(spark, sf_dir))
    assert "GreaterThan(o_totalprice,400000.0)" in plan


def test_window_single_shuffle(spark, sf_dir):
    plan = plan_str(QS["q_window_frame"].fn(spark, sf_dir))
    # both frames share one partitionBy -> exactly one exchange
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_ann_broadcasts_probe_side(spark, sf_dir):
    plan = plan_str(QS["q_sim_ann_ivf"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_agg_before_join_shape(spark, sf_dir):
    # q_join_outer aggregates orders BEFORE joining customers
    plan = plan_str(QS["q_join_outer"].fn(spark, sf_dir))
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1


def test_tpch_q3_filters_pushed_to_all_scans(spark, sf_dir):
    plan = plan_str(QS["q_tpch_q3_shipping"].fn(spark, sf_dir))
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q18_semi_join_before_wide_join(spark, sf_dir):
    plan = plan_str(QS["q_tpch_q18_big_orders"].fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_tpch_q6_all_predicates_reach_scan(spark, sf_dir):
    """Q6 is a pure filtered global agg: every predicate (date range,
    discount band, quantity cap) must appear in PushedFilters and the scan
    must read ONLY the four referenced columns."""
    plan = plan_str(QS["q_tpch_q6_forecast"].fn(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in read_schema
    assert re.search(r"^\(\d+\) HashAggregate", plan, re.M)


def test_tpch_q9_dims_broadcast_fact_streams(spark, sf_dir):
    """Q9's 5-way join: part/supplier/nation broadcast; lineitem must NOT
    be on a broadcast side (it is the streamed fact)."""
    plan = plan_str(QS["q_tpch_q9_product_profit"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    name_pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "p_name" in l]
    assert name_pushed, "p_name LIKE filter should reach the part scan"


def test_tpch_q20_ins_are_semi_joins(spark, sf_dir):
    """Q20's nested INs must compile to semi joins (never distinct+inner):
    one LeftSemi for the part IN, one for the supplier IN."""
    plan = plan_str(QS["q_tpch_q20_promotion_suppliers"].fn(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2


def test_sql_surface_gets_same_plan_treatment(spark, sf_dir):
    """spark.sql text and the DataFrame API compile through the same
    Catalyst pipeline: the SQL-surface join query must show broadcast
    joins, scan-level date pushdown, and partial aggregation, exactly like
    its DataFrame siblings."""
    plan = plan_str(QS["q_sql_revenue_by_nation"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "o_orderdate" in l]
    assert pushed, "date range should reach the orders scan through spark.sql"
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 2


def test_scan_pruned_partition_filters(spark, sf_dir):
    """The partition predicate must be a PLANNING-time PartitionFilter on
    the scan node (directory pruning), never a post-scan data filter."""
    plan = plan_str(QS["q_scan_pruned"].fn(spark, sf_dir))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "sale_month" in pf[0] and "IN (3,4)" in pf[0], pf


def test_scan_pruned_reads_only_matching_partitions(spark, sf_dir):
    """Physical proof of pruning: the files actually opened by the
    filtered scan all live under the matching partition directories."""
    from sales_data_pipeline_gcp_spark.operators.source_queries import (
        PART_DIR,
        PRUNE_MONTHS,
        ensure_partitioned_fixture,
    )

    ensure_partitioned_fixture()
    df = spark.read.parquet(PART_DIR).filter(
        F.col("sale_month").cast("int").isin(*PRUNE_MONTHS)
    )
    files = {r[0] for r in df.select(F.input_file_name()).distinct().collect()}
    assert files, "scan read no files"
    allowed = tuple(f"sale_month={m}/" for m in PRUNE_MONTHS)
    for f in files:
        assert any(a in f for a in allowed), f


def test_join_dpp_injects_runtime_partition_filter(spark, sf_dir):
    """The dim-side quarter filter cannot prune statically; Catalyst must
    inject a DynamicPruningExpression into the fact scan's
    PartitionFilters (runtime pruning fed by the broadcast dim)."""
    plan = plan_str(QS["q_join_dpp"].fn(spark, sf_dir))
    assert "dynamicpruningexpression" in plan.lower(), "no runtime partition filter injected"
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_zero_exchange_below_join(spark, sf_dir):
    """q_join_bucketed's claim: the SortMergeJoin consumes the on-disk
    bucketing directly — the ONLY exchange in the plan is the final
    segment aggregate's, never a join-side shuffle."""
    plan = plan_str(QS["q_join_bucketed"].fn(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_minhash_signature_single_shuffle(spark, sf_dir):
    """The signature stage's claim (dedup.minhash_signatures): base hashes
    are computed map-side and all k mins fold in ONE partially-aggregated
    groupBy — so the physical plan between the array explode and the
    signature output contains exactly one Exchange."""
    from sales_data_pipeline_gcp_spark.io import load
    from sales_data_pipeline_gcp_spark.operators.dedup import (
        minhash_signatures,
        shingle_arrays,
    )

    shs = shingle_arrays(load(spark, sf_dir, "documents"))
    plan = plan_str(minhash_signatures(shs.selectExpr("doc_id", "explode(shs) AS shingle")))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2  # partial+final


def test_incremental_dedup_restricts_to_cross_pairs(spark, sf_dir):
    """The incremental pipeline must verify ONLY batch-vs-corpus candidate
    pairs: the cross-side filter sits below the verify joins, and the
    exact layer is a semi join on the fingerprint."""
    plan = plan_str(QS["q_dedup_incremental"].fn(spark, sf_dir))
    assert "LeftSemi" in plan  # fingerprint membership
    assert "CartesianProduct" not in plan


def test_pq_adc_never_explodes_corpus(spark, sf_dir):
    """PQ encoding must be in-row: the only Generate (explode) allowed is
    the 16-row codebook build; the corpus side carries none, and both the
    codebook row and the query row arrive via broadcast."""
    plan = plan_str(QS["q_sim_pq_adc"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # top-k never globally sorts
    assert "TakeOrderedAndProject" in plan


def test_ols_single_partial_agg(spark, sf_dir):
    """OLS moments fold map-side: two HashAggregates (partial+final) around
    one exchange — the sufficient-statistics shape."""
    plan = plan_str(QS["q_ols_regression"].fn(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2


def test_interval_join_is_equi_not_cartesian(spark, sf_dir):
    """The binned interval join must plan as a hash/sort-merge EQUI join on
    (customer, bucket) — never a cartesian or broadcast-nested-loop theta
    join (the naive formulation the oracle uses)."""
    plan = plan_str(QS["q_join_interval"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_orc_scan_prunes_columns(spark, sf_dir):
    """The ORC reader must show column pruning: ordered_at/delivery-style
    unused columns absent from ReadSchema (the fixture has 4 columns; the
    query reads product/total/quantity only)."""
    plan = plan_str(QS["q_scan_orc"].fn(spark, sf_dir))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "price" not in read_schema
    assert "product" in read_schema


def test_gapfill_spine_broadcasts(spark, sf_dir):
    """The calendar spine (global min/max day -> sequence) must reach the
    grid via broadcast, never a shuffle of the event stream; the daily
    rollup keeps the partial-agg pair."""
    plan = plan_str(QS["q_timeseries_gapfill"].fn(spark, sf_dir))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 2


def test_bitmap_distinct_combines_map_side(spark, sf_dir):
    """Both bitmap aggregation levels must carry the partial/final
    HashAggregate pair (4 total) and never plan COUNT DISTINCT's Expand."""
    plan = plan_str(QS["q_agg_bitmap_distinct"].fn(spark, sf_dir))
    assert "Expand" not in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 4


def test_mad_broadcasts_group_stats(spark, sf_dir):
    """The median/MAD tables are group-cardinality-sized and must reach
    the event stream via broadcast — the stream itself never shuffles."""
    plan = plan_str(QS["q_outlier_mad"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2


def test_chisq_grid_broadcasts_marginals(spark, sf_dir):
    """Marginal tables (R rows, C rows, 1 row) are broadcast into the
    grid build; only the fact-side contingency count shuffles."""
    plan = plan_str(QS["q_chisq_independence"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_prefix_filter_no_cartesian(spark, sf_dir):
    """Candidate generation must stay an equi-join on the prefix token —
    the theta work happens only in the row-level PPJoin filters."""
    plan = plan_str(QS["q_dedup_prefix_filter"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_decayed_avg_anchor_broadcast_and_partial_agg(spark, sf_dir):
    """The global-max anchor is a 1-row broadcast (never a shuffle), and
    the user-keyed weighted agg carries the partial/final pair."""
    plan = plan_str(QS["q_decayed_avg"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 2


def test_interpolate_stream_collapses_before_windows(spark, sf_dir):
    """The event stream must collapse in a partial-agg rollup before any
    window runs; the calendar spine side arrives via broadcast."""
    plan = plan_str(QS["q_timeseries_interpolate"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 2


def test_anomaly_window_runs_over_rollup_not_stream(spark, sf_dir):
    """Daily rollup (partial+final agg) feeds ONE type-keyed window — the
    trailing-baseline frame never sees the raw event stream."""
    plan = plan_str(QS["q_events_anomaly"].fn(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1


def test_weighted_median_single_group_shuffle(spark, sf_dir):
    """Cumulative and total windows plus the final agg all share the
    l_returnflag partitioning — exactly one fact-side hash exchange."""
    plan = plan_str(QS["q_weighted_median"].fn(spark, sf_dir))
    assert len(re.findall(r"hashpartitioning\(l_returnflag", plan)) >= 1
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_pareto_window_runs_over_part_dimension(spark, sf_dir):
    """The fact stream collapses in the per-part partial/final agg before
    the dimension-sized ranking window (documented single-partition
    tail) — never a global sort of lineitem."""
    plan = plan_str(QS["q_pareto_abc"].fn(spark, sf_dir))
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 2


def test_snm_window_is_block_partitioned(spark, sf_dir):
    """SNM's sliding window must partition by the block prefix — a global
    (single-partition) neighbor window would serialize the corpus."""
    plan = plan_str(QS["q_dedup_snm"].fn(spark, sf_dir))
    assert re.search(r"Window.*lead", plan, re.I | re.S)
    win_lines = [l for l in plan.splitlines() if "Arguments" in l and "lead" in l]
    assert not any("SinglePartition" in l for l in win_lines)


def test_containment_joins_on_shingle_key(spark, sf_dir):
    """Candidate generation is an equi-join on the shingle value (plus
    size lookups) — no cartesian anywhere."""
    plan = plan_str(QS["q_dedup_containment"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_khop_self_join_is_supplier_keyed(spark, sf_dir):
    """The 2-hop expansion is an equi self-join on the supplier key; the
    distinct aggregates keep their partial/final split."""
    plan = plan_str(QS["q_graph_khop"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 2


def test_pps_windows_share_stratum_shuffle(spark, sf_dir):
    """Both cumulative and total windows run over the same stratum
    partitioning — one exchange, never a global sort."""
    plan = plan_str(QS["q_sample_pps"].fn(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "SinglePartition" not in plan


def test_ab_ttest_single_pass_no_join(spark, sf_dir):
    """Both arms' moments come from ONE conditional-agg pass — the plan
    must contain no join and exactly one partial/final agg pair."""
    plan = plan_str(QS["q_ab_ttest"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2


def test_winsorized_cuts_broadcast_back(spark, sf_dir):
    """The group-sized cut table reaches the ranked stream via broadcast;
    the stream itself shuffles once for the rank window."""
    plan = plan_str(QS["q_winsorized_mean"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_basket_supports_broadcast_min_support_prunes(spark, sf_dir):
    """Item supports and the order count are broadcast; pair candidates
    come from an order-keyed equi self-join, never a cartesian."""
    plan = plan_str(QS["q_basket_lift"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan


def test_gaps_islands_single_user_shuffle(spark, sf_dir):
    """Distinct, window, and island agg all share the user-keyed
    partitioning lineage — the raw stream shuffles at most twice and
    never into a single partition."""
    plan = plan_str(QS["q_gaps_islands"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1


def test_rolling_corr_window_over_daily_rollup(spark, sf_dir):
    """All six trailing accumulations share one window over the daily
    rollup; the raw stream collapses in a partial/final agg first."""
    plan = plan_str(QS["q_rolling_corr"].fn(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1


def test_cohort_ltv_aggregate_then_join(spark, sf_dir):
    """The cohort table is an aggregate (one row per customer) joined
    back customer-keyed — never a window over the raw order stream."""
    plan = plan_str(QS["q_cohort_ltv"].fn(spark, sf_dir))
    assert "Window" not in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 4


def test_cumedist_single_nation_shuffle(spark, sf_dir):
    """One nation-keyed window exchange; the filter runs post-window (a
    cume_dist cut cannot be pushed) but the scan reads only the three
    referenced columns."""
    plan = plan_str(QS["q_window_cumedist"].fn(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "c_name" not in read_schema and "c_mktsegment" not in read_schema


def test_benford_digit_agg_combines_map_side(spark, sf_dir):
    """The digit histogram is a partial/final agg pair; the nine-row
    share window is the only post-agg work."""
    plan = plan_str(QS["q_benford_digits"].fn(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1


def test_dq_linenumbers_two_agg_levels(spark, sf_dir):
    """Order-keyed stats then the basket-size rollup — both map-side
    combined, the per-order distinct never becomes a global Expand."""
    plan = plan_str(QS["q_dq_linenumbers"].fn(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 4


def test_cumulative_users_stream_collapses_first(spark, sf_dir):
    """The raw stream collapses in the user x day distinct before any
    join or window; the cumulative window runs over the day series."""
    plan = plan_str(QS["q_cumulative_users"].fn(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 4
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1


def test_asof_nearest_two_windows_no_python(spark, sf_dir):
    """Nearest-direction as-of composes exactly two key-partitioned
    window passes (backward + forward) — no Python, no cartesian."""
    plan = plan_str(QS["q_join_asof_nearest"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 2


def test_event_paths_topn_never_global_sorts(spark, sf_dir):
    """Top-N paths compile to TakeOrderedAndProject; both aggs carry the
    partial/final pair."""
    plan = plan_str(QS["q_event_paths"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_rolling_distinct_replication_is_bounded_map(spark, sf_dir):
    """The 7x coverage explode is a narrow map over the collapsed
    user x day table (broadcast clip bound), never a join explosion."""
    plan = plan_str(QS["q_rolling_distinct_users"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1


def test_wow_growth_window_over_weekly_rollup(spark, sf_dir):
    """The fact stream collapses in the weekly partial/final agg; LAG
    runs over the |weeks|-row series."""
    plan = plan_str(QS["q_wow_growth"].fn(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1


# ---- round-5 continuation families: plan pins ----


def test_gini_one_exchange_for_window_and_agg(spark, sf_dir):
    """customer dim broadcasts; the rank window and the final agg share
    the ONE nationkey exchange (after the per-customer rollup's)."""
    plan = plan_str(QS["q_gini_concentration"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    # orders scan reads exactly custkey + totalprice (pruned)
    orders_reads = [l for l in read if "o_custkey" in l]
    assert orders_reads and all("o_orderdate" not in l for l in orders_reads)
    # exchanges: one for the (nation, cust) rollup + one on nationkey,
    # shared by window and final agg — no third
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2


def test_label_window_partitioned_no_global_sort(spark, sf_dir):
    plan = plan_str(QS["q_label_window"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, "label window must stay user-partitioned"
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read and "value" not in read  # pruned


def test_feature_hash_single_user_exchange(spark, sf_dir):
    plan = plan_str(QS["q_feature_hash"].fn(spark, sf_dir))
    # narrow token map + ONE user-keyed exchange with map-side combine
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert "BatchEvalPython" not in plan  # hashing stays JVM-side


def test_funnel_steps_aggregates_before_joins(spark, sf_dir):
    """Each funnel step joins one-row-per-user aggregates — the event
    stream is never joined to itself raw."""
    plan = plan_str(QS["q_funnel_steps"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_price_index_collapses_before_join(spark, sf_dir):
    """The fact stream collapses to (part, month) BEFORE the base join:
    partial+final HashAggregate pair appears below the join. (The rollup
    stays lazy: checkpointing it measured 1.32x slower on the 32-core
    bench host.)"""
    plan = plan_str(QS["q_price_index"].fn(spark, sf_dir))
    aggs = re.findall(r"^\(\d+\) HashAggregate", plan, re.M)
    assert len(aggs) >= 4  # pm rollup (partial+final) + final month rollup
    # every lineitem scan node (formatted plans separate nodes by a blank
    # line) must read a pruned schema
    scans = [node for node in plan.split("\n\n") if "lineitem.parquet" in node and "ReadSchema" in node]
    assert scans, "no lineitem scan in the plan"
    for scan in scans:
        read = next(l for l in scan.splitlines() if "ReadSchema" in l)
        assert "l_comment" not in read and "l_returnflag" not in read


def test_udtf_is_arrow_batched(spark, sf_dir):
    plan = plan_str(QS["q_udtf_chunks"].fn(spark, sf_dir), "simple")
    assert "BatchEvalPythonUDTF" not in plan, "UDTF must be Arrow-batched"
    assert "EvalPythonUDTF" in plan or "ArrowEvalPythonUDTF" in plan
