"""Scale-guard tests: lock in the physical-plan properties that matter at
100 TB — filter pushdown to the parquet scan, column pruning, broadcast
joins for dimensions, codegen coverage."""

import os

from pyspark.sql import functions as F

from rad_database_parse_spark.plans import (
    formatted_plan,
    has_pushed_filter,
    reads_only_columns,
    uses_broadcast_join,
)
from rad_database_parse_spark.registry.core_relational import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_revenue_by_nation,
)


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    assert has_pushed_filter(df, "l_shipdate")
    # scan must not read join keys / partkeys it doesn't need
    assert reads_only_columns(
        df,
        {
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_shipdate",
        },
    )


def test_q5_broadcasts_dimensions(spark, sf_dir):
    df = q5_revenue_by_nation(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_q3_pushes_both_filters(spark, sf_dir):
    df = q3_shipping_priority(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("PushedFilters: [") >= 2  # orders + lineitem scans


def test_projection_prunes_unused_columns(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    assert reads_only_columns(df, {"l_returnflag", "l_quantity"})


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    from rad_database_parse_spark.registry.core_relational import (
        bucketed_join_no_shuffle,
    )

    df = bucketed_join_no_shuffle(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # co-located bucketed join: nothing below the SortMergeJoin may shuffle
    # (both scans read co-bucketed files; SelectedBucketsCount proves it)
    assert "SortMergeJoin" in plan
    join_subtree = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_subtree
    assert "SelectedBucketsCount" in plan


def test_partitioned_scan_prunes_partitions(spark, sf_dir):
    import tempfile

    from rad_database_parse_spark.catalog.io import write_partitioned

    path = tempfile.mkdtemp(prefix="prune_test_") + "/orders"
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_partitioned(o, path, partition_by=["o_orderpriority"])
    df = spark.read.parquet(path).filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).groupBy().count()
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "1-URGENT" in plan


def test_q6_pushes_shipdate_and_prunes(spark, sf_dir):
    from rad_database_parse_spark.registry.tpch_deep import q6_forecast_revenue

    df = q6_forecast_revenue(spark, sf_dir)
    assert has_pushed_filter(df, "l_shipdate")
    assert reads_only_columns(
        df, {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    )


def test_q8_broadcasts_all_dimensions(spark, sf_dir):
    from rad_database_parse_spark.registry.tpch_deep import q8_market_share

    plan = formatted_plan(q8_market_share(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4  # part, n1, region, supplier, n2


def test_q18_top20_is_take_ordered(spark, sf_dir):
    from rad_database_parse_spark.registry.tpch_deep import q18_large_volume_orders

    assert "TakeOrderedAndProject" in formatted_plan(
        q18_large_volume_orders(spark, sf_dir)
    )


def test_deterministic_sample_prunes_columns(spark, sf_dir):
    from rad_database_parse_spark.registry.sampling_profile import (
        deterministic_sample,
    )

    assert reads_only_columns(
        deterministic_sample(spark, sf_dir),
        {"l_orderkey", "l_linenumber", "l_quantity"},
    )


def test_scd2_probes_broadcast(spark, sf_dir):
    from rad_database_parse_spark.registry.etl_ops import scd2_customer_history

    plan = formatted_plan(scd2_customer_history(spark, sf_dir))
    # both the semi and the anti probe of the update-key set broadcast —
    # the dimension never shuffles
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q21_single_fact_pass(spark, sf_dir):
    from rad_database_parse_spark.registry.tpch_deep import q21_waiting_supplier

    plan = formatted_plan(q21_waiting_supplier(spark, sf_dir))
    # the double correlation resolves via windows over ONE joined subtree —
    # lineitem is scanned once, not three times as in the textbook
    # EXISTS/NOT-EXISTS formulation (tree section only: the details section
    # repeats every node name)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 3  # lineitem + orders + supplier
    # both window columns ride ONE sort+exchange (same partitioning)
    assert tree.count("Exchange") - tree.count("BroadcastExchange") <= 2


def test_funnel_reuses_user_partitioning(spark, sf_dir):
    from rad_database_parse_spark.registry.events_ops import (
        funnel_view_click_purchase,
    )

    plan = formatted_plan(funnel_view_click_purchase(spark, sf_dir))
    # all three stages and the per-user fold share one user_id shuffle;
    # the only other exchange gathers the final counts
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 2
    assert plan.count("hashpartitioning(") == 1
    assert "Join" not in tree


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    from rad_database_parse_spark.registry.llm_ops import docs_decontaminate

    plan = formatted_plan(docs_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_band_join_is_broadcast_nlj(spark, sf_dir):
    from rad_database_parse_spark.registry.pipeline_ops import (
        range_band_join_orders,
    )

    plan = formatted_plan(range_band_join_orders(spark, sf_dir))
    # non-equi interval join over a tiny dim must broadcast, never cartesian
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_part_name_neardup_blocks_before_distance(spark, sf_dir):
    from rad_database_parse_spark.registry.pipeline_ops import part_name_neardup

    plan = formatted_plan(part_name_neardup(spark, sf_dir))
    # the string-similarity join must be an equi-join on the block key
    # (hash-partitioned candidates), not an all-pairs product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_anomaly_zscore_broadcasts_stats(spark, sf_dir):
    from rad_database_parse_spark.registry.pipeline_ops import (
        events_anomaly_zscore,
    )

    assert uses_broadcast_join(events_anomaly_zscore(spark, sf_dir))


def test_scd2_pointintime_is_hash_join_with_residual(spark, sf_dir):
    from rad_database_parse_spark.registry.etl_ops import scd2_pointintime_join

    plan = formatted_plan(scd2_pointintime_join(spark, sf_dir))
    # temporal lookup must carry the join on the equi-key (hash join) with
    # the validity interval as a residual condition — never a nested loop
    # over fact x versions
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_filter_stays_jvm_side(spark, sf_dir):
    """docs_repetition_filter builds n-grams row-locally with zip_with:
    the plan must contain NO Python evaluation and must read only the two
    columns it uses — the properties that keep it cheap at corpus scale."""
    from rad_database_parse_spark.registry.llm_ops import docs_repetition_filter

    df = docs_repetition_filter(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert reads_only_columns(df, {"doc_id", "text"})


def test_minhash_verify_is_class_level(spark, sf_dir, executed_plans):
    """The verify join must attach token arrays to class pairs, not doc
    pairs: the class table is keyed on the sorted token set (cset) and
    checkpointed while the query is built, and the returned plan runs
    the exact array_intersect verify over it."""
    from rad_database_parse_spark.registry.llm_ops import docs_minhash_lsh

    built, df = executed_plans(lambda: docs_minhash_lsh(spark, sf_dir))
    assert "array_intersect" in formatted_plan(df)  # exact verify still present
    assert any("sort_array" in p for p in built)  # class key construction


def test_incremental_dedup_broadcasts_increment(spark, sf_dir):
    """The increment side (new batch) must broadcast into the corpus band
    join — a corpus shuffle keyed on band signatures would defeat the
    operator's purpose (ingest pays for the increment, not the corpus)."""
    from rad_database_parse_spark.registry.llm_ops import (
        docs_incremental_neardup,
    )

    df = docs_incremental_neardup(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_resample_ffill_stays_jvm_side(spark, sf_dir):
    """The resample/ffill grid is pure window + sequence work: no Python
    evaluation anywhere, and the events scan reads only the columns the
    grid needs."""
    from rad_database_parse_spark.registry.events_ops import (
        events_resample_ffill,
    )

    df = events_resample_ffill(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert reads_only_columns(df, {"user_id", "ts", "value", "event_id"})


def test_interval_bin_join_is_equi_not_nlj(spark, sf_dir):
    from rad_database_parse_spark.registry.round5_ops import (
        interval_bin_join_events,
    )

    df = interval_bin_join_events(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the theta condition must ride a hash equi-join on the time bin —
    # never the quadratic nested loop the raw |Δt| predicate would plan
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan


def test_bloom_prune_filters_before_semijoin(spark, sf_dir):
    from rad_database_parse_spark.registry.round5_ops import (
        bloom_prune_semijoin,
    )

    df = bloom_prune_semijoin(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the bitset is a literal packed-word array, and the membership probe
    # (3 constant-time bit tests) must sit BELOW the exact semi-join: it
    # appears in the semi-join's probe-side subtree, pruning map-side
    # before any exchange the semi-join needs
    semi = plan[plan.index("LeftSemi"):]
    assert "shiftright" in semi


def test_vocab_topn_is_take_ordered(spark, sf_dir):
    from rad_database_parse_spark.registry.round5_ops import (
        docs_vocab_coverage,
    )

    df = docs_vocab_coverage(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the top-N vocabulary must be TakeOrderedAndProject (per-partition
    # N-row heaps), never a global Sort of the full frequency table
    assert "TakeOrderedAndProject" in plan


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_curation_joins_all_broadcast(spark, sf_dir):
    # every r5c join rides a broadcast of the small side (count tables,
    # distinct-price table, sketch cells, dims) — an SMJ anywhere means a
    # full-data shuffle crept in
    from rad_database_parse_spark.registry.curation_ops import (
        docs_bigram_lm_score,
        events_cms_heavy_hitters,
        nation_supplier_hhi,
        orders_calendar_densify,
        part_skyline_pareto,
    )

    for fn in (
        docs_bigram_lm_score,
        part_skyline_pareto,
        orders_calendar_densify,
        events_cms_heavy_hitters,
        nation_supplier_hhi,
    ):
        plan = _executed(fn(spark, sf_dir))
        assert "SortMergeJoin" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan, fn.__name__


def test_frame_sample_is_shuffle_free(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        multimodal_frame_sample,
    )

    plan = _executed(multimodal_frame_sample(spark, sf_dir))
    # the 1->N frame expansion happens inside the Arrow batch: no exchange
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_arrow_native_keeps_pushdown_and_partial_agg(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        arrow_native_net_revenue,
    )

    df = arrow_native_net_revenue(spark, sf_dir)
    plan = _executed(df)
    # scan must read only the three columns the Arrow stage consumes
    assert "l_orderkey" not in plan.split("ReadSchema")[-1]
    # the groupBy must partial-aggregate before its exchange
    assert plan.count("HashAggregate") >= 2


def test_ewma_single_user_exchange(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        events_ewma_smoothing,
    )

    plan = _executed(events_ewma_smoothing(spark, sf_dir))
    # one shuffle total: the user_id window partitioning
    assert plan.count("Exchange") == 1


def test_basket_association_prunes_before_pair_join(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        basket_part_association,
    )

    plan = _executed(basket_part_association(spark, sf_dir))
    # the L1 min-support prune and metric lookups ride broadcasts; the
    # orderkey pair join must never fall back to a nested loop
    assert "NestedLoop" not in plan.replace("BroadcastNestedLoopJoin", "")
    assert plan.count("BroadcastHashJoin") >= 3


def test_drift_monitor_prunes_scan_columns(spark, sf_dir):
    from rad_database_parse_spark.registry.curation_ops import (
        orders_priority_drift_chi2,
    )

    df = orders_priority_drift_chi2(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both window aggregations read only (o_orderdate, o_orderpriority)
    tail = plan.split("ReadSchema")[-1]
    assert "o_totalprice" not in tail and "o_custkey" not in tail


def test_ntile_family_has_no_unpartitioned_window(spark, sf_dir):
    # VERDICT r5: the three exact-NTILE queries used to funnel their whole
    # (customer/user-grain) input through ONE task. They now rank via
    # operators/ranking.exact_ntile — every Window in their plans must
    # carry a partitionSpec (the range bucket).
    from rad_database_parse_spark.plans import unpartitioned_window_count
    from rad_database_parse_spark.registry.pipeline_ops import (
        events_rfm_segmentation,
        ntile_decile_stats,
    )
    from rad_database_parse_spark.registry.round5d_ops import (
        customer_decile_migration,
    )

    for fn in (ntile_decile_stats, events_rfm_segmentation,
               customer_decile_migration):
        assert unpartitioned_window_count(fn(spark, sf_dir)) == 0, fn.__name__


def test_unpartitioned_window_whitelist_does_not_grow(spark, sf_dir):
    # Repo-wide scale audit (r6): every unpartitioned WindowExec left in
    # the registry is either bounded-input by construction or map-side
    # top-k pruned. A NEW query introducing a global window over
    # fact-grain rows must fail here and justify itself.
    from rad_database_parse_spark.plans import unpartitioned_window_count
    from rad_database_parse_spark.registry import all_queries
    from rad_database_parse_spark.registry.round7ap_ops import _DOCS_DIR

    # builders with eager side effects (streaming replay, txn commits,
    # Observation sinks) — plan inspection would re-run the side effects
    eager = {
        "stream_ivm_rollup_maintenance", "txn_snapshot_merge_upsert",
        "txn_time_travel_read", "stateful_sessionizer_stream",
        "stream_foreachbatch_upsert", "dq_observe_metrics",
        "txn_vacuum_retention", "stream_txn_exactly_once_sink",
        "events_funnel_wilson_ci",  # three count() actions in the builder
        "pyds_jsonl_roundtrip_nation",  # writes through the sink eagerly
        "txn_change_data_feed",  # runs the commit protocol eagerly
        "docs_minhash_recall_vs_exact",  # three count() actions in builder
        "txn_optimize_compact",  # commits create+optimize versions eagerly
        "orders_holt_recursive_forecast",  # bounded month-grain collect
        "pyds_stream_events_replay",  # runs the streaming replay eagerly
        "txn_concurrent_conflict_retry",  # runs the two-writer race eagerly
        "events_markov_removal_attribution",  # bounded transition collect
        "events_markov_reward_value",  # bounded transition collect
        "events_absorbing_expected_steps",  # bounded transition collect
        "supplier_nation_greedy_assignment",  # bounded edge-table collect
    }
    whitelist = {
        # bounded input grain at ANY corpus size:
        "orders_backlog_sweepline",     # calendar-day grain deltas
        "lineitem_ks_two_sample",       # distinct l_quantity values (~50)
        "null_semantics_suite",         # fixed test battery rows
        "histogram_totalprice",         # fixed bin count
        "events_type_share",            # |event types| rows
        "paper_dim_join",               # dimension-grain surrogate keys
        "part_skyline_pareto",          # distinct-price grain (formula-bounded)
        "orders_gini_best_split_stump", # fixed 20k-wide histogram bins (~60)
        "events_slo_burn_alerts",       # calendar-hour grain trailing frame
        "docs_zipf_rank_freq",          # rank window AFTER the top-50 limit
        "lineitem_seasonal_decompose",  # calendar-month grain row index
        "orders_xmr_control_chart",     # calendar-month grain row index
        "orders_runs_test",             # calendar-month grain sign lag
        "customer_lorenz_deciles",      # decile grain (10 rows)
        "orders_wasserstein_year_drift",  # fixed $20-bin grid (bounded)
        "orders_forecast_scoreboard_mape",  # calendar-month grain lags
        "orders_anomaly_ensemble_votes",  # calendar-day grain rolling mean
        "lineitem_isotonic_return_calibration",  # discount-cell grain (11)
        "events_page_hinkley_drift",    # calendar-day grain cumulatives
        "lineitem_discount_tax_mutual_info",  # 11x9 cell-grain marginals
        "categorical_cramers_v_matrix",  # contingency-cell grain (<=49)
        "docs_retrieval_ndcg_eval",     # rank windows AFTER the top-10 limit
        "nation_borda_priority_consensus",  # consensus rank over 5 rows
        "events_dtw_hourly_profiles",   # global-profile total over 24 rows
        "orders_chi2_cell_residuals",   # marginals over the 15-cell table
        "customer_coverage_greedy_brands",  # brand-bit rank over 25 rows
        "customer_segment_holm_ztests",  # |z| rank over 5 segments
        "emb_nearest_centroid_confusion",  # accuracy over <=100 cells
        "lineitem_neyman_allocation_plan",  # totals over 3 strata rows
        "orders_expanding_window_cv",   # CV mean over 6 fold rows
        "supplier_kraljic_quadrants",   # spend share over 4 quadrants
        "customer_t_closeness_audit",   # global-histogram total (11 bins)
        "events_uplift_qini_by_segment",  # Qini cumsum over 5 buckets
        "part_demand_adi_cv2_classes",  # class-census share (4 rows)
        "orders_cumulative_distinct_customers",  # month axis (~84 rows)
        "dq_volume_dod_anomaly",        # calendar-day grain DoD lag
        "customer_segment_bh_fdr",      # |z| rank over 5 segments
        "join_order_cost_enumeration",  # plan rank over 4 rows
        # map-side top-k pruned (WindowGroupLimit asserted below):
        "docs_bm25_topk",
        "docs_bpe_first_merge",
        "events_cms_heavy_hitters",
        "docs_hybrid_rrf_fusion",  # composes docs_bm25_topk's pruned window
    }
    pruned = {
        "docs_bm25_topk",
        "docs_bpe_first_merge",
        "events_cms_heavy_hitters",
        "docs_hybrid_rrf_fusion",
    }
    # pdf_real_lattice_goldens reads PDFs shipped only with the reference
    # repo: without them its plan cannot be built, so it is left out
    unbuildable = (
        set() if os.path.isdir(_DOCS_DIR) else {"pdf_real_lattice_goldens"}
    )
    offenders = {}
    for name, qd in all_queries().items():
        if name in eager or name in unbuildable:
            continue
        df = qd.fn(spark, sf_dir)
        n = unpartitioned_window_count(df)
        if n:
            offenders[name] = n
            if name in pruned:
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert "WindowGroupLimit" in plan, name
    assert set(offenders) <= whitelist, offenders


def test_gram_build_is_arrow_partial_not_posexplode(spark, sf_dir):
    # r7 re-plan guard: the PC Gram builds must stay the per-partition
    # integer QtQ (mapInArrow partial + bounded groupBy), never the
    # double-posexplode that inflated each vector to d^2 rows through
    # the scan stage (VERDICT r6 item 4).
    from rad_database_parse_spark.plans import physical_plan
    from rad_database_parse_spark.registry import all_queries

    for name in ("emb_top_pc_power_iteration", "emb_second_pc_deflation"):
        df = all_queries()[name].fn(spark, sf_dir)
        plan = physical_plan(df)
        assert "Generate explode" not in plan and "PosExplode" not in plan, name


def test_ahash_band_join_count_and_fold_parallelism(spark, sf_dir):
    # r7 re-plan guard: the widened aHash keeps FOUR band-bucket join
    # arms (exact ham<=3 pigeonhole) and hash-repartitions the payload
    # fold so a single-file scan cannot serialize it onto one core.
    from rad_database_parse_spark.plans import physical_plan
    from rad_database_parse_spark.registry import all_queries

    df = all_queries()["multimodal_payload_ahash_dedup"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("bit_count") >= 4  # per-band XOR popcount verify
    assert "hashpartitioning(doc_id" in plan  # fold spread across cores


def test_part_name_neardup_length_band_in_join_key(spark, sf_dir):
    # r9 skew re-plan guard: the |len_a-len_b|<=2 prefilter must live IN
    # the join key (probe side explodes 5 length keys), not in a
    # post-join filter — at 100x a post-join filter leaves ~0.5G pairs
    # of one hot block in a single un-splittable task.
    import re

    from rad_database_parse_spark.plans import physical_plan
    from rad_database_parse_spark.registry.pipeline_ops import part_name_neardup

    plan = physical_plan(part_name_neardup(spark, sf_dir))
    assert re.search(r"Join \[blk#\d+, lk#\d+\]", plan), plan[:2000]
    assert "abs(" not in plan  # the length band is keyed, never filtered


def test_pagerank_degree_window_adds_no_exchange(spark, sf_dir):
    # r9 persist-fold premise (llm/cluster.pagerank_fixed_point): a
    # count(*) window partitioned by src on top of repartition(n, src)
    # must satisfy the window's required distribution — ONE exchange in
    # the whole subplan. If a Spark upgrade ever breaks this, the fold
    # silently doubles its setup shuffles; fail loudly here instead.
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from rad_database_parse_spark.plans import physical_plan

    e = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    deg = e.repartition(8, "src").withColumn(
        "d", F.count("*").over(Window.partitionBy("src"))
    )
    plan = physical_plan(deg)
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan


def test_multi_distinct_replans_are_expand_free(spark, sf_dir):
    # r11 Expand sweep (SCALE.md "Re-plans recorded in round 11"): these
    # three queries were re-planned to avoid RewriteDistinctAggregates'
    # row-replicating Expand (x7 / x4 / x3 on their inputs). If an edit
    # reintroduces a multi-distinct aggregate, the Expand comes back and
    # the scan volume multiplies at scale — fail loudly here.
    from rad_database_parse_spark.plans import physical_plan
    from rad_database_parse_spark.registry import all_queries

    registry = all_queries()
    for name in (
        "orders_column_profile",
        "sketch_kmv_set_ops",
        "docs_normalization_collapse",
    ):
        plan = physical_plan(registry[name].fn(spark, sf_dir))
        assert "Expand" not in plan, f"{name} regressed to an Expand plan"


def test_column_profile_legs_prune_to_one_column_each(spark, sf_dir):
    # each of the six union legs must scan exactly its own column — the
    # whole point of the per-column split (one wide scan's IO, no x7)
    import re

    from rad_database_parse_spark.plans import physical_plan
    from rad_database_parse_spark.registry import all_queries

    plan = physical_plan(
        all_queries()["orders_column_profile"].fn(spark, sf_dir)
    )
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == 6, plan
    for s in schemas:
        assert s.count(":") == 1, f"leg reads more than one column: {s}"
