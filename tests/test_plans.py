"""Plan-quality gate (SURVEY §4): every headline query must produce
the physical plan we'd want at 100 TB — pushdown, pruning, broadcast
dims, bounded shuffles, codegen. A failure here is a scale regression
even when results stay correct."""

from __future__ import annotations

import pytest

from group5_spark.plans import inspect as I
from group5_spark.queries import QUERIES


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def run(name):
        return QUERIES[name](spark, sf_dir)

    return run


def test_pricing_summary_scan(q):
    df = q("pricing_summary")
    # shipdate predicate reaches the parquet scan
    I.assert_filter_pushed(df, "l_shipdate")
    # lineitem has 11 columns; the query needs 6 (5 + filter col)
    I.assert_scan_pruned(df, table_cols=11, max_cols=6)
    # one shuffle: the partial→final aggregate exchange
    I.assert_max_shuffles(df, 1)
    assert I.has_codegen(df)


def test_revenue_by_nation_broadcasts_all_dims(q):
    df = q("revenue_by_nation")
    assert I.num_broadcast_joins(df) == 3
    I.assert_no_fact_shuffle_join(df)
    # fact never shuffles pre-aggregation: agg exchange only
    I.assert_max_shuffles(df, 1)
    I.assert_scan_pruned(df, table_cols=11, max_cols=6)


def test_top3_parts_per_brand_shuffle_budget(q):
    df = q("top3_parts_per_brand")
    I.assert_no_fact_shuffle_join(df)
    # agg exchange + window repartition on p_brand
    I.assert_max_shuffles(df, 2)


def test_dim_join_queries_broadcast(q):
    for name in ("pct_revenue_by_segment", "avg_order_value"):
        df = q(name)
        assert I.num_broadcast_joins(df) >= 1, name
        I.assert_no_fact_shuffle_join(df)


def test_daily_revenue_single_shuffle(q):
    df = q("daily_revenue")
    # exact countDistinct needs the two-phase expand plan: 2 shuffles
    I.assert_max_shuffles(df, 2)
    I.assert_scan_pruned(df, table_cols=6, max_cols=3)


def test_funnel_single_shuffle(q):
    # conditional agg on user_id: one shuffle, then a scalar agg
    df = q("funnel_steps")
    I.assert_max_shuffles(df, 2)


def test_sim_topk_broadcasts_queries(q):
    df = q("sim_topk")
    # query side (8 vectors) broadcast → corpus never shuffles for the
    # join; only the per-query top-k window shuffles
    plan = I.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_exact_dedup_groups_on_hash(q):
    df = q("dedup_exact")
    # shuffle key must be the md5 hash, not the document body
    plan = I.formatted_plan(df)
    assert "md5" in plan
    I.assert_max_shuffles(df, 1)


def test_correlated_rewrites_single_shuffle(q):
    # window rewrites of MIN/AVG join-backs: one shuffle on the
    # correlation key (the self-join formulation would need two)
    df = q("cheapest_shipment_per_part")
    I.assert_max_shuffles(df, 1)
    # small_quantity_revenue adds the final scalar-agg exchange
    df = q("small_quantity_revenue")
    I.assert_max_shuffles(df, 2)


def test_nation_trade_volume_fact_fact(q):
    df = q("nation_trade_volume")
    # all four dims broadcast; at test SF the slim orders side fits
    # under the broadcast threshold too (5 broadcasts, 0-1 shuffles);
    # at 100 TB orders exceeds it and becomes the one shuffle join
    assert I.num_broadcast_joins(df) >= 4
    I.assert_max_shuffles(df, 3)


def test_asof_join_single_shuffle(q):
    # union + running window: one shuffle on user_id + scalar agg
    df = q("asof_last_click_before_error")
    I.assert_max_shuffles(df, 2)


def test_tumbling_window_partial_agg(q):
    df = q("tumbling_hourly_events")
    I.assert_max_shuffles(df, 1)
    I.assert_scan_pruned(df, table_cols=6, max_cols=3)


def test_shipping_priority_plan(q):
    df = q("shipping_priority")
    # both date predicates push to their scans
    I.assert_filter_pushed(df, "l_shipdate")
    I.assert_filter_pushed(df, "o_orderdate")
    # customer filter broadcasts; at test SF orders broadcasts too
    assert I.num_broadcast_joins(df) >= 1
    I.assert_no_fact_shuffle_join(df)
    # agg exchange + single-partition top-k window (post-agg, tiny)
    I.assert_max_shuffles(df, 3)


def test_profit_by_nation_year_broadcasts(q):
    df = q("profit_by_nation_year")
    assert I.num_broadcast_joins(df) == 3
    I.assert_no_fact_shuffle_join(df)
    I.assert_max_shuffles(df, 1)
    # lineitem: partkey, suppkey, shipdate, extprice, discount, qty
    I.assert_scan_pruned(df, table_cols=11, max_cols=6)


def test_top_supplier_plan(q):
    df = q("top_supplier_by_revenue")
    I.assert_filter_pushed(df, "l_shipdate")
    # supplier agg exchange + single-partition max window (100 rows)
    I.assert_max_shuffles(df, 2)


def test_supplier_counts_plan(q):
    df = q("supplier_counts_by_part")
    assert I.num_broadcast_joins(df) >= 1
    I.assert_no_fact_shuffle_join(df)
    # two-phase count-distinct: partial distinct + final agg
    I.assert_max_shuffles(df, 2)


def test_large_volume_customers_plan(q):
    df = q("large_volume_customers")
    # lineitem shuffles once for the per-order agg; the HAVING key
    # set broadcasts back, so no fact-fact shuffle join
    assert I.num_broadcast_joins(df) >= 2
    I.assert_max_shuffles(df, 3)


def test_repeat_orders_counts_pairs_without_enumerating(q):
    # pair COUNTS must come from the density rewrite (groupBy →
    # range-window sum), never a self-join whose output grows with
    # per-customer density² (measured 53 s at 64× in round 3's scale
    # curve before this rewrite)
    df = q("repeat_orders_within_3d")
    plan = I.formatted_plan(df)
    assert "Join" not in plan, "pair-count query must not plan a join"
    I.assert_max_shuffles(df, 2)


def test_window_navigation_single_window_op(q):
    # five functions, one shared (partition, order) spec → exactly one
    # Window operator and one exchange on o_custkey
    df = q("window_navigation_showcase")
    plan = I.formatted_plan(df)
    assert plan.count("Window") - plan.count("WindowGroupLimit") <= 2
    I.assert_max_shuffles(df, 1)


def test_waiting_suppliers_plan(q):
    # (orderkey,suppkey) agg → orderkey window → broadcast supplier →
    # final supplier agg: ≤3 exchanges, no fact shuffle for the dim
    df = q("waiting_suppliers")
    assert I.num_broadcast_joins(df) >= 1
    I.assert_max_shuffles(df, 3)


def test_forecast_revenue_change_pushdown(q):
    df = q("forecast_revenue_change")
    I.assert_filter_pushed(df, "l_shipdate")
    I.assert_filter_pushed(df, "l_discount")
    I.assert_filter_pushed(df, "l_quantity")
    # map-side partial + single-row final agg
    I.assert_max_shuffles(df, 1)
    I.assert_scan_pruned(df, table_cols=11, max_cols=5)


def test_returned_item_customers_plan(q):
    df = q("returned_item_customers")
    I.assert_filter_pushed(df, "l_returnflag")
    I.assert_filter_pushed(df, "o_orderdate")
    assert I.num_broadcast_joins(df) >= 2
    # agg exchange + top-20 single-partition window (+ slack for the
    # fact-fact join exchanges at larger SF)
    I.assert_max_shuffles(df, 4)


def test_promo_revenue_share_plan(q):
    df = q("promo_revenue_share")
    I.assert_filter_pushed(df, "l_shipdate")
    assert I.num_broadcast_joins(df) >= 1
    I.assert_no_fact_shuffle_join(df)
    I.assert_max_shuffles(df, 1)


# Queries whose plans legitimately contain a nested-loop/cartesian
# stage: all-pairs similarity over a (tiny, broadcast) side, or a
# deliberately-unkeyed pair enumeration bounded elsewhere.
def test_contamination_check_plan(q):
    df = q("contamination_check")
    # distinct test-shingle set broadcasts into the left-semi join
    assert I.num_broadcast_joins(df) >= 1
    I.assert_max_shuffles(df, 4)


def test_packed_sequence_bins_plan(q):
    # distributed prefix sum: shard window + tiny offsets window +
    # broadcast join back — never a global data-sized window
    df = q("packed_sequence_bins")
    assert I.num_broadcast_joins(df) >= 1
    I.assert_max_shuffles(df, 6)


def test_tfidf_plan(q):
    df = q("tfidf_top_terms")
    I.assert_max_shuffles(df, 6)
    assert I.has_codegen(df)


def test_grouping_sets_single_pass(q):
    # Expand operator: detail + subtotal + grand total in one scan,
    # one aggregate exchange — not three UNIONed queries
    df = q("grouping_sets_revenue")
    plan = I.formatted_plan(df)
    assert "Expand" in plan
    I.assert_max_shuffles(df, 1)


def test_dq_checks_bounded_shuffles(q):
    # one scalar agg for all row-local checks + one keyed agg for the
    # uniqueness check + the tiny union/meta join
    df = q("dq_orders_checks")
    I.assert_max_shuffles(df, 4)


def test_corpus_quality_gate_plan(q):
    # explode → (doc, term) agg → per-doc agg → per-source rollup:
    # three keyed shuffles, no join anywhere
    df = q("corpus_quality_gate")
    I.assert_max_shuffles(df, 3)
    plan = I.formatted_plan(df)
    assert "Join" not in plan


def test_kmeans_clusters_plan(q):
    # assignment is pure map-side codegen (distance HOFs against
    # literal centroids — no join); only the size/inertia agg shuffles
    df = q("kmeans_embedding_clusters")
    I.assert_max_shuffles(df, 1)
    plan = I.formatted_plan(df)
    assert "Join" not in plan


def test_bigram_counts_single_shuffle(q):
    df = q("bigram_top_counts")
    I.assert_max_shuffles(df, 1)
    assert I.has_codegen(df)


def test_gap_fill_broadcasts_daily_agg(q):
    df = q("gap_filled_daily_revenue")
    # spine (calendar-bounded) left-joins a BROADCAST daily aggregate;
    # the two shuffles are the daily agg feeding the bounds scalar-agg
    # and the same agg on the broadcast side — both partial-agg'd
    # map-side, so each moves at most #days rows
    assert I.num_broadcast_joins(df) >= 1
    I.assert_max_shuffles(df, 2)
    I.assert_scan_pruned(df, table_cols=6, max_cols=2)


def test_pii_redaction_is_map_only(q):
    df = q("pii_redaction_report")
    # regex scrub is pure codegen: zero shuffles, zero joins
    I.assert_max_shuffles(df, 0)
    assert I.has_codegen(df)


def test_boilerplate_fraction_broadcasts_frequent_set(q):
    df = q("boilerplate_ngram_fraction")
    # frequent-shingle set is broadcast; shuffles are the two hash
    # aggs (doc-frequency, per-doc rollup) over shingle/doc keys
    assert I.num_broadcast_joins(df) >= 1
    I.assert_max_shuffles(df, 2)


def test_cluster_representatives_shuffle_budget(q):
    df = q("dedup_cluster_representatives")
    # pair gen + min-label iterations + one cluster_id window; the
    # representative pick adds no shuffle beyond the window
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_temperature_resample_broadcasts_rates(q):
    df = q("lang_temperature_resample")
    # per-language rate table (k rows) broadcast back onto the corpus;
    # corpus rows never shuffle for the filter itself
    assert I.num_broadcast_joins(df) >= 1


def test_audio_decode_is_map_only(q):
    df = q("multimodal_audio_features")
    # synth → decode → project is one Arrow pipeline: zero shuffles
    I.assert_max_shuffles(df, 0)


def test_video_decode_is_map_only(q):
    df = q("multimodal_video_features")
    I.assert_max_shuffles(df, 0)


def test_unigram_logprob_plan(q):
    df = q("text_unigram_logprob")
    # vocabulary broadcasts back onto per-doc TF rows — the scoring
    # join must never shuffle doc-sized data
    assert I.num_broadcast_joins(df) >= 1
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_incremental_dedup_plan(q):
    df = q("dedup_incremental_new")
    # fingerprint anti-join + within-batch window; both sides reduce
    # to md5 before any exchange
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    I.assert_max_shuffles(df, 3)


def test_salted_join_runs_shuffled_hash(q):
    df = q("salted_segment_revenue")
    # the SHUFFLE_HASH hint must survive salting — a broadcast here
    # would mean the salted path never executed
    plan = I.formatted_plan(df)
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_per_source_cap_uses_window_group_limit(q):
    df = q("per_source_doc_cap")
    plan = I.formatted_plan(df)
    assert "WindowGroupLimit" in plan
    I.assert_max_shuffles(df, 1)


def test_supply_value_share_single_fact_scan(q):
    df = q("nation_supply_value_share")
    # dims broadcast; the global-total scalar comes from re-aggregating
    # the grouped result, so lineitem scans exactly once
    assert I.num_broadcast_joins(df) >= 2
    I.assert_no_fact_shuffle_join(df)
    # the grouped subplan feeds both the output and the global-total
    # scalar; the two identical agg exchanges must collapse to one
    # runtime fact scan via AQE exchange reuse
    df.collect()
    executed = I.simple_plan(df)
    assert "ReusedExchange" in executed or executed.count("lineitem") <= 1


def test_inverted_index_bounded_postings(q):
    df = q("inverted_index_postings")
    plan = I.formatted_plan(df)
    # the posting list must be rank-bounded before the array build —
    # an unbounded collect_list over a stopword term is the scale bug
    assert "WindowGroupLimit" in plan
    # (term,doc) tf agg + term-keyed stats/window exchanges; the
    # duplicated tf subplan dedupes at runtime via exchange reuse
    I.assert_max_shuffles(df, 4)
    df.collect()
    assert "ReusedExchange" in I.simple_plan(df)


def test_ohlc_single_shuffle(q):
    df = q("ohlc_hourly_value")
    # both rank windows and the final agg share the hour-bucket
    # partitioning: exactly one exchange end-to-end
    I.assert_max_shuffles(df, 1)
    assert I.has_codegen(df)


def test_trailing_distinct_bounded_expansion(q):
    df = q("trailing_7d_active_users")
    plan = I.formatted_plan(df)
    # the sliding-distinct rewrite: map-side Generate (bounded 7×),
    # never a day×day range self-join
    assert "Generate" in plan
    assert I.num_broadcast_joins(df) >= 1
    I.assert_no_fact_shuffle_join(df)
    # dedup exchange + exact countDistinct two-phase (expand) exchanges
    I.assert_max_shuffles(df, 4)


def test_brand_overlap_joins_on_membership_not_facts(q):
    df = q("brand_customer_overlap")
    plan = I.formatted_plan(df)
    # no membership self-join exists at all: pairs come from JVM-HOF
    # combinations over each customer's persisted sorted brand set —
    # no nested loop, no cartesian, and the fact join runs once under
    # InMemoryTableScan instead of three times
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan
    # fact join (2) + cust set agg (1) + brand totals (1) + pair agg
    # (1); down from 9 in the self-join formulation
    I.assert_max_shuffles(df, 5)


def test_fuzzy_pairs_blocked_equi_join(q):
    df = q("fuzzy_part_name_pairs")
    plan = I.formatted_plan(df)
    # the match must be an equi-join on the blocking key with the
    # edit-distance verify as a post-join filter — never an NLJ
    # all-pairs with levenshtein in the join condition
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    I.assert_max_shuffles(df, 2)


def test_ordered_funnel_two_phase_agg(q):
    df = q("ordered_funnel_users")
    # per-user conditional mins collapse map-side; the sequencing
    # comparison runs over user-cardinality rows, then a 1-row agg
    I.assert_max_shuffles(df, 2)
    I.assert_scan_pruned(df, table_cols=6, max_cols=3)
    assert I.has_codegen(df)


def test_pareto_share_windows_over_aggregate_only(q):
    df = q("revenue_pareto_share")
    # the rank window must sit above the per-customer aggregate —
    # bounded by customer cardinality, never a window over raw orders
    I.assert_max_shuffles(df, 3)
    I.assert_scan_pruned(df, table_cols=9, max_cols=2)


def test_pareto_two_pass_threshold_path_matches_exact(spark, sf_dir):
    """Force the high-cardinality two-pass plan (approx threshold →
    candidate-only rank → filtered sum) and check it returns the
    exact window path's answer bit-for-bit: the GK rank-error bound
    guarantees the candidate set covers the true top decile."""
    from group5_spark.queries import revenue_pareto_share

    exact = revenue_pareto_share(spark, sf_dir).collect()[0]
    two_pass = revenue_pareto_share(
        spark, sf_dir, two_pass_over=0
    ).collect()[0]
    assert two_pass["n_customers"] == exact["n_customers"]
    assert two_pass["top_decile_customers"] == exact["top_decile_customers"]
    assert two_pass["top_decile_share"] == exact["top_decile_share"]


def test_active_coverage_single_user_exchange(q):
    df = q("user_active_coverage")
    # islands window + session agg + user agg share user_id hashing
    I.assert_max_shuffles(df, 1)
    I.assert_scan_pruned(df, table_cols=6, max_cols=2)


def test_native_session_windows_single_shuffle(q):
    df = q("native_session_windows")
    # one user_id exchange; session assignment happens key-local
    I.assert_max_shuffles(df, 1)
    I.assert_scan_pruned(df, table_cols=6, max_cols=2)


def test_kmv_grouped_uses_window_group_limit(q):
    df = q("kmv_users_by_event_type")
    plan = I.formatted_plan(df)
    # per-group min-k must prune map-side, not collect all hashes
    assert "WindowGroupLimit" in plan
    I.assert_max_shuffles(df, 3)


def test_kmv_rollup_two_level_window_limits(q):
    df = q("kmv_weekly_rollup")
    plan = I.formatted_plan(df)
    # both sketch levels must bound state map-side
    assert plan.count("WindowGroupLimit") >= 2
    assert I.num_broadcast_joins(df) >= 1


def test_kmv_sketch_heap_not_sort(q):
    df = q("kmv_distinct_estimate")
    plan = I.formatted_plan(df)
    # the k smallest hashes must come from per-partition heaps
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_embedding_norm_stats_map_only_agg(q):
    df = q("embedding_norm_stats")
    # HOF fold stays in codegen; one 10-group agg exchange, no joins
    I.assert_max_shuffles(df, 1)
    assert I.has_codegen(df)
    assert I.num_broadcast_joins(df) == 0


def test_global_top_orders_avoids_global_sort(q):
    df = q("global_top_orders")
    plan = I.formatted_plan(df)
    # ORDER BY ... LIMIT must plan the heap-merge, not a range-exchange
    # full sort: at 100 TB the difference is 100 rows/partition moved
    # vs every row
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    I.assert_max_shuffles(df, 0)
    I.assert_scan_pruned(df, table_cols=9, max_cols=3)


def test_mad_broadcasts_median_table(q):
    df = q("mad_order_value_by_segment")
    # customer dim + 5-row median table both broadcast; the two
    # percentile aggs share the segment exchange via reuse
    assert I.num_broadcast_joins(df) >= 2
    I.assert_no_fact_shuffle_join(df)
    I.assert_max_shuffles(df, 2)


def test_winsorized_stats_single_segment_exchange(q):
    df = q("winsorized_order_stats")
    # customer dim broadcasts; the cume_dist window, bounds agg, and
    # final agg all hash-partition on segment
    assert I.num_broadcast_joins(df) >= 2
    I.assert_no_fact_shuffle_join(df)
    I.assert_max_shuffles(df, 2)
    df.collect()
    assert "ReusedExchange" in I.simple_plan(df)


def test_min_cost_supplier_window_min_decorrelation(q):
    """Q2: correlated MIN subquery must decorrelate into a window MIN
    — one shuffle of the filtered bridge, dims broadcast, top-100 via
    the heap-merge not a global sort."""
    df = q("min_cost_supplier")
    plan = I.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert I.num_broadcast_joins(df) >= 4  # part, sup, nation, region
    I.assert_no_fact_shuffle_join(df)
    # per-part window MIN exchange + the 1-row supplier-count agg
    # exchange from the partsupp derivation (carries 32 partial counts)
    I.assert_max_shuffles(df, 2)


def test_important_stock_share_single_bridge_scan(q):
    """Q11: the HAVING threshold re-aggregates the grouped result
    (1-row broadcast), never re-reads partsupp — one groupBy shuffle
    total."""
    df = q("important_stock_share")
    assert I.num_broadcast_joins(df) >= 2  # nation into supplier, sup-set into bridge
    I.assert_no_fact_shuffle_join(df)
    # group agg + 1-row threshold re-agg + 1-row supplier-count agg
    I.assert_max_shuffles(df, 3)


def test_excess_parts_suppliers_one_fact_shuffle(q):
    """Q20: decorrelated into ONE filtered lineitem aggregate; the
    red-part filter broadcasts into the fact scan; candidate suppliers
    drive a broadcast semi join."""
    df = q("excess_parts_suppliers")
    plan = I.formatted_plan(df)
    I.assert_filter_pushed(df, "l_shipdate")
    assert I.num_broadcast_joins(df) >= 3
    I.assert_no_fact_shuffle_join(df)
    # lineitem agg (the one fact shuffle) + distinct + final sort +
    # the 1-row supplier-count agg exchange
    I.assert_max_shuffles(df, 4)
    assert "LeftSemi" in plan


def test_parts_supplier_relationship_no_fact_shuffle_join(q):
    """Q16: complaint exclusion joins broadcast into the bridge scan;
    the only shuffles are the two-phase COUNT(DISTINCT) expand and
    the final sort."""
    df = q("parts_supplier_relationship")
    assert I.num_broadcast_joins(df) >= 2  # qualifying parts, ok suppliers
    I.assert_no_fact_shuffle_join(df)
    # distinct expand + final agg + orderBy + 1-row supplier-count agg
    I.assert_max_shuffles(df, 4)


def test_doc_repetition_filter_map_only_metrics(q):
    """Gopher repetition metrics must compute per-doc WITHOUT a
    word-level explode: no Expand/Generate feeding a shuffle — the
    only exchanges are the per-source rollup and its sort."""
    df = q("doc_repetition_filter")
    plan = I.formatted_plan(df)
    assert "Generate" not in plan  # no explode anywhere
    I.assert_max_shuffles(df, 2)
    assert I.num_sort_merge_joins(df) == 0


def test_corpus_shard_shuffle_no_global_sort_exchange(q):
    """The training-order shuffle must exchange on the SHARD id (hash
    partition) plus the display sort — never a single global range
    sort of the corpus."""
    df = q("corpus_shard_shuffle")
    I.assert_max_shuffles(df, 2)
    assert I.num_sort_merge_joins(df) == 0


def test_embedding_int8_quantization_map_only(q):
    """Quantization + error metrics are HOF folds: no explode, no
    join; the only exchanges are the 10-group rollup and its sort."""
    df = q("embedding_int8_quantization")
    plan = I.formatted_plan(df)
    assert "Generate" not in plan and "Join" not in plan
    I.assert_max_shuffles(df, 2)


def test_doc_chunk_windows_is_map_only(q):
    """Chunking must stay a zero-shuffle HOF pipeline: split/sequence/
    slice under codegen plus one Generate (the chunk explode) — no
    join, no exchange, at any scale."""
    df = q("doc_chunk_windows")
    plan = I.formatted_plan(df)
    assert "Join" not in plan
    I.assert_max_shuffles(df, 0)


def test_monthly_open_order_lines_bucketed_range_join(q):
    """The point-in-interval join must use the bucketed decomposition:
    an equi-join + month-bucket explode + hash agg — never a nested-
    loop range join against the calendar."""
    df = q("monthly_open_order_lines")
    plan = I.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the bounded month-bucket explode
    I.assert_max_shuffles(df, 3)


NLJ_ALLOWED = {
    "min_cost_supplier",        # 1-row supplier-count broadcast (partsupp derive)
    "important_stock_share",    # same + 1-row threshold broadcast
    "excess_parts_suppliers",   # 1-row supplier-count broadcast (partsupp derive)
    "parts_supplier_relationship",  # 1-row supplier-count broadcast (partsupp derive)
    "text_unigram_logprob",          # 1-row corpus-total broadcast
    "text_bigram_logprob",           # 1-row corpus-total broadcast
    "nation_supply_value_share",     # 1-row global-total broadcast
    "sim_topk",              # query side broadcast (8 vectors)
    "sim_lsh_topk",          # bucket-local pairs after LSH banding
    "sim_ivf_topk",          # probe×centroid distances (tiny)
    "knn_label_vote",        # reuses sim_topk's broadcast NLJ
    "dedup_embedding_cosine",    # documented brute-force baseline
    "dedup_jaccard_pairs",       # candidate pairs from shared shingles
    "crossmodal_dup_agreement",  # reuses the cosine pair set
    "scalar_subquery_pricey_parts",  # scalar subquery → 1-row bcast NLJ
    "rich_inactive_customers",       # scalar AVG subquery, same shape
    "small_quantity_revenue",        # scalar agg join-back
    "tfidf_top_terms",               # 1-row N(docs) scalar broadcast
    "packed_sequence_bins",          # 1-row min/max id bounds broadcast
    "lang_temperature_resample",     # 1-row total/max-weight broadcasts
    "kmv_distinct_estimate",         # 1-row sketch × 1-row exact-count bcast
    "histogram_weekly_percentiles",  # 1-row (lo, width) bounds broadcast ×2
    "sketch_scale_stats",            # 1-row (lo, width) bounds broadcast ×2
    "semantic_dedup_survivors",      # corpus × k-centroid assignment
                                     # broadcast (k=8), collapsed
                                     # map-side before any shuffle
    "semantic_dedup_incremental_survivors",  # batch × 8-row centroid
                                     # broadcast for the domination
                                     # ranking's cent_sim, same shape
    "semantic_dedup_atypical_survivors",  # same assignment broadcast,
                                     # paper keep-rule election
}


@pytest.fixture(scope="module")
def built(spark):
    """Every registry query built once at sf0.001 and shared by the
    registry-wide guards below (building one can run Spark jobs, so
    building the registry twice doubles their cost)."""
    cache = {}

    def get(name):
        if name not in cache:
            cache[name] = QUERIES[name](spark, "/root/testdata/sf0.001")
        return cache[name]

    return get


def test_no_query_plans_a_cartesian_product(built):
    """Registry-wide scale guard: no query may silently regress to a
    cartesian product / unbounded nested loop. Catches a forgotten
    join key or an inequality-only condition in ANY future query."""
    offenders = {}
    for name in QUERIES:
        plan = I.formatted_plan(built(name))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in NLJ_ALLOWED:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_no_query_outputs_driver_unhashable_columns(built):
    """Registry-wide driver-canonicalization guard (round-3 lesson:
    `order_part_baskets` / `inverted_index_postings` went driver-red
    with `TypeError: unhashable type: 'list'`).

    The driver's oracle gate pandas-`sort_values` every final column,
    which throws on list/dict cells and hashes Decimal differently
    from DuckDB's float path. So EVERY oracle-backed query's final
    schema must be scalar: no ArrayType/MapType/StructType anywhere,
    and no DecimalType either. Arrays must be serialized in the final
    select — `F.array_join(...)` on Spark, `array_to_string`/
    `string_agg(... ORDER BY ...)` in the DuckDB oracle."""
    from pyspark.sql import types as ST

    from group5_spark.queries import ORACLES

    offenders = {}
    for name in QUERIES:
        if name not in ORACLES:
            continue  # rows-only queries never reach the hash compare
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in built(name).schema.fields
            if isinstance(
                f.dataType,
                (ST.ArrayType, ST.MapType, ST.StructType, ST.DecimalType),
            )
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "driver-unhashable final columns (serialize arrays, cast "
        f"decimals): {offenders}"
    )


def test_text_classifier_is_one_map_only_scan(q):
    """The hashed-n-gram classifier must classify with ZERO exchanges:
    the model is an expression literal, features/hash/fold are
    codegen'd per row — scoring 100 TB is exactly one scan."""
    df = q("text_classifier_scores")
    I.assert_max_shuffles(df, 0)
    assert I.has_codegen(df)
