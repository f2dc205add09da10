"""Physical-plan audits: assert the plans we designed for are the plans
Catalyst actually produces. Correctness tests prove the small-SF answer;
these prove the 100 TB shape — filters reach the parquet scan, column
pruning trims the ReadSchema, small dims broadcast, global top-k never
globally sorts, and aggregates run partial+final inside whole-stage
codegen. A regression here is a scale bug even when every value still
matches the oracle.
"""

from __future__ import annotations

import re

import pytest

from batch_public_spark.plans import QUERIES
from tests.conftest import SF_DIR


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def plan(spark, name: str) -> str:
    return plan_of(QUERIES[name].fn(spark, SF_DIR))


def test_filter_pushdown_reaches_scan(spark):
    """q3's o_orderdate predicate must appear in PushedFilters on the
    orders scan (parquet row-group pruning at scale)."""
    p = plan(spark, "q3_shipping_priority")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
    assert any("orderdate" in f.lower() for f in pushed), pushed


def test_column_pruning_trims_readschema(spark):
    """q1 touches 7 of lineitem's 11 columns; the scan must not read the
    rest (ReadSchema is the columnar-IO contract)."""
    p = plan(spark, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m is not None
    cols = m.group(1)
    assert "l_orderkey" not in cols and "l_partkey" not in cols, cols
    assert "l_returnflag" in cols and "l_quantity" in cols


def test_small_dims_broadcast(spark):
    """region/nation joins must be broadcast-hash, not sort-merge — a
    shuffle of the fact table on a dim key is the classic 100 TB mistake."""
    p = plan(spark, "join_broadcast_geo")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_global_topk_is_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject (per-partition
    heap + driver merge), never a global Sort."""
    p = plan(spark, "topk_orders_global")
    assert "TakeOrderedAndProject" in p


def test_agg_is_partial_final(spark):
    """q1's aggregate must be two-phase hash aggregation: map-side
    partial_sum/partial_count before the exchange, final after. (AQE's
    pre-execution formatted plan doesn't annotate codegen spans, so the
    partial_* markers are the assertable contract.)"""
    p = plan(spark, "q1_pricing_summary")
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) >= 2, "expected partial+final"
    assert "partial_sum" in p and "partial_count" in p


def test_semi_anti_joins_stay_joins(spark):
    """EXISTS/NOT EXISTS must decorrelate to semi/anti hash joins — no
    nested-loop or per-row subquery artifacts."""
    p = plan(spark, "subquery_exists_correlated")
    assert "LeftSemi" in p or "ExistenceJoin" in p, p[:2000]
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p


@pytest.mark.parametrize(
    "name", ["llmops_ann_bruteforce", "llmops_ann_lsh", "llmops_ann_ivf"]
)
def test_ann_topk_is_mapside_gemm_single_exchange(spark, name):
    """The ANN top-k kernel: candidate selection + cosine + per-task top-k
    all happen map-side in one MapInPandas over the corpus scan (the query
    side and IVF's centroid list are collected control-plane samples). The
    ONLY exchange left is the final ≤K·k·n_tasks window merge on query_id
    — no candidate-pair distinct, no join shuffling the vector payloads."""
    p = plan(spark, name)
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1, p
    assert "Join" not in p and "CartesianProduct" not in p, p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p


def test_mad_outlier_stats_broadcast_at_runtime(spark):
    """dq_orders_mad_outliers joins its 5-row median and MAD frames back
    without a broadcast hint; adaptive execution must still broadcast both
    (no sort-merge join on the orders side) once their sizes are known."""
    df = QUERIES["dq_orders_mad_outliers"].fn(spark, SF_DIR)
    df.collect()
    p = plan_of(df)
    final = p.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final, final
    assert len(re.findall(r"BroadcastHashJoin", final)) == 2, final


@pytest.mark.parametrize(
    "name",
    ["q5_region_revenue", "join_left_order_counts", "subquery_having_big_orders"],
)
def test_no_cartesian_products(spark, name):
    """None of the equi-join queries may degrade to a cartesian/nested-loop
    product."""
    p = plan(spark, name)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q6_all_predicates_pushed(spark):
    """Q6 is the pushdown showcase: shipdate/discount/quantity predicates
    must all reach the parquet scan."""
    p = plan(spark, "q6_forecast_revenue")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", p)).lower()
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_tpch_dims_broadcast_no_smj(spark):
    """Q7/Q10: every dim side (nation/customer/supplier/region) broadcasts;
    the only sort-merge-eligible join is fact-fact on orderkey."""
    for name in ("q7_nation_volume", "q10_returned_items"):
        p = plan(spark, name)
        assert p.count("BroadcastHashJoin") >= 3, name
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, name


def test_q10_topk_is_take_ordered(spark):
    """Q10's ORDER BY revenue LIMIT 20 must be TakeOrderedAndProject."""
    p = plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in p


def test_q4_exists_is_semi_join(spark):
    """Q4's EXISTS must stay a left-semi join (no row explosion, no
    nested-loop re-scan)."""
    p = plan(spark, "q4_priority_exists")
    assert "LeftSemi" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_lateral_decorrelates_to_rank_filter(spark):
    """The LATERAL ORDER BY LIMIT subquery must decorrelate to a window
    rank-filter (one pass over customer), not a per-nation re-scan loop."""
    p = plan(spark, "lateral_top2_per_nation")
    assert "Window" in p, p[:2000]
    assert "CartesianProduct" not in p


def test_inline_values_is_local_relation(spark):
    """The VALUES dim must stay a LocalTableScan feeding a broadcast —
    never a shuffle exchange on the fact side of that join."""
    p = plan(spark, "values_inline_dim_join")
    assert "LocalTableScan" in p
    assert "BroadcastHashJoin" in p


def test_q2_supply_window_single_shuffle_and_broadcast_dims(spark):
    """q2's per-part MIN window must reuse the partkey shuffle of the
    supply groupBy (one Exchange on l_partkey feeds both); all four dims
    broadcast."""
    p = plan(spark, "q2_min_cost_supplier")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p  # LIMIT 100 never globally sorts


def test_q17_stats_broadcast_back(spark):
    """q17's per-part stats join back onto the brand lines as a broadcast
    (stats ≤ |part| rows), never a fact-fact sort-merge."""
    p = plan(spark, "q17_small_quantity_revenue")
    assert "SortMergeJoin" not in p


def test_q20_semi_join_chain(spark):
    """q20's qualifying-supplier set must reach the supplier dim as a
    semi join (no row duplication, no distinct)."""
    p = plan(spark, "q20_part_volume_suppliers")
    assert "LeftSemi" in p


def test_decontaminate_benchmark_broadcasts(spark):
    """The benchmark gram set must broadcast; the corpus gram side must
    not shuffle before the join (only contamination hits shuffle, in the
    per-doc count agg)."""
    p = plan(spark, "llmops_decontaminate")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_train_shuffle_is_take_ordered(spark):
    """The seeded-shuffle preview must be a top-k (TakeOrdered), not a
    full global sort of the corpus."""
    p = plan(spark, "llmops_train_shuffle")
    assert "TakeOrderedAndProject" in p


def test_sequence_pack_single_exchange(spark):
    """Sequence packing is one shuffle by source feeding the window —
    exactly one Exchange in the whole plan."""
    p = plan(spark, "llmops_sequence_pack")
    # Count operator detail blocks, not tree lines (each node appears twice
    # in "formatted" output).
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p


def test_sessionize_single_exchange_reused(spark):
    """events_sessionize_gap: both windows AND both downstream aggregates
    must reuse ONE hash exchange on user_id — lag, running-sum, the
    (user, sid) aggregate (user_id subset ⇒ colocated), and the final
    per-user aggregate. A second exchange is the 100 TB regression."""
    p = plan(spark, "events_sessionize_gap")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p


def test_funnel_is_two_stage_aggregate(spark):
    """events_funnel_conversion: one shuffle on user_id, then a
    single-partition roll-up of per-user rows — never a self-join."""
    p = plan(spark, "events_funnel_conversion")
    assert "Join" not in p
    # one hash exchange on user_id + one single-partition gather for the
    # global roll-up (a handful of per-user rows) — nothing else
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 2, p


def test_null_safe_join_pre_aggregates(spark):
    """join_null_safe_eq: both sides must aggregate BEFORE the join (the
    join inputs are per-key counts, not raw rows) — the pair explosion
    is computed arithmetically, never materialized."""
    p = plan(spark, "join_null_safe_eq")
    tree = p.split("\n\n")[0]  # the indented operator tree section
    lines = tree.splitlines()
    ji = next(
        (i for i, l in enumerate(lines)
         if re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", l)),
        None,
    )
    assert ji is not None, tree
    # Both join inputs must be aggregates: the first ':-' branch under the
    # join is the left child; the right child is the exchange immediately
    # under it whose own child is a HashAggregate. A raw 'Scan parquet'
    # child here would mean the pair explosion is materialized.
    left = next(l for l in lines[ji + 1:] if ":-" in l)
    assert "HashAggregate" in left, tree
    right_idx = next(
        i for i, l in enumerate(lines) if i > ji and "+-" in l and ":" not in l
    )
    right_block = "\n".join(lines[right_idx : right_idx + 2])
    assert "HashAggregate" in right_block or "Exchange" in right_block, tree
    assert "HashAggregate" in "\n".join(lines[right_idx:]), tree


def test_quantize_is_shuffle_free(spark):
    """llmops_embedding_quantize is a pure map stage: no exchange at all."""
    p = plan(spark, "llmops_embedding_quantize")
    assert "Exchange" not in p, p


def test_regr_agg_partial_final(spark):
    """regr_* aggregates must run partial+final like any moment sketch."""
    p = plan(spark, "agg_regr_price_qty")
    assert len(re.findall(r"\(\d+\) HashAggregate\b", p)) == 2
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1


def test_bpe_merge_topk_is_take_ordered(spark):
    """llmops_bpe_first_merges: the global top-20 must be TakeOrdered
    (per-partition heap), never a full sort of the pair counts."""
    p = plan(spark, "llmops_bpe_first_merges")
    assert "TakeOrderedAndProject" in p or "WindowGroupLimit" in p, p


def test_bigram_lm_single_scoring_join(spark):
    """llmops_bigram_logprob_score: the LM folds the unigram totals in via
    a window over bigram counts, so scoring is exactly ONE join."""
    p = plan(spark, "llmops_bigram_logprob_score")
    joins = len(re.findall(r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", p))
    assert joins == 1, p


def test_bm25_probe_broadcasts_and_topk_is_take_ordered(spark):
    """llmops_bm25_topk: the query-term side and corpus stats broadcast
    (the postings equi-join is the inverted-index probe, never a shuffle
    of the query side) and the global top-10 is TakeOrdered."""
    p = plan(spark, "llmops_bm25_topk")
    assert "TakeOrderedAndProject" in p
    assert re.search(r"\(\d+\) BroadcastHashJoin", p), p


def test_groupwise_zscore_is_grouped_map_pandas(spark):
    """llmops_groupwise_zscore: the registered query must actually run the
    grouped-map Arrow path (FlatMapGroupsInPandas) after one exchange on
    the group key."""
    p = plan(spark, "llmops_groupwise_zscore")
    assert "FlatMapGroupsInPandas" in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p


def test_bloom_roundtrip_probes_are_broadcast(spark):
    """llmops_bloom_incremental_roundtrip: both daily probes join the
    carried bitmap state via broadcast nested-loop (one state row) — the
    incoming scan itself never shuffles for the probe."""
    p = plan(spark, "llmops_bloom_incremental_roundtrip")
    assert len(re.findall(r"BroadcastNestedLoopJoin", p)) >= 2, p


def test_approx_distinct_gate_single_pass(spark):
    """agg_approx_distinct_accuracy: sketch + exact count compute in the
    same aggregation (no second scan of the bucketed rows), and the
    quartile-boundary side is a broadcast onto the scan."""
    p = plan(spark, "agg_approx_distinct_accuracy")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # orders.parquet is scanned twice total: once for boundaries, once for
    # bucketed counting — not three times. (Details-section headers count
    # each physical scan node exactly once.)
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2, p


def test_temperature_mix_all_small_sides_broadcast(spark):
    """llmops_temperature_mix: the per-source count table is tiny; both
    scalar joins (total, normalizer) must broadcast."""
    p = plan(spark, "llmops_temperature_mix")
    assert "SortMergeJoin" not in p, p


def test_gapfill_windows_partition_by_type(spark):
    """events_gapfill_locf: the LOCF window must partition on event_type
    (never a global sort) and the grid side must stay tiny — the events
    scan is the only large operand."""
    p = plan(spark, "events_gapfill_locf")
    assert re.search(r"Window.*partition.*event_type|partitionBy.*event_type", p, re.I) or (
        "Window" in p and "event_type" in p
    ), p


def test_scd2_single_exchange_on_user(spark):
    """scd2_event_type_history: lag, lead and row_number all share the
    (user_id; ts, event_id) partitioning+ordering — exactly ONE exchange
    of the event rows."""
    p = plan(spark, "scd2_event_type_history")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p


def test_triangle_join_count(spark):
    """graph_triangle_count: triangle closure is wedge-join + closing
    edge-join — the plan may not contain a cartesian/nested-loop product
    of the edge list with itself."""
    p = plan(spark, "graph_triangle_count")
    assert "CartesianProduct" not in p, p


def test_pmi_pairs_have_no_self_join_before_agg(spark):
    """llmops_pmi_collocations: adjacent pairs come from in-row zip_with
    slices (zero joins until the unigram re-join) and the top-20 is
    TakeOrdered."""
    p = plan(spark, "llmops_pmi_collocations")
    assert "TakeOrderedAndProject" in p, p
    assert "zip_with" in p, p


def test_group_sample_partitions_by_source(spark):
    """sample_deterministic_per_group: the rank window partitions on the
    group key — a single exchange on source, no global sort."""
    p = plan(spark, "sample_deterministic_per_group")
    assert "Sort" in p and "source" in p, p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p


def test_partitioned_roundtrip_prunes(spark):
    """source_partitioned_pruning: the event_type predicate must prune at
    the directory level — PartitionFilters on the scan, not a row Filter
    over all partitions."""
    df = QUERIES["source_partitioned_pruning"].fn(spark, SF_DIR)
    p = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "event_type" in m.group(1), p


def test_rolling_range_frame_single_exchange(spark):
    """window_rolling_7day_spend: the RANGE frame evaluates after ONE
    exchange on o_custkey — value-based frames must not add shuffles."""
    p = plan(spark, "window_rolling_7day_spend")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p
    assert "RANGE BETWEEN" in p or "specifiedwindowframe(RangeFrame" in p, p


def test_cdc_merge_is_one_full_outer_join(spark):
    """cdc_snapshot_merge: MERGE row-matching is exactly one full-outer
    join of base vs changes — no per-change lookups, no extra joins."""
    p = plan(spark, "cdc_snapshot_merge")
    joins = re.findall(
        r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p
    )
    assert len(joins) == 1, p
    assert "FullOuter" in p, p


def test_variant_battery_stays_jvm_side(spark):
    """scalar_variant_props_battery: parse_json/try_variant_get are JVM
    expressions — no Python evaluation node may appear."""
    p = plan(spark, "scalar_variant_props_battery")
    assert "EvalPython" not in p and "MapInArrow" not in p, p


def test_embedding_norm_uses_arrow_transport(spark):
    """llmops_embedding_norm_arrow: the registered query must actually
    run the Arrow-batch UDF path (not pandas, not row Python)."""
    p = plan(spark, "llmops_embedding_norm_arrow")
    assert re.search(r"MapInArrow|ArrowEvalPython", p), p
    assert "BatchEvalPython" not in p, p


def test_mv_refresh_never_rescans_base_into_merge(spark):
    """mv_incremental_refresh: the merge re-aggregates two |groups|-row
    partial tables — exactly 2 parquet scans (base partial, delta
    partial), and the final agg runs over the union, not the base."""
    p = plan(spark, "mv_incremental_refresh")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2, p


def test_zorder_code_is_pure_codegen(spark):
    """maintenance_zorder_stats: the Morton code must be a JVM integer
    expression inside whole-stage codegen — no UDF, no Python eval."""
    p = plan(spark, "maintenance_zorder_stats")
    assert "EvalPython" not in p and "MapInArrow" not in p, p
    # The Morton code is a Project-level shiftleft/shiftright expression,
    # eligible for codegen (AQE's formatted plan doesn't label codegen
    # stages pre-execution, so assert at the expression level).
    assert "shiftleft" in p and "shiftright" in p, p


def test_span_corruption_single_doc_exchange(spark):
    """llmops_span_corruption_stats: the lag window and the per-doc
    rollup share ONE exchange on doc_id; positions explode in-row."""
    p = plan(spark, "llmops_span_corruption_stats")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p


def test_oov_vocab_probe_broadcasts(spark):
    """llmops_oov_rate: the vocab membership probe must be a broadcast
    join onto the token stream, and vocab selection TakeOrdered."""
    p = plan(spark, "llmops_oov_rate")
    assert "TakeOrderedAndProject" in p, p
    assert re.search(r"\(\d+\) BroadcastHashJoin", p), p


def test_bucketed_registered_join_has_no_exchange(spark):
    """join_bucketed_colocated: with broadcast disabled (forcing the
    large-scale SMJ path), the catalog-read bucketed join must contain
    NO Exchange — the persisted bucketing IS the shuffle."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(spark, "join_bucketed_colocated")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    m = re.search(r"SortMergeJoin", p)
    assert m, p
    # the only allowed exchange is the one under the final aggregation
    join_section = p[: m.start()]
    assert "Exchange" not in join_section.split("== Physical Plan ==")[-1] or (
        len(re.findall(r"\(\d+\) Exchange\b", p)) <= 1
    ), p
    assert "SelectedBucketsCount" in p or "Bucketed: true" in p, p


def test_pca_power_direction_broadcasts(spark):
    """llmops_embedding_pca_power: the |dims|-row direction vector must
    broadcast into the score join every iteration — the exploded X table
    never shuffles onto the tiny side."""
    p = plan(spark, "llmops_embedding_pca_power")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) >= 2, p


def test_window_value_battery_single_exchange(spark):
    """window_value_functions_battery: all four value functions share one
    (priority; price, key) exchange."""
    p = plan(spark, "window_value_functions_battery")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p


def test_dynamic_partition_pruning_fires(spark):
    """join_dynamic_partition_pruning exists to pin DPP; the result hash
    can't see the optimization, so assert the pruning subquery is in the
    plan (a dynamicpruning expression on the partitioned fact scan)."""
    from batch_public_spark.plans import QUERIES

    df = QUERIES["join_dynamic_partition_pruning"].fn(spark, SF_DIR)
    txt = df._jdf.queryExecution().toString().lower()
    assert "dynamicpruning" in txt, "DPP subquery missing from the plan"


# --- retrieval-stack shapes (r9, verdict item #5): the docstrings claim
# broadcast-query / no-corpus-shuffle shapes; pin them so an edit can't
# silently regress the 100 TB geometry while the sf hash stays green. ---


def test_pq_adc_lut_broadcasts_and_no_corpus_smj(spark):
    """llmops_ann_pq_adc: the M×K lookup table must BROADCAST onto the
    code assignments; the database side never sort-merge-joins."""
    p = plan(spark, "llmops_ann_pq_adc")
    assert re.search(r"\(\d+\) BroadcastHashJoin", p), p
    assert "SortMergeJoin" not in p, p


def test_maxsim_queries_broadcast_and_explode_is_in_row(spark):
    """llmops_maxsim_multivector: the query parts reach the corpus as a
    broadcast (nested-loop on the != predicate), sub-vectors fan out via
    in-row Generate — the corpus is never shuffled for scoring."""
    p = plan(spark, "llmops_maxsim_multivector")
    assert "BroadcastNestedLoopJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert re.search(r"\(\d+\) Generate", p), p


def test_rerank_cascade_queries_broadcast_no_corpus_smj(spark):
    """llmops_rerank_cascade_recall: the shortlist (Hamming) leg takes the
    5-query side as a BROADCAST nested-loop; the exact leg is the r14
    map-side GEMM brute force (MapInPandas — per-task top-k, no corpus
    amplification); the only sort-merge join allowed is the final recall
    audit over the two k-bounded top-10 lists (≤50 rows a side at any
    corpus size)."""
    p = plan(spark, "llmops_rerank_cascade_recall")
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) >= 1, p
    assert "MapInPandas" in p, p
    assert len(re.findall(r"\(\d+\) SortMergeJoin", p)) <= 1, p


def test_rrf_fusion_both_rankers_take_ordered(spark):
    """llmops_hybrid_rrf_fusion: each ranker's top-20 must be TakeOrdered
    (per-partition heap), and the postings probes broadcast the 3-term
    query side — the corpus tf table never sort-merge-joins."""
    p = plan(spark, "llmops_hybrid_rrf_fusion")
    assert len(re.findall(r"\(\d+\) TakeOrderedAndProject", p)) >= 2, p
    assert re.search(r"\(\d+\) BroadcastHashJoin", p), p


def test_mmr_pool_and_picks_are_take_ordered(spark):
    """llmops_mmr_diversified_topk: the candidate pool and every greedy
    pick must be TakeOrdered over the bounded pool — no global Sort, no
    cartesian of the corpus."""
    p = plan(spark, "llmops_mmr_diversified_topk")
    assert re.search(r"TakeOrderedAndProject", p), p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p


def test_arrival_gap_single_exchange(spark):
    """dq_arrival_gap_audit: the lag window and the per-feed aggregate
    share ONE exchange on event_type."""
    p = plan(spark, "dq_arrival_gap_audit")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p


def test_ratio_ci_two_level_agg_no_joins(spark):
    """agg_ratio_delta_method_ci: per-customer rollup then 5-row moment
    aggregation — exactly two exchanges, zero joins, one fact scan."""
    p = plan(spark, "agg_ratio_delta_method_ci")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 2, p
    assert "Join" not in p, p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p


def test_lifecycle_fact_scanned_once_per_branch_no_smj(spark):
    """events_user_lifecycle_states: spine/states/churn attach via
    broadcast; the (user, day) grid never sort-merge-joins."""
    p = plan(spark, "events_user_lifecycle_states")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p


def test_gopher_topword_is_the_only_doc_exchange_chain(spark):
    """llmops_gopher_reject_rates: in-row signals ride the scan; the plan
    may not contain a sort-merge join of the corpus against itself."""
    p = plan(spark, "llmops_gopher_reject_rates")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p


def test_inline_rows_stays_off_the_python_path(spark):
    """inline_rows literal tables are JVM LocalRelation-style generators:
    no Scan ExistingRDD (the createDataFrame pickled-RDD hop) anywhere in
    a fixture-driven query's plan, and cells type/NULL exactly as the
    declared DDL schema."""
    from batch_public_spark.sources.tables import inline_rows

    for name in ("llmops_lsh_param_planner", "pipeline_parse_outputs"):
        p = plan(spark, name)
        assert "ExistingRDD" not in p, (name, p)

    df = inline_rows(
        spark,
        "case_id int, s string, x double, arr array<string>",
        [(1, "héllo", None, ["a", "b"]), (2, None, 2.5, None)],
    )
    assert [f.simpleString() for f in df.schema.fields] == [
        "case_id:int",
        "s:string",
        "x:double",
        "arr:array<string>",
    ]
    rows = sorted(df.collect(), key=lambda r: r.case_id)
    assert rows[0].x is None and rows[0].arr == ["a", "b"]
    assert rows[1].s is None and rows[1].arr is None and rows[1].x == 2.5


def test_q21_single_data_exchange_no_rollup_join(spark):
    """q21: the per-order window reuses the one orderkey repartition — no
    per-order rollup branch, no SortMergeJoin, exactly two shuffles in
    the whole plan (the orderkey repartition + the final tiny s_name
    aggregation)."""
    p = plan(spark, "q21_waiting_supplier")
    assert "SortMergeJoin" not in p, p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 2, p


def test_q18_lineitem_scanned_once(spark):
    """q18: the HAVING set is a window over the single lineitem pass —
    one lineitem scan (three scans total with orders + customer), and the
    orders join / final groupBy reuse the window's orderkey exchange."""
    p = plan(spark, "q18_large_volume")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 3, p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p
