"""Physical-plan audits: assert each headline query compiles to the
plan we designed for 100 TB (broadcasts for small dims, pushdown into
the parquet scan, column pruning, zero row-at-a-time Python on JVM-able
paths). A wrong-but-correct plan fails here before it fails at scale.
"""

from __future__ import annotations

import pytest

from postrack_spark.plans import assert_plan, explain_string, plan_features
from postrack_spark.queries import load_all

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return load_all()


def _df(qs, name, spark):
    return qs[name].fn(spark, SF)


def test_q3_broadcasts_both_dims(spark, qs):
    # customer (filtered) and the order-side both broadcast at test SF;
    # the only shuffle is the final aggregation.
    assert_plan(_df(qs, "q3_shipping_priority", spark), min_broadcast_joins=2,
                python_evals=0, max_exchanges=2)


def test_q5_six_way_join_no_python(spark, qs):
    feats = assert_plan(_df(qs, "q5_local_supplier_volume", spark),
                        min_broadcast_joins=3, python_evals=0)
    # no sort-merge join should survive at this scale ratio
    assert feats["sortmerge_joins"] == 0


def test_q6_full_pushdown_and_pruning(spark, qs):
    feats = plan_features(_df(qs, "q6_forecast_revenue", spark))
    pushed = ";".join(feats["pushed_filters"])
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    # column pruning: the scan must read only the 4 referenced columns
    assert feats["scan_columns"], "no parquet scan found"
    cols = feats["scan_columns"][0]
    assert cols.count(":") == 4 and "l_returnflag" not in cols


def test_q1_partial_final_agg_single_shuffle(spark, qs):
    # partial+final hash aggregate -> exactly one shuffle (plus sort)
    assert_plan(_df(qs, "q1_pricing_summary", spark), max_exchanges=2, python_evals=0)


def test_fingerprint_stays_jvm_side(spark, qs):
    # higher-order array funcs, not UDFs: zero Python operators
    assert_plan(_df(qs, "text_fingerprint_shingles", spark), python_evals=0)


def test_vector_knn_uses_builtin_dot_product(spark, qs):
    assert_plan(_df(qs, "vector_knn_bruteforce", spark), python_evals=0)


def test_minhash_lsh_no_python(spark, qs):
    assert_plan(_df(qs, "dedup_minhash_lsh", spark), python_evals=0)


def test_multimodal_python_is_arrow_batched(spark, qs):
    # the stubbed codec is necessarily Python — but must be Arrow-batched
    # (mapInPandas), never row-at-a-time BatchEvalPython
    feats = plan_features(_df(qs, "multimodal_feature_extract", spark))
    assert feats["row_python_evals"] == 0
    assert feats["arrow_python_evals"] >= 1


def test_tiny_dim_joins_broadcast(spark, qs):
    for name in ("join_inner_orders_per_nation", "q10_returned_items",
                 "q7_volume_shipping", "q9_profit_by_nation_year"):
        feats = plan_features(_df(qs, name, spark))
        assert feats["broadcast_joins"] >= 1, f"{name}: expected a broadcast join"


def test_hash_sample_is_scan_local(spark, qs):
    # membership predicate evaluates inside the scan stage; the only
    # shuffles are the tiny post-filter aggregation and the final sort
    assert_plan(
        _df(qs, "sample_hash_deterministic", spark),
        python_evals=0,
        max_exchanges=2,
    )


def test_salted_join_broadcasts_replicated_side(spark, qs):
    # the n_salts-replicated small side still broadcasts (replication
    # happens inside the broadcast build, no shuffle of the big side)
    assert_plan(
        _df(qs, "join_salted_user_revenue", spark),
        min_broadcast_joins=1,
        python_evals=0,
        max_exchanges=2,  # post-join agg + final sort; the join itself is shuffle-free
    )


def test_higher_order_arrays_stay_jvm(spark, qs):
    # Catalyst lambda expressions, not UDFs: zero Python operators
    assert_plan(
        _df(qs, "scalar_higher_order_arrays", spark),
        python_evals=0,
    )


def test_contamination_no_python_and_broadcast_splits(spark, qs):
    # split labels broadcast onto the verified pairs; LSH chain all-JVM
    assert_plan(
        _df(qs, "dedup_cross_split_contamination", spark),
        python_evals=0,
        min_broadcast_joins=2,
    )


def test_lsh_ann_is_equi_join_not_cartesian(spark, qs):
    # the whole point of vector_lsh_ann vs brute force: the bucket key
    # makes it a hash equi-join — no nested-loop/cartesian anywhere,
    # and all vector math stays JVM-side
    feats = assert_plan(_df(qs, "vector_lsh_ann", spark), bnl_joins=0, python_evals=0)
    assert feats["broadcast_joins"] + feats["shuffledhash_joins"] + feats["sortmerge_joins"] >= 1


def test_scd2_single_key_shuffle(spark, qs):
    # one window per key: fan_out repartition + window exchange + final
    # range-sort exchange — nothing else may shuffle
    assert_plan(_df(qs, "cdc_scd2_history", spark), max_exchanges=3, python_evals=0)


def test_frame_sample_is_arrow_batched(spark, qs):
    # the codec pipeline crosses into Python exactly once, Arrow-batched
    feats = assert_plan(_df(qs, "multimodal_frame_sample", spark), row_python_evals=0)
    assert feats["arrow_python_evals"] == 1


def test_layout_queries_single_scan_lanes(spark, qs):
    """Round-4 fix: the layout lane assignment must be the inline()
    row-explosion (4 scans: bounds pass + main pass), never the
    UNION-per-lane shape that re-planned the upstream subtree per lane
    (12 scans for 3 lanes). No Python, no windows; the only joins are
    the 1-row bounds / constant-frame broadcast combines."""
    for name, max_scans in (
        ("layout_zorder_extent_skipping", 4),
        ("layout_zone_map_workload_sim", 4),
        ("layout_hilbert_vs_zorder_seams", 4),
    ):
        feats = assert_plan(
            _df(qs, name, spark), python_evals=0, windows=0,
            sortmerge_joins=0, shuffledhash_joins=0,
        )
        text = explain_string(_df(qs, name, spark), "formatted")
        assert text.count("Scan parquet") <= max_scans, (
            f"{name}: {text.count('Scan parquet')} scans — the lane "
            "UNION re-scan regression is back"
        )


def test_version_diff_key_partitioned_join(spark, qs):
    """cdc_version_diff's two time-travel states meet in ONE key
    equi-join (SMJ/SHJ, never a nested loop over states) with no
    Python. Its only windows are the two states' apply_changes TRUNCATE
    watermarks, each partitioned by (schema, table, bucket); the diff
    itself adds none."""
    feats = assert_plan(
        _df(qs, "cdc_version_diff", spark),
        python_evals=0, windows=2, unpartitioned_windows=0,
    )
    assert feats["sortmerge_joins"] + feats["shuffledhash_joins"] >= 1


def test_temperature_mixture_bounded_combines(spark, qs):
    """sample_temperature_mixture reduces documents to the O(languages)
    frame first; everything after is broadcast/tiny combines — no SMJ,
    no windows, no Python."""
    assert_plan(
        _df(qs, "sample_temperature_mixture", spark),
        python_evals=0, windows=0, sortmerge_joins=0,
    )


def test_sql_entry_plans_like_dataframe(spark, qs):
    # spark.sql over the registered views gets the same Catalyst
    # treatment: broadcast dims, no Python, AQE on
    feats = assert_plan(_df(qs, "sql_topk_revenue_share", spark),
                        min_broadcast_joins=2, python_evals=0)
    assert feats["aqe"]


BATCH_QUERIES = sorted(n for n in load_all() if not n.startswith("streaming_"))

# Unpartitioned windows allowed ONLY over frames already aggregated to
# a BOUNDED cardinality (calendar-sized series: one row per day/hour —
# a function of time span, not of data volume). Everything else must
# partition or use operators/ranking (range-partitioned exact rank).
TINY_FRAME_WINDOW_WHITELIST = {
    "window_centered_moving_average",    # per-day series (window_queries.py)
    "window_cumulative_distinct_users",  # per-day series (window_queries.py)
    "events_ts_znorm_similarity",        # per-(type, hour-of-day) profile
    "agg_bootstrap_ci",                  # CONSTANT 32-row replicate-means frame
}


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_plan_global_invariants(name, spark, qs):
    """Global invariants swept over every registered batch query (plan
    compile only — cheap):
    1. NO row-at-a-time Python operator (BatchEvalPython) — Python is
       allowed only Arrow-batched (README: 'UDFs are the slow path').
    2. NO Window with an empty partition spec (the single-task
       scale-killer) outside the tiny-frame whitelist above. This makes
       SCALE.md's 'windows always carry a PARTITION BY or run on tiny
       aggregated frames' claim true by construction."""
    feats = plan_features(_df(qs, name, spark))
    assert feats["row_python_evals"] == 0, f"{name} plans BatchEvalPython"
    if name not in TINY_FRAME_WINDOW_WHITELIST:
        assert feats["unpartitioned_windows"] == 0, (
            f"{name} plans a single-partition Window — repartition it or "
            "use postrack_spark.operators.ranking"
        )


def test_window_whitelist_is_tight(spark, qs):
    # every whitelisted query must still NEED the whitelist, so stale
    # entries get removed rather than silently widening the escape hatch
    for name in sorted(TINY_FRAME_WINDOW_WHITELIST):
        feats = plan_features(_df(qs, name, spark))
        assert feats["unpartitioned_windows"] >= 1, f"{name} no longer needs whitelisting"


def test_rfm_no_unpartitioned_window(spark, qs):
    # round-3 fix (VERDICT r2 #1): quartiles via exact_ntile — the plan
    # must contain NO WindowExec at all, and no Python
    assert_plan(_df(qs, "events_rfm_segmentation", spark), windows=0, python_evals=0)


def test_ngram_novelty_no_unpartitioned_window(spark, qs):
    # round-3 fix (VERDICT r2 #2): deciles via exact_ntile
    assert_plan(_df(qs, "text_ngram_novelty", spark), windows=0, python_evals=0)


def test_token_freq_no_window_topk(spark, qs):
    # round-3 fix (VERDICT r2 #3): corpus total broadcast, top-20 via
    # TakeOrderedAndProject, rank via 20x20 broadcast self-comparison
    feats = assert_plan(_df(qs, "text_corpus_token_freq", spark),
                        windows=0, python_evals=0)
    assert "TakeOrderedAndProject" in explain_string(
        _df(qs, "text_corpus_token_freq", spark), "simple"
    )


def test_type_affinity_broadcasts_dims(spark, qs):
    # pair table joins the user total + per-type singles broadcast;
    # Python never appears; the only exchanges are the distinct and the
    # pair aggregation.
    assert_plan(_df(qs, "events_type_affinity", spark),
                min_broadcast_joins=2, python_evals=0)


def test_trend_regression_two_hash_aggs(spark, qs):
    # (type, day) rollup then type moments: partial+final per level,
    # no window, no sort-merge join, zero Python.
    feats = assert_plan(_df(qs, "events_trend_regression", spark),
                        python_evals=0, max_exchanges=3)
    assert feats["sortmerge_joins"] == 0


def test_triangle_count_broadcasts_edges(spark, qs):
    # the thresholded edge list must broadcast into the triangle joins
    # — a shuffled triangle join at 100 TB would re-partition Sum(deg^2)
    # rows; the support threshold is what makes broadcast legal.
    assert_plan(_df(qs, "graph_triangle_count", spark),
                min_broadcast_joins=2, python_evals=0)


def test_ivm_delta_is_map_side(spark, qs):
    # signed-delta derivation must not add a shuffle of its own: the
    # four exchanges are fan_out, the recover_before key window, the
    # group-by, and the range partition for the 3-row output sort —
    # explode and image projection are map-side.
    assert_plan(_df(qs, "cdc_incremental_agg", spark),
                python_evals=0, max_exchanges=4)


def test_corr_exact_broadcasts_customer(spark, qs):
    # integer-moment correlation: customer broadcasts into the join,
    # one partial+final agg, no Python, no sort-merge join.
    feats = assert_plan(_df(qs, "agg_corr_exact", spark),
                        min_broadcast_joins=1, python_evals=0)
    assert feats["sortmerge_joins"] == 0


def test_attribution_single_key_partitioning(spark, qs):
    # RANGE-frame click window and the per-user aggregate share the
    # user_id partitioning; no join anywhere in the plan.
    feats = assert_plan(_df(qs, "events_attribution_clicks", spark),
                        python_evals=0)
    assert feats["sortmerge_joins"] == 0 and feats["bnl_joins"] == 0


def test_revenue_deciles_no_window(spark, qs):
    # round-3 exact_ntile showcase: data-sized per-customer frame,
    # decile assignment with zero WindowExec anywhere in the plan
    assert_plan(_df(qs, "window_revenue_deciles", spark), windows=0, python_evals=0)


def test_exact_percentile_rank_no_window_no_value_buffer(spark, qs):
    # the 100TB-correct exact-percentile path: distributed rank + one
    # conditional-sum pass; no WindowExec, no Python, and crucially NO
    # `percentile` aggregate (whose final buffer holds all values)
    feats = assert_plan(_df(qs, "agg_exact_percentile_rank", spark),
                        windows=0, python_evals=0)
    assert "percentile" not in explain_string(
        _df(qs, "agg_exact_percentile_rank", spark), "simple"
    ).lower()


def test_bm25_prefilter_and_takeordered(spark, qs):
    # query-term pre-filter must evaluate inside the scan stage (no
    # full-vocabulary agg) and the top-10 must be TakeOrderedAndProject
    feats = assert_plan(_df(qs, "text_bm25_retrieval", spark),
                        windows=0, python_evals=0)
    simple = explain_string(_df(qs, "text_bm25_retrieval", spark), "simple")
    assert "TakeOrderedAndProject" in simple


def test_rrf_fusion_no_windows(spark, qs):
    # both corpus-sized rank lists go through global_row_number
    assert_plan(_df(qs, "retrieval_rrf_fusion", spark),
                windows=0, python_evals=0)


def test_join_view_deltas_broadcast(spark, qs):
    # delta-join IVM: all three delta terms broadcast the delta side —
    # a view refresh must never shuffle a base table (the whole point
    # of maintaining instead of recomputing); no Python, no
    # unpartitioned windows (recover_before partitions by key).
    assert_plan(_df(qs, "cdc_join_view_maintenance", spark),
                min_broadcast_joins=3, python_evals=0,
                unpartitioned_windows=0, max_exchanges=9)


def test_auc_exact_no_unpartitioned_window(spark, qs):
    # exact AUC rides the distributed prefix sum: range shuffle +
    # per-partition windows + broadcast offsets — a global cumsum
    # window over the by-score frame would be corpus-sized for
    # continuous scores.
    assert_plan(_df(qs, "quality_auc_exact", spark),
                unpartitioned_windows=0, python_evals=0,
                min_broadcast_joins=1)


def test_skyline_no_window_no_selfjoin(spark, qs):
    # the skyline probes two broadcast suffix-min scalars per size —
    # never the quadratic NOT EXISTS self-join and never a window. The
    # suffix build's non-equi join is a BroadcastNestedLoop over the
    # <=50-row DOMAIN frame (bounded, never data-sized); the probe back
    # into the catalog is a broadcast hash join.
    feats = assert_plan(_df(qs, "part_skyline_pareto", spark),
                        windows=0, python_evals=0, sortmerge_joins=0,
                        min_broadcast_joins=1)
    assert feats["bnl_joins"] <= 1


def test_assoc_rules_broadcast_rules_side(spark, qs):
    # the thresholded rule-endpoint lookups broadcast into ONE probe of
    # the per-item counts (optimization r8: the old second join
    # broadcast the CATALOG-sized count relation); the catalog-sized
    # side must never shuffle for the join and top-50 must not plan a
    # global sort (TakeOrderedAndProject).
    feats = assert_plan(_df(qs, "assoc_basket_rules", spark),
                        windows=0, python_evals=0, min_broadcast_joins=1)
    assert feats["sortmerge_joins"] == 0


def test_alloc_largest_remainder_tiny_frames(spark, qs):
    # after the one fact-sized pre-agg + key join, everything runs on
    # the 25-row nation frame: no window (rank is a broadcast tiny
    # self-join count), no Python.
    assert_plan(_df(qs, "alloc_largest_remainder", spark),
                windows=0, python_evals=0)


def test_ohlc_single_aggregation(spark, qs):
    # OHLC is ONE map-side-combinable aggregation over the fact scan:
    # a single shuffle for the groupBy plus the output sort, no joins,
    # no windows.
    assert_plan(_df(qs, "events_ohlc_daily", spark),
                windows=0, python_evals=0, broadcast_joins=0,
                sortmerge_joins=0, max_exchanges=2)


def test_priority_sample_no_shuffle(spark, qs):
    # priority compute is map-side; top-100 is TakeOrderedAndProject —
    # no groupBy/window/join shuffle of the fact table.
    assert_plan(_df(qs, "sample_priority_weighted", spark),
                windows=0, python_evals=0, exchanges=0,
                broadcast_joins=0, sortmerge_joins=0)


def test_benford_tiny_key_agg(spark, qs):
    # 9-value key aggregation + broadcast total combine; no window.
    assert_plan(_df(qs, "quality_benford_digits", spark),
                windows=0, python_evals=0, sortmerge_joins=0)


def test_equidepth_histogram_no_window(spark, qs):
    # bucket assignment rides operators/ranking.exact_ntile: range
    # shuffle + broadcast offsets, zero WindowExec anywhere.
    assert_plan(_df(qs, "agg_equidepth_histogram", spark),
                windows=0, python_evals=0)


def test_join_hint_takes_effect(spark, qs):
    # the SHUFFLE_HASH hint must actually plan a ShuffledHashJoin —
    # a silently-dropped hint is a perf bug waiting for scale. (At
    # sf0.001 Catalyst would otherwise broadcast this join.)
    feats = plan_features(_df(qs, "sql_join_hints", spark))
    assert feats["shuffledhash_joins"] == 1, feats
    assert feats["row_python_evals"] == 0
