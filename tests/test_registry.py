"""Registry-ordering invariants.

The grading driver records oracle evidence for at most the first 50
registered queries; ``ORACLE_WINDOW`` pins which those are. These tests
catch the silent failure mode of round 1 (core KNN/window queries
registering after slot 50 and never getting an oracle row).
"""

from vectordb_spark.queries import ORACLE_WINDOW, all_oracles, all_queries

DRIVER_WINDOW = 50

# The reference's identity: vector search + the window surface. These
# must never fall out of the checked window.
# t1_knn_dot rotated off-window in round 4 (green r1+r2+r3; same
# compile path as the two metrics that stay); w1/w3/w4/w5 rotated
# off-window in round 5 (green r2+r3+r4; window-function path held by
# w2 + w6 + the four w7-w10 newcomers).
CORE = [
    # t1_knn_cosine rotated out in r6 after 4 straight driver greens;
    # the cosine metric stays windowed via semantic_text_search and
    # hybrid_bm25_vector_rrf
    # w2_sessionize rotated out in r6 after 5 straight driver greens;
    # the window family stays in-window via w7-w10 and sessionization
    # machinery stays pytest + selfcheck covered. Its slot funds
    # vec_kmeans_one_round — the IVF training core's first real oracle.
    "t1_knn_l2",
    "t2_knn_prefilter",
    "t6_knn_postfilter_distance",
    "a5_facets_over_search",
    "vec_kmeans_one_round",
]


def test_window_names_exist():
    qs = all_queries()
    missing = [n for n in ORACLE_WINDOW if n not in qs]
    assert not missing, f"ORACLE_WINDOW references unknown queries: {missing}"


def test_window_fits_driver_cap():
    # exactly 50: every driver slot spends evidence on a chosen query
    assert len(ORACLE_WINDOW) == DRIVER_WINDOW
    assert len(set(ORACLE_WINDOW)) == DRIVER_WINDOW


def test_round8_rotation():
    # round-8 window facts (VERDICT r7 "Next round" #1): the thirteen
    # round-7-queue queries — all judge-verified dual-SF selfcheck
    # green — take their first driver slots. Rotated out on driver-green
    # history with in-window compile-path siblings: q4/q14/q17/q18
    # (subsumed by the six TPC-H newcomers), sq8/pq_adc (quantized-ANN
    # ladder carried by ann_ivfpq_adc), w10, a8, cross_source,
    # bigram_familiarity, pgm + video_frame (media carried by ahash +
    # scene_change), stream_dedup_incremental.
    # (tpch_q7 / q13 left the window again in the round-11 rotation —
    # see test_round11_rotation; tpch_q15 left in the round-12 rotation
    # — see test_round12_rotation)
    for name in [
        "tpch_q19_disjunctive_revenue",
        "tpch_q21_sole_late_supplier",
        "tpch_q22_dormant_customers",
        "media_ahash_near_dup",
        "ann_matryoshka_rerank",
        "ann_ivfpq_adc",
        "zorder_range_scan",
        "stream_stream_join_attribution",
        "media_scene_change_detection",
        "mv_incremental_refresh",
        "sketch_hdr_quantiles",
    ]:
        assert name in ORACLE_WINDOW, name
    for gone in [
        "tpch_q4_order_priority",
        "tpch_q14_promo_revenue",
        "tpch_q17_small_quantity_revenue",
        "tpch_q18_large_volume_customer",
        "ann_sq8_rerank",
        "ann_pq_adc",
        "w10_interarrival_stats",
        "a8_value_histogram",
        "dedup_cross_source_overlap",
        "text_bigram_familiarity",
        "media_pgm_histogram_features",
        "media_video_frame_sampling",
        "stream_dedup_incremental",
    ]:
        assert gone not in ORACLE_WINDOW, gone


def test_round10_rotation():
    # round-10 window facts (VERDICT r9 "Next round" #1): the seven
    # round-9-queue queries — all judge-verified selfcheck-green in
    # VERDICT r9 — take their first driver slots, emptying the
    # evidence-debt queue. Rotated out on driver-green history with
    # in-window compile-path siblings: keep_best/incremental (dedup
    # family keeps cluster_components + curate_end_to_end),
    # sparse_knn_l2 (sparse_index_knn_search is the richer lifecycle
    # variant), t9_knn_batch (batch shape via bm25_multiquery_batch),
    # media_wav_rms_features (audio mapInPandas plumbing shared with
    # ahash + scene_change), substring_fingerprint + boilerplate
    # (fingerprint/text batteries keep richer in-window siblings).
    for name in [
        "table_ivfpq_trained_search",
        "knn_metric_ordering_parity",
        "mv_minmax_refresh",
        "table_clustered_compact_search",
        "tpch_q11_important_stock",
        "tpch_q12_shipmode_priority",
        "tpch_q16_part_supplier_counts",
    ]:
        assert name in ORACLE_WINDOW, name
    for gone in [
        "dedup_keep_best",
        "dedup_incremental_newdocs",
        "sparse_knn_l2",
        "t9_knn_batch",
        "media_wav_rms_features",
        "dedup_substring_fingerprint",
        "text_boilerplate_span_removal",
    ]:
        assert gone not in ORACLE_WINDOW, gone


def test_no_oracle_rows_evicted():
    # ann_ivf_kmeans (inherently no-oracle) must never hold a window
    # slot again — it burned 5 rounds of driver evidence (VERDICT r5 #1)
    assert "ann_ivf_kmeans" not in ORACLE_WINDOW


def test_registration_order_honors_window():
    order = list(all_queries())
    assert order[: len(ORACLE_WINDOW)] == list(ORACLE_WINDOW)


def test_core_queries_inside_window():
    order = list(all_queries())
    for name in CORE:
        assert order.index(name) < DRIVER_WINDOW, f"{name} fell off the window"


def test_windowed_queries_have_oracles():
    # every window slot must carry an oracle — a no-oracle row can
    # never go green and burns a driver slot every round (the r1-r5
    # ann_ivf_kmeans/semantic_text_search lesson; semantic_text_search
    # re-entered only once SqlMockEmbedder made it SQL-expressible)
    oracles = all_oracles()
    rows_only = {n for n in ORACLE_WINDOW if n not in oracles}
    assert rows_only == set(), rows_only


def test_window_is_vetted():
    # rotating an un-selfchecked query into the window must fail in our
    # own runs, not at driver time (VERDICT r7 #5)
    from vectordb_spark.queries import WINDOW_VETTED

    assert set(ORACLE_WINDOW) <= WINDOW_VETTED


def test_round11_rotation():
    # round-11 window facts (VERDICT r10 "Next round" #1): the seven
    # round-10-queue queries — all judge-selfchecked 7/7 in VERDICT
    # r10 AND re-selfchecked at both SFs this round — take their first
    # driver slots. Every eviction was confirmed green in
    # CORRECTNESS_r10.json before the swap.
    for name in [
        "table_ivf_sampled_train_search",
        "mv_join_refresh",
        "stream_matview_maintenance",
        "vec_power_iteration_top_pc",
        "table_ivfpq_sampled_train_search",
        "table_time_travel_read",
        "mv_distinct_refresh",
    ]:
        assert name in ORACLE_WINDOW, name
    for gone in [
        "sketch_hll_distinct_users",
        "bm25_topk",
        "stream_enrich_join",
        "semantic_maxsim_search",
        "geo_join_radius_pairs",
        "tpch_q7_nation_volume",
        "tpch_q13_customer_order_distribution",
    ]:
        assert gone not in ORACLE_WINDOW, gone


def test_round12_rotation():
    # round-12 window facts (VERDICT r11 "Next round" #1): the two
    # round-11-queue queries — both judge-selfchecked 2/2 in VERDICT
    # r11 AND re-selfchecked at both SFs this round — take their first
    # driver slots. Both evictions confirmed green in
    # CORRECTNESS_r11.json before the swap: ann_binary_hamming_rerank
    # (G r6–r11; quantized-ANN ladder keeps ivfpq_adc + matryoshka +
    # trained/sampled lifecycles) and tpch_q15_top_supplier (G r8–r11;
    # agg-view equi-back-join served by mv_join_refresh in-window).
    for name in [
        "ann_gist960_adc_parity",
        "stream_join_matview_maintenance",
    ]:
        assert name in ORACLE_WINDOW, name
    for gone in [
        "ann_binary_hamming_rerank",
        "tpch_q15_top_supplier",
    ]:
        assert gone not in ORACLE_WINDOW, gone


def test_round13_queue_registered_with_oracles():
    # round-12 additions awaiting driver rows: registered, oracled,
    # vetted (dual-SF selfcheck), and NOT yet in the window (rotation
    # is a deliberate round-13 act with documented evictions)
    from vectordb_spark.queries import WINDOW_VETTED, all_oracles

    qs, os_ = all_queries(), all_oracles()
    for name in (
        "table_sparse_index_lifecycle",
        "cdc_string_pk_changefeed",
        "text_index_refresh_search",
        "table_ivf_refresh_search",
        "text_bm25f_multifield",
    ):
        assert name in qs, name
        assert name in os_, f"{name} must be oracle-gated"
        assert name in WINDOW_VETTED, f"{name} must be vetted"
        assert name not in ORACLE_WINDOW, f"{name} rotated in early"


def test_bench_twins_are_registered_queries():
    # bench.py swaps each memoized twin in under its gate's name; a
    # renamed gate would leave a phantom entry and drop the twin
    # unnoticed. The registry loads first, so importing bench cannot
    # reorder it.
    qs = all_queries()
    import bench

    assert bench._TWINS
    missing = sorted(n for n in bench._TWINS if n not in qs)
    assert not missing, f"bench twins of unregistered queries: {missing}"
