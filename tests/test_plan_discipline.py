"""Plan-shape assertions: the SCALE.md execution claims, pinned as tests.

These run the real driver-contract queries at sf0.001 and assert on the
executed-plan string — pushdown reaching the parquet scan, column
pruning, broadcast-only dimension joins, codegen coverage. A regression
that silently de-optimizes a plan (e.g. a cast blocking pushdown, a
missing broadcast) fails here even though results stay correct.
"""

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = _plan(entry.queries()["filter_isin_notnull"](spark, SF))
    assert "PushedFilters: [" in plan
    assert "In(c_mktsegment" in plan or "EqualTo(c_mktsegment" in plan
    assert "IsNotNull(c_acctbal)" in plan


def test_column_pruning_in_read_schema(spark):
    # flagship touches 7 of lineitem's 11 columns; the pruned ReadSchema
    # must not fetch join keys it never uses
    plan = _plan(entry.queries()["flagship_pricing_summary"](spark, SF))
    assert "ReadSchema" in plan
    assert "l_partkey" not in plan
    assert "l_suppkey" not in plan


def test_dimension_joins_all_broadcast(spark):
    # 8-table market-share query: every dimension join is broadcast, the
    # fact side shuffles exactly once (the final group-by)
    plan = _plan(entry.queries()["market_share"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 7
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_aggregates_are_partial_plus_final(spark):
    # map-side partial aggregation: two HashAggregate nodes per group-by
    plan = _plan(entry.queries()["event_counts_scaled"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_topk_is_take_ordered_not_full_sort(spark):
    plan = _plan(entry.queries()["returned_items_top20"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_hot_paths_are_codegenerated(spark):
    # text scoring is expression-only: whole-stage codegen, no Python eval
    plan = _plan(entry.queries()["text_quality_score"](spark, SF))
    # codegen'd operators print as "*(n) Operator" in the plan string
    assert "*(1)" in plan or "*(2)" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_partition_date_filter_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from pipelines_rj_sms_spark.operators.conform import with_date_partitions
    from pipelines_rj_sms_spark.session import read_parquet_normalized

    ev = read_parquet_normalized(spark, f"{SF}/events.parquet")
    out = str(tmp_path / "events_part")
    with_date_partitions(ev, "ts").write.partitionBy(
        "ano_particao", "mes_particao", "data_particao").parquet(out)
    back = spark.read.parquet(out).filter(F.col("data_particao") == "2024-01-05")
    plan = _plan(back)
    # partition filters are listed separately from data filters and the
    # scan reads only the matching directory
    assert "PartitionFilters" in plan
    assert "data_particao" in plan.split("PartitionFilters", 1)[1][:200]


def test_not_in_is_null_aware_broadcast_anti_never_nested_loop(spark):
    # NOT IN (subquery) is the classic nested-loop trap; with a
    # broadcastable inner side Spark must plan the null-aware
    # BroadcastHashJoin LeftAnti, never BroadcastNestedLoopJoin
    for name in ("supplier_cnt_by_part", "customers_without_orders"):
        plan = _plan(entry.queries()[name](spark, SF))
        assert "LeftAnti" in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    # IN (subquery) -> LeftSemi, same discipline
    plan = _plan(entry.queries()["heavy_red_suppliers"](spark, SF))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_window_rewrite_scans_lineitem_once(spark):
    # Q21 shape: the EXISTS + NOT EXISTS pair is rewritten as one window
    # over l_orderkey (__spark_entry__._Q21_LATE_SUPPLIER_SPARK), so the
    # fact table must appear in the plan exactly once — the textbook
    # spelling scans it three times — and nothing may nested-loop
    plan = _plan(entry.queries()["late_supplier_waits"](spark, SF))
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gap_fill_spine_join_is_hash(spark):
    plan = _plan(entry.queries()["gap_filled_hourly_counts"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sampling_split_is_pure_projection(spark):
    # the split must add zero shuffles: membership is a per-row hash
    plan = _plan(entry.queries()["train_test_split"](spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan


@pytest.mark.slow
def test_every_query_plans_clean(spark):
    """Suite-wide discipline sweep: no declared query may plan a
    cartesian product, a broadcast nested loop (except the two
    deliberate, documented bounded ones), or row-at-a-time Python
    (BatchEvalPython). Arrow-batched Python (MapInPandas /
    ArrowEvalPython) is the sanctioned slow path and stays allowed.
    Plans only — nothing executes, so the sweep is cheap."""
    # bounded-by-construction nested loops, documented at their site:
    #   similarity_batch_topk — corpus x broadcast(4 probes)
    #   sketch_user_overlap — non-equi (key_a < key_b) pairwise join on
    #     the post-aggregation sketch frame: O(groups^2), never O(rows)
    #   the rest — 1-row scalar broadcasts (a global percentile /
    #   corpus count joined to every row), the standard plan for a
    #   scalar subquery: build side is exactly one row
    allowed_bnlj = {"similarity_batch_topk", "monitor_recent",
                    # two batch_top_k brute-force legs (corpus x
                    # broadcast(queries)) — the documented exact
                    # candidate generator; swap IVF/LSH candidates
                    # upstream at scale (similarity.py docstring)
                    "bitext_margin_pairs",
                    # BM25 corpus-stats 1-row broadcast inside the
                    # lexical leg of the hybrid fusion
                    "hybrid_rrf_search",
                    "winsorized_prices", "mad_outlier_flags",
                    "tfidf_top_terms", "sketch_user_overlap",
                    # theta pairwise set algebra: same post-aggregation
                    # O(groups^2) pairwise shape as sketch_user_overlap
                    "theta_priority_overlap", "theta_priority_difference",
                    # 1-row scalar broadcast (corpus total for the
                    # overcount bound)
                    "freq_heavy_users",
                    # 1-row scalar broadcasts: CMS estimate + side
                    # counts; the bloom bitmap row; BM25 corpus stats;
                    # unigram LM totals — each build side is exactly
                    # one row by construction
                    "join_size_estimate", "bloom_filtered_orders",
                    "bm25_search_results", "doc_unigram_logprob",
                    # 1-row corpus-total broadcasts (target/raw token
                    # totals; bucket-weight sum) — the DSIR and
                    # temperature-mix scalar dims
                    "dsir_log_weights", "dsir_log_weights_poly",
                    "dsir_log_weights_portable",
                    "dsir_selected_docs",
                    "temperature_mix_rates",
                    # 1-row doc-count broadcast feeding the integer
                    # cross-multiplied boilerplate threshold
                    "boilerplate_removed_docs",
                    # 1-row totals joined to the top-N skew keys
                    "user_key_skew_report",
                    # 1-row percentile-boundary broadcast
                    "value_equi_depth_histogram",
                    # 1-row boundary + per-side total broadcasts
                    "value_psi_drift",
                    # t-closeness densified grid: |groups| x m cross
                    # join of two COLLAPSED frames (quasi-combos x
                    # distinct sensitive values) — bounded by rollup
                    # cardinalities, never by data
                    "t_closeness_value_report",
                    # NB: |C|-row class-constant frame under every doc
                    # (bounded by the class count) + 1-row vocab/total
                    "nb_lang_predictions", "nb_lang_eval_report",
                    # 1-row basket-count broadcast
                    "brand_basket_rules",
                    # 1-row as-of + percentile-boundary broadcasts
                    "customer_rfm_segments",
                    # 1-row corpus-totals broadcast
                    "top_pmi_collocations",
                    # 1-row digit-total / series-stats / horizon rows
                    "benford_price_digits", "monthly_revenue_cusum",
                    "signup_purchase_survival",
                    # 1-row in-plan rate / boundary / N frames
                    "balanced_lang_sample", "nb_score_calibration",
                    # pagerank's 1/N scalar crossJoin is visible now
                    # that shallow runs skip per-round checkpoints
                    # (which used to truncate it out of the plan)
                    "pagerank_part_supplier",
                    "personalized_pagerank_brand11",
                    # 1-row vocab / total-delta scalar broadcasts
                    "doc_bigram_logprob",
                    # Kneser-Ney: two 1-row scalar broadcasts (bigram-
                    # type total + vocab size, operators/terms.py
                    # kn_bigram_logprob) — same class as
                    # doc_unigram_logprob/doc_bigram_logprob above;
                    # the per-source readout shares the plan
                    "doc_kn_bigram_logprob", "source_kn_perplexity",
                    "doc_kn_trigram_logprob",
                    # KN scalar broadcasts + the 1-row percentile-
                    # boundary broadcast (equi_depth discipline)
                    "ccnet_ppl_partition",
                    # same shape with approx_percentile boundaries,
                    # plus the 1-row population-total audit broadcast
                    "ccnet_ppl_partition_approx",
                    "value_equi_depth_histogram_approx",
                    # K-row (8) checkpoint frame under the two
                    # collapsed growth tables + the 1-row min/max
                    # range broadcast (operators/terms.py
                    # vocab_growth_checkpoints)
                    "corpus_vocab_growth", "corpus_heaps_fit",
                    # 1-row vocab / domain-count / normalizer
                    # broadcasts per MW step (operators/curation.py
                    # doremi_domain_weights)
                    "doremi_domain_weights",
                    # k-row centroid frame under every vector (the
                    # sanctioned |C|-row pattern, similarity.py
                    # kmeans_lloyd)
                    "kmeans_embedding_clusters",
                    "semdedup_kmeans_survivors",
                    "segment_revenue_decomposition",
                    # 1-row corpus-size frame under the rank pairing
                    "doc_negative_pairs",
                    # round-6 second pass — all bounded by construction:
                    # 1-row total-count broadcasts under collapsed
                    # rank/margin frames
                    "quantity_price_spearman", "customer_target_encoding",
                    "event_value_quantile_norm",
                    # inequality self-join of the COLLAPSED contingency
                    # cells (bounded by the ordinal scale, documented)
                    "quantity_discount_ordinal_assoc",
                    # 1-row observed-stats / CI scalar broadcasts under
                    # the replica frames (resampling queries)
                    "event_value_bootstrap_ci",
                    "purchase_click_randomization_test",
                    # 1-row scalar broadcasts: node-count / edge-count m
                    # / residual-spread rows
                    "copurchase_assortativity",
                    "copurchase_community_modularity",
                    "daily_count_seasonal_anomalies",
                    # 1-row corpus-horizon broadcast under the duration
                    # construction (same shape as the KM survival query)
                    "signup_purchase_log_rank",
                    # 1-row state-count K broadcast under the collapsed
                    # K² transition rollup (Laplace denominator)
                    "event_markov_transitions",
                    # 1-row exact-median broadcast over the collapsed
                    # daily series (runs-test above/below split)
                    "daily_revenue_runs_test",
                    # 1-row (N, diag) × 1-row S scalar cross-join over
                    # the collapsed confusion cells
                    "lang_id_kappa",
                    # 1-row margin-entropy frames cross-joined under
                    # the contingency-cell rollup
                    "source_lang_uncertainty",
                    # 1-row fitted-coefficient broadcast under every
                    # calibration row (the scalar-model frame)
                    "price_conformal_interval",
                    # 1-row corpus-horizon + totals broadcasts — the
                    # same duration construction as the KM/log-rank
                    # queries
                    "signup_purchase_cum_hazard",
                    # session-4 additions — every entry below is a
                    # 1-row scalar broadcast by construction:
                    # KW totals/ties rows over the k-group rollup
                    "doc_length_kruskal_wallis",
                    # BM25 corpus-stats row (same as bm25_search)
                    "retrieval_ndcg_report",
                    # OLS-moment / pooled-moment 1-row frames
                    "daily_count_durbin_watson",
                    "daily_revenue_jarque_bera",
                    "price_grubbs_outlier",
                    "daily_count_breusch_pagan",
                    "ab_cuped_adjusted",
                    # bin-total / group-total 1-row frames
                    "en_score_brier", "purchase_click_hellinger",
                    "purchase_click_cvm", "purchase_click_wasserstein",
                    # EB prior row over the per-brand rollup
                    "brand_return_rate_eb",
                    # per-iteration 1-row max-normalizer broadcasts
                    "supplier_hits_scores",
                    # Friedman totals row over the k-treatment rollup
                    "event_type_friedman",
                    # corpus-horizon row (KM construction) + k-row
                    # ranked-list full-outer under 1-row totals
                    "signup_purchase_rmst", "retrieval_rbo_overlap",
                    # late-session-4 1-row scalar broadcasts:
                    # per-round moment rows (GESD), the 4-point
                    # log-log fit row (Hurst), the max-t horizon row
                    # (backtest), the corpus vocab row (perplexity —
                    # same LM-stats shape as doc_unigram_logprob)
                    "daily_count_gesd_outliers", "daily_revenue_hurst",
                    "revenue_forecast_backtest",
                    "source_bigram_perplexity",
                    # 1-row global-median broadcast (Mood side split)
                    "event_type_mood_median",
                    # 1-row marginal-entropy broadcast under the K²
                    # transition rollup
                    "event_markov_entropy",
                    # round-8 distributed-rank conversions: grand
                    # totals became broadcast 1-row crossJoins against
                    # the collapsed support (global_cumsum replaces
                    # the whole-frame window — ids.py)
                    "purchase_click_ks_test", "event_value_mutual_info",
                    "event_count_pettitt", "quantity_return_best_split",
                    "priority_status_chi2",
                    # round-9: 1-row (n_exact × n_candidates × n_hits)
                    # scalar crossJoins in the dedup-index recall gate
                    "dedup_lsh_recall_report"}
    failures = []
    for name, fn in entry.queries().items():
        try:
            plan = _plan(fn(spark, SF))
        except Exception as exc:  # noqa: BLE001 — surfaced below
            failures.append(f"{name}: failed to plan ({exc})")
            continue
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-at-a-time Python UDF")
        if "BroadcastNestedLoopJoin" in plan and name not in allowed_bnlj:
            failures.append(f"{name}: BroadcastNestedLoopJoin")
    assert not failures, failures


def test_sq_int8_is_scan_project_topk(spark):
    # quantized cosine: no shuffle at all before TakeOrdered — one scan,
    # codegen'd integer arithmetic, top-k
    plan = _plan(entry.queries()["similarity_sq_int8"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_cooccurrence_edges_build_has_no_join(spark):
    # the pair explosion happens in-array from each group's single row;
    # the only operators are aggregates + generate + distinct
    from pyspark.sql import functions as F

    from pipelines_rj_sms_spark.operators.graph import cooccurrence_edges
    from pipelines_rj_sms_spark.session import read_parquet_normalized
    li = read_parquet_normalized(spark, f"{SF}/lineitem.parquet")
    plan = _plan(cooccurrence_edges(li, "l_orderkey", "l_suppkey"))
    assert "Join" not in plan
    assert "Generate explode" in plan


def test_rrf_fusion_inputs_stay_topk_shaped(spark):
    # both retriever legs end in TakeOrdered before fusion — the
    # corpus-scale work happens upstream, the fusion window sorts only
    # candidate lists
    plan = _plan(entry.queries()["hybrid_rrf_search"](spark, SF))
    assert plan.count("TakeOrderedAndProject") >= 2
