"""Plan-quality regression guard over the bench headline: no
CartesianProduct anywhere, BroadcastNestedLoopJoin only where it is a
deliberate scalar/1-row broadcast, and scan queries keep their filters
pushed. Plans are built (not executed) at the test SF — a regression
that sneaks a cartesian or an unbounded BNLJ into a headline operator
fails here before it ever reaches a cluster."""

from __future__ import annotations

import pytest

from tools.plan_audit import fingerprint, plan_of, shuffle_count

# deliberate BNLJ: broadcasting a 1-row/scalar relation (corpus totals,
# IVF probe thresholds) into a map-side comparison — bounded by design
BNLJ_OK = {
    "dedup_jaccard_pairs",      # prefix self-join condition set
    "rtr_bm25_topk",            # corpus-stats scalar broadcast
    "rtr_tfidf_keywords",       # same
    "text_vocab_topk",          # total-token scalar broadcast
    "pack_temperature_sample",  # corpus-total + normalizer 1-row broadcasts
    "plan_join_cardinality",    # five 1-row diagnostic scalars cross-joined
}

# queries that materialize scratch tables as a side effect of plan
# construction — exercised by their own tests/oracles; skipping keeps
# this guard fast and read-only
SCRATCH = {
    "index_bloom_lookup",
    "index_secondary_lookup",
    "s7_partial_update",
    "merge_multi_action",
    "stream_true_tumbling",  # runs a real readStream replay to a memory sink
    "cluster_kmeans_parallel_init",  # driver-iterative: rounds run at plan build
    "dedup_pq_code_groups",          # pq_fit collects codebooks at plan build
    "sim_sq8_topk",                  # sq8_stats collects min/max at plan build
    "text_bpe_encode",               # merge table trains at plan build
}


@pytest.fixture(scope="module")
def headline_plans(spark, sf_dir):
    """Every (non-scratch) headline query's formatted plan, built ONCE
    per module: three tests iterate the same ~100 queries, and building
    a query's DataFrame also runs its eager fit collects — sharing the
    dict cuts this module's wall roughly in half (r12 VERDICT #3: keep
    the suite inside the driver's verify budget)."""
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    qs = entrymod.queries()
    return {
        name: plan_of(qs[name](spark, sf_dir))
        for name in HEADLINE
        if name not in SCRATCH
    }


def test_headline_plans_no_cartesian_bounded_bnlj(headline_plans):
    offenders = []
    for name, plan in headline_plans.items():
        if "CartesianProduct" in plan:
            offenders.append((name, "cartesian"))
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            offenders.append((name, "bnlj"))
    assert not offenders, offenders


# queries whose kernels are DECLARED Arrow/Python (the five-entry UDF
# matrix); everything else must stay entirely JVM-side
ARROW_OK = {
    "mm_feature_extraction",
    "ml_group_linfit",
    "stat_trimmed_mean",
    "sim_bruteforce_topk_arrow",
    "mm_wav_decode",  # declared codec kernel pair (wave encode / RIFF parse)
    "mm_image_neardup_pairs",  # declared P6 codec kernel (encode + dHash)
}


def test_headline_plans_stay_jvm_side(headline_plans):
    """SURVEY §2.10 policy, enforced: no Python evaluation nodes in any
    headline plan outside the declared Arrow kernels — a built-in
    expression silently degrading to a Python UDF (easy to do via
    api changes or accidental closures) fails here, not on a cluster."""
    import re

    offenders = []
    for name, plan in headline_plans.items():
        if name in ARROW_OK:
            continue
        if re.search(r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas", plan):
            offenders.append(name)
    assert not offenders, offenders


def test_headline_plans_read_parquet_not_driver_rows(headline_plans):
    """These two return their distributed plans at every SF: each scans
    parquet, and neither is rows collected to the driver and handed
    back as a LocalTableScan (which would hide the real plan from every
    other check in this module)."""
    for name in ("variant_extract_profile", "mm_wav_decode"):
        plan = headline_plans[name]
        assert "Scan parquet" in plan, name
        assert "LocalTableScan" not in plan, name


# max SHUFFLE-exchange budgets per round's additions, measured at the
# test SF: a refactor that silently adds an exchange to one of these
# fails here before it ships. Budgets are the measured counts — not
# aspirational — so any increase is a deliberate, reviewed change to
# this table. (Broadcast exchanges are excluded: the dedup family's
# measured broadcast dispatch legitimately varies with data size.) No
# plan in the table may hold a CartesianProduct.
EXCHANGE_BUDGETS = {
    # round-7 headline additions (VERDICT r7 #8)
    "r7": {
        "cluster_kmeans_parallel_init": 0,  # returns driver-built diag rows;
        # rounds collect scalars + expected-l candidates only
        # r13: the df-ranked relation is persisted and feeds BOTH candidate
        # sides (PPJoin+ positional filter needs rn on the index side)
        "dedup_containment_pairs": 7,
        "text_bigram_backoff": 3,
        "text_bpe_encode": 1,
        "stream_dedup_watermark": 1,
    },
    # round-8 additions. The k-centroid cross-scores and the isotonic
    # bin grid are broadcast nested loops over RELATIONS BOUNDED BY
    # CONSTRUCTION (centroid count, bin count), not data-sized.
    "r8": {
        "text_kneser_ney": 3,
        "dedup_semdedup": 1,
        "rtr_rrf_fusion": 2,
        "ev_attribution_channels": 2,
        "ml_isotonic_calibration": 5,
        "rollup_join_view_maintenance": 1,
        "ml_pr_curve": 2,
        "stat_mann_whitney": 1,
        "text_ccnet_buckets": 4,
        "graph_link_prediction": 6,
    },
    # round-9 additions: the r8 experiment-stack queries (r8 verdict #7 —
    # cheap insurance that a refactor can't re-introduce a row-level
    # window into the collapsed-relation stats) plus the two
    # de-quadratified queries' final shapes.
    "r9": {
        "stat_permutation_test": 1,
        "ml_conformal_interval": 5,
        "ev_sprt_monitor": 2,
        "ev_did_estimator": 2,
        "sim_hard_negatives": 1,
        "pack_length_buckets": 7,
        "ml_pr_curve": 2,
        "ml_auc_score": 1,
    },
}


def _check_exchange_budgets(spark, sf_dir, rnd, built=None):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    over = []
    for name, budget in EXCHANGE_BUDGETS[rnd].items():
        plan = (built or {}).get(name) or plan_of(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        shuffles = shuffle_count(plan)
        if shuffles > budget:
            over.append((name, shuffles, budget))
    assert not over, f"shuffle-exchange budget exceeded: {over}"


def test_r7_headline_exchange_budgets(spark, sf_dir, headline_plans):
    _check_exchange_budgets(spark, sf_dir, "r7", headline_plans)


def test_r8_exchange_budgets_and_no_cartesian(spark, sf_dir):
    _check_exchange_budgets(spark, sf_dir, "r8")


def test_pack_length_buckets_no_single_partition_window(spark, sf_dir):
    """r8 verdict #1: the length-quartile assignment must NOT funnel the
    corpus through one task. The distributed prefix-sum rank keeps every
    window partitioned by range id; a refactor that reintroduces
    ntile().over(Window.orderBy(...)) surfaces as a Sort/Window node
    sitting on a SinglePartition exchange. The final global SCALAR
    aggregate (4 bucket rows → 1) legitimately collapses to one
    partition, so the ban targets the Sort/Window-over-SinglePartition
    shape, not SinglePartition per se."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["pack_length_buckets"](spark, sf_dir)
    # simple tree string: parent nodes precede their SinglePartition
    # exchange child; a global window shows as Window/Sort directly above
    tree = df._jdf.queryExecution().executedPlan().toString()
    lines = tree.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            above = "\n".join(lines[max(0, i - 3) : i])
            assert "Window" not in above and "Sort" not in above, tree


def test_sim_hard_negatives_blocked_plan(spark, sf_dir):
    """r8 verdict #2: the registered hard-negative miner must candidate
    via a cell-EQUALITY equijoin (Σ|cell|² pairs), never the label-
    inequality all-pairs join (n² pairs). An all-pairs arm has no
    equijoin keys, so it plans as BroadcastNestedLoopJoin/Cartesian —
    both banned here — and the blocked arm's shuffle count is pinned."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    plan = plan_of(qs["sim_hard_negatives"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    shuffles = shuffle_count(plan)
    assert shuffles <= 1, f"shuffle-exchange budget exceeded: {shuffles}"


def test_r9_exchange_budgets_and_no_cartesian(spark, sf_dir):
    _check_exchange_budgets(spark, sf_dir, "r9")


# every registry addition of round 9 (waves r9 .. r9f): no cartesian
# anywhere; BNLJ only for the queries whose plans deliberately broadcast
# a BOUNDED relation (1-row query vectors / scalar stats and
# boundary relations, the 10-row centroid table, the 5-row
# language-stats table, 4-row sensitive-bucket grids, the 2-row lag
# literal, the calendar-bounded daily series in Kendall's pairwise
# pass).
NEW_QUERIES = {
    "r9": [
        "stat_kruskal_wallis", "stat_brown_forsythe", "stat_g_test",
        "stat_cramer_von_mises", "stat_spearman_trend", "ts_acf_profile",
        "ts_theil_sen_trend", "graph_kcore_parts", "graph_hits_authorities",
        "pack_unimax_allocation", "rtr_jm_smoothing_topk", "text_rake_keywords",
        "er_phonetic_blocking", "sim_knn_graph", "ev_bayes_beta_binomial",
        "skew_ams_f2", "approx_kmv_distinct", "sim_binary_quant_topk",
        "ml_naive_bayes_langid", "ml_ridge_normal_eq", "dq_t_closeness",
        "cluster_silhouette_simplified", "text_compression_ratio",
        "rtr_rocchio_feedback", "ev_quantile_treatment_effect",
        "stat_holm_bonferroni", "stat_bh_fdr", "asof_nearest_join",
        "ev_rfm_segments", "dedup_minhash_calibration",
        "graph_degree_distribution", "ts_holt_linear",
        "pipeline_dedup_ablation", "w_percent_rank_cume",
        "sim_pca_top_component", "ts_holt_winters",
        "stat_wilcoxon_signed_rank", "text_js_divergence", "stat_cohens_d",
        "ml_lift_gains_curve", "stat_mcnemar", "ml_brier_murphy",
        "stat_runs_test", "text_hapax_profile", "text_heaps_law",
    ],
    "r9b": [
        "stat_jarque_bera", "ts_forecast_accuracy", "ts_technical_indicators",
        "graph_clustering_coefficient", "graph_shortest_paths",
        "dq_referential_integrity", "stat_kendall_tau", "stat_ljung_box",
        "stat_grubbs_outlier", "ml_classification_report", "text_good_turing",
        "text_ngram_novelty", "ev_cohort_ltv", "ev_qini_uplift",
        "ev_tost_equivalence", "stat_fleiss_kappa", "text_term_burstiness",
        "ml_knn_accuracy", "dq_outlier_iqr", "ev_dau_mau_stickiness",
        "approx_kmv_jaccard", "graph_assortativity", "ts_seasonal_strength",
        "ev_time_to_convert", "dq_candidate_keys", "dq_cross_field_rules",
        "ts_gaps_islands", "pipeline_kfold_balance",
    ],
    "r9c": [
        "ev_survival_kaplan_meier", "graph_modularity", "mm_image_entropy",
        "ev_its_segmented", "stat_cochran_q", "plan_partition_sizing",
        "rtr_map_precision", "ev_two_proportion_z", "stat_bartlett",
        "ml_f1_threshold", "ml_regression_report", "dq_outlier_mad",
        "ev_markov_absorbing", "stat_durbin_watson", "ml_platt_scaling",
    ],
    "r9d": [
        "approx_quantile_check", "ev_new_vs_returning", "sim_batch_query_topk",
        "ev_cart_abandonment", "stat_chi2_gof_hour", "ev_interarrival_profile",
        "ts_weekday_profile", "ml_permutation_importance",
        "dq_completeness_trend",
    ],
    "r9e": ["sql_api_recursive_spine", "stat_var_backtest", "ts_holt_eval"],
    "r9f": ["ev_wilson_ci", "sim_embedding_drift",
            "ev_retention_halflife", "graph_diameter_double_sweep"],
}
BOUNDED_BNLJ = {
    # r9
    "stat_g_test",                  # r-marginal x c-marginal grid (bounded)
    "rtr_jm_smoothing_topk",        # 1-row corpus-stats scalar (bm25 idiom)
    "graph_hits_authorities",       # 1-row L1-normalizer scalar per step
    "rtr_rocchio_feedback",         # 1-row corpus-stats scalar broadcast
    "ev_quantile_treatment_effect", # 1-row decile-array pair explode
    "ev_rfm_segments",              # 1-row boundary-array broadcast
    "graph_degree_distribution",    # 1-row loglog-fit scalar broadcast
    "pipeline_dedup_ablation",      # 1-row vocab scalar per corpus side
    "ml_lift_gains_curve",          # 1-row decile-boundary broadcast
    "ml_brier_murphy",              # 1-row totals + raw-score scalars
    "stat_runs_test",               # 1-row exact-median scalar broadcast
    "text_heaps_law",               # 10-row checkpoint-boundary join + fit scalars
    "pack_unimax_allocation",       # 1-row budget scalar
    "ev_bayes_beta_binomial",       # scalar posterior terms
    "sim_binary_quant_topk",        # 1-row query signature broadcast
    "ml_naive_bayes_langid",        # 5-row language-stats broadcast
    "dq_t_closeness",               # 4-bucket grid explode
    "cluster_silhouette_simplified",  # 10-row centroid cross-score
    "skew_ams_f2",                  # 1-row exact-F2 scalar
    "approx_kmv_distinct",          # 1-row exact-distinct scalar
    "stat_kruskal_wallis",          # 1-row tie-term scalar
    "stat_cramer_von_mises",        # 1-row totals scalar
    "stat_spearman_trend",          # 1-row sufficient-stats scalar
    "ts_acf_profile",               # 1-row mean/denominator scalars
    "ts_theil_sen_trend",           # 1-row slope/intercept scalars
    "dq_benford_profile",
    # r9b
    "ts_forecast_accuracy",     # 2-row lag literal + 1-row naive-MAE scalar
    "dq_referential_integrity", # 1-row orphan/child count scalars per edge
    "stat_kendall_tau",         # calendar-bounded daily series pairwise pass
    "stat_ljung_box",           # 1-row mean/denominator scalars
    "stat_grubbs_outlier",      # 1-row stats broadcast
    "text_good_turing",         # 1-row corpus-total scalar
    "ev_qini_uplift",           # 1-row decile-boundary broadcast
    "text_term_burstiness",     # 1-row doc-count scalar
    "approx_kmv_jaccard",       # 1-row sketch-threshold/exact scalars
    "stat_jarque_bera",         # 1-row-per-group mean broadcast join
    "dq_outlier_iqr",           # |event_type|-row quantile broadcast
    "ts_seasonal_strength",     # 24-row hour-of-day means broadcast
    # r9c
    "ev_survival_kaplan_meier",  # 1-row corpus-end bound + user-total scalar
    "graph_modularity",          # 1-row edge-count scalar
    "ev_its_segmented",          # 1-row cutpoint scalar
    "rtr_map_precision",         # 1-row relevant-total scalar (bm25 idiom)
    "ml_f1_threshold",           # 1-row totals broadcast
    "ml_regression_report",      # 1-row weight vector broadcast
    "stat_durbin_watson",        # 1-row slope/intercept scalars
    # r9d
    "sim_batch_query_topk",      # 5-row query-vector broadcast (<> join)
    "stat_chi2_gof_hour",        # 1-row totals scalar
    "ts_weekday_profile",        # 1-row revenue-total scalar
    "ml_permutation_importance", # 1-row weight vector broadcast
    # r9e
    "sql_api_recursive_spine",  # 1-row bounds into the recursion seed
    "stat_var_backtest",        # 1-row cut + VaR scalars
    # r9f
    "ev_retention_halflife",       # 1-row cohort-base + fit scalars
    "graph_diameter_double_sweep", # 1-row seed / re-root scalars
}


def _check_no_cartesian_bounded_bnlj(spark, sf_dir, wave):
    import __spark_entry__ as entrymod

    from hudi_utility_spark.queries.text import text_compression_ratio

    # text_compression_ratio is deregistered (no SQL oracle exists) but
    # still plan-audited here
    qs = {**entrymod.queries(), "text_compression_ratio": text_compression_ratio}
    offenders = []
    for name in NEW_QUERIES[wave]:
        plan = plan_of(qs[name](spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append((name, "cartesian"))
        if "BroadcastNestedLoopJoin" in plan and name not in BOUNDED_BNLJ:
            offenders.append((name, "bnlj"))
    assert not offenders, offenders


def test_r9_new_queries_no_cartesian_bounded_bnlj(spark, sf_dir):
    _check_no_cartesian_bounded_bnlj(spark, sf_dir, "r9")


def test_r9b_new_queries_no_cartesian_bounded_bnlj(spark, sf_dir):
    _check_no_cartesian_bounded_bnlj(spark, sf_dir, "r9b")


def test_r9c_new_queries_no_cartesian_bounded_bnlj(spark, sf_dir):
    _check_no_cartesian_bounded_bnlj(spark, sf_dir, "r9c")


def test_r9d_new_queries_no_cartesian_bounded_bnlj(spark, sf_dir):
    _check_no_cartesian_bounded_bnlj(spark, sf_dir, "r9d")


def test_r9e_new_queries_no_cartesian_bounded_bnlj(spark, sf_dir):
    _check_no_cartesian_bounded_bnlj(spark, sf_dir, "r9e")


def test_r9f_new_queries_no_cartesian_bounded_bnlj(spark, sf_dir):
    _check_no_cartesian_bounded_bnlj(spark, sf_dir, "r9f")


def test_r10_knn_join_by_cell_equijoin_plan(spark, sf_dir):
    """r9 verdict #6: the IVF k-NN JOIN must candidate via an exploded
    cell EQUI-join (SortMergeJoin/ShuffledHashJoin on the cell id),
    never the old `array_contains(probe_cells, cell)` theta form that
    plans as a nested-loop. The only BNLJ allowed is the bounded
    centroid-table broadcast (n_cells rows) used to rank probe cells."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    plan = plan_of(qs["sim_knn_join_by_cell"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the corpus-side candidate join must be an equi-join: at least one
    # hash/sort-merge join node keyed on the cell id must exist
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan
    shuffles = shuffle_count(plan)
    assert shuffles <= 3, f"shuffle-exchange budget exceeded: {shuffles}"


def test_r10_new_queries_plan_shapes(spark, sf_dir):
    """pack_feistel_shuffle must stay MAP-ONLY (zero shuffle exchanges —
    the whole point of a permutation-based shuffle is no exchange at
    assignment time); approx_moments_quantile is one hash-aggregate
    shuffle; sim_knn_join_by_cell has its own equi-join guard above."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    plan = plan_of(qs["pack_feistel_shuffle"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    shuffles = shuffle_count(plan)
    assert shuffles == 0, f"feistel shuffle must be map-only: {shuffles}"

    plan = plan_of(qs["approx_moments_quantile"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    shuffles = shuffle_count(plan)
    assert shuffles <= 1, f"moments sketch budget exceeded: {shuffles}"


def test_distinct_count_plans_are_deterministic(spark, sf_dir):
    """Two count_distincts in one aggregate plan an Expand whose
    projection order follows expression ids, so the physical plan (and
    its fingerprint) changed from build to build and the refactor gate
    could not vouch for these queries. Each now counts distinct values
    as the size of a collect_set: one plan, build after build."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in ("stat_g_test", "stat_chi2_independence", "q21_waiting_suppliers"):
        prints = {fingerprint(plan_of(qs[name](spark, sf_dir))) for _ in range(6)}
        assert len(prints) == 1, (name, prints)
