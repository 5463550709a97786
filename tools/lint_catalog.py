#!/usr/bin/env python
"""Run plans.lint_plan over every catalog query and write
LINT_CATALOG.json — the per-round plan-hygiene audit.

Exit non-zero if any query plans a CartesianProduct, or a
row-at-a-time Python UDF appears outside the two deliberate UDTF
workloads (which bound their input and document why).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LINT_SF_DIR = os.environ.get("SPARK_GRAFT_LINT_SF_DIR", "/root/testdata/sf0.001")

# row-at-a-time Python is the documented point of these two (bounded input)
ROW_UDF_ALLOWED = {"udtf_event_runs_per_user", "udtf_token_explode_documents"}

# single-partition Window allowed ONLY where the window input is provably
# bounded — a post-limit(k) frame or a fixed-k aggregate. Each entry's bound
# is stated in the workload docstring; anything else planning an Exchange
# SinglePartition under a Window is a critical lint failure.
SP_WINDOW_ALLOWED: set[str] = set()

# exact percentile/median aggregates allowed ONLY where the per-group value
# domain is provably bounded (the bound is stated in the workload
# docstring); over a domain that grows with the data the single-task
# buffer is a 100 TB OOM — use operators/quantiles.py instead.
PCT_ALLOWED = {
    # ≤7 nano-quantized daily means per (day) group — calendar-bounded
    "moving_median_daily_value",
}

# nested-loop-join adjudication (round 8): every BroadcastNestedLoopJoin
# in the catalog was audited by extracting the BNLJ nodes and their
# BroadcastExchange build-side subtrees from the executed plans. A BNLJ
# is benign iff its broadcast side is BOUNDED — it does not grow with the
# data. Observed bounded shapes, recorded per query below:
#   scalar          — a 1-row global aggregate (min/max/count/sum/avg/
#                     sufficient-statistics row) joined onto every row
#   calendar        — a daily/period table (rows = days in span)
#   bounded-k       — a fixed literal-bounded set (query vectors
#                     vec_id<k, doc sample, rank prefix <=k)
#   dim             — a tiny dimension table (region, supplier)
#   bounded-table   — a capped derived table (top-1000 tokens, <=1001
#                     milli-quantized levels, <=51 heavy-hitter
#                     candidates, 10 decile edges, fixed cutpoints)
#   part-summary    — an O(#partitions) per-partition offset/count table
#                     (the ordered_cumsum idiom)
#   groups          — a per-category aggregate over a low-cardinality
#                     attribute (event types, labels, hour-of-day bands)
# A flagged BNLJ whose query is NOT in this dict is a critical lint
# failure: an unbounded broadcast side is the quadratic 100 TB cliff.
NLJ_ALLOWED: dict[str, str] = {
    "agg_median_acctbal_by_nation": "scalar: CDF contract-guard row + bounded rank/percentile side tables",
    "assoc_rules_event_pairs": "groups: event-type pair grid (<=types^2)",
    "average_precision_bm25": "bounded-k: rank-prefix table <=k",
    "balanced_downsample_events": "scalar: global min class count",
    "benford_first_digit_values": "scalar: global total",
    "bigram_lm_score_documents": "scalar: corpus token totals",
    "bm25_rank_documents": "scalar: n_docs + avgdl one-row aggregates",
    "bootstrap_lift_ci_events": "scalar: totals; replicate grid constant",
    "bootstrap_poisson_ci_events": "scalar: totals; replicate grid constant",
    "brier_decomposition_documents": "scalar: n + base rate",
    "chi2_event_type_by_dow": "groups: per-type marginals + scalar total",
    "churn_labels_events": "scalar: global max ts (x2)",
    "conditional_entropy_event_chain": "groups: type-pair grid + scalar",
    "cube_status_priority": "scalar: ANSI ()-row re-anchor (1-row seed x <=1-row total)",
    "countmin_calibration_events": "bounded-table: depth-3 rows, 192-cell sketch",
    "dedup_embedding_cosine_lsh": "scalar: recall-vs-bruteforce row",
    "did_estimator_events": "scalar: global min/max ts",
    "dow_seasonality_events": "scalar: global sum/count",
    "equidepth_bins_orders_price": "bounded-table: 10 decile edges + part-summary",
    "feature_mi_documents": "groups: feature x class grid",
    "gdpr_cascade_delete_audit": "scalar: cascade audit counts",
    "grouping_sets_revenue": "scalar: ANSI ()-row re-anchor (1-row seed x <=1-row total)",
    "heaps_law_fit_documents": "bounded-table: fixed corpus cutpoints",
    "heavy_hitter_tokens_documents": "bounded-table: <=ceil(1/phi)=51 candidates",
    "hill_tail_index_orders": "bounded-table: top-101 values + scalar vmin",
    "intrinsic_dim_twonn_embeddings": "bounded-k: fixed 500-row estimator sample",
    "join_cross_region_pairs": "dim: region (5 rows)",
    "kaplan_meier_first_purchase": "scalar: cohort size",
    "kendall_tau_daily_value": "calendar: daily-mean table (days rows; days^2 pair WORK distributed, memory = days)",
    "kneser_ney_bigram_score_documents": "scalar: discount/continuation totals",
    "kruskal_wallis_value_by_type": "part-summary: rank offset table",
    "ks_statistic_view_vs_click": "part-summary: per-partition CDF offsets",
    "logo_slope_influence_events": "scalar: regression sufficient stats",
    "mannwhitney_view_vs_click": "part-summary: rank offset table",
    "moving_median_daily_value": "calendar: daily table, <=7 per window",
    "ndcg_bm25_documents": "bounded-k: per-query ideal-DCG rows",
    "nearest_supplier_per_customer": "dim: supplier (stream side spread())",
    "negative_sampling_documents": "bounded-k: query set doc_id<20",
    "norm_quartiles_embeddings_label": "scalar: CDF contract-guard row + bounded rank tables",
    "pareto_revenue_concentration": "scalar: grand total + part-summary",
    "pmi_collocations_documents": "scalar: corpus totals",
    "precision_recall_at_5_bm25": "scalar: n_relevant",
    "profile_approx_quantiles_orders": "scalar: CDF contract-guard row + bounded rank tables",
    "psi_drift_orders_price": "scalar: min/max + 10 fixed bins",
    "q11_important_part_value": "scalar: value threshold (TPC-H Q11)",
    "q22_global_sales_opportunity": "scalar: global avg balance (TPC-H Q22)",
    "qq_distance_view_click": "bounded-table: decile grid x 2 types",
    "rrf_fuse_bm25_tfidf_documents": "scalar: n_docs + avgdl one-row aggregates (both rankers)",
    "rollup_grouping_id_events": "scalar: ANSI ()-row re-anchor (1-row seed x <=1-row total)",
    "rollup_revenue_region_nation": "scalar: ANSI ()-row re-anchor (1-row seed x <=1-row total)",
    "range_join_value_buckets": "bounded-table: constant bucket grid",
    "ratio_to_report_nation_revenue": "scalar: grand-total revenue",
    "theil_sen_daily_value_trend": "scalar: ANSI global-row re-anchor (1-row seed x <=1-row CDF result)",
    "rbo_bm25_vs_tfidf": "bounded-k: rank-prefix lists <=k",
    "rfm_user_scores": "scalar: n_users + part-summary",
    "roc_auc_stopword_lang_documents": "bounded-table: <=1001 milli-quantized levels",
    "rolling_7d_active_users": "calendar: distinct-days table",
    "rolling_origin_backtest_daily": "groups: per-type min-day",
    "silhouette_embeddings_labels": "groups: per-label centroid structs",
    "similarity_mmr_diversified": "bounded-k: <=5 query vectors",
    "similarity_topk_bruteforce": "bounded-k: <=5 query vectors (documented brute-force baseline; LSH/IVF are the scale path)",
    "similarity_topk_filtered": "bounded-k: <=5 query vectors",
    "similarity_topk_ivf": "bounded-k: query vectors + centroid table",
    "similarity_topk_lsh": "bounded-k: query vectors + hyperplanes",
    "similarity_topk_pq_adc": "bounded-k: query vectors + PQ codebook/ADC tables",
    "skyline_orders_price_date": "calendar: per-day min table",
    "subquery_scalar_above_avg": "scalar: global avg",
    "t_closeness_audit_events": "groups: (hour x band) global distribution",
    "tfidf_top_terms_documents": "scalar: distinct-doc-count one-row aggregate",
    "temperature_resample_documents": "scalar: total sampling quota",
    "temporal_split_events": "scalar: min/max day",
    "theil_decomposition_nation_revenue": "scalar: global n/sum",
    "time_decay_engagement_events": "scalar: global max ts",
    "user_activity_features": "scalar: global max ts",
    "vocab_coverage_documents": "scalar: total token count",
    "vocab_kl_drift_documents": "scalar: per-half vocabulary totals",
    "welch_t_view_vs_click": "groups: 2 per-type stat rows",
    "winsorized_mean_value_by_type": "scalar: CDF contract-guard row + bounded rank tables",
    "zipf_fit_documents": "bounded-table: top-1000 tokens (TakeOrdered)",
    "zscore_anomaly_days": "scalar: global mean/std",
}

# many-shuffles adjudication (round 8): the warning fires past the
# max_shuffles hash-exchange count. Every flagged query below re-keys a
# FIXED number of times determined by the algorithm's stages (marginals
# of a contingency table, per-lag autocovariances, graph edge->wedge->
# triangle joins, two-ranker fusions, CDF passes) — the count does not
# grow with the data, and no two stages share a keying that a
# repartition could fuse without changing the algorithm. An unlisted
# flagged query is a critical failure until adjudicated.
MS_ALLOWED: dict[str, str] = {
    "agg_median_acctbal_by_nation": "CDF machinery keyings (distinct-value agg, range slice, totals, offsets) - fixed count",
    "assoc_rules_event_pairs": "item, pair, and total support keyings",
    "chi2_event_type_by_dow": "row/col/cell marginals + total",
    "clustering_coefficient_neardup": "degree, wedge, triangle keyings",
    "conditional_entropy_event_chain": "bigram/unigram/total keyings",
    "conformal_interval_events": "per-type calib CDF + test join",
    "dbscan_core_border_noise_embeddings": "bucket join + O(log n) CC label rounds",
    "dedup_embedding_cosine_lsh": "band bucketing + probe + rerank + corpus set-dedup exchange",
    "equidepth_bins_orders_price": "cumsum machinery + decile edge keyings - fixed count",
    "haar_energy_daily_events": "one pair-agg per wavelet level (log2 span)",
    "kneser_ney_bigram_score_documents": "bigram/unigram/continuation keyings",
    "leakage_safe_split_documents": "group, split, and audit keyings",
    "mad_robust_outliers_events": "two CDF passes (median, MAD) + flag join",
    "minhash_near_dup_pairs": "sig, bucket, pair, verify keyings + token set-dedup exchange",
    "ngram_jaccard_top_pairs": "token, pair, size keyings + (id, token) set-dedup exchange",
    "ndcg_bm25_documents": "term match, per-query rank, ideal rank",
    "newey_west_trend_daily": "per-lag autocovariance keyings (fixed lags)",
    "norm_quartiles_embeddings_label": "CDF machinery keyings - fixed count",
    "pacf_daily_events": "per-lag Durbin recursion aggs (fixed K)",
    "profile_approx_quantiles_orders": "CDF machinery keyings - fixed count",
    "rbo_bm25_vs_tfidf": "two rankers + per-depth overlap",
    "rolling_origin_backtest_daily": "per-fold train/test aggs (fixed folds)",
    "rrf_fuse_bm25_tfidf_documents": "two rankers + fused rank",
    "pretrain_pipeline_documents": "gates, id-canon window, dedup, sampling, chunk rollup keyings",
    "similarity_mmr_diversified": "shortlist, pair, greedy-step keyings + corpus set-dedup exchange",
    "similarity_topk_ivf": "centroid assign + probe + rerank",
    "similarity_topk_lsh": "band bucketing + probe + rerank",
    "similarity_topk_pq_adc": "ADC shortlist + rerank + corpus set-dedup exchange",
    "source_overlap_matrix_documents": "pairwise source-grid aggs",
    "theil_sen_daily_value_trend": "calendar pair grid + CDF machinery keyings - fixed count",
    "triangle_support_neardup": "edge->wedge->triangle join keyings",
    "winsorized_mean_value_by_type": "CDF machinery keyings + derived-table agg - fixed count",
}

# filter-not-pushed adjudication (round 8, VERDICT r7 task #2): the lint
# flags every plan where a Filter node exists but no SUBSTANTIVE predicate
# reached a scan (IsNotNull-only pushdown). Each flagged query below was
# audited by dumping its executed plan's Filter conditions (the audit
# procedure: extract every `Filter ...` node + `PushedFilters:` entry at
# sf0.001 and classify the predicates). Three inherent classes — a query
# NOT in this dict that trips the warning is a lint FAILURE until a fix
# or an adjudicated entry lands:
#
#   null-guard — the only filters are Catalyst-inferred isnotnull() join/
#     window key guards; IsNotNull IS pushed to the scan, the lint just
#     (rightly) discounts it as non-substantive. Nothing else exists to
#     push.
#   derived — the substantive predicate references a column that does not
#     exist at scan time: an aggregate output (HAVING), a window rank, a
#     generator/explode product, a scalar-subquery comparison, or a
#     broadcast-built lookup column.
#   expr — the substantive predicate is a FUNCTION of scan columns
#     (key % n sampling splits, size(split(text)), date-part extraction,
#     from_json, md5-threshold sampling, try_cast on all-string text
#     formats, column-to-column comparisons, salts): the parquet/csv
#     reader API accepts only plain column-vs-literal comparisons, so
#     these evaluate in the scan-adjacent codegen stage — the correct
#     placement, one pass, nothing to fix.
FNP_ALLOWED: dict[str, str] = {
    "asof_events_last_order": "null-guard (ASOF NULL-ts/NULL-key semantics)",
    "asof_forward_events_order": "null-guard (ASOF NULL-ts/NULL-key semantics)",
    "asof_tolerance_events_order": "null-guard (ASOF NULL-ts/NULL-key semantics)",
    "assoc_rules_event_pairs": "null-guard",
    "assortativity_neardup_graph": "null-guard",
    "bm25_rank_documents": "derived: term IN (...) on exploded terms",
    "bpe_fertility_by_lang": "null-guard",
    "bounce_rate_sessions": "null-guard (ts IS NOT NULL: sessionization needs event time)",
    "embedding_label_centroids": "null-guard (embedding IS NOT NULL)",
    "equidepth_bins_orders_price": "null-guard (NULL price is not a CDF value)",
    "event_transition_matrix": "null-guard (ts IS NOT NULL: chain order needs event time)",
    "markov_transitions_events": "null-guard (ts IS NOT NULL: chain order needs event time)",
    "pca_project_embeddings": "null-guard (valid-vector set: embedding IS NOT NULL, fixed dim)",
    "pq_encode_embeddings": "null-guard (valid-vector set: embedding IS NOT NULL, fixed dim)",
    "scd2_user_event_history": "null-guard (ts IS NOT NULL: a validity interval needs an effective time)",
    "sequence_pattern_events": "null-guard (ts IS NOT NULL: path order needs event time)",
    "session_duration_stats": "null-guard (ts IS NOT NULL: sessionization needs event time)",
    "sessionized_funnel_events": "null-guard (ts IS NOT NULL: sessionization needs event time)",
    "map_functions_events": "null-guard (map keys cannot be NULL; event_type IS NOT NULL is the only scan predicate)",
    "chi2_event_type_by_dow": "expr: dayofweek(cast(ts as date))",
    "conditional_entropy_event_chain": "null-guard (ts IS NOT NULL: chain order needs event time)",
    "daily_value_percentiles_events": "null-guard (value IS NOT NULL: percentiles are over observed values)",
    "mase_seasonal_naive_daily": "null-guard (ts IS NOT NULL: a day-indexed series has no slot for timeless rows)",
    "peak_detection_daily_events": "null-guard (ts IS NOT NULL: a day-indexed series has no slot for timeless rows)",
    "churn_labels_events": "null-guard (+derived _c guard)",
    "clustering_coefficient_neardup": "derived: degree >= 2 (agg output)",
    "cohort_retention_events": "null-guard",
    "conformal_interval_events": "expr: event_id % 2 calib/test split",
    "curation_pipeline_documents": "expr: quality-score CASE over text",
    "dedup_embedding_cosine": "expr: size(embedding)==dim kernel validity guard",
    "dedup_embedding_cosine_lsh": "expr: size(embedding)==dim kernel validity guard",
    "cusum_changepoint_events": "derived: rn = 1 (window)",
    "decontaminate_train_vs_eval": "expr: doc_id % 10 split + size(split)",
    "dupspan_coverage_documents": "expr: size(split(text)) >= 3; derived nd >= 2",
    "embedding_drift_halves": "expr: vec_id % 2 halves",
    "events_value_outliers": "derived: stddev expr from agg join",
    "ewma_user_values": "null-guard",
    "federated_join_formats": "expr: try_cast on all-string csv columns",
    "fk_integrity_audit": "null-guard",
    "fuzzy_dedup_part_names": "expr: element_at(split(p_name))",
    "gdpr_cascade_delete_audit": "expr: c_custkey % 101 subject sample",
    "grouping_sets_revenue": "null-guard",
    "haar_energy_daily_events": "derived: cnt = 2 (pair agg)",
    "heaps_law_fit_documents": "null-guard (+derived cp_n guard)",
    "holt_linear_events": "null-guard",
    "hurst_rs_daily_events": "expr: array-fold window validity check",
    "incremental_minhash_dedup_documents": "expr: doc_id % 10 batch split; derived _bn cap",
    "iqr_outlier_fences_events": "null-guard",
    "jaccard_common_neighbors_neardup": "expr: col-to-col id_a != id_b",
    "join_anti_customers_without_orders": "null-guard",
    "join_left_customer_order_stats": "null-guard",
    "join_right_supplier_nation": "null-guard",
    "json_struct_parse_events": "expr: from_json(props).k >= 50",
    "kruskal_wallis_value_by_type": "null-guard",
    "label_spreading_neardup": "derived: rn = 1 (window)",
    "mad_robust_outliers_events": "null-guard (CDF struct keys)",
    "ndcg_bm25_documents": "derived: term IN on explode + size(rel-list)",
    "newey_west_trend_daily": "null-guard",
    "pacf_daily_events": "null-guard",
    "pagerank_neardup_graph": "null-guard",
    "pretrain_pipeline_documents": "expr: md5-threshold sampling + Arrow-UDF keep flag; plus null-guard (id-canonicalization window feeds IsNotNull-only pushdowns)",
    "q12_priority_by_quantity_band": "null-guard",
    "q18_large_quantity_orders": "derived: HAVING total_qty > 250",
    "range_join_value_buckets": "null-guard (broadcast bucket bounds)",
    "ratio_to_report_nation_revenue": "null-guard",
    "rbo_bm25_vs_tfidf": "derived: term IN on explode + rank lists",
    "record_highs_daily_events": "null-guard (cast(ts as date) wrappers)",
    "retraction_rollup_events": "expr: event_id % 53/37 retraction sample",
    "semdedup_embeddings": "expr: size(embedding)==dim kernel validity guard",
    "rolling_origin_backtest_daily": "null-guard",
    "rollup_revenue_region_nation": "null-guard",
    "rrf_fuse_bm25_tfidf_documents": "derived: term IN on exploded terms",
    "setop_all_multiset_variants": "expr: custkey % 2/3 branches; derived multiset counts",
    "setop_customer_only_nations": "null-guard",
    "setop_nations_with_both": "null-guard",
    "silhouette_embeddings_labels": "expr: size(embedding) > 0",
    "similarity_topk_pq_adc": "derived: rank <= k windows, col-to-col self-exclusion",
    "skew_hotkey_stress_events": "expr: synthetic _salt guard",
    "skew_salted_join_events_customer": "expr: synthetic _salt guard",
    "skyline_orders_price_date": "derived: suffix-min window dominance test",
    "source_overlap_matrix_documents": "null-guard",
    "spearman_price_custkey_orders": "null-guard",
    "string_agg_nations_per_region": "null-guard",
    "subquery_in_hot_parts": "derived: HAVING n > 40",
    "subquery_scalar_above_avg": "derived: scalar-subquery comparison",
    "t_closeness_audit_events": "expr: hour(ts), floor(value/50) buckets",
    "table_diff_orders_snapshots": "expr: o_orderkey % 89/97 snapshot split",
    "temperature_resample_documents": "derived: rk <= quota (window vs agg)",
    "theil_decomposition_nation_revenue": "null-guard",
    "triangle_support_neardup": "null-guard",
    "upsert_customer_batch": "derived: merge-presence/tombstone flags",
    "weekly_spectral_power_events": "null-guard",
    "winsorize_events_value": "null-guard",
    "winsorized_mean_value_by_type": "null-guard (CDF struct keys)",
}


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from etl_manager_spark.plans import lint_plan
    from etl_manager_spark.workloads import load_registry
    from tools.order_nulls import unqualified_order_items

    reg = load_registry()
    report: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for name in sorted(reg):
        try:
            codes = [w.code for w in lint_plan(reg[name].fn(spark, LINT_SF_DIR))]
        except Exception as exc:  # noqa: BLE001 - record and continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        if codes:
            report[name] = codes

    critical = sorted(
        name
        for name, codes in report.items()
        if "cartesian-product" in codes
        or ("python-row-udf" in codes and name not in ROW_UDF_ALLOWED)
        or (
            "single-partition-window" in codes
            and name not in SP_WINDOW_ALLOWED
        )
        or ("unbounded-percentile" in codes and name not in PCT_ALLOWED)
        or ("filter-not-pushed" in codes and name not in FNP_ALLOWED)
        or ("nested-loop-join" in codes and name not in NLJ_ALLOWED)
        or ("many-shuffles" in codes and name not in MS_ALLOWED)
        # shrinking-window-frame has NO allowlist: Spark re-aggregates a
        # [current, unboundedFollowing) frame from every row — O(rows²)
        # per partition — and the reversed-ordering running frame always
        # computes the same value in O(rows) (asof.py forward lookup,
        # gapfill_linear next-neighbor were the two fixed instances)
        or "shrinking-window-frame" in codes
    )

    # Oracle declared-type scan: an oracle whose DuckDB result type has no
    # Spark twin (HUGEINT from an uncast SUM(BIGINT) being the classic) can
    # never driver-green even with identical values. Mirrors the check in
    # tests/test_oracle_parity.py but runs catalog-wide without Spark.
    oracle_type_bad = scan_oracle_types(reg)

    # NULL-ordering scan (round 10): every window ORDER BY item in oracle
    # text must carry an explicit NULLS FIRST/LAST qualifier — Spark and
    # DuckDB have opposite placement defaults, the class that produced
    # eight real divergences in round 9 (PARITY_SWEEPS.md). Structural
    # gate so the class cannot re-enter with new oracles.
    order_null_bad = unqualified_order_items(reg)

    out = {
        "queries_total": len(reg),
        "queries_flagged": len(report),
        "critical": critical,
        "oracle_type_errors": oracle_type_bad,
        "oracle_unqualified_order_items": order_null_bad,
        "errors": errors,
        "warnings": report,
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "LINT_CATALOG.json",
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(
        json.dumps(
            {
                "queries_total": out["queries_total"],
                "queries_flagged": out["queries_flagged"],
                "critical": critical,
                "oracle_type_errors": oracle_type_bad,
                "oracle_unqualified_order_items": order_null_bad,
                "errors": len(errors),
            }
        )
    )
    if critical or errors or oracle_type_bad or order_null_bad:
        sys.exit(1)


def scan_oracle_types(reg) -> dict[str, list[str]]:
    """Plan (not run) every oracle in DuckDB against empty same-schema views
    and reject declared result types with no Spark twin."""
    from tools.parity_lib import forbidden_token, oracle_db

    con = oracle_db(LINT_SF_DIR)
    bad: dict[str, list[str]] = {}
    for name in sorted(reg):
        spec = reg[name].oracle_spec
        if spec is None:
            continue
        try:
            rel = con.sql(reg[name].oracle)
        except Exception:  # noqa: BLE001 - parity test reports run errors
            continue
        hits = [
            f"{col}: {dtype}"
            for col, dtype in zip(rel.columns, rel.types)
            if forbidden_token(dtype)
        ]
        if hits:
            bad[name] = hits
    return bad


if __name__ == "__main__":
    main()
