#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for headline queries,
with the scale-relevant properties called out. Run from the repo root:

    PYTHONPATH=. python tools/plan_audit.py 2>/dev/null
"""

from __future__ import annotations

import contextlib
import io
import os

import bench
from proyecto_final_de_big_data_spark.queries import QUERIES

HEADLINERS = {
    "pricing_summary": "flagship aggregation — pushdown + pruning + partial/final agg",
    "top_suppliers": "top-k compiles to TakeOrderedAndProject, no global sort",
    "customer_region_decode": "dimension decode — broadcast joins, fact side never shuffles",
    "revenue_by_nation": "multi-join revenue rollup",
    "events_asof_last_order": "as-of join — one key shuffle + window carry-forward, no nested loop",
    "events_in_first_day_window": "interval join — time-grid bucketing turns the range predicate into a hash join",
    "minhash_near_dup_pairs": "MinHash-LSH — map-only Arrow signatures, bucket self-join",
    "knn_ann_ivf": "IVF top-k — corpus stays put, exploded query side broadcasts",
    "media_frame_sample": "multimodal fan-out — binary payloads reach Python with zero Exchange",
    "doc_hash_split_profile": "deterministic split — a pure projection over the scan",
    "repetition_profile": "repetition signals — higher-order-function projections, Exchange only for the final per-source agg",
    "tfidf_top_terms": "tf-idf — partial/final aggs, term-keyed join, broadcast corpus count",
    "rolling_user_zscore": "RANGE-frame rolling baseline — one shuffle on high-cardinality user_id",
    "hourly_counts_gapfilled": "gap-filled time grid — single corpus scan, bucket-sized grid join",
    "semantic_dedup_profile": "SemDeDup — map-only cell assignment, pairwise work bounded within cells",
    "lm_quality_by_lang": "unigram-LM scoring — vocab via TakeOrderedAndProject, broadcast scoring join, per-doc partial agg",
    "release_manifest_contract": "release manifest — one partial/final agg over a pure projection; exactly one Exchange, no joins",
    "epoch_upsample_profile": "epoch upsampling — broadcast stratum weights, Generate(explode) for copies, fact side never shuffles",
    "cluster_safe_split_profile": "cluster-safe split — components at edge-list scale, one id-keyed equi-join back, split stays a projection",
    "token_budget_selection_profile": "token-budget selection — per-bin agg shrinks to a thousands-row frame, thresholds broadcast back, corpus never sorts",
    "chunk_overlap_profile": "context-window chunking — Generate over exploded chunk indices, one slice per OUTPUT row (no per-element recompute), Exchange only for the profile agg",
    "decile_profile_contract": "equal-frequency binning — quantile bounds from one agg pass, bin assignment a map-only comparison chain (no ntile, no sort)",
    "zorder_cells_contract": "z-order layout — codegen'd Morton bit-interleave, exactly one RANGE exchange (the layout IS the shuffle)",
    "weighted_sample_profile": "weighted systematic sampling — per-stratum cumulative window, integer stride-crossing filter",
    "embedding_sq_recall": "SQ8 quantized ANN — map-only code projection, integer code dot against a broadcast query side",
    "event_funnel_profile": "strict funnel — ONE plan, one LogicalRDD per step (lazy localCheckpoint), zero event-source re-reads",
    "event_transition_matrix": "Markov transitions — one user-keyed lead window, normalization over the types^2 matrix",
    "session_path_profile": "session paths — collect_list+array_sort inside the session agg, no second window",
    "ab_test_contract": "A/B z-test — one user-keyed agg + one group-cardinality reduce, closed-form arithmetic; ONE lazy plan with the empty-arm guard in-plan (r11)",
    "fuzzy_name_match_profile": "blocked fuzzy join — multi-pass equi-joins on except-zone keys, thresholded levenshtein, no cartesian",
    "event_type_trend_contract": "per-key OLS trend — sufficient statistics in one partial/final agg, no window",
    "correlation_matrix_contract": "correlation matrix — every pair's sufficient statistics in ONE partial/final agg, explode after",
    "survival_km_contract": "Kaplan-Meier — subject agg to answer-scale duration grid, all windows over the grid",
    "item_affinity_contract": "basket affinity — measured basket-size cap, basket-keyed self-join, item counts broadcast back",
    "robust_outlier_profile": "median/MAD fence — two exact-percentile aggs, group frames broadcast, one flagging pass",
    "categorical_association_contract": "chi2/V/MI — ONE full-data cell shuffle, cell-cardinality joins, no |A|x|B| cross join",
    "ewma_anomaly_contract": "EWMA — one array fold per key (sequential recursion localized), explode + one residual-scale agg",
    "autocorrelation_contract": "ACF — pre-aggregated self-join on day+lag via broadcast lag spine, raw-moment aggs, no window",
    "bm25_relevance_contract": "BM25 — tokens explode once, term stats filtered to |terms| keys pre-shuffle, idf broadcast join",
    "ml_auc_contract": "bucketed ROC AUC — bucket counts partial/final, curve walk on one answer-scale window, no rank-sum sort",
    "ml_classification_report_contract": "PRF report — k thresholds as conditional sums in ONE agg, inline reshape, no join",
    "ml_lift_table_contract": "lift table — quantile-bound bins, window totals over the n_bins frame (no totals cross-join re-scan)",
    "ml_cv_contract": "k-fold CV — ONE groupBy(fold) sufficient-stats pass, closed-form solve, broadcast scoring join",
    "attribution_contract": "multi-touch attribution — one reverse cumulative user window, credit algebra at (user,conversion) cardinality",
    "jackknife_ratio_contract": "jackknife ratio CI — one stratum agg, leave-one-out by subtraction, single scan",
    "woe_iv_contract": "WOE/IV — category-cardinality agg, class totals on post-agg window, single scan",
    "target_encoding_contract": "LOO target encoding — category stats broadcast back, decimal-exact sums, no raw-row window",
    "benford_profile_contract": "Benford — lexical digit projection, <=9-key agg, 9-row literal spine join",
    "incremental_agg_contract": "incremental mart merge — union-and-reaggregate at grain cardinality, no join to base facts",
    "cusum_changepoint_contract": "CUSUM — moments + recursion as per-key array folds, posexplode back, no raw-row window",
    "lorenz_gini_contract": "Lorenz/Gini — bucket counts partial/final, cumulative shares on answer-scale windows, no global sort",
    "pagerank_contract": "PageRank — per-4-round lazy localCheckpoint truncation shows as LogicalRDD rounds; one join + one agg per round",
    "setsim_prefix_join_contract": "prefix-filtered exact Jaccard — candidates only from rarest-shingle prefixes (doc-keyed windows), verify via array set ops on the pair table",
    "triangle_count_contract": "triangle counting — degree orientation by struct-key compare (NO window anywhere), wedge + closing joins, per-vertex rollup",
    "conformal_interval_contract": "split-conformal — one residual agg (percentile_disc order statistic), 1-row broadcast onto the test-side reduce",
    "rfm_segment_profile": "RFM — customer-cardinality agg, quantile-bound score chain (windowless, no ntile), <=125-segment profile",
    "rolling_active_users": "DAU/WAU — dedup to (user,day), Generate expansion x window days, second distinct; no range join",
    "knn_ann_pq_recall": "PQ-ADC — Arrow encode pass, m LUT lookups per candidate from the broadcast query table, float vectors never read",
    "knn_ann_ivf_pq_recall": "IVF,PQ — cell id rides the single Arrow encode pass, query-probe LUT frame broadcasts onto the cell equi-join",
    "hybrid_search_rrf": "RRF fusion — Union of two answer-scale top-N legs, one keys-keyed agg, query-partitioned fused ordering",
    "negative_sampling_contract": "negative sampling — dimension-index joins + ONE positives anti-join; never a user x item cross product",
    "containment_pairs_contract": "containment join — inverted-index self-join (zero-overlap pairs never materialize), per-side denominators",
    "windowed_funnel_contract": "conversion-window funnel — same monotone step frames as the plain funnel; the deadline is one integer-micros column on the same joins",
    "k_anonymity_contract": "k-anonymity — class-cardinality groupBys; suppression anti/semi probes, AQE-chosen join back",
    "weighted_percentile_contract": "weighted percentiles — percentile frequency argument, ONE map-side-combined agg, group-cardinality output",
    "brier_ece_contract": "Brier/ECE — 10 probability cells from one scan, both statistics reduce from the cell frame",
    "basket_size_profile": "basket cap sizing — one distinct + one agg, single-row answer",
    "cuped_ab_contract": "CUPED — six per-arm sufficient sums in ONE conditional agg, theta/adjusted means expand algebraically in the same lazy plan (in-plan guards since r11), units scanned once",
    "bootstrap_ci_contract": "Poisson bootstrap — partial agg collapses the R+1 explode before the shuffle, percentile step at answer scale",
    "rater_agreement_contract": "kappa statistics — label-contingency aggs, every join over k-cardinality frames, no cartesian",
    "experiment_power_contract": "power/MDE — one sufficient-sums agg over the unit frame, closed-form projection in the same lazy plan (in-plan guards since r11)",
    "seasonal_decomposition_contract": "seasonal decomposition — OLS sums agg + broadcast trend join + slot agg, no fact-side window",
    "winnowing_fingerprint_contract": "winnowing fingerprints — map-only higher-order-function selection, Exchange only for the per-doc profile agg",
    "bloom_pruned_join_contract": "Bloom join pruning — k codegen bit probes fused into the orders scan BEFORE the broadcast join; membership is a Filter, never a join",
    "anova_oneway_contract": "one-way ANOVA — per-group sufficient stats partial/final, group-cardinality reduce, no window no join",
    "rank_test_contract": "rank tests — contingency agg, cumulative window ONLY over the 50-value distinct grid (gated by the in-plan broadcast grid-count guard since r11), broadcast join back",
    "jw_name_match_profile": "Jaro-Winkler ER join — blocked equi-join candidates; the deterministic pandas-UDF scorer + threshold pushed below the pair-distinct",
    "duplicate_span_removal_contract": "duplicate-span strip — winnowing prefilter bounds the gram index; keeper resolution at gram cardinality; islands/strip windows partitioned per document",
    "knn_ann_ivf_pq_refine_recall": "IVF,PQ + refine — ADC candidates, then TWO broadcast joins re-rank with true cosines; float reads bounded at refine/query",
    "cosine_allpairs_contract": "APSS weighted cosine — L2 prefix filter cuts the inverted index by weight mass; verification joins term lists for candidates only",
    "dsir_selection_contract": "DSIR selection — HOF bigram hashing, two bucket-cardinality distribution aggs, broadcast log-ratio join, TakeOrderedAndProject top-k",
    "learning_curve_contract": "learning curve — one groupBy(slice) stats pass, cumulative window over the 5-row slice frame, 4-model broadcast scoring join",
    "holt_forecast_contract": "Holt forecasting — daily-grid agg, per-key collect + two-state in-memory fold, sigma join-back; no raw-event windows",
    "did_contract": "difference-in-differences — ONE conditional agg to four cells' sufficient sums, closed-form projection in the same lazy plan (in-plan cell guards since r11)",
    "msprt_contract": "mSPRT monitor — partial-aggregated groupBy to day cardinality; cumulative/running-max windows over the answer-scale daily frame only",
    "l_diversity_contract": "l-diversity — (class x sensitive) cell agg, class rollup, answer row; entropy folds from cell counts, zero joins",
    "gopher_rules_contract": "Gopher rules — all seven document-shape signals HOF projections in the scan stage; the per-lang rollup owns the plan's single Exchange",
    "ccnet_bucket_contract": "CCNet buckets — broadcast-vocab NLL scoring, language-cardinality percentile bounds broadcast back, map-only bucket chain",
    "frequent_itemsets_contract": "FP-Growth — dedup-cap-group baskets; PFP suffix-group conditional DBs; freqItemsets crossJoin a 1-row basket total",
    "assoc_rules_contract": "association rules — 1->1 rules joined to broadcast single/pair frequency frames; ratio algebra one shared op order",
    "seq_patterns_contract": "PrefixSpan — per-user prefix sequences via one groupBy; prefix-projected pattern mining; answer-scale pattern frame out",
    "fs_linkage_contract": "Fellegi-Sunter — blocked self-join candidates; three 1-row u fits broadcast in; when-chain scoring projection",
    "jl_projection_contract": "JL projection — sign matrix as plan literals, map-only HOF fold; the audit's pair join bounded to the 30-row sample",
    "curate_span_strip_contract": "curate --strip-spans — projection filters feed the pinned span stage (winnow prefilter + gram index + strip join), dedup digest groupBy sees cleaned bytes, split is a projection",
    "label_propagation_contract": "label propagation — per round ONE node-keyed label join + (node,label) count + struct-min argmax; LogicalRDD truncation every 2 rounds; no window over data",
    "modularity_contract": "modularity — degree agg + two node-keyed label joins; INTEGER within-edge/degree-square sums; 1-row m frame crossJoin",
    "k_core_contract": "k-core — per round one degree agg + two same-key semi-joins; fixed rounds, no convergence collect",
    "holt_winters_contract": "Holt-Winters — daily-grid agg, per-key collect + three-state in-memory fold (state array indexes s_{t-m}), sigma join-back; no raw-event windows",
    "knn_ann_ivf_increment_contract": "incremental IVF — anti-join on the index's id projection, batch-only vectorized assignment, metadata union; the parity check is one full-outer join at id cardinality",
    "srm_contract": "SRM check — one group-cardinality count agg, broadcast 2-row expected frame, 1-row scalar crossJoin; chi-square is a per-arm projection",
    "blocking_profile_contract": "blocking profile — ONE block-cardinality count agg + answer-scale reduce; candidate pairs as exact integer sums",
    "neyman_allocation_contract": "Neyman allocation — stratum moment agg, scalar W crossJoin, remainder window over the 25-row stratum frame; BIGINT div/mod seats",
    "cmh_contract": "CMH stratified test — one conditional agg to the per-stratum 2x2 cells, stratum-cardinality projection, answer-scale reduce",
    "llr_keyness_contract": "LLR keyness — explode + term-keyed conditional agg, scalar totals crossJoin, TakeOrderedAndProject top-k; rank after the 20-row limit",
    "bfs_distances_contract": "BFS hop distances — 6 fixed frontier rounds (semi-join + distinct + anti-join per round, all node-keyed), settled frame grows monotonically, census groupBy; no windows, no Python, no cartesian",
    "ranking_metrics_contract": "NDCG/MRR/hit ranking metrics — answer-scale top-10 + judgement frames, per-query windows only, one (query,item) equi-join, two (query,k) aggs; k-frame explode is 2 literals",
    "pmi_collocations_contract": "PMI collocations — scan-stage arrays_zip bigram pairing (no self-join), one bigram-keyed + one term-keyed count agg, scalar totals crossJoin, TakeOrderedAndProject top-20",
    "ks_drift_contract": "KS two-sample drift — (key,value) contingency agg to the ~290-value grid, per-key cumulative ECDF windows (partitioned; the only SinglePartition exchange is the in-plan grid guard's 1-row count, r11), key-cardinality reduce; integer-count arithmetic end to end",
    "adamic_adar_contract": "Adamic-Adar link prediction — degree agg, center-keyed wedge self-join bounded by the degree cap, LeftAnti against the edge set, pair-keyed agg, TakeOrderedAndProject top-25; rank after the limit",
    "ccf_lead_lag_contract": "cross-correlation — day-grid conditional-count pivot, 1-row sufficient-stats broadcast, x15 broadcast lag spine, day-keyed self-join, per-lag raw-moment agg; no window anywhere",
    "effect_size_contract": "Cohen's d / Hedges' g — ONE key-cardinality conditional agg over six sufficient sums, closed-form projection; no join, no window",
    "mann_kendall_contract": "Mann-Kendall + Sen — key-equi pair self-join over the pre-aggregated day grid (t_i < t_j filter; max_points guard in-plan via broadcast raising filter since r11), tie agg, percentile AGGREGATE median; no window, duplicate grid points raise in-plan",
    "nelson_aalen_contract": "Nelson-Aalen — shared KM risk table, cumulative hazard sums over the answer-scale duration grid in deterministic order; 1-row tmax broadcast",
    "pacf_contract": "PACF — ACF raw-moment join shape, ONE conditional-agg pivot of 4 ACF values, unrolled Durbin-Levinson projection, 4-literal posexplode; recursion touches no data rows",
}


def main() -> None:
    spark = bench.session("plan-audit", cpus=4)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        "Generated by `tools/plan_audit.py` (`explain('formatted')` at "
        f"`{sf_dir}`, local[4]). The scale-relevant plan properties these "
        "plans exhibit are asserted as regression tests in "
        "`tests/test_plan_quality.py` and `tests/test_temporal.py`; this "
        "file is the human-readable evidence. Regenerate after planner-"
        "affecting changes.",
        "",
    ]
    for name, why in HEADLINERS.items():
        df = QUERIES[name].spark_fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        out += [f"## {name}", "", f"*{why}*", "", "```", buf.getvalue().rstrip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
