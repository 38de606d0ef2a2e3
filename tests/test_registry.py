"""Registry invariants: the external harness verifies only the FIRST 50
registered queries, so registration order is part of the verification
contract — these tests pin it against accidental drift (round 2 lost 18
queries from the gate to silent insertion order)."""

from __future__ import annotations

from proyecto_final_de_big_data_spark.queries import QUERIES, _VERIFICATION_WINDOW

# Queries whose results are not portably SQL-expressible; the harness
# runs a weaker rows-only check for these, documented per query.
EXPECTED_ROWS_ONLY = {
    "minhash_near_dup_pairs",
    "simhash_near_dup",
    "embedding_near_dup",
    "knn_ann_ivf",
    "ml_train_metrics",
    "ml_score_profile",
}


def test_first_50_match_declared_window():
    assert list(QUERIES)[:50] == _VERIFICATION_WINDOW
    assert len(_VERIFICATION_WINDOW) == 50


def test_every_query_has_oracle_or_documented_rows_only():
    for name, q in QUERIES.items():
        if name in EXPECTED_ROWS_ONLY:
            assert q.oracle is None, f"{name} gained an oracle; update EXPECTED_ROWS_ONLY"
        else:
            assert q.oracle is not None, (
                f"{name} has no oracle and is not in the documented rows-only set"
            )


def test_window_covers_every_family():
    window = set(_VERIFICATION_WINDOW)
    # One representative per family must sit inside the checked window.
    # Rotated-out entries (multi-round green on unchanged code) hand
    # their probe to the in-window family member named beside them
    # below; the rotation history itself is in git.
    for probe in [
        # aggregation/profiling marts: kpis (r1-r4), grouped clip (r5)
        # rotated out; the one-pass profiler carries the agg surface.
        "robust_outlier_profile",    # one-pass agg profiling (the
                                     # table-profiler + decile twins
                                     # rotated out r8 after multi-round
                                     # green; rfm/basket profiles also
                                     # rep)
        "llr_keyness_contract",      # term-statistics text analysis
                                     # (NEW r10; the APSS cosine twin
                                     # rotated out first-round green on
                                     # unchanged apss.py — the prefix-
                                     # filter family keeps the exact-
                                     # Jaccard gate below in-window)
        "zorder_cells_contract",     # layout maintenance (z-order)
        "windowed_funnel_contract",  # sessionization / behavioral
                                     # windows (session_path rotated
                                     # out r11 after r6-r10 green on
                                     # unchanged paths/sessionize code;
                                     # funnel + attribution keep the
                                     # user-keyed ordered-window
                                     # machinery in-window)
        "holt_winters_contract",     # series monitoring (the CUSUM
                                     # twin rotated out r8, the EWMA
                                     # twin r10 after r7-r9 green;
                                     # trend + seasonal smoothing keep
                                     # the family in-window)
        "triangle_count_contract",   # degree-oriented triangles /
                                     # local clustering (NEW r8)
        "attribution_contract",      # ordered per-key window state
                                     # machinery (the SCD2 twin
                                     # rotated out r8 after r6+r7
                                     # green on unchanged scd.py;
                                     # reverse-cumulative + session
                                     # windows keep the family)
        "weighted_percentile_contract",  # uncertainty readouts (the
                                     # Poisson-bootstrap and conformal
                                     # twins rotated out r9 after r8
                                     # green on unchanged modules; the
                                     # exact weighted-quantile gate —
                                     # conformal's split-quantile core
                                     # — keeps the family in-window)
        "msprt_contract",            # always-valid sequential A/B
                                     # monitoring (NEW r9; third gate
                                     # on the r9-changed abtest.py)
        "holt_forecast_contract",    # Holt level+trend forecaster
                                     # (NEW r9; same series-collector
                                     # fold machinery as EWMA)
        "data_quality_contract",     # expectations validator
        "setsim_prefix_join_contract",  # broadcast/blocked filtering
                                     # joins (the blocklist twin
                                     # rotated out r8, k-anonymity
                                     # suppression r9, bloom_pruned
                                     # late-r11 after r8-r10 greens on
                                     # unchanged bloomjoin.py — prefix
                                     # join + fs_linkage keep the
                                     # candidate-pruned join family)
        "bh_fdr_contract",           # Benjamini-Hochberg FDR (NEW r9;
                                     # third gate on the r9-changed
                                     # hyptest.py)
        "modularity_contract",       # community quality score (NEW
                                     # r10; the CUPED twin rotated out
                                     # after r8+r9 green — did + msprt
                                     # keep abtest.py in-window)
        "ccf_lead_lag_contract",     # cross-correlation lead/lag (NEW
                                     # r11; took DSIR's slot after its
                                     # r9+r10 greens on unchanged
                                     # dsir.py — weighted_ksample +
                                     # gopher/ccnet keep the selection
                                     # and screening families; second
                                     # gate on the r11-changed
                                     # stats.py beside corr_matrix)
        "ks_drift_contract",         # two-sample KS drift (NEW r11,
                                     # different-algebra non-equi-join
                                     # ECDF oracle; the PrefixSpan twin
                                     # rotated out after r9+r10 green
                                     # on unchanged seqmine.py —
                                     # frequent_itemsets keeps mining,
                                     # drift_psi stays full-catalog
                                     # attested)
        "theta_cohort_overlap_contract",   # mergeable sketches (the
                                     # HLL/KLL twins rotated out r7
                                     # after r6 green; theta + cm stay)
        "target_encoding_contract",  # supervised feature prep (the
                                     # WOE/IV twin rotated out r8 after
                                     # r7 green; encode.py changed this
                                     # round so its gate stays)
        "ccnet_bucket_contract",     # quality screening (gopher
                                     # rotated out late-r11 after
                                     # r9+r10 greens on unchanged
                                     # quality.py; ccnet +
                                     # data_quality keep the screening
                                     # family in-window)
        "pacf_contract",             # partial autocorrelation (NEW
                                     # r11; took gopher's slot — third
                                     # gate on the r11-changed
                                     # stats.py, completing the
                                     # ACF/CCF/PACF lag diagnostics)
        "target_encoding_contract",  # leakage-safe LOO mean encoding
        "theta_cohort_overlap_contract",   # Theta set algebra
        "frequent_itemsets_contract",  # FP-Growth itemset mining (NEW
                                     # r9, different-algebra oracle;
                                     # the Lorenz/Gini twin rotated out
                                     # after r7+r8 green on unchanged
                                     # concentration.py — weighted
                                     # percentiles + RFM quintiles keep
                                     # distribution profiling in-window)
        "variant_props_stats",       # VARIANT semi-structured payloads
        "variant_props_stats",       # pivot/marts (priority_pivot
                                     # rotated out r11 after greens
                                     # since r2; CUBE/ROLLUP twins
                                     # rotated out earlier)
        "effect_size_contract",      # Cohen's d / Hedges' g (NEW r11;
                                     # took priority_pivot's slot —
                                     # third gate on the r11-changed
                                     # hyptest.py beside bh_fdr + KS)
        "ccnet_bucket_contract",     # CCNet perplexity partition (NEW
                                     # r9; re-exercises the lm_score
                                     # pipeline per-doc — the Benford
                                     # screening twin rotated out after
                                     # r8 green on unchanged benford.py;
                                     # data_quality + heavy_hitter +
                                     # gopher keep screening in-window)
        "python_datasource_contract",      # Python Data Source API
        "weighted_percentile_contract",  # weighted exact percentiles
                                     # (jackknife rotated out r8 after
                                     # r7 green; the stats.py
                                     # sufficient-stats family keeps
                                     # corr + acf + chi2 in-window, and
                                     # this NEW gate re-verifies
                                     # clean.py's r8 guard change)
        "holt_winters_contract",     # series monitoring (took EWMA's
                                     # slot r10; EWMA had taken
                                     # source_cap_profile's r7 — caps
                                     # stay repped by the token-budget
                                     # selection gate)
        "knn_ann_ivf_pq_refine_recall",  # quantized ANN (NEW r9: the
                                     # exact-re-rank upgrade RUNS the
                                     # rotated IVF,PQ gate as its
                                     # candidate stage; the SQ8 gate
                                     # rotated out late-r8; the IVF,PQ
                                     # gate keeps the cell
                                     # probe + coded scoring in-window)
        "windowed_funnel_contract",  # strict funnel + conversion window
        "windowed_funnel_contract",  # funnel/retention family (the
                                     # plain-funnel + weekly-retention
                                     # twins rotated out r8 after r7
                                     # green; the new gate contains the
                                     # full strict-sequence machinery
                                     # plus the conversion window)
        "holt_winters_contract",     # trend+season series machinery
                                     # (the OLS decomposition twin
                                     # rotated out r10 after r8+r9
                                     # green on unchanged seasonal.py;
                                     # the NEW additive-seasonal gate
                                     # keeps season evidence in-window
                                     # over the same daily grid)
        "brier_ece_contract",        # classifier calibration metrics
                                     # (the lift-table + PRF-report
                                     # twins rotated out r8 after r7
                                     # green; classifier-eval keeps
                                     # ml_auc + this NEW gate — the
                                     # exact function evaluation.py
                                     # changed this round)
        "brier_ece_contract",        # equal-frequency binning machinery
                                     # (equal_frequency_bins inside the
                                     # ECE buckets; the RFM triple-fit
                                     # twin rotated out r10 after r8+r9
                                     # green — zorder + ccnet gates also
                                     # run the binning fit in-window)
        "robust_outlier_profile",    # median/IQR machinery (the
                                     # robust-scaler twin rotated out
                                     # r9 after r8 green on unchanged
                                     # robust.py; the outlier fence is
                                     # the same module's exact-median
                                     # path)
        "l_diversity_contract",      # privacy: within-class diversity
                                     # (NEW r9; gates the round's
                                     # anonymity.py change — the
                                     # k-anonymity gate rotated out
                                     # late-r9 after r8 green on its
                                     # untouched paths, same
                                     # class-groupBy machinery)
        "weighted_ksample_contract", # weighted sampling family (the
                                     # stride twin rotated out r8 after
                                     # r7 green; exact-k A-ES now the
                                     # in-window rep)
        "setsim_prefix_join_contract",  # exact near-dup similarity
                                     # (prefix-filtered Jaccard join,
                                     # NEW r8; minhash twin rotated out
                                     # r7 after r4/r5/r6 green;
                                     # semantic_dedup_profile rotated
                                     # out r7 after r5/r6 green —
                                     # cluster-then-prune stays repped
                                     # by kmeans + the SQ/IVF recalls)
        "curate_span_strip_contract",  # exact duplicate-span strip,
                                     # now gated THROUGH the composed
                                     # curation pipeline (NEW r10; the
                                     # r9 per-doc readout rotated out
                                     # first-round green — same span
                                     # machinery + same unpruned
                                     # oracle algebra, plus the
                                     # strip->dedup->split composition)
        "incremental_agg_contract",  # incremental mart maintenance
                                     # (stream_cdc rotated out r7 after
                                     # r5/r6 green; real-stream mode
                                     # stays via tws_histogram_parity)
        "knn_ann_ivf_pq_refine_recall",  # similarity search (IVF,PQ +
                                     # refine, NEW r9; unrefined twin
                                     # rotated out after r8 green;
                                     # float-IVF twin rotated out r7)
        "tws_histogram_parity",      # streaming stateful windows (the
                                     # session-parity twin rotated out
                                     # r7 after r2/r4/r5/r6-family green
                                     # + the idle re-measurement; cdc/
                                     # pii round trips keep real-stream
                                     # mode in-window)
        "tws_histogram_parity",      # streaming round trips (the
                                     # pii-curation + cdc-apply twins
                                     # rotated out r7 after r5/r6
                                     # green; batch CDC stays gated via
                                     # cdc_merge_contract)
        "tws_histogram_parity",      # real-stream mode + sinks (the
                                     # dedup/cdc/pii twins rotated out
                                     # r7 after r5/r6 green)
        "tws_histogram_parity",      # transformWithState (+ fallback)
        "learning_curve_contract",   # ML train loop (NEW r9: nested-
                                     # fraction curve, same Cramer 3x3
                                     # sufficient-stats algebra; the
                                     # kfold twin rotated out after
                                     # r7+r8 green on unchanged code)
        "ml_tree_ensemble_contract", # GBT/RF structural gate (M4/M5)
        "triangle_count_contract",   # graph analytics (pagerank rotated
                                     # out late-r8 after r7 green on
                                     # unchanged graph.py; triangles
                                     # keep the edge-canonicalization
                                     # machinery in-window)
        "attribution_contract",      # behavioral paths (the Markov
                                     # transition twin rotated out r8,
                                     # session_path r11; same
                                     # user-keyed window machinery)
        "neyman_allocation_contract",  # stratified sampling design
                                     # (NEW r10; the RFM quintile twin
                                     # rotated out after r8+r9 green on
                                     # unchanged rfm.py — weighted
                                     # percentiles + robust profile
                                     # keep quantile segmentation)
        "adamic_adar_contract",      # link prediction (NEW r11; took
                                     # session_path's slot — fifth
                                     # gate on the r11-changed
                                     # graph.py, the non-edge wedge
                                     # sibling of the triangle gate)
        "msprt_contract",            # experimentation family rep (SRM
                                     # and CMH rotated out r11 after
                                     # first-round greens on unchanged
                                     # abtest.py; the power-planning
                                     # twin rotated out r8, DiD r10 —
                                     # all full-catalog attested)
        "pmi_collocations_contract", # PMI phrase mining (NEW r11;
                                     # took CMH's slot — the
                                     # within-corpus association
                                     # sibling of llr_keyness, which
                                     # keeps the term-stats family
                                     # in-window)
        "ml_tree_ensemble_contract", # batch scoring machinery (the
                                     # save/load score twin rotated
                                     # out r8 after r6+r7 green on
                                     # unchanged ml/pipeline.py;
                                     # deterministic scoring bands
                                     # + CV fold models keep it)
        "rater_agreement_contract",  # Cohen/weighted/Fleiss kappa
                                     # labeling QA (NEW r8)
                                     # (+ M1-M3 featurization: the
                                     # feature-matrix hash twin rotated
                                     # out r7 after r5/r6 green)
        "brier_ece_contract",        # classifier eval (the AUC twin
                                     # rotated out late-r8 after r7
                                     # green; same bucket algebra, and
                                     # this gate covers the r8-changed
                                     # evaluation.py function)
        "label_propagation_contract",  # graph community detection
                                     # (NEW r10; the assoc-rules twin
                                     # rotated out first-round green on
                                     # unchanged itemsets.py — the
                                     # FP-Growth fit keeps
                                     # frequent_itemsets_contract
                                     # in-window; IO contracts keep
                                     # cdc_merge + pydatasource +
                                     # media_binary)
        "cdc_merge_contract",        # partition-pruned CDC merge
        "learning_curve_contract",   # closed-form OLS family rep (the
                                     # kfold twin rotated out r9 after
                                     # r7+r8 green)
        "attribution_contract",      # multi-touch conversion credit
        "media_binary_ingest",       # raw-file multimodal ingestion
        "holt_winters_contract",     # series monitoring (the PSI
                                     # drift twin rotated out late-r8
                                     # after r6+r7 green on unchanged
                                     # drift.py; EWMA rotated out r10)
        "bfs_distances_contract",    # multi-source BFS hop distances
                                     # (NEW r11; gates this round's
                                     # graph.py change — took SRM's
                                     # slot after its r10 first-round
                                     # green; the KW+MWU rank twin
                                     # rotated out after late-r8+r9
                                     # green on unchanged hyptest.py —
                                     # anova + bh_fdr keep that module
                                     # in-window)
        "blocking_profile_contract", # ER blocking sizing (NEW r10;
                                     # the ANOVA twin rotated out
                                     # after late-r8+r9 green on
                                     # unchanged hyptest.py — bh_fdr
                                     # keeps that module in-window)
        "nelson_aalen_contract",     # cumulative hazard (NEW r11;
                                     # took bloom_pruned's slot —
                                     # second gate on the r11-changed
                                     # survival.py beside the KM gate)
        "knn_ann_ivf_pq_refine_recall",  # composed IVF,PQ + refine ANN
                                     # (NEW r9; the unrefined r8 gate
                                     # rotated out — its candidate
                                     # stage runs verbatim inside this
                                     # gate; centroid/Lloyd machinery
                                     # stays via the IVF quantizer +
                                     # PQ codebooks in-window)
        "mann_kendall_contract",     # non-parametric trend + Sen's
                                     # slope (NEW r11; took hybrid_
                                     # search_rrf's slot after its
                                     # r8-r10 greens on unchanged
                                     # rrf/bm25 code — PQ-refine +
                                     # ranking_metrics keep retrieval;
                                     # in-window gate for the
                                     # r11-changed trend.py)
        # r7 late rotation: manifest_ingest_contract (r5+r6 green) ->
        # ingest stays repped by python_datasource + media_binary +
        # schema_evolution; quarter_resolution_contract (r5+r6) is
        # pytest-gated; bucketed_colocated_join (r3-r6 green) hands the
        # join family to the blocked/iterated join gates below.
        "python_datasource_contract",
        "setsim_prefix_join_contract",  # join-family probe (the
                                     # fuzzy ER twin rotated out r8)
        "fs_linkage_contract",       # Fellegi-Sunter ER scoring (NEW
                                     # r9; the Jaro-Winkler twin
                                     # rotated out after late-r8 green
                                     # on unchanged fuzzyjoin.py — the
                                     # new gate runs the same blocked
                                     # self-join shape with the
                                     # multi-field evidence model)
        "correlation_matrix_contract",  # pairwise sufficient-stats corr
        "survival_km_contract",      # Kaplan-Meier censored retention
        "frequent_itemsets_contract",  # market-basket machinery (the
                                     # pair-affinity + size-profile
                                     # twins rotated out; the same
                                     # distinct+groupBy+cap basket
                                     # frame feeds the FP-Growth fit)
        "ranking_metrics_contract",  # NDCG/MRR/hit retrieval grading
                                     # (NEW r11; took the incremental-
                                     # IVF slot after its r10 first-
                                     # round green on unchanged
                                     # similarity_ivf.py — the refine
                                     # gate keeps quantized ANN
                                     # in-window; the rank-frame
                                     # producers stay full-catalog
                                     # attested after hybrid_search
                                     # rotated out late-r11)
        "knn_ann_ivf_pq_refine_recall",  # quantized-ANN machinery
                                     # (IVF + PQ-ADC + exact refine —
                                     # the family's in-window rep)
        "robust_outlier_profile",    # median/MAD outlier fence
        "correlation_matrix_contract",  # stats family (the chi2/MI twin
                                     # rotated out r8 after r7 green)
        "jl_projection_contract",    # JL random projection (NEW r9;
                                     # the md5-draw negatives twin
                                     # rotated out after r8 green on
                                     # unchanged negatives.py —
                                     # weighted_ksample + dsir keep the
                                     # md5-determinism machinery
                                     # in-window)
        "holt_winters_contract",     # seasonal smoothing + one-step
                                     # anomaly flags (EWMA twin rotated
                                     # out r10 — same collector +
                                     # sigma machinery)
        "correlation_matrix_contract",  # stats.py sufficient-stats rep
                                     # (the ACF twin rotated out r8
                                     # after r7 green on unchanged
                                     # stats.py)
        "weighted_percentile_contract",  # split-conformal's quantile
                                     # core (the conformal gate rotated
                                     # out r9 after r8 green on
                                     # unchanged ml/conformal.py)
        "l_diversity_contract",      # privacy family rep (k-anonymity
                                     # + suppression rotated out
                                     # late-r9; class-groupBy machinery
                                     # shared, suppression semi-join
                                     # full-catalog attested)
        "brier_ece_contract",        # probability calibration metrics
        "weighted_percentile_contract",  # weighted exact percentiles
        "frequent_itemsets_contract",  # max_basket cap machinery (the
                                     # sizing report rotated out r9,
                                     # the rules twin r10; the cap's
                                     # effect is observable in the
                                     # mining output)
    ]:
        assert probe in window, f"family representative {probe} fell out of the window"
