"""Declarative query catalog.

Each query is registered with a Spark callable ``(spark, sf_dir) ->
DataFrame`` and (when SQL-expressible) an ANSI-SQL oracle string that
DuckDB can run over the same parquet tables. The driver's t2 gate
compares both sides (row count + schema + order-insensitive value hash),
so every computed column is aliased identically in both.
"""

from __future__ import annotations

from .registry import QUERIES, Query, register  # noqa: F401

# Importing the modules populates the registry.
from . import marts  # noqa: E402,F401
from . import analytics  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import llm_pipeline  # noqa: E402,F401
from . import streaming_batch  # noqa: E402,F401
from . import ml_queries  # noqa: E402,F401
from . import contracts  # noqa: E402,F401
from . import temporal  # noqa: E402,F401
from . import quality  # noqa: E402,F401

# The external verification harness checks the FIRST 50 registered
# queries, so dict order is a verification-coverage decision, not
# cosmetics. _VERIFICATION_WINDOW is that window: one representative per
# query family, so every family sits under the driver's oracle gate;
# tests/test_registry.py pins the window and its family coverage. Every
# other query registers after it, in import order, and stays gated by
# tests/test_oracle_parity.py, which runs the whole catalog.
_VERIFICATION_WINDOW = [
    "python_datasource_contract",
    "llr_keyness_contract",
    "holt_forecast_contract",
    "modularity_contract",
    "data_quality_contract",
    "ccf_lead_lag_contract",
    "triangle_count_contract",
    "ks_drift_contract",
    "pacf_contract",
    "target_encoding_contract",
    "theta_cohort_overlap_contract",
    "variant_props_stats",
    "effect_size_contract",
    "ccnet_bucket_contract",
    "zorder_cells_contract",
    "curate_span_strip_contract",
    "weighted_ksample_contract",
    "k_core_contract",
    "mann_kendall_contract",
    "nelson_aalen_contract",
    "neyman_allocation_contract",
    "adamic_adar_contract",
    "pmi_collocations_contract",
    "fs_linkage_contract",
    "ml_tree_ensemble_contract",
    "setsim_prefix_join_contract",
    "jl_projection_contract",
    "bfs_distances_contract",
    "brier_ece_contract",
    "l_diversity_contract",
    "holt_winters_contract",
    "weighted_percentile_contract",
    "windowed_funnel_contract",
    "bh_fdr_contract",
    "blocking_profile_contract",
    "tws_histogram_parity",
    "correlation_matrix_contract",
    "frequent_itemsets_contract",
    "attribution_contract",
    "learning_curve_contract",
    "label_propagation_contract",
    "rater_agreement_contract",
    "msprt_contract",
    "knn_ann_ivf_pq_refine_recall",
    "incremental_agg_contract",
    "survival_km_contract",
    "ranking_metrics_contract",
    "cdc_merge_contract",
    "media_binary_ingest",
    "robust_outlier_profile",
]


def _reorder() -> None:
    missing = [n for n in _VERIFICATION_WINDOW if n not in QUERIES]
    if missing:
        raise RuntimeError(f"verification window names unknown queries: {missing}")
    ordered = {n: QUERIES[n] for n in _VERIFICATION_WINDOW}
    ordered.update({n: q for n, q in QUERIES.items() if n not in ordered})
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder()
