"""Physical-plan regression tests: the scale properties SURVEY §4 and
the 100-TB design rules promise (pushdown, pruning, broadcast joins,
top-k as TakeOrderedAndProject, partial aggregation, no cartesian
products) are asserted on the actual executed plan, so a refactor that
silently loses one fails here — not at cluster scale.
"""

from __future__ import annotations

import contextlib
import io

from proyecto_final_de_big_data_spark.queries import QUERIES


def _plan(spark, sf_dir, name: str, mode: str = "formatted") -> str:
    df = QUERIES[name].spark_fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_suppliers")
    assert "TakeOrderedAndProject" in plan  # no materialized global sort


def test_dim_decode_is_broadcast_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "customer_region_decode")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not shuffle the fact side


def test_exact_jaccard_has_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ngram_jaccard_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grand_agg_is_partial_plus_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "kpis")
    assert plan.count("HashAggregate") >= 2  # map-side combine before the shuffle


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "knn_bruteforce")
    assert "PushedFilters: [" in plan
    assert "vec_id" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, "no ReadSchema in formatted plan"
    # pricing summary never touches join keys — the scan must not read them
    assert "l_orderkey" not in read_schema[0]
    assert "l_partkey" not in read_schema[0]


def test_whole_stage_codegen_active(spark, sf_dir):
    # AQE only finalizes the physical plan on execution; the "*(n)"
    # prefix in the executed plan marks whole-stage-codegen'd stages.
    df = QUERIES["quantity_bins"].spark_fn(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert "*(" in executed  # when-chain binning stays JVM-side


def test_salted_agg_is_two_phase(spark, sf_dir):
    # phase 1 groupBy (key, salt) + phase 2 groupBy key, each with
    # map-side partial aggregation -> at least 3 HashAggregate nodes.
    plan = _plan(spark, sf_dir, "salted_event_type_stats")
    assert plan.count("HashAggregate") >= 3


def test_salted_join_broadcasts_replicated_small_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "salted_nation_customer_counts")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the big (salted) side must not shuffle


def test_media_plumbing_never_shuffles_binary(spark, sf_dir):
    # scan -> encode -> mapInPandas, no wide transform: binary payloads
    # must reach the Python workers without an Exchange in between.
    for q in ("media_resize", "media_frame_sample"):
        plan = _plan(spark, sf_dir, q)
        assert "Exchange" not in plan, q
        assert "MapInPandas" in plan, q


def test_ivf_candidates_form_by_broadcast_join(spark, sf_dir):
    # corpus side: cell assignment is a projection (no shuffle before the
    # join); candidates form by broadcasting the tiny exploded query side.
    plan = _plan(spark, sf_dir, "knn_ann_ivf")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # Both sides written bucketed on the join key -> the SortMergeJoin
    # must run with no Exchange on either side (the write shuffle
    # replaced the join shuffle). Asserted on the executed plan.
    from proyecto_final_de_big_data_spark.queries.contracts import (
        _bucketed_orders_customer_join,
    )

    j = _bucketed_orders_customer_join(spark, sf_dir)
    j.collect()
    executed = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in executed
    assert "Exchange" not in executed


def test_asof_join_plan_no_nested_loop_single_key_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_asof_last_order")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # carry-forward is a window, not a join


def test_interval_join_plan_is_hash_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_in_first_day_window")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # bucketing turned the range predicate into an equi-join
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_decontamination_benchmark_side_broadcasts(spark, sf_dir):
    # The benchmark shingle set must broadcast (eval sets are tiny); a
    # SortMergeJoin here would shuffle the full corpus shingle explode.
    plan = _plan(spark, sf_dir, "decontamination_profile")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pack_chunks_single_shard_shuffle(spark, sf_dir):
    # Sharded window: exactly one Exchange before the window (the shard
    # hashpartitioning) on the packing side; never a global
    # single-partition sort.
    plan = _plan(spark, sf_dir, "pack_chunks_profile")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_stratified_sample_is_pure_filter(spark, sf_dir):
    # The keep decision is a projection+filter over the scan — no
    # shuffle, no RNG; only the profiling groupBy exchanges.
    from proyecto_final_de_big_data_spark.catalog import load_table
    from proyecto_final_de_big_data_spark.operators.split import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    sampled = stratified_hash_sample(docs, "doc_id", {"en": 0.25}, "lang")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sampled.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_temperature_mix_rates_broadcast(spark, sf_dir):
    # Per-stratum rates must reach the corpus as a broadcast, never by
    # shuffling the fact side on the stratum key.
    plan = _plan(spark, sf_dir, "temperature_mix_profile")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_aggs_are_partial_plus_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tfidf_top_terms")
    assert plan.count("HashAggregate") >= 4  # tf and df aggs, each 2-phase
    assert "CartesianProduct" not in plan


def test_pii_and_repetition_prune_to_used_columns(spark, sf_dir):
    # Projection-only scoring must not drag unused columns through the scan.
    for name in ("pii_redaction_profile", "repetition_profile"):
        plan = _plan(spark, sf_dir, name)
        scan = plan.split("ReadSchema")[1][:300]
        assert "text" in scan and "lang" not in scan, name


def test_rolling_zscore_single_window_exchange(spark, sf_dir):
    # One shuffle for the user_id window, one for the final event_type
    # agg — no third Exchange from accidental repartitioning.
    plan = _plan(spark, sf_dir, "rolling_user_zscore")
    assert plan.count("Window") >= 1
    body = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert body.count("Exchange") <= 2


def test_incremental_dedup_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "incremental_dedup_profile")
    assert "CartesianProduct" not in plan


def _operator_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_semantic_dedup_cell_assignment_is_map_only(spark, sf_dir):
    # SemDeDup: the cell assignment must be a pure projection (Arrow
    # batch matmul) over the scan — no Exchange until the within-cell
    # self-join; the pair formation must be a hash join on cell, never
    # a cartesian/nested-loop over the corpus.
    from proyecto_final_de_big_data_spark.catalog import load_table
    from proyecto_final_de_big_data_spark.operators.semdedup import (
        centroids_by_ids,
        semantic_dedup_pairs,
    )
    from proyecto_final_de_big_data_spark.operators.similarity_ivf import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    cents = centroids_by_ids(emb, list(range(4)))
    assign_plan = _operator_plan(ivf_assign(emb, cents))
    assert "Exchange" not in assign_plan
    pair_plan = _operator_plan(semantic_dedup_pairs(emb, cents, threshold=0.95))
    assert "CartesianProduct" not in pair_plan
    assert "BroadcastNestedLoopJoin" not in pair_plan


def test_lm_vocab_topk_and_broadcast_scoring(spark, sf_dir):
    # Unigram LM: the vocab cut must compile to TakeOrderedAndProject
    # (per-partition top-K + K-row merge, no global sort) and the
    # scoring join must broadcast the vocab — the corpus token stream
    # must never sort-merge on the word key.
    from proyecto_final_de_big_data_spark.catalog import load_table
    from proyecto_final_de_big_data_spark.operators.lm_score import (
        score_documents,
        unigram_counts,
        unigram_vocab,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = unigram_vocab(unigram_counts(docs), 20)
    assert "TakeOrderedAndProject" in _operator_plan(vocab)
    score_plan = _operator_plan(score_documents(docs, vocab, "doc_id", "text"))
    assert "BroadcastHashJoin" in score_plan
    assert "SortMergeJoin" not in score_plan
    # per-doc partial aggregation before the exchange
    assert score_plan.count("HashAggregate") >= 2


def test_cap_per_group_sorts_only_over_cap_groups(spark, sf_dir):
    plan = _plan(spark, sf_dir, "source_cap_profile")
    # both split probes are broadcast (the over-cap group set is tiny)
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "BroadcastHashJoin LeftSemi" in plan
    # Spark's rank-limit pushdown pre-prunes each map partition to the
    # cap before the window shuffle — the property that keeps the sorted
    # slice bounded at scale
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    # the under-cap (anti) branch must not sort: in the plan tree the
    # Union's non-last (anti) branch lines carry a ':' continuation
    # marker, so a Sort on a ':'-marked line would mean the passthrough
    # branch started sorting. Every Sort must live in the semi branch's
    # window/WindowGroupLimit pipeline (unmarked last-child lines).
    tree = plan.split("\n\n")[0]
    for ln in tree.splitlines():
        if "Sort" in ln:
            assert ":" not in ln.split("Sort")[0], f"sort in passthrough branch: {ln}"


def test_keep_best_winner_window_is_component_partitioned(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cluster_keep_best_profile")
    # every window in the plan partitions BY component — never the
    # unpartitioned-window straggler shape
    specs = plan.split("windowspecdefinition(")[1:]
    assert specs, "expected winner-selection windows in the plan"
    assert all(s.startswith("component") for s in specs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_release_manifest_is_single_pass_agg(spark, sf_dir):
    # One partial+final aggregation over a pure projection: no joins, no
    # windows, exactly one Exchange (the grouped final agg).
    import re

    plan = _plan(spark, sf_dir, "release_manifest_contract")
    # formatted mode prints each node in the tree AND a detail block —
    # count detail headers, which appear exactly once per node.
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "Join" not in plan and "Window" not in plan


def test_epoch_upsample_rates_broadcast_and_explode(spark, sf_dir):
    # Stratum weights reach the corpus as a broadcast; the copies come
    # from a Generate (explode) — never a shuffle of the fact side.
    plan = _plan(spark, sf_dir, "epoch_upsample_profile")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Generate" in plan


def test_cluster_safe_split_no_cartesian(spark, sf_dir):
    # Component labels attach to the corpus by an equi-join on the id;
    # the split itself stays a projection (no extra Exchange after it).
    plan = _plan(spark, sf_dir, "cluster_safe_split_profile")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interpolation_single_window_and_broadcast_grid(spark, sf_dir):
    """interpolate_gaps: both IGNORE-NULLS carry directions must fuse
    into ONE Window node (same partitioning + ordering), and the
    bucket-scale grid joins by broadcast — the corpus-scale shuffle is
    the bucket aggregation alone."""
    plan = _plan(spark, sf_dir, "interpolated_user_series")
    assert plan.count(") Window") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_grouped_clip_bounds_broadcast_back(spark, sf_dir):
    """clip_to_group_quantiles: the per-group bounds frame must
    broadcast back onto the fact scan — no sort-merge join, no second
    corpus shuffle beyond the grouped bounds aggregation."""
    plan = _plan(spark, sf_dir, "grouped_outlier_clip_profile")
    # eqNullSafe compiles to a hash-joinable key, so null-safety costs
    # no plan quality: still a BroadcastHashJoin, never a nested loop.
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_heavy_hitter_exact_pass_is_broadcast_semi_join(spark, sf_dir):
    """heavy_hitters two-phase path: the exact-verify pass filters the
    corpus through the answer-scale candidate set as a BROADCAST
    left-semi join — the corpus must never shuffle on the raw key
    domain, and null-safe key equality must not degrade the join to a
    nested loop. (The registered query degenerates to the exact single
    pass at tiny SF by design, so the sampled path is forced here via
    min_sample_hits=1.)"""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from proyecto_final_de_big_data_spark.catalog import load_table
    from proyecto_final_de_big_data_spark.operators.heavy_hitters import (
        heavy_hitters,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("k"), "event_id"
    )
    df = heavy_hitters(
        ev, "k", min_share=0.2, sample_on=["event_id"], min_sample_hits=1
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan

    # and the degenerate path really is join-free single-pass
    exact_plan_df = heavy_hitters(ev, "k", min_share=0.2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        exact_plan_df.explain("formatted")
    assert "Join" not in buf.getvalue()


def test_sketch_partials_aggregate_partial_plus_final(spark, sf_dir):
    """HLL partial/merge rollup: both the sketch-build aggregation and
    the union-merge must run partial-then-final (map-side combine), so
    only pre-combined sketch bytes cross each exchange."""
    plan = _plan(spark, sf_dir, "hll_mergeable_rollup_contract")
    assert "partial_hll_sketch_agg" in plan.lower() or plan.lower().count(
        "hashaggregate"
    ) >= 2, plan
    assert "CartesianProduct" not in plan


def test_pivot_is_single_aggregate_no_distinct_job(spark, sf_dir):
    """Explicit-value pivot: the literal list means no separate
    distinct-discovery pass; the reshape is two chained aggregations
    (corpus -> (yr, priority) partials -> wide yr rows)."""
    plan = _plan(spark, sf_dir, "priority_pivot_by_year")
    # pivot compiles to two chained aggregations — (yr, priority) then
    # yr — so exactly two exchanges, the second over group-cardinality
    # rows only. No distinct-discovery job, no join.
    assert plan.count(") Exchange") == 2, plan
    assert "Join" not in plan


def test_unpivot_expands_without_extra_exchange(spark, sf_dir):
    """Unpivot is a projection-time expansion (Expand/Generate): the
    round trip may shuffle only for the upstream pivot aggregation."""
    plan = _plan(spark, sf_dir, "priority_unpivot_round_trip")
    assert "Expand" in plan or "Generate" in plan, plan
    # no exchange beyond the upstream pivot's two
    assert plan.count(") Exchange") == 2, plan
    assert "Join" not in plan


def test_zorder_single_range_exchange_no_global_sort(spark, sf_dir):
    """The z-order layout's only shuffle is the range partitioning that
    IS the layout; the Morton key itself is a codegen'd projection and
    the sort stays within partitions (no global Sort node above the
    exchange beyond the local one)."""
    plan = _plan(spark, sf_dir, "zorder_cells_contract")
    assert "rangepartitioning" in plan.lower(), plan
    assert "CartesianProduct" not in plan and "Join" not in plan
    # exactly two exchanges: the range layout + the cell-profile agg
    assert plan.count(") Exchange") == 2, plan


def test_weighted_sample_window_partitioned_by_stratum(spark, sf_dir):
    """The cumulative-weight window must be PARTITIONED (per-stratum
    budgets) — an unpartitioned window would funnel the corpus through
    one task."""
    plan = _plan(spark, sf_dir, "weighted_sample_profile")
    assert "Window" in plan, plan
    low = plan.lower()
    assert "partitionby" not in low or "lang" in low
    assert plan.count("Window") >= 1
    # the window's hash exchange carries the stratum key
    assert "hashpartitioning(lang" in low, plan


def test_chunk_profile_exchanges_belong_to_the_agg(spark, sf_dir):
    """Chunking is map-only (Generate + slice projection): every
    exchange in chunk-then-profile belongs to the profile aggregation
    (two, because count_distinct plans as a two-phase expand-agg) —
    none to the chunk expansion itself."""
    plan = _plan(spark, sf_dir, "chunk_overlap_profile")
    assert "Generate" in plan, plan
    assert plan.count(") Exchange") == 2, plan
    assert "Join" not in plan and "rangepartitioning" not in plan.lower()


def test_decile_binning_is_projection_after_bounds(spark, sf_dir):
    """Equal-frequency binning: no ntile/global sort anywhere — the
    returned plan aggregates a comparison-chain projection."""
    plan = _plan(spark, sf_dir, "decile_profile_contract")
    assert "ntile" not in plan.lower()
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count(") Exchange") == 1, plan  # only the profile agg


def test_sq_quantization_stays_jvm_side(spark, sf_dir):
    """SQ8 codes and the reconstruction arithmetic are higher-order
    functions — no Python evaluation in the QUANTIZED scoring plan
    (the gate query also contains the exact baseline, whose Arrow
    batch cosine is intentional — so audit the operator, not the
    gate), and the query side broadcasts."""
    import contextlib
    import io

    from proyecto_final_de_big_data_spark.catalog import load_table
    from proyecto_final_de_big_data_spark.operators.quantize import (
        quantized_cosine_topk,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    df = quantized_cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan, plan


def test_transition_matrix_no_cartesian_single_window_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "event_transition_matrix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one data-scale window (the user-keyed lead); the
    # normalization window runs over the types^2 matrix after the agg.
    assert plan.count("(user_id") >= 1


def test_session_paths_no_second_window(spark, sf_dir):
    # The path build is collect_list+array_sort INSIDE the session agg:
    # the only Window nodes belong to sessionize (lag + running sum,
    # sharing one sort); the path stage itself must be agg-only.
    plan = _plan(spark, sf_dir, "session_path_profile")
    assert "CartesianProduct" not in plan
    assert plan.count("Window (") <= 2  # sessionize's two passes share a sort
    assert "array_sort" in plan


def test_fuzzy_join_blocked_not_cartesian(spark, sf_dir):
    # Candidates form by equi-join on block keys — never an all-pairs
    # product, which is what the blocking exists to prevent.
    plan = _plan(spark, sf_dir, "fuzzy_name_match_profile")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_categorical_association_no_cross_join(spark, sf_dir):
    # Missing-cell chi2 mass is folded in algebraically; the plan must
    # contain no |A|x|B| cross product and no global window — cells,
    # marginals and totals are all hash aggregations + equi-joins.
    plan = _plan(spark, sf_dir, "categorical_association_contract")
    assert "CartesianProduct" not in plan
    assert "Window (" not in plan


def test_ewma_fold_is_window_free(spark, sf_dir):
    # The sequential recursion is localized to one array fold per key:
    # no Window operator (a running-state window would single-partition
    # under by=[] misuse), no cartesian; residual scale is a keyed agg.
    plan = _plan(spark, sf_dir, "ewma_anomaly_contract")
    assert "Window (" not in plan
    assert "CartesianProduct" not in plan
    assert "aggregate(" in plan  # the higher-order-function fold


def test_acf_self_join_is_equi_keyed(spark, sf_dir):
    # The lag fan-out is a tiny broadcast spine (BNLJ against 7 rows is
    # fine); the series self-join itself must be an equi-join on
    # (event_type, day+lag) — never a cartesian product.
    plan = _plan(spark, sf_dir, "autocorrelation_contract")
    assert "CartesianProduct" not in plan
    assert "Window (" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_bm25_term_stats_filtered_before_shuffle(spark, sf_dir):
    # The query-term IN-filter must sit below the tf/df aggregations
    # (pushed into the exploded token stream), and per-term idf joins
    # broadcast — never a shuffle join keyed on the full vocabulary.
    plan = _plan(spark, sf_dir, "bm25_relevance_contract")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    # the literal IN-list filter on the exploded token column
    assert "word#" in plan and "IN (" in plan.replace("isnotnull", "")


def test_kfold_cv_is_two_pass_broadcast(spark, sf_dir):
    # The k fold models must NOT cost k training passes: one groupBy
    # shuffle collects per-fold sufficient statistics, the solve runs
    # at k-cardinality, and the scoring join broadcasts the k
    # coefficient rows — never a shuffle join keyed on the fold.
    plan = _plan(spark, sf_dir, "ml_cv_contract")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "Window (" not in plan


def test_attribution_single_user_window_no_range_join(spark, sf_dir):
    # Group formation must be the reverse cumulative window, never a
    # touch-x-conversion range join (BNLJ/cartesian at event scale).
    plan = _plan(spark, sf_dir, "attribution_contract")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window (") <= 2  # one pass + the oracle-side none


def test_roc_auc_never_sorts_the_corpus(spark, sf_dir):
    # AUC must come from the bucket aggregation (map-side combined),
    # never the rank-sum global sort of scored rows: the only Sort
    # allowed is the answer-scale one feeding the <=n_buckets window.
    plan = _plan(spark, sf_dir, "ml_auc_contract")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Window (") == 1
    assert "HashAggregate" in plan  # partial+final bucket counts


def test_classification_report_is_one_pass_no_join(spark, sf_dir):
    # k thresholds = k conditional sums in ONE aggregation; adding a
    # threshold must never add a scan or any join.
    plan = _plan(spark, sf_dir, "ml_classification_report_contract")
    assert "Join" not in plan and "Window (" not in plan
    assert plan.count("Scan parquet") <= 2  # one scan; tree + detail


def test_lift_table_broadcasts_answer_scale_totals(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ml_lift_table_contract")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_jackknife_is_one_grouping_pass(spark, sf_dir):
    # The S leave-one-out replicates are algebra on per-stratum sums —
    # one data-scale groupBy, no window, no shuffle join, no S scans.
    plan = _plan(spark, sf_dir, "jackknife_ratio_contract")
    assert "SortMergeJoin" not in plan and "Join" not in plan
    # ONE scan of the facts (formatted mode prints each scan node
    # twice: tree + detail section)
    assert plan.count("Scan parquet") <= 2


def test_benford_digit_groupby_with_broadcast_spine(spark, sf_dir):
    plan = _plan(spark, sf_dir, "benford_profile_contract")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Scan parquet") <= 2  # one scan; tree + detail


def test_incremental_merge_never_rejoins_base_facts(spark, sf_dir):
    # union-and-reaggregate at grain cardinality: no join anywhere,
    # exactly one Union of the two snapshot branches.
    plan = _plan(spark, sf_dir, "incremental_agg_contract")
    assert "Join" not in plan
    assert "Union" in plan


def test_woe_totals_ride_window_not_second_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "woe_iv_contract")
    assert "Join" not in plan
    assert plan.count("Scan parquet") <= 2  # one scan; tree + detail
    assert "HashAggregate" in plan


def test_target_encoding_broadcasts_category_stats(spark, sf_dir):
    # Stats join back via broadcast (categories << rows); never a
    # per-category window over raw rows (hot-key skew bomb) and never
    # a shuffle join on the category.
    plan = _plan(spark, sf_dir, "target_encoding_contract")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan.split("BroadcastHashJoin")[0]


def test_cusum_is_one_fold_per_key_no_window(spark, sf_dir):
    # The recursion lives in an array fold after ONE groupBy collect —
    # no row-window over the series, no self-join, no iteration loop.
    plan = _plan(spark, sf_dir, "cusum_changepoint_contract")
    assert "Window (" not in plan
    assert "Join" not in plan
    assert "Generate" in plan  # posexplode back to series cardinality


def test_lorenz_gini_is_bucket_agg_not_global_sort(spark, sf_dir):
    # The exact Gini needs every row ranked; the operator must instead
    # aggregate to <=n_buckets cells (one data-scale shuffle) and walk
    # the curve on answer-scale windows.
    plan = _plan(spark, sf_dir, "lorenz_gini_contract")
    assert "Join" not in plan
    assert plan.count("Scan parquet") <= 2  # one scan; tree + detail
    assert "HashAggregate" in plan


# ----------------------------------------------------- round-8 shapes


def test_triangle_count_has_no_window_anywhere(spark, sf_dir):
    # degree orientation is a struct-key comparison, per-vertex counts
    # are groupBys — a Window in this plan would mean a global vertex
    # rank sneaked back in (the single-partition hazard the operator
    # exists to avoid).
    plan = _plan(spark, sf_dir, "triangle_count_contract")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_rfm_profile_is_windowless_no_ntile(spark, sf_dir):
    # quintile scores come from quantile BOUNDS + comparisons; ntile
    # (a global customer sort) must never appear.
    plan = _plan(spark, sf_dir, "rfm_segment_profile")
    assert "Window" not in plan
    assert "ntile" not in plan.lower()


def test_rolling_actives_expand_not_range_join(spark, sf_dir):
    # the sliding distinct comes from a map-side sequence/explode
    # (Generate), never a cartesian/range join of days x events.
    plan = _plan(spark, sf_dir, "rolling_active_users")
    assert "Generate" in plan
    assert "CartesianProduct" not in plan


def test_negative_sampling_single_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "negative_sampling_contract")
    # exactly one anti-join operator (the positives exclusion); the
    # formatted detail section repeats the join type, so count tree
    # nodes, not substrings
    n_anti = sum(
        plan.count(f"{j} LeftAnti")
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert n_anti == 1, plan
    assert "CartesianProduct" not in plan  # never user x item


def test_hybrid_rrf_fuses_answer_scale_frames(spark, sf_dir):
    # fusion aggregates a union of two top-50 frames; the corpus scan
    # feeds the LEGS (bm25/cosine), and no join in the fused region is
    # a sort-merge over corpus-scale rows — the fused agg reads a
    # Union of two windowed top-N branches.
    plan = _plan(spark, sf_dir, "hybrid_search_rrf")
    assert "Union" in plan


def test_bootstrap_partial_agg_collapses_explode_before_shuffle(spark, sf_dir):
    # the R+1-fold Generate must be followed by a PARTIAL HashAggregate
    # on (group, replicate) BEFORE the exchange — the shuffle carries
    # (groups x replicates) rows, never the exploded frame — and the
    # whole chain stays JVM-side (no Python UDF in the draw).
    plan = _plan(spark, sf_dir, "bootstrap_ci_contract", mode="extended")
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Generate explode" in physical
    gen_pos = physical.index("Generate explode")
    last_exch_pos = physical.rindex("Exchange")
    partial_pos = physical.rindex("partial_sum")
    # plans print top-down: between the exchange nearest the Generate
    # and the Generate itself sits the map-side partial aggregate
    assert last_exch_pos < partial_pos < gen_pos
    assert "BatchEvalPython" not in physical
    assert "ArrowEvalPython" not in physical


def test_rater_agreement_cross_joins_only_contingency_scale(spark, sf_dir):
    # kappa reduces a label CONTINGENCY: the only joins are over
    # k-cardinality marginal frames (broadcast NL join of aggregates),
    # never a corpus-scale CartesianProduct, and the whole chain stays
    # JVM-side.
    plan = _plan(spark, sf_dir, "rater_agreement_contract")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_seasonal_trend_frame_broadcasts_back(spark, sf_dir):
    # pass 2 joins the key-cardinality trend frame onto the series via
    # broadcast — never a shuffle of the fact side on the key — and the
    # slot-level strength window partitions by key (no SinglePartition).
    plan = _plan(spark, sf_dir, "seasonal_decomposition_contract")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "SinglePartition" not in plan


def test_winnowing_is_map_only_before_profile_agg(spark, sf_dir):
    # fingerprint selection is a higher-order-function projection: one
    # Generate(explode) fed by the scan, no join, no Python eval; the
    # only exchange belongs to the per-doc profile aggregation.
    plan = _plan(spark, sf_dir, "winnowing_fingerprint_contract")
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_bloom_prune_is_map_only_filter_before_join(spark, sf_dir):
    # The bitmap probe must sit in a plain Filter fused into the big
    # side's scan (xxhash64 arithmetic, no Python eval, no extra join
    # or exchange for the membership test) — the whole point is that
    # the orders stream shrinks BEFORE the join's shuffle/broadcast.
    plan = _plan(spark, sf_dir, "bloom_pruned_join_contract")
    assert "xxhash64" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # exactly one join (the real customer join, broadcast — tree line +
    # detail block = 2 mentions); membership is a Filter, not a join
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_anova_is_two_aggs_no_window_no_python(spark, sf_dir):
    # Sufficient statistics: per-group agg + group-cardinality reduce;
    # the deviations-from-mean restatement would need a second scan or
    # a window — neither may appear.
    plan = _plan(spark, sf_dir, "anova_oneway_contract")
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_rank_tests_window_only_on_distinct_value_grid(spark, sf_dir):
    # Ranks come from the DISTINCT-VALUE frame's cumulative window (an
    # answer-scale grid, 50 quantity values), never a data-scale sort:
    # every Window in the plan must sit above an aggregation, and no
    # global Sort of the raw lineitem scan may exist outside one.
    plan = _plan(spark, sf_dir, "rank_test_contract")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # the contingency agg feeds the window — a plan with zero
    # HashAggregate below the first Window would mean raw-data ranking
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[:first_window]


def test_jw_join_udf_sees_only_blocked_candidates(spark, sf_dir):
    # The consumer plan reads the SECOND barrier (scored pairs), so no
    # ArrowEvalPython may appear in it at all — both the per-branch
    # UDF pushdown and the filter/output recompute are pinned away by
    # the two-barrier shape (each distinct pair scored exactly once;
    # 7.2 -> 2.9 s warm at sf0.1).
    plan = _plan(spark, sf_dir, "jw_name_match_profile")
    assert plan.count("ArrowEvalPython") == 0
    assert "Scan ExistingRDD" in plan  # the barrier
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Candidate generation itself is equi-joins on the block key — the
    # barrier hides it from the consumer plan, so assert it directly.
    import contextlib
    import io

    from pyspark.sql import functions as F

    from proyecto_final_de_big_data_spark.catalog import load_table
    from proyecto_final_de_big_data_spark.operators.fuzzyjoin import (
        multipass_candidates,
    )

    cu = load_table(spark, sf_dir, "customer").select("c_name")
    cand = multipass_candidates(
        cu, "c_name", [F.substring("c_name", 1, 16)]
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cand.explain("formatted")
    cplan = buf.getvalue()
    assert "CartesianProduct" not in cplan
    assert "BroadcastNestedLoopJoin" not in cplan
    assert "BroadcastHashJoin" in cplan or "SortMergeJoin" in cplan


def test_duplicate_span_removal_no_python_no_cartesian(spark, sf_dir):
    # The whole span pipeline — winnowing prefilter, gram-position
    # index, keeper resolution, islands merge, strip fold — is built
    # from HOF projections, hash joins and per-document windows: no
    # Python eval anywhere, no cartesian product (the candidate
    # machinery is a fingerprint-window pass since r12), and the
    # islands/strip windows are partitioned per document. Since r12
    # the registered query pins its spans frame (lazy localCheckpoint),
    # which truncates the query-level .explain above the explodes — so
    # the structural assertions run on the OPERATOR's un-truncated
    # plan over the same corpus table (the bm25 plan-visibility
    # lesson: assert where the subtree is visible).
    from proyecto_final_de_big_data_spark.catalog import load_table
    from proyecto_final_de_big_data_spark.operators.spandedup import (
        duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    frame = duplicate_spans(docs, "doc_id", "text", min_span=100, prefilter=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        frame.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the gram/fingerprint explodes
    # the registered query still must not re-introduce Python/cartesian
    # in its visible (post-pin) shape
    qplan = _plan(spark, sf_dir, "duplicate_span_removal_contract")
    assert "BatchEvalPython" not in qplan
    assert "CartesianProduct" not in qplan


def test_refine_rerank_is_broadcast_only(spark, sf_dir):
    # The exact re-rank stage must broadcast the answer-scale candidate
    # and query frames onto the corpus scan — never a cartesian product
    # and never a sort-merge shuffle of the float vectors.
    plan = _plan(spark, sf_dir, "knn_ann_ivf_pq_refine_recall")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_apss_candidates_from_prefix_join_no_cartesian(spark, sf_dir):
    # Candidate generation must be the prefix-term equi-join (hash
    # join on the term), never a cartesian product over documents, and
    # nothing in the pipeline drops to Python.
    plan = _plan(spark, sf_dir, "cosine_allpairs_contract")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_dsir_distributions_broadcast_back_no_python(spark, sf_dir):
    # Feature hashing is a HOF projection (no Python), the log-ratio
    # table (<= 1024 rows) broadcasts onto the per-doc feature frame,
    # and the final selection is a TakeOrderedAndProject-style top-k —
    # never a cartesian product.
    plan = _plan(spark, sf_dir, "dsir_selection_contract")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_learning_curve_two_shuffles_no_data_rescan_per_point(spark, sf_dir):
    # One groupBy(slice) + one test-side agg: the nested training sets
    # come from a cumulative window over the 5-row per-slice frame,
    # never a refit scan per fraction — so the plan carries exactly
    # one aggregate over the lineitem scan per pass (no Python, no
    # cartesian blowup beyond the deliberate 4-model broadcast).
    plan = _plan(spark, sf_dir, "learning_curve_contract")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # the 4-row model frame rides a broadcast nested-loop by design;
    # a CartesianProduct (non-broadcast) must never appear
    assert "CartesianProduct" not in plan


# ---- round-9 late additions -----------------------------------------


def test_gopher_scoring_is_scan_stage_projection(spark, sf_dir):
    # Every Gopher signal is a HOF projection: the only exchange in the
    # plan is the final per-lang rollup's — nothing shuffles documents
    # to score them.
    plan = _plan(spark, sf_dir, "gopher_rules_contract")
    # formatted mode names tree nodes "Exchange (n)" — count those,
    # not the word (it reappears in the per-node detail section).
    assert plan.count("Exchange (") <= 1
    assert "CartesianProduct" not in plan


def test_jl_projection_has_no_pre_audit_shuffle(spark, sf_dir):
    # Projection is map-only; the audit's pair join is over the bounded
    # 30-row sample, so no SortMergeJoin may appear (broadcast NL over
    # the id_a < id_b condition on a 30-row frame is the correct shape).
    plan = _plan(spark, sf_dir, "jl_projection_contract")
    assert "SortMergeJoin" not in plan


def test_holt_fold_shuffles_only_for_grouping(spark, sf_dir):
    # One exchange for the daily grid agg, one for the per-key collect,
    # one for the sigma join-back — and nothing at raw-event scale
    # after the first.
    plan = _plan(spark, sf_dir, "holt_forecast_contract")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_msprt_windows_are_single_partition_answer_scale(spark, sf_dir):
    # The cumulative/running-max windows sort DAY-cardinality rows
    # (30 at any SF) — a single-partition window over the daily frame
    # is the intended answer-scale shape, and the raw units must reach
    # it through a partial-aggregated groupBy, not a raw sort.
    plan = _plan(spark, sf_dir, "msprt_contract")
    assert plan.count("HashAggregate") >= 2  # map-side combine on units
    assert "CartesianProduct" not in plan


def test_fs_linkage_u_fits_broadcast_onto_candidates(spark, sf_dir):
    # The u fits reach the scorer as PLAN LITERALS (one bounded 1-row
    # readout at construction — r10 ADVICE fix), so the only joins left
    # are the blocked-candidate equi-joins, which must be broadcast;
    # nothing may cartesian.
    plan = _plan(spark, sf_dir, "fs_linkage_contract")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ccnet_vocab_and_bounds_broadcast(spark, sf_dir):
    # Scoring joins the 20-row vocab and the per-lang bounds by
    # broadcast; the corpus token stream must not sort-merge anywhere.
    plan = _plan(spark, sf_dir, "ccnet_bucket_contract")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bfs_no_python_no_cartesian_no_data_window(spark, sf_dir):
    # Six expansion rounds: frontier semi-joins + anti-joins keyed on
    # node id — never a cartesian, never a Python worker, never a
    # window (the census is a plain groupBy).
    plan = _plan(spark, sf_dir, "bfs_distances_contract")
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan
    assert "Window" not in plan


def test_ranking_metrics_windows_partition_per_query(spark, sf_dir):
    # Both windows (system rank, ideal ordering) are partitioned per
    # query over answer-scale frames; no global unpartitioned sort of
    # the joined frame, no cartesian, no Python.
    plan = _plan(spark, sf_dir, "ranking_metrics_contract")
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan
    # Every window partitions on the query key: the formatted details
    # print each Window's spec — none may carry an empty partition list
    # (the executed-plan string renders that as "SinglePartition" on
    # the window exchange; the ideal/system specs must name custkey).
    assert "SinglePartition" not in plan
    n_windows = plan.count("Window (") + plan.count("WindowGroupLimit (")
    assert n_windows >= 2  # system top-10 + ideal ordering
    # both window specs name the query key as their partition
    assert plan.count("windowspecdefinition(custkey") >= 2
    assert plan.count("hashpartitioning(custkey") >= 1
    assert "explode" in plan  # the 2-literal k-frame


def test_pmi_bigrams_pair_in_scan_stage_no_self_join(spark, sf_dir):
    # The bigram stream must come from a per-document arrays_zip
    # projection (Generate over the scan), never a token-scale
    # self-join; totals reach the scorer as broadcast 1-row frames.
    plan = _plan(spark, sf_dir, "pmi_collocations_contract")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan
    # the ONLY window is the final rank row_number over the already
    # 20-row-limited frame (rank after the limit, the keyness shape)
    assert plan.count("(1) Window") + plan.count("Window (") <= 2


def test_ks_windows_partition_per_key_no_python(spark, sf_dir):
    # The cumulative ECDF windows partition BY event_type over the
    # rounded-value grid — never a single-partition data sort; the
    # statistic needs no Python worker and no cartesian anywhere.
    plan = _plan(spark, sf_dir, "ks_drift_contract")
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan
    assert plan.count("windowspecdefinition(event_type") >= 1
    # Since r11 the max_distinct guard is in-plan (_apply_grid_guard):
    # its 1-row grid-count aggregate is the ONLY SinglePartition
    # exchange allowed, and it must feed an aggregate — never a Sort
    # or Window (the data-scale single-partition sort this test pins
    # away). The consumer is found by parsing the header TREE'S
    # indentation (each node's parent is the nearest shallower line
    # above it) — the r11 draft assumed the consumer is always node
    # id+1 in the detail blocks, which breaks (or goes silently
    # vacuous) the moment a multi-child operator sits next to the
    # exchange after an optimizer/version change (r11 ADVICE).
    import re

    header = plan.split("\n\n", 1)[0]
    nodes = []  # (line_no, depth, name, id)
    for i, ln in enumerate(header.splitlines()):
        m = re.match(r"^([\s:+|-]*)\*?\s*(\w+).*\((\d+)\)\s*$", ln)
        if m:
            nodes.append((i, len(m.group(1)), m.group(2), int(m.group(3))))

    def _parent_name(node_id: int) -> str | None:
        idx = next(i for i, n in enumerate(nodes) if n[3] == node_id)
        depth = nodes[idx][1]
        for j in range(idx - 1, -1, -1):
            if nodes[j][1] < depth:
                return nodes[j][2]
        return None

    single_part_ids = [
        int(m.group(1))
        for m in re.finditer(
            r"^\((\d+)\) Exchange(?:[^\n]*\n)+?Arguments: SinglePartition",
            plan,
            re.MULTILINE,
        )
    ]
    assert len(single_part_ids) <= 1
    for node_id in single_part_ids:
        parent = _parent_name(node_id)
        assert parent == "HashAggregate", (
            f"SinglePartition exchange ({node_id}) feeds {parent}, "
            "expected the guard aggregate"
        )


def test_adamic_adar_antijoin_topk_no_pair_window(spark, sf_dir):
    # Candidate pairs exclude real edges via LeftAnti; top-25 is
    # TakeOrderedAndProject; the ONLY window is the final rank
    # row_number over the already-limited frame — never a pair-scale
    # window, cartesian, or Python worker.
    plan = _plan(spark, sf_dir, "adamic_adar_contract")
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Window (") <= 1


def test_ccf_lag_spine_broadcast_no_window(spark, sf_dir):
    # The ×15 lag spine and the 1-row sufficient-stats frame both
    # reach the join side broadcast; raw-moment arithmetic means no
    # window and no Python anywhere.
    plan = _plan(spark, sf_dir, "ccf_lead_lag_contract")
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_effect_size_single_agg_no_window_no_join(spark, sf_dir):
    # Six sufficient sums in ONE conditional agg + closed-form
    # projection: no window, no join, no Python anywhere.
    plan = _plan(spark, sf_dir, "effect_size_contract")
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_mann_kendall_pair_join_keyed_no_window(spark, sf_dir):
    # The O(n^2) pair stage is a KEY-equi self-join over the
    # pre-aggregated day grid (never a cartesian); Sen's median is the
    # percentile AGGREGATE, so no window appears at all.
    plan = _plan(spark, sf_dir, "mann_kendall_contract")
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan
    assert "Window" not in plan


def test_nelson_aalen_windows_on_grid_only(spark, sf_dir):
    # Cumulative hazard windows run over the duration grid (the KM
    # answer-scale posture); the only nested-loop is the 1-row tmax
    # frame; no Python.
    plan = _plan(spark, sf_dir, "nelson_aalen_contract")
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan
    assert "Window (" in plan or "(1) Window" in plan or "Window" in plan


def test_pacf_recursion_touches_no_data_rows(spark, sf_dir):
    # The D-L recursion is a projection over the 4-value ACF pivot:
    # one conditional agg + a 4-literal posexplode (Generate); the
    # only joins are the ACF stage's keyed self-join + broadcast
    # spine.
    plan = _plan(spark, sf_dir, "pacf_contract")
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan
    assert "Generate" in plan
