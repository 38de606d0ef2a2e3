"""Physical-plan regression tests: the scale properties SURVEY §4 and
the 100-TB design rules promise (pushdown, pruning, broadcast joins,
top-k as TakeOrderedAndProject, partial aggregation, no cartesian
products) are checked on the actual plan, so a refactor that silently
loses one fails here — not at cluster scale.

A registered query declares what its plan relies on where it is
registered (``register(..., claims=...)``, see ``utils/plans.py``);
``test_plan_claims`` checks every such query. The functions below it
check what a claim over the plan text cannot say: plan structure (tree
parents, node order, branch markers, window specs, slices of the text),
the executed plan after an action, or the plan of an operator rather
than of a registered query.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from proyecto_final_de_big_data_spark.catalog import load_table
from proyecto_final_de_big_data_spark.queries import QUERIES, Query
from proyecto_final_de_big_data_spark.utils.plans import check, has, plan_text

CLAIMED = [name for name, q in QUERIES.items() if q.claims]


@pytest.mark.parametrize("name", CLAIMED)
def test_plan_claims(spark, sf_dir, name):
    q = QUERIES[name]
    failed = check(q.spark_fn(spark, sf_dir), q.claims)
    assert not failed, "\n".join(f"{name}: {f}" for f in failed)


def test_plan_claims_failure_names_query_and_claim(spark, sf_dir, monkeypatch):
    probe = Query("range_probe", lambda s, d: s.range(3), None, "", claims=(has("Range"), has("Exchange")))
    monkeypatch.setitem(QUERIES, probe.name, probe)
    with pytest.raises(AssertionError, match=r"range_probe: has\('Exchange'\): missing \['Exchange'\]") as err:
        test_plan_claims(spark, sf_dir, probe.name)
    assert "has('Range')" not in str(err.value)  # a claim that holds is not reported


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_text(QUERIES["knn_bruteforce"].spark_fn(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "vec_id" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = plan_text(QUERIES["pricing_summary"].spark_fn(spark, sf_dir))
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


def test_stratified_sample_is_pure_filter(spark, sf_dir):
    # The keep decision is a projection+filter over the scan — no
    # shuffle, no RNG; only the profiling groupBy exchanges.
    from proyecto_final_de_big_data_spark.operators.split import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    sampled = stratified_hash_sample(docs, "doc_id", {"en": 0.25}, "lang")
    plan = plan_text(sampled)
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_pii_and_repetition_prune_to_used_columns(spark, sf_dir):
    # Projection-only scoring must not drag unused columns through the scan.
    for name in ("pii_redaction_profile", "repetition_profile"):
        plan = plan_text(QUERIES[name].spark_fn(spark, sf_dir))
        scan = plan.split("ReadSchema")[1][:300]
        assert "text" in scan and "lang" not in scan, name


def test_semantic_dedup_cell_assignment_is_map_only(spark, sf_dir):
    # SemDeDup: the cell assignment must be a pure projection (Arrow
    # batch matmul) over the scan — no Exchange until the within-cell
    # self-join; the pair formation must be a hash join on cell, never
    # a cartesian/nested-loop over the corpus.
    from proyecto_final_de_big_data_spark.operators.semdedup import (
        centroids_by_ids,
        semantic_dedup_pairs,
    )
    from proyecto_final_de_big_data_spark.operators.similarity_ivf import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    cents = centroids_by_ids(emb, list(range(4)))
    assign_plan = plan_text(ivf_assign(emb, cents))
    assert "Exchange" not in assign_plan
    pair_plan = plan_text(semantic_dedup_pairs(emb, cents, threshold=0.95))
    assert "CartesianProduct" not in pair_plan
    assert "BroadcastNestedLoopJoin" not in pair_plan


def test_lm_vocab_topk_and_broadcast_scoring(spark, sf_dir):
    # Unigram LM: the vocab cut must compile to TakeOrderedAndProject
    # (per-partition top-K + K-row merge, no global sort) and the
    # scoring join must broadcast the vocab — the corpus token stream
    # must never sort-merge on the word key.
    from proyecto_final_de_big_data_spark.operators.lm_score import (
        score_documents,
        unigram_counts,
        unigram_vocab,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = unigram_vocab(unigram_counts(docs), 20)
    assert "TakeOrderedAndProject" in plan_text(vocab)
    score_plan = plan_text(score_documents(docs, vocab, "doc_id", "text"))
    assert "BroadcastHashJoin" in score_plan
    assert "SortMergeJoin" not in score_plan
    # per-doc partial aggregation before the exchange
    assert score_plan.count("HashAggregate") >= 2


def test_cap_per_group_sorts_only_over_cap_groups(spark, sf_dir):
    plan = plan_text(QUERIES["source_cap_profile"].spark_fn(spark, sf_dir))
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
    plan = plan_text(QUERIES["cluster_keep_best_profile"].spark_fn(spark, sf_dir))
    # every window in the plan partitions BY component — never the
    # unpartitioned-window straggler shape
    specs = plan.split("windowspecdefinition(")[1:]
    assert specs, "expected winner-selection windows in the plan"
    assert all(s.startswith("component") for s in specs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitter_exact_pass_is_broadcast_semi_join(spark, sf_dir):
    """heavy_hitters two-phase path: the exact-verify pass filters the
    corpus through the answer-scale candidate set as a BROADCAST
    left-semi join — the corpus must never shuffle on the raw key
    domain, and null-safe key equality must not degrade the join to a
    nested loop. (The registered query degenerates to the exact single
    pass at tiny SF by design, so the sampled path is forced here via
    min_sample_hits=1.)"""
    from proyecto_final_de_big_data_spark.operators.heavy_hitters import (
        heavy_hitters,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("k"), "event_id"
    )
    df = heavy_hitters(
        ev, "k", min_share=0.2, sample_on=["event_id"], min_sample_hits=1
    )
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan

    # and the degenerate path really is join-free single-pass
    assert "Join" not in plan_text(heavy_hitters(ev, "k", min_share=0.2))


def test_sq_quantization_stays_jvm_side(spark, sf_dir):
    """SQ8 codes and the reconstruction arithmetic are higher-order
    functions — no Python evaluation in the QUANTIZED scoring plan
    (the gate query also contains the exact baseline, whose Arrow
    batch cosine is intentional — so audit the operator, not the
    gate), and the query side broadcasts."""
    from proyecto_final_de_big_data_spark.operators.quantize import (
        quantized_cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_text(quantized_cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan, plan


def test_target_encoding_broadcasts_category_stats(spark, sf_dir):
    # Stats join back via broadcast (categories << rows); never a
    # per-category window over raw rows (hot-key skew bomb) and never
    # a shuffle join on the category.
    plan = plan_text(QUERIES["target_encoding_contract"].spark_fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan.split("BroadcastHashJoin")[0]


def test_bootstrap_partial_agg_collapses_explode_before_shuffle(spark, sf_dir):
    # the R+1-fold Generate must be followed by a PARTIAL HashAggregate
    # on (group, replicate) BEFORE the exchange — the shuffle carries
    # (groups x replicates) rows, never the exploded frame — and the
    # whole chain stays JVM-side (no Python UDF in the draw).
    plan = plan_text(QUERIES["bootstrap_ci_contract"].spark_fn(spark, sf_dir), "extended")
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


def test_rank_tests_window_only_on_distinct_value_grid(spark, sf_dir):
    # Ranks come from the DISTINCT-VALUE frame's cumulative window (an
    # answer-scale grid, 50 quantity values), never a data-scale sort:
    # every Window in the plan must sit above an aggregation, and no
    # global Sort of the raw lineitem scan may exist outside one.
    plan = plan_text(QUERIES["rank_test_contract"].spark_fn(spark, sf_dir))
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
    plan = plan_text(QUERIES["jw_name_match_profile"].spark_fn(spark, sf_dir))
    assert plan.count("ArrowEvalPython") == 0
    assert "Scan ExistingRDD" in plan  # the barrier
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Candidate generation itself is equi-joins on the block key — the
    # barrier hides it from the consumer plan, so assert it directly.
    from proyecto_final_de_big_data_spark.operators.fuzzyjoin import (
        multipass_candidates,
    )

    cu = load_table(spark, sf_dir, "customer").select("c_name")
    cand = multipass_candidates(
        cu, "c_name", [F.substring("c_name", 1, 16)]
    )
    cplan = plan_text(cand)
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
    from proyecto_final_de_big_data_spark.operators.spandedup import (
        duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    frame = duplicate_spans(docs, "doc_id", "text", min_span=100, prefilter=True)
    plan = plan_text(frame)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the gram/fingerprint explodes
    # the registered query still must not re-introduce Python/cartesian
    # in its visible (post-pin) shape
    qplan = plan_text(QUERIES["duplicate_span_removal_contract"].spark_fn(spark, sf_dir))
    assert "BatchEvalPython" not in qplan
    assert "CartesianProduct" not in qplan


def test_ks_windows_partition_per_key_no_python(spark, sf_dir):
    # The cumulative ECDF windows partition BY event_type over the
    # rounded-value grid — never a single-partition data sort; the
    # statistic needs no Python worker and no cartesian anywhere.
    plan = plan_text(QUERIES["ks_drift_contract"].spark_fn(spark, sf_dir))
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
