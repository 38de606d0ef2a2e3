"""Scale-behavior probe: run representative queries at sf0.001 / 0.01 /
0.1 (a 100x data range) and report warm medians plus the 0.001->0.1
runtime ratio. A scale-correct plan shows a ratio FAR below 100x at
these sizes (fixed scheduler/JVM overhead dominates small inputs, and
the data-dependent part grows near-linearly); a ratio approaching or
exceeding the data ratio flags a super-linear hazard (all-pairs blowup,
global sort, driver loop).

Usage: PYTHONPATH=. python tools/scaling_probe.py   (local[$SPARK_GRAFT_CPUS])
"""
import statistics

import bench
from proyecto_final_de_big_data_spark.queries import QUERIES

PROBES = [
    "pricing_summary",            # scan + grouped agg
    "bucketed_colocated_join",    # bucketed join layout
    "dedup_exact_stats",          # digest-keyed dedup shuffle
    "token_budget_selection_profile",  # sort-free selection
    "ml_auc_contract",            # bucketed curve walk
    "lorenz_gini_contract",       # bucketed concentration
    "event_funnel_profile",       # user-keyed funnel joins
    "jackknife_ratio_contract",   # stratum sufficient stats
    "bootstrap_ci_contract",      # R+1-fold explode + map-side collapse
    "winnowing_fingerprint_contract",  # map-only HOF fingerprint projection
    "bloom_pruned_join_contract",      # bitmap build + map-only k-probe prune
    "rank_test_contract",              # distinct-value-grid rank statistics
    "duplicate_span_removal_contract", # gram index bounded by winnow prefilter
    "dsir_selection_contract",         # bucket-cardinality distribution aggs
    "cosine_allpairs_contract",        # L2 prefix-filtered inverted index
]
SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> None:
    spark = bench.session("scaling-probe")
    bench.warm_up(spark, SFS[0])
    rows = []
    for name in PROBES:
        q = QUERIES[name]
        medians = [
            statistics.median(bench.warm_runs(lambda: q.spark_fn(spark, sf).count(), 3)[1:])
            for sf in SFS
        ]
        ratio = medians[2] / medians[0]
        rows.append((name, *medians, ratio))
        print(
            f"{name}: {medians[0]:.2f}s @0.001  {medians[1]:.2f}s @0.01  "
            f"{medians[2]:.2f}s @0.1  ratio(100x data)={ratio:.1f}x",
            flush=True,
        )

    worst = max(rows, key=lambda r: r[4])
    print(f"\nworst ratio: {worst[0]} at {worst[4]:.1f}x over 100x data")
    spark.stop()


if __name__ == "__main__":
    main()
