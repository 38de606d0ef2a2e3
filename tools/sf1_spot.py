#!/usr/bin/env python
"""One-time sf1-equivalent spot bench of the r11/r12 headliner queries
(verdict item 6): anchors the structural claims (Exchange/job/shuffle
deltas) in measured time PAST the sf0.1 machinery-floor regime. Data
comes from tools/sf1_synth.py (key-shifted 10x scale-up of sf0.1 —
see its docstring for why that is the honest construction). Results ->
BENCH_SF1_SPOT.json: per query, warm medians at sf0.1 and at 10x, and
the runtime ratio (data ratio is 10.0; a ratio well under 10 means the
query sits on fixed machinery, near 10 means linear data scaling,
well over 10 flags a super-linear hazard).

Usage: PYTHONPATH=. python tools/sf1_spot.py [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics

import bench
from proyecto_final_de_big_data_spark.queries import QUERIES

QUERIES_UNDER_TEST = [
    "pagerank_contract",
    "label_propagation_contract",
    "bfs_distances_contract",
    "frequent_itemsets_contract",
    "assoc_rules_contract",
    "dsir_selection_contract",
    "setsim_prefix_join_contract",
    "containment_pairs_contract",
    "duplicate_span_removal_contract",
    "curate_span_strip_contract",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--big-dir", default="/tmp/sf1_synth")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    spark = bench.session("sf1-spot", cpus=args.cpus)
    bench.warm_up(spark, "/root/testdata/sf0.1")

    out: dict[str, dict] = {}
    for name in QUERIES_UNDER_TEST:
        entry: dict[str, object] = {}
        for label, sf_dir in (
            ("sf0.1", "/root/testdata/sf0.1"),
            ("sf1_synth", args.big_dir),
        ):
            spark.sparkContext.setJobDescription(f"sf1-spot {label}: {name}")
            vals = [
                round(v, 3)
                for v in bench.warm_runs(lambda: QUERIES[name].spark_fn(spark, sf_dir).count(), args.runs)
            ]
            entry[label] = {
                "median_warm": round(statistics.median(vals[1:]), 3),
                "runs": vals,
            }
            print(f"{name} @{label}: {entry[label]['median_warm']}s {vals}", flush=True)
        ratio = entry["sf1_synth"]["median_warm"] / max(
            entry["sf0.1"]["median_warm"], 1e-9
        )
        entry["runtime_ratio"] = round(ratio, 2)
        out[name] = entry

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_SF1_SPOT.json",
    )
    with open(path, "w", encoding="utf-8") as f:
        json.dump(
            {
                "protocol": (
                    "median of N warm runs (first back-to-back run dropped), "
                    "count() action, local[cpus]; big side = tools/sf1_synth.py "
                    "key-shifted 10x scale-up of sf0.1 (data ratio 10.0)"
                ),
                "cpus": args.cpus,
                "data_ratio": 10.0,
                "queries": out,
            },
            f,
            indent=2,
        )
    print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
