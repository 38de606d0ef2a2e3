#!/usr/bin/env python
"""Full-catalog super-linearity sweep at the synthetic 10x scale
(companion to tools/sf1_spot.py): run EVERY registered query once warm
at /tmp/sf1_synth and once warm at sf0.1, and report the runtime ratio
against the 10.0 data ratio. This is a HAZARD DETECTOR, not a bench —
single warm runs, ratios read coarsely (floors sit near 1, linear
data-bound paths near 3–10 on 32 cores, anything far above 10 is a
candidate super-linear path to diagnose with opt_measure/opt_joblog).

Writes /tmp/sf1_sweep.json and prints the sorted ratio table.

Usage: PYTHONPATH=. python tools/sf1_sweep.py [--skip-below 0.5]
"""

from __future__ import annotations

import argparse
import json
import os
import time
import traceback

import bench
from proyecto_final_de_big_data_spark.queries import QUERIES


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--big-dir", default="/tmp/sf1_synth")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument(
        "--skip-below",
        type=float,
        default=0.4,
        help="skip the 10x run for queries under this many seconds at "
        "sf0.1 (floor-bound; a ratio there is noise)",
    )
    args = ap.parse_args()

    spark = bench.session("sf1-sweep", cpus=args.cpus)
    bench.warm_up(spark, "/root/testdata/sf0.1")

    out: dict[str, dict] = {}
    for name, q in QUERIES.items():
        spark.sparkContext.setJobDescription(f"sweep: {name}")
        entry: dict[str, object] = {}
        try:
            # the second run is the warm number; the first pays plan/code caches
            small = bench.warm_runs(lambda: q.spark_fn(spark, "/root/testdata/sf0.1").count(), 1)[1]
            entry["sf0.1"] = round(small, 3)
            if small < args.skip_below:
                entry["skipped_10x"] = "floor-bound at sf0.1"
            else:
                t0 = time.perf_counter()
                q.spark_fn(spark, args.big_dir).count()
                big = time.perf_counter() - t0
                entry["10x"] = round(big, 3)
                entry["ratio"] = round(big / max(small, 1e-9), 2)
        except Exception as e:  # surface, keep sweeping
            entry["error"] = f"{type(e).__name__}: {str(e)[:160]}"
            traceback.print_exc()
        out[name] = entry
        flag = entry.get("ratio", "")
        print(f"{name}: {entry.get('sf0.1','?')}s -> {entry.get('10x','-')}s ratio={flag} {entry.get('error','')}", flush=True)

    with open("/tmp/sf1_sweep.json", "w", encoding="utf-8") as f:
        json.dump(out, f, indent=2)
    ranked = sorted(
        ((n, e["ratio"]) for n, e in out.items() if "ratio" in e),
        key=lambda kv: -kv[1],
    )
    print("\n=== top ratios (data ratio 10.0) ===")
    for n, r in ranked[:25]:
        print(f"{r:8.2f}  {n}")
    spark.stop()


if __name__ == "__main__":
    main()
