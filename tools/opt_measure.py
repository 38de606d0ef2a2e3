#!/usr/bin/env python
"""Optimization-round measurement harness (guide §1: measure first).

For each named query: time K isolated warm runs of the bench
action (`.count()`, the BENCH_DETAIL protocol) plus, optionally, the
noop sink (guide §1.4 — computes every column, so column-pruning can't
flatter a query the way count() can). Prints one line per query:
median count-time, median noop-time.

Usage:
    PYTHONPATH=. python tools/opt_measure.py [--runs 3] [--noop]
        [--sf-dir DIR] [--cpus N] query [query ...]

A query's plan and claim verdicts come from tools/plan_audit.py. Jobs are
labelled with setJobDescription ("opt-measure count: <q>", "opt-measure
noop: <q>"; each label also covers its untimed first run) and written
to an event log for tools/opt_joblog.py.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

import bench
from proyecto_final_de_big_data_spark.queries import QUERIES


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    evdir = "/tmp/spark-events"
    os.makedirs(evdir, exist_ok=True)
    spark = bench.session(
        "opt-measure",
        cpus=args.cpus,
        conf={"spark.eventLog.enabled": "true", "spark.eventLog.dir": evdir},
    )
    print(f"# event log: {evdir}/{spark.sparkContext.applicationId}", flush=True)
    bench.warm_up(spark, args.sf_dir)

    for name in args.queries:
        q = QUERIES[name]
        spark.sparkContext.setJobDescription(f"opt-measure count: {name}")
        counts = bench.warm_runs(lambda: q.spark_fn(spark, args.sf_dir).count(), args.runs)[1:]
        line = f"{name:45s} count={statistics.median(counts):7.3f}s  runs={[round(v, 3) for v in counts]}"
        if args.noop:
            spark.sparkContext.setJobDescription(f"opt-measure noop: {name}")
            noops = bench.warm_runs(
                lambda: q.spark_fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save(),
                args.runs,
            )[1:]
            line += f"  noop={statistics.median(noops):7.3f}s"
        spark.sparkContext.setJobDescription(None)
        print(line, flush=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
