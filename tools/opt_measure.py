#!/usr/bin/env python
"""Optimization-round measurement harness (guide §1: measure first).

For each named query: capture `.explain("formatted")` to
plans/r12/<name>_<tag>.txt and time K isolated warm runs of the bench
action (`.count()`, the BENCH_DETAIL protocol) plus, optionally, the
noop sink (guide §1.4 — computes every column, so column-pruning can't
flatter a query the way count() can). Prints one line per query:
median count-time, median noop-time.

Usage:
    PYTHONPATH=. python tools/opt_measure.py [--tag before|after]
        [--runs 3] [--noop] [--sf-dir DIR] [--cpus N] query [query ...]

Plans are captured BEFORE timing (same DataFrame build). Jobs are
labelled with setJobDescription ("opt-measure count: <q>", "opt-measure
noop: <q>"; each label also covers its untimed first run) and written
to an event log for tools/opt_joblog.py.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import statistics
import sys

import bench
from proyecto_final_de_big_data_spark.queries import QUERIES


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default=None, help="write plans/r12/<q>_<tag>.txt")
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

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r12")
    os.makedirs(plans_dir, exist_ok=True)

    for name in args.queries:
        q = QUERIES[name]
        if args.tag:
            df = q.spark_fn(spark, args.sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(buf.getvalue())
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
