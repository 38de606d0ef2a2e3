#!/usr/bin/env python
"""Benchmark harness: runs the registered query catalog at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE SHORT JSON line:
{"metric": "suite_total_sec", "value": total_sec, "unit": "sec",
 "queries": {...summary...}, "sf": ...}

Per-query timings go to BENCH_DETAIL.json next to this script — the
stdout line is kept small because the driver tail-captures it (a full
per-query dict once overflowed the capture window and parsed as null).

Each query is executed to completion (count() action) — results are not
collected to the driver. A warm-up battery primes the process first,
and each query's reported time is the median of $SPARK_GRAFT_BENCH_RUNS
(default 3) executions, per the BASELINE.md protocol.

This module is also the one measurement harness the scripts under
tools/ import: ``session`` (the Spark session), ``warm_up`` (the
warm-up battery), ``warm_runs`` (back-to-back warm timings) and
``start_load_gate``. Importing it starts nothing.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from collections.abc import Callable

from pyspark.sql import SparkSession

from proyecto_final_de_big_data_spark.queries import QUERIES
from proyecto_final_de_big_data_spark.utils.caching import scope


def start_load_gate() -> dict[str, object]:
    """Block until the host's 1-minute loadavg drains below
    $SPARK_GRAFT_MAX_START_LOAD (default 0.8), waiting up to
    $SPARK_GRAFT_LOAD_WAIT_SEC (default 1800 s); past that, print the
    ``start_load_gate`` error line and exit 1 rather than record a
    polluted number. SPARK_GRAFT_IGNORE_LOAD=1 skips the wait, and the
    returned record (written to BENCH_DETAIL.json) says so.

    A bench that starts loaded is noise: identical code started at
    loadavg 5.2 read 1.25x slower than when it started idle.
    """
    max_load = float(os.environ.get("SPARK_GRAFT_MAX_START_LOAD", "0.8"))
    wait_budget = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_SEC", "1800"))
    ignored = os.environ.get("SPARK_GRAFT_IGNORE_LOAD") == "1"
    waited = 0.0
    while os.getloadavg()[0] >= max_load and not ignored:
        if waited >= wait_budget:
            print(
                json.dumps(
                    {
                        "metric": "suite_total_sec",
                        "value": None,
                        "error": "start_load_gate",
                        "load": round(os.getloadavg()[0], 2),
                        "max_start_load": max_load,
                        "hint": "host still loaded after "
                        f"{int(wait_budget)}s; drain it or set "
                        "SPARK_GRAFT_IGNORE_LOAD=1",
                    }
                )
            )
            sys.exit(1)
        print(
            f"# start-load gate: loadavg {os.getloadavg()[0]:.2f} >= "
            f"{max_load}, waiting ({int(waited)}/{int(wait_budget)}s)",
            file=sys.stderr,
        )
        time.sleep(15)
        waited += 15
    return {
        "start_load": round(os.getloadavg()[0], 2),
        "max_start_load": max_load,
        "ignored": ignored,
    }


def session(
    app: str,
    cpus: int | str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """The measuring session every harness script uses: local[cpus]
    (default $SPARK_GRAFT_CPUS, else 32) with as many shuffle partitions,
    no UI, $SPARK_GRAFT_DRIVER_MEM (default 8g) driver memory and the
    warm-pool Python-worker daemon. ``conf`` adds keys (event logging).

    Only sizing and process knobs are set, no semantics confs, so this
    is the same load path as the external correctness harness's vanilla
    session. The daemon module is process plumbing, not semantics:
    Spark culls idle Python workers after a hard-coded minute, so in a
    long run every Arrow/pandas query whose predecessor ran over a
    minute ago re-forks its worker pool; forking from a daemon that has
    already imported numpy/pandas/pyarrow (pydaemon.py) turns that
    respawn from a concurrent import storm (8-40 s per affected query)
    into a plain fork. The production session factory sets it too.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "proyecto_final_de_big_data_spark.pydaemon")
        .config(map=conf or {})
        .getOrCreate()
    )


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Pay the one-time process costs untimed, so the first measured
    query is not charged for them: JVM, codegen and parquet footer
    caches (pricing_summary), MLlib class loading and JIT (an LR fit),
    the Python-worker pool (a pandas_udf), and the workers' one-time
    import of this package, which the first mapInPandas closure pulls
    in (a 64-row minhash)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from proyecto_final_de_big_data_spark.catalog import load_table
    from proyecto_final_de_big_data_spark.operators.dedup import minhash_signatures

    QUERIES["pricing_summary"].spark_fn(spark, sf_dir).count()
    tiny = spark.createDataFrame([(float(i), float(i)) for i in range(32)], ["x", "y"])
    assembled = VectorAssembler(inputCols=["x"], outputCol="features").transform(tiny)
    LinearRegression(labelCol="y", featuresCol="features", solver="normal").fit(assembled)
    tiny.select(pandas_udf(lambda s: s, "double")(F.col("x"))).count()
    minhash_signatures(
        load_table(spark, sf_dir, "documents").limit(64), "doc_id", "text", num_hashes=4
    ).count()


def warm_runs(fn: Callable[[], object], runs: int) -> list[float]:
    """Wall times of ``runs + 1`` back-to-back ``fn()`` calls. Callers
    take the median of ``[1:]``: the first call still pays the re-warm
    after whatever ran before it."""
    times = []
    for _ in range(runs + 1):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return times


def run_query(spark: SparkSession, name: str, sf_dir: str) -> None:
    """Build one registered query and count it, inside one ``scope()``
    that releases the query's pins."""
    with scope():
        QUERIES[name].spark_fn(spark, sf_dir).count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    gate = start_load_gate()
    spark = session("bench")
    warm_up(spark, sf_dir)

    # Median of 3 runs per query (the BASELINE.md protocol): damps
    # one-off contention spikes — a single-run suite total swung 2x on a
    # loaded machine with identical code. The runs are INTERLEAVED
    # round-robin (pass 1 over the whole catalog, then pass 2, then
    # pass 3) rather than back-to-back per query: a correlated host
    # load spike then pollutes at most one of each query's three
    # samples instead of all three, so the median survives it.
    # Host load (1-minute loadavg) is sampled before each pass and
    # recorded in BENCH_DETAIL.json so a slow total is attributable.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in QUERIES}
    pass_loads: list[float] = []
    pass_durations: list[float] = []
    for _ in range(runs):
        pass_loads.append(round(os.getloadavg()[0], 2))
        p0 = time.perf_counter()
        for name in QUERIES:
            t0 = time.perf_counter()
            run_query(spark, name, sf_dir)
            samples[name].append(time.perf_counter() - t0)
        pass_durations.append(round(time.perf_counter() - p0, 2))
    # Mid-bench contention marker: the start gate cannot see load that
    # arrives mid-run (a committed artifact once carried a pass at
    # loadavg 15.44), and the 1-minute loadavg
    # sampled between passes is self-polluted by the bench's own
    # 32-thread work — so the mechanical suspect marker compares the
    # PASS WALL TIMES instead: identical code on an idle host runs
    # near-identical passes, and a pass >= 1.5x the fastest one was
    # contended. Flagged per pass in the artifact; the median damps
    # the value, the flag attributes it.
    min_pass = min(pass_durations)
    pass_suspect = [d >= 1.5 * min_pass for d in pass_durations]
    # statistics.median averages the middle pair on even run counts;
    # the previous upper-middle pick biased 2-run timings high.
    timings = {
        name: round(statistics.median(vals), 4) for name, vals in samples.items()
    }

    total = round(sum(timings.values()), 4)

    # Isolated-warm re-measurement of the 3 costliest queries (the
    # BASELINE.md mover-audit protocol): their in-suite medians carry
    # interleaved-pass cold effects (executor-memory churn from 170+
    # other plans between samples). Back-to-back warm runs right after the suite give the number a
    # human would get re-running the query alone; both are recorded so
    # a mover can be attributed to load/floor without a manual session.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")

    # Previous-run per-query medians (the file this run overwrites):
    # the baseline for the mover audit below. Missing/corrupt -> {}.
    prev_timings: dict[str, float] = {}
    try:
        with open(detail_path, encoding="utf-8") as f:
            prev_detail = json.load(f)
        # Only a same-SF predecessor is a mover baseline — a smoke run
        # at another scale factor would flag everything.
        if prev_detail.get("sf") == sf:
            prev_timings = prev_detail.get("queries", {}) or {}
    except (OSError, ValueError):
        prev_timings = {}

    def _isolated_warm(name: str) -> dict[str, object]:
        vals = warm_runs(lambda: run_query(spark, name, sf_dir), runs)
        return {
            "median_warm": round(statistics.median(vals[1:]), 4),
            "runs": [round(v, 4) for v in vals],
            "in_suite_median": timings[name],
        }

    top3 = sorted(timings, key=timings.get, reverse=True)[:3]
    isolated_warm: dict[str, dict[str, object]] = {
        name: _isolated_warm(name) for name in top3
    }

    # Mover audit: the top-3-costliest record misses load-inflated
    # queries that are not among the costliest. Mechanically isolate
    # the top-5 REGRESSIONS vs the previous bench run (shared queries,
    # delta > 0.3 s so sub-noise jitter doesn't spend re-runs) so the
    # artifact itself says load-or-real for every mover.
    movers = sorted(
        (n for n in timings if n in prev_timings),
        key=lambda n: timings[n] - prev_timings[n],
        reverse=True,
    )
    movers = [n for n in movers if timings[n] - prev_timings[n] > 0.3][:5]
    isolated_warm_movers: dict[str, dict[str, object]] = {}
    for name in movers:
        entry = (
            dict(isolated_warm[name])
            if name in isolated_warm
            else _isolated_warm(name)
        )
        entry["prev_in_suite_median"] = prev_timings[name]
        entry["delta_vs_prev"] = round(timings[name] - prev_timings[name], 4)
        isolated_warm_movers[name] = entry
    with open(detail_path, "w", encoding="utf-8") as f:
        json.dump(
            {
                "metric": "suite_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "loadavg_per_pass": pass_loads,
                "pass_durations_sec": pass_durations,
                "pass_suspect": pass_suspect,
                "loadavg_end": round(os.getloadavg()[0], 2),
                "start_load_gate": gate,
                "protocol": "median of interleaved round-robin passes",
                "isolated_warm_top3": isolated_warm,
                "isolated_warm_movers": isolated_warm_movers,
            },
            f,
            indent=2,
        )
    # Keep the stdout line well under the driver's tail-capture window
    # (~200 chars): totals only; full per-query detail in the file.
    # "load" is the PRE-WARM-UP start sample (the value the start-load
    # gate checked): pass_loads[0] is taken AFTER the bench's own
    # JVM/MLlib/daemon warm-up and therefore reads 1.5-3 even on an
    # idle-gated host. Per-pass loads stay in BENCH_DETAIL.json
    # (loadavg_per_pass), self-pollution documented there.
    print(
        json.dumps(
            {
                "metric": "suite_total_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "load": gate["start_load"],
                "detail": "BENCH_DETAIL.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
