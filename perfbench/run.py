#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's refresh workloads.

    python3 perfbench/run.py --workload mart_refresh --seed 1 --seconds 15 --trace 0

One driver thread issues one operation at a time into one
local[nproc] session. A run generates its inputs from the seed, starts
the session, runs untimed warm-up passes, runs timed passes for
``--seconds``, checks the outputs of the last pass and prints one JSON
line last. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
turns on the Spark event log and job groups and reports the per-layer
metrics instead. The metric names and units are those of the
``BENCHMARK.json`` at the repository root. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "proyecto_final_de_big_data_spark"

# Timed passes run until --seconds have passed and at least this many
# have run, so pass_s is always the median of three or more passes.
MIN_PASSES = 3


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def live_heap_mb(spark) -> list[float]:
    """JVM heap in use right after each of four full collections
    made 0.3 s apart: what the driver still holds (cached data, plans,
    listener state), not garbage. The metric is the least of them. One
    is not enough: Java objects that Python proxies in reference cycles
    still hold, and broadcast blocks that Spark's cleaner thread frees
    only after a collection has queued them, survive the first. Under
    CPU steal the cleaner lags, and one run read 141, 139 and 75 MB. It
    runs after the timed passes, so it does not change how the heap
    behaves while they run."""
    gc.collect()
    jvm = spark._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(4):
        jvm.java.lang.System.gc()
        used.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.3)
    return used


def metrics_of(spec: list[dict], values) -> dict:
    """The JSON ``metrics`` object: every metric of ``spec`` (a metric
    list of BENCHMARK.json) with its unit and its value in ``values``."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def record(errors: dict[str, str], name: str, err: str | None) -> None:
    if err:
        errors[name] = err
        log(f"check failed: {err}")


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples above it, or None when there are fewer than 20 samples."""
    n = len(values)
    if n < 20:
        return None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(values)[n - 11]


def output_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden checksum files and
    ``_SUCCESS`` markers do not count."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smallest inputs (smoke tests)")
    return p.parse_args(argv)


class Bench:
    def __init__(self, args: argparse.Namespace, work: str, spec: dict):
        self.args = args
        self.work = work
        self.spec = spec
        self.traced = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))

    def start_session(self):
        from proyecto_final_de_big_data_spark.session import get_spark

        # The engine's own settings (driver memory included), with every
        # file Spark writes kept inside the work directory.
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -Dderby.system.home={self.work}",
        }
        if self.traced:
            os.makedirs(os.path.join(self.work, "events"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark, time.perf_counter() - t0

    def run(self) -> dict:
        from eventlog import per_layer
        from workloads import BUILD_PHASES, WORKLOADS, Clock

        args = self.args
        load1 = os.getloadavg()[0]
        t_setup = time.perf_counter()
        spark, session_s = self.start_session()
        wl = WORKLOADS[args.workload](spark, self.work, args.seed, args.tiny)
        inputs = wl.prepare()
        inputs["files"], inputs["bytes"] = output_size(wl.input_dir)
        log(f"workload={wl.name} seed={args.seed} cores={self.cores} load1={load1:.2f} inputs={json.dumps(inputs)}")
        rdd_base = len(spark.sparkContext._jsc.getPersistentRDDs()) if self.traced else 0

        def one_pass(clock: Clock, ops: list[dict] | None = None) -> dict:
            """Runs one pass; with ``ops``, an operation that raises is
            counted there and the pass goes on."""
            p = {"start_ms": time.time() * 1e3, "phases": {}, "ops": {}}
            t_pass = time.perf_counter()
            for name in wl.pass_ops():
                clock.phases = {}
                t0 = time.perf_counter()
                if ops is None:
                    wl.run_op(name, clock)
                else:
                    try:
                        wl.run_op(name, clock)
                    except Exception:  # an operation failure is counted, not fatal
                        traceback.print_exc()
                        ops.append({"op": name, "failed": True})
                        continue
                    ops.append({"op": name, "s": time.perf_counter() - t0, "phases": dict(clock.phases)})
                p["ops"][name] = time.perf_counter() - t0
                for k, v in clock.phases.items():
                    p["phases"][k] = p["phases"].get(k, 0.0) + v
                if self.traced:
                    p["leaked"] = max(p.get("leaked", 0), len(spark.sparkContext._jsc.getPersistentRDDs()) - rdd_base)
            p["s"] = time.perf_counter() - t_pass
            p["end_ms"] = time.time() * 1e3
            return p

        # Warm-up: one untimed cold pass. A fixed count, not "until the
        # pass time settles": a stop that depends on timing starts the
        # timed passes at different JIT states in fast and slow runs, and
        # pass_s splits into two groups.
        cold = one_pass(Clock(spark, wl.name, traced=False))
        setup_s = time.perf_counter() - t_setup
        log(
            f"setup_s={setup_s:.3f} session_s={session_s:.3f} cold_pass_s={cold['s']:.3f} "
            f"cold_op_s={json.dumps({k: round(v, 3) for k, v in cold['ops'].items()})}"
        )

        # Timed passes.
        clock = Clock(spark, wl.name, traced=self.traced)
        ops: list[dict] = []
        passes: list[dict] = []
        steal0, total0 = cpu_ticks()
        t_end = time.perf_counter() + args.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
            passes.append(one_pass(clock, ops))
        steal1, total1 = cpu_ticks()
        steal = (steal1 - steal0) / max(1, total1 - total0)
        driver_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        heap_mb = live_heap_mb(spark)
        log(f"heap_after_gc_mb={[round(h, 1) for h in heap_mb]}")
        done = [o for o in ops if not o.get("failed")]
        if not done:
            raise RuntimeError(f"none of {len(ops)} timed operations completed")
        # Output checks, untimed, on what the last timed pass produced.
        errors: dict[str, str] = {}
        for name in dict.fromkeys(o["op"] for o in done):
            record(errors, name, wl.verify(name))
        out_files, out_bytes = output_size(os.path.join(self.work, "out"))
        ok = sum(1 for o in done if o["op"] not in errors)
        layer_counts = wl.layer_counts() if self.traced else {}

        per_op: dict[str, list[float]] = {}
        for o in done:
            per_op.setdefault(o["op"], []).append(o["s"])
        op_median = {k: statistics.median(v) for k, v in per_op.items()}
        lat = [o["s"] for o in done]
        op_tail = tail(lat)
        log(
            f"passes={len(passes)} pass_s={[round(p['s'], 3) for p in passes]} ops={len(lat)} "
            f"steal_frac={steal:.4f} load1_start={load1:.2f}"
        )
        log("op_median_s " + json.dumps({k: round(v, 3) for k, v in op_median.items()}))
        if op_tail:
            log(f"op_tail_s=p{op_tail[0]:.1f} {op_tail[1]:.4f} s over {len(lat)} operations")
        else:
            log(f"op_tail_s not reported: {len(lat)} operations, fewer than 20")
        pass_s = statistics.median(p["s"] for p in passes)
        result = {"correct": not errors and ok == len(ops), "attempted": len(ops), "failed": len(ops) - ok}
        if not self.traced:
            result["metrics"] = metrics_of(
                self.spec["end_to_end"],
                {
                    "setup_s": setup_s,
                    "pass_s": pass_s,
                    "op_p50_s": statistics.geometric_mean(op_median.values()),
                    "heap_live_mb": min(heap_mb),
                    "driver_rss_mb": driver_rss_mb,
                    "output_bytes": out_bytes,
                    "output_files": out_files,
                    "ok_frac": ok / len(ops),
                },
            )
            return result

        spark.stop()
        values = per_layer(
            os.path.join(self.work, "events"),
            wl.name,
            passes,
            done,
            cores=self.cores,
            build_phases=BUILD_PHASES,
            report=log,
        )
        values.update(
            {
                "session.start_s": session_s,
                "io.files_written": out_files,
                "io.bytes_written": out_bytes,
                "utils.caching.leaked_rdds": max(p.get("leaked", 0) for p in passes),
                "host.steal_frac": steal,
                "host.load1": load1,
                "traced.pass_s": pass_s,
                **layer_counts,
            }
        )
        # A module-specific metric reads 0 on a workload that does not
        # run the module (io.compact.files_in on mart_refresh).
        result["metrics"] = metrics_of(self.spec["per_layer"], collections.defaultdict(float, values))
        return result


def stop_jvm() -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"error: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the engine, and every temp file the
    # engine or Spark makes stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        result = Bench(args, work, spec).run()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
