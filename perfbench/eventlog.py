"""Spark event-log reader: attributes every job to an operation, a
phase and an engine module.

The benchmark runs each phase of each operation under the job group
``<workload>:<op>:<phase>``. A job's module is taken, in order, from

1. its Python call site when that names an engine file
   (``collect at .../operators/binning.py:73`` -> ``operators``);
2. ``catalog`` for ``parquet at ...`` schema inference (DataFrame
   reader calls carry no Python call site);
3. otherwise the phase that launched it, whose name starts with the
   module it calls (``io.export.write``).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from statistics import median
from dataclasses import dataclass, field

ENGINE_PACKAGE = "proyecto_final_de_big_data_spark"
_PY_CALL_SITE = re.compile(r"^\S+ at (.+?\.py):\d+")


@dataclass
class Job:
    job_id: int
    group: str
    call_site: str
    start_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(0, self.end_ms - self.start_ms) / 1e3


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    task_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


def module_of_path(path: str) -> str | None:
    """``.../proyecto_final_de_big_data_spark/io/compact.py`` -> ``io.compact``."""
    parts = path.replace(os.sep, "/").split("/")
    if ENGINE_PACKAGE not in parts:
        return None
    rel = parts[parts.index(ENGINE_PACKAGE) + 1 :]
    if not rel:
        return None
    rel[-1] = rel[-1].removesuffix(".py")
    return ".".join(p for p in rel if p != "__init__")


def attribute(call_site: str, phase: str) -> str:
    """The module a job is charged to (see the module docstring)."""
    m = _PY_CALL_SITE.match(call_site)
    module = module_of_path(m.group(1)) if m else None
    if module:
        return module
    if call_site.startswith("parquet at "):
        return "catalog"
    return phase


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, StageTotals]]:
    """Jobs and per-stage task totals from the one uncompressed event
    log under ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = defaultdict(StageTotals)
    with open(paths[0], encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                infos = e.get("Stage Infos") or []
                site = props.get("callSite.short") or (infos[0].get("Stage Name", "") if infos else "")
                jobs[e["Job ID"]] = Job(
                    job_id=e["Job ID"],
                    group=props.get("spark.jobGroup.id") or "",
                    call_site=site,
                    start_ms=e.get("Submission Time", 0),
                    stage_ids=list(e.get("Stage IDs") or [s["Stage ID"] for s in infos]),
                )
            elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e.get("Completion Time", 0)
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                st = stages[e["Stage ID"]]
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st.tasks += 1
                st.task_ms += m.get("Executor Run Time", 0)
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def job_totals(jobs: dict[int, Job], stages: dict[int, StageTotals]) -> dict[int, StageTotals]:
    """Task totals per job. A shuffle stage reused by a later job keeps
    its stage id there but runs no tasks, so each stage is charged to
    the first job that lists it."""
    seen: set[int] = set()
    return {jid: _charge(jobs[jid], stages, seen) for jid in sorted(jobs)}


def _charge(job: Job, stages: dict[int, StageTotals], seen: set[int]) -> StageTotals:
    out = StageTotals()
    for sid in job.stage_ids:
        st = stages.get(sid)
        if st is None or sid in seen:
            continue
        seen.add(sid)
        out.stages += 1
        out.tasks += st.tasks
        out.task_ms += st.task_ms
        out.shuffle_read += st.shuffle_read
        out.shuffle_write += st.shuffle_write
        out.spill += st.spill
    return out


def per_layer(log_dir, workload, passes, ops, *, cores, build_phases, report) -> dict[str, float]:
    """Per-layer values of a traced run, each the median over the timed
    passes of a per-pass sum: job attribution from the event log and the
    phase times the benchmark measured around its own calls."""
    jobs, stages = read_event_log(log_dir)
    totals = job_totals(jobs, stages)
    prefix = workload + ":"
    per_pass: list[dict[str, float]] = []
    by_module: dict[str, list[float]] = defaultdict(lambda: [0, 0.0])
    for p in passes:
        c: dict[str, float] = defaultdict(float)
        for jid, job in jobs.items():
            if not (job.group.startswith(prefix) and p["start_ms"] <= job.start_ms <= p["end_ms"]):
                continue
            _, op, phase = job.group.split(":", 2)
            module = attribute(job.call_site, phase)
            top = module.split(".")[0]
            kind = "build" if phase in build_phases else "action"
            t = totals[jid]
            c["spark.jobs"] += 1
            c["spark.stages"] += t.stages
            c["spark.tasks"] += t.tasks
            c["spark.job_s"] += job.wall_s
            c["spark.task_time_s"] += t.task_ms / 1e3
            c["spark.shuffle_read_bytes"] += t.shuffle_read
            c["spark.shuffle_write_bytes"] += t.shuffle_write
            c["spark.spill_bytes"] += t.spill
            c[f"{kind}_jobs"] += 1
            c[f"op.{op}.{kind}_jobs"] += 1
            if top == "catalog":
                c["catalog.jobs"] += 1
                c["catalog.load_s"] += job.wall_s
            else:
                c[f"jobs.{top}"] += 1
            if phase == "ml.pipeline.train":
                c["ml.pipeline.train_jobs"] += 1
            if p is passes[-1]:
                by_module[module][0] += 1
                by_module[module][1] += job.wall_s
        for phase, s in p["phases"].items():
            c["build_s" if phase in build_phases else "action_s"] += s
            c[f"{phase}_s"] += s
        c["spark.cpu_util"] = c["spark.task_time_s"] / (p["s"] * cores)
        per_pass.append(c)

    keys = set().union(*per_pass)
    med = {k: median(c.get(k, 0.0) for c in per_pass) for k in keys}
    phase_names = sorted({ph for p in passes for ph in p["phases"]})
    report("phase_s " + json.dumps({ph: round(med[f"{ph}_s"], 4) for ph in phase_names}))
    report("jobs_by_module(last pass) " + json.dumps({m: [int(n), round(s, 3)] for m, (n, s) in sorted(by_module.items())}))
    op_phase: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for o in ops:
        for ph, s in o["phases"].items():
            op_phase[o["op"]][ph].append(s)
    report(
        "op_phase_s "
        + json.dumps({op: {ph: round(median(v), 4) for ph, v in d.items()} for op, d in op_phase.items()})
    )
    report("op_jobs " + json.dumps({k: v for k, v in sorted(med.items()) if k.startswith("op.")}))
    return med
