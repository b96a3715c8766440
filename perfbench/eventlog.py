"""Roll-up of a Spark event log into per-round job shape and per-stage costs.

Stages are attributed to an engine phase by the time they were submitted,
using the benchmark's own span timestamps: the round tail runs its sinks on
driver threads that carry no job group, so time is the one label every job
has. Each stage is then labelled from its RDD scope names and its phase.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

# Python operators as they appear in RDD scope names.
PYTHON_SCOPES = {
    "MapInPandas",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "BatchEvalPython",
    "MapInArrow",
    "AggregateInPandas",
    "WindowInPandas",
}
LABELS = ("fetch_parse", "admission_udf", "bloom_probe", "bloom_fold", "jvm")
_PY_LABELS = LABELS[:-1]


def read_events(log_dir: Path) -> list[dict]:
    """Every event under ``log_dir``, in order (single or rolling files)."""
    files = sorted(
        (p for p in Path(log_dir).rglob("*") if p.is_file()),
        key=lambda p: (p.parent.name, _rolling_index(p.name)),
    )
    events = []
    for p in files:
        if p.name.startswith((".", "appstatus")):
            continue
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _rolling_index(name: str) -> int:
    # rolling logs are events_<n>_<appId>; a single-file log sorts first
    parts = name.split("_")
    return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0


def label_stage(phase: str, scopes: set[str]) -> str:
    """Cached frames keep their lineage's scope names, so a scope name says
    what a stage may run and the phase says which of those it does run."""
    if "FlatMapGroupsInPandas" in scopes:
        return "bloom_fold"
    if phase == "edges_write":
        if "MapInPandas" in scopes:
            return "fetch_parse"
        if "ArrowEvalPython" in scopes:
            return "admission_udf"
    if phase == "seen_antijoin_write" and "MapInPandas" in scopes:
        return "bloom_probe"
    return "jvm"


def _phase_at(intervals, t_ms: float):
    t = t_ms / 1000.0
    for phase, rnd, start, end in intervals:
        if start <= t < end:
            return phase, rnd
    return None


def _accum(task_info: dict, name: str) -> float:
    return sum(
        float(a.get("Update") or 0)
        for a in task_info.get("Accumulables", [])
        if a.get("Name") == name
    )


def rollup(events: list[dict], intervals) -> dict[str, float]:
    """Metrics over the stages and jobs submitted inside ``intervals``
    (``(phase, round, start_s, end_s)`` from ``trace.phase_intervals``)."""
    rounds = {rnd for phase, rnd, _, _ in intervals if phase != "bootstrap"}
    n_rounds = max(1, len(rounds))
    jobs = 0
    stages: dict[tuple[int, int], dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            at = _phase_at(intervals, e["Submission Time"])
            jobs += at is not None and at[0] != "bootstrap"
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            at = _phase_at(intervals, info.get("Submission Time", 0))
            if at is None:
                continue
            scopes = {
                json.loads(r["Scope"])["name"]
                for r in info.get("RDD Info", [])
                if r.get("Scope")
            }
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                "phase": at[0],
                "label": label_stage(at[0], scopes),
                "python": bool(scopes & PYTHON_SCOPES),
                "tasks": [],
            }
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            st = stages.get((e["Stage ID"], e["Stage Attempt ID"]))
            if st is not None:
                st["tasks"].append(e)

    out = {f"stage.{lab}.run_s": 0.0 for lab in LABELS}
    out.update({f"stage.{lab}.python_s": 0.0 for lab in _PY_LABELS})
    totals = dict.fromkeys(
        ("exec_cpu_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"), 0.0
    )
    failed_tasks = n_stages = n_tasks = n_python = 0
    fetch_runs: list[list[float]] = []
    for st in stages.values():
        in_round = st["phase"] != "bootstrap"
        runs = []
        for e in st["tasks"]:
            m = e.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1e3
            runs.append(run_s)
            failed_tasks += e["Task End Reason"]["Reason"] != "Success"
            totals["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            totals["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            totals["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 2**20
            totals["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            if in_round and st["label"] in _PY_LABELS:
                out[f"stage.{st['label']}.python_s"] += (
                    _accum(e["Task Info"], "time to run Python workers") / 1e3
                )
        if not in_round:
            continue
        out[f"stage.{st['label']}.run_s"] += sum(runs)
        n_stages += 1
        n_tasks += len(runs)
        n_python += st["python"]
        if st["label"] == "fetch_parse" and runs:
            fetch_runs.append(runs)
    out.update({f"spark.{k}": v for k, v in totals.items()})
    out["spark.failed_tasks"] = failed_tasks
    # skew of the costliest fetch stage: its slowest task over its median task
    big = max(fetch_runs, key=sum, default=[])
    med = statistics.median(big) if big else 0.0
    out["spark.fetch_task_skew"] = max(big) / med if med > 0 else 1.0
    out["engine.jobs_per_round"] = jobs / n_rounds
    out["engine.stages_per_round"] = n_stages / n_rounds
    out["engine.tasks_per_round"] = n_tasks / n_rounds
    out["engine.python_stages_per_round"] = n_python / n_rounds
    return out
