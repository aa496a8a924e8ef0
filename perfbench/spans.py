"""Spans for the traced run, folded from Spark's own records.

* one ``op`` span per op call (the benchmark tags its jobs with
  ``setJobGroup(<span id>)``);
* one ``batch`` span per micro-batch from ``StreamingQueryProgress``, with
  one ``phase`` child span per ``durationMs`` phase;
* one ``job`` span per Spark job from the event log (enabled at launch,
  never in the program), carrying its tasks' executor counters.
"""

from __future__ import annotations

import glob
import json
import os

import metrics as M

# Physical operators whose stages run rows through Python workers.
_PYTHON_SCOPES = ("Python", "Pandas", "InArrow")
# Micro-batch phases in the order MicroBatchExecution runs them.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith((".", "appstatus")):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _is_python_stage(stage: dict) -> bool:
    for rdd in stage.get("RDD Info", []):
        scope = rdd.get("Scope") or ""
        name = json.loads(scope).get("name", "") if scope else ""
        if rdd.get("Name") == "PythonRDD" or any(s in name for s in _PYTHON_SCOPES):
            return True
    return False


def fold_jobs(events: list[dict]) -> list[dict]:
    """One span per Spark job with its tasks' counters summed."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, dict] = {}
    python_stages: set[int] = set()
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            batch = props.get("streaming.sql.batchId")
            job = {
                "kind": "job", "id": f"job-{e['Job ID']}",
                "start": e["Submission Time"] / 1000.0, "end": None,
                "group": props.get("spark.jobGroup.id"),
                "batch": int(batch) if batch is not None else None,
                "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_mb": 0.0, "spill_mb": 0.0, "python_s": 0.0,
            }
            jobs[e["Job ID"]] = job
            for stage in e.get("Stage Infos", []):
                stage_job[stage["Stage ID"]] = job
                if _is_python_stage(stage):
                    python_stages.add(stage["Stage ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if job is None or not m:
                continue
            run_s = m["Executor Run Time"] / 1000.0
            cpu_s = m["Executor CPU Time"] / 1e9
            job["tasks"] += 1
            job["exec_run_s"] += run_s
            job["exec_cpu_s"] += cpu_s
            job["gc_s"] += m["JVM GC Time"] / 1000.0
            written = m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            job["shuffle_mb"] += written / 2**20
            job["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            if e["Stage ID"] in python_stages:
                job["python_s"] += max(0.0, run_s - cpu_s)
    return [j for j in jobs.values() if j["end"] is not None]


def batch_spans(batches: list[dict]) -> list[dict]:
    """Batch spans and their phase children, phases laid end to end."""
    out = []
    for b in batches:
        bid = f"batch-{b['batch']}"
        out.append({"kind": "batch", "id": bid, "batch": b["batch"], "start": b["start"],
                    "end": b["end"], "rows": b["rows"]})
        t = b["start"]
        for phase in PHASES:
            ms = b["durationMs"].get(phase)
            if ms is None:
                continue
            out.append({"kind": "phase", "id": f"{bid}-{phase}", "parent": bid,
                        "name": phase, "start": t, "end": t + ms / 1000.0})
            t += ms / 1000.0
    return out


def link_jobs(jobs: list[dict], spans: list[dict]) -> None:
    """Give each job span the id of the op or batch span that ran it."""
    ops = {s["id"] for s in spans if s["kind"] == "op"}
    for j in jobs:
        if j["group"] in ops:
            j["parent"] = j["group"]
        elif j["batch"] is not None:
            j["parent"] = f"batch-{j['batch']}"


def driver_self_s(parents: list[dict], jobs: list[dict]) -> float:
    """Sum over parent spans of wall time not covered by any of their jobs."""
    by_parent: dict[str, list] = {}
    for j in jobs:
        by_parent.setdefault(j.get("parent"), []).append((j["start"], j["end"]))
    return sum(M.self_time((p["start"], p["end"]), by_parent.get(p["id"], []))
               for p in parents)


def write_spans(path: str, spans: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps(s) + "\n")
