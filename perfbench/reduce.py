"""Reduce a traced run to the per-layer metrics.

Inputs: Spark's event log, the spans of ``tracing`` and the streaming
progress events its listener recorded, plus the epoch-second windows of
the warm passes. Every metric is a mean per warm pass unless it is a ratio.

Attribution: a Spark job belongs to the construct or exec span whose job
group (``<workload>/<query>/<phase>``) it carries; a job with another group
(a stream's ``runId``, a callback thread) belongs to the span its
submission time falls in. Tasks belong to their stage's job. Python-boundary
metrics are the SQL metrics of plan nodes that carry Spark's ``data sent to
Python workers`` metric (ArrowEvalPython, MapInPandas, ...).
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
from datetime import datetime

from tracing import PACKAGES

PYTHON_MARKER = "data sent to Python workers"
PYTHON_METRICS = {
    "python.boot_s": "time to start Python workers",
    "python.init_s": "time to initialize Python workers",
    "python.exec_s": "time to run Python workers",
    "python.bytes_sent": PYTHON_MARKER,
    "python.bytes_received": "data returned from Python workers",
    "python.rows_received": "number of output rows",
}
UNITS = {"_s": "s", "_bytes": "B", "bytes_sent": "B", "bytes_received": "B", "bytes_written": "B", "_frac": "ratio"}


def read_event_log(path: str) -> list[dict]:
    """Events of a plain or rolling (directory) event log, in order."""
    if os.path.isdir(path):
        files = [
            os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")
        ]
        files.sort(key=lambda f: int(os.path.basename(f).split("_")[1]))
    else:
        files = [path]
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    metrics = node.get("metrics", [])
    if any(m["name"] == PYTHON_MARKER for m in metrics):
        for m in metrics:
            out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _self_times(spans: list[tuple]) -> dict[int, float]:
    child_time: dict[int, float] = {}
    for _, parent, _, _, start, end in spans:
        child_time[parent] = child_time.get(parent, 0.0) + (end - start)
    return {sid: (end - start) - child_time.get(sid, 0.0) for sid, _, _, _, start, end in spans}


def per_layer(
    events: list[dict],
    spans: list[tuple],
    progress: list[dict],
    windows: list[tuple[float, float]],
    cores: int,
    session_start_s: float,
    untraced_warm_s: float,
) -> dict[str, dict]:
    n = len(windows)
    wall = sum(e - s for s, e in windows)

    def in_window(t: float) -> bool:
        return any(s <= t <= e for s, e in windows)

    # construct/exec spans of the warm passes, sorted for time lookup
    phases = sorted(
        (start, end, kind, name)
        for _, _, kind, name, start, end in spans
        if kind in ("construct", "exec") and in_window(start)
    )
    starts = [p[0] for p in phases]

    def phase_at(t: float) -> str | None:
        i = bisect.bisect_right(starts, t) - 1
        return phases[i][2] if i >= 0 and phases[i][0] <= t <= phases[i][1] else None

    job_phase: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    python_accs: dict[int, tuple[str, str]] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000
            if not in_window(t):
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            tag = group.split("/")
            phase = tag[2] if len(tag) == 3 and tag[2] in ("construct", "exec") else phase_at(t)
            if phase is None:
                continue
            job_phase[ev["Job ID"]] = phase
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev.get("sparkPlanInfo", {}), python_accs)

    m = {k: 0.0 for k in [
        "jvm.task_s", "jvm.task_cpu_s", "jvm.gc_s", "jvm.tasks", "jvm.task_failures", "jvm.sched_delay_s",
        "jvm.stages", "tables.scan_bytes", "tables.scan_rows", "tables.scan_task_s",
        "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "shuffle.spill_bytes",
        "driver.result_bytes", "sink.bytes_written", "sink.rows_written", *PYTHON_METRICS,
    ]}
    python_by_name = {v: k for k, v in PYTHON_METRICS.items()}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stage_job:
                m["jvm.stages"] += 1
            continue
        if kind != "SparkListenerTaskEnd" or ev["Stage ID"] not in stage_job:
            continue
        phase = job_phase[stage_job[ev["Stage ID"]]]
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        run_ms = tm.get("Executor Run Time", 0)
        m["jvm.tasks"] += 1
        m["jvm.task_failures"] += ev["Task End Reason"]["Reason"] != "Success" or info.get("Failed", False)
        m["jvm.task_s"] += run_ms / 1e3
        m["jvm.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["jvm.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        getting = info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0
        busy = run_ms + tm.get("Executor Deserialize Time", 0) + tm.get("Result Serialization Time", 0) + getting
        m["jvm.sched_delay_s"] += max(0, info["Finish Time"] - info["Launch Time"] - busy) / 1e3
        inp = tm.get("Input Metrics", {})
        m["tables.scan_bytes"] += inp.get("Bytes Read", 0)
        m["tables.scan_rows"] += inp.get("Records Read", 0)
        if inp.get("Bytes Read", 0) or inp.get("Records Read", 0):
            m["tables.scan_task_s"] += run_ms / 1e3
        sr, sw = tm.get("Shuffle Read Metrics", {}), tm.get("Shuffle Write Metrics", {})
        m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        m["shuffle.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        if phase == "construct":
            # the program's own collects and writes; exec is the benchmark's noop sink
            if ev.get("Task Type") == "ResultTask":
                m["driver.result_bytes"] += tm.get("Result Size", 0)
            out = tm.get("Output Metrics", {})
            m["sink.bytes_written"] += out.get("Bytes Written", 0)
            m["sink.rows_written"] += out.get("Records Written", 0)
        for acc in info.get("Accumulables", []):
            meta = python_accs.get(acc.get("ID"))
            if meta is None or meta[0] not in python_by_name:
                continue
            value = float(acc.get("Update") or 0)
            if meta[1] == "nsTiming":
                value /= 1e9
            elif meta[1] == "timing":
                value /= 1e3
            m[python_by_name[meta[0]]] += value
    jvm_task_s = m["jvm.task_s"]
    out = {"session.start_s": session_start_s}
    for k, v in m.items():
        out[k] = v / n

    # queries: frame build vs action, jobs by phase
    for phase in ("construct", "exec"):
        out[f"queries.{phase}_s"] = sum(e - s for s, e, k, _ in phases if k == phase) / n
        out[f"queries.{phase}_jobs"] = sum(1 for p in job_phase.values() if p == phase) / n
    out["queries.construct_frac"] = out["queries.construct_s"] * n / wall
    out["jvm.jobs"] = len(job_phase) / n
    out["jvm.core_busy_frac"] = jvm_task_s / (wall * cores)

    # package call spans: self time, so nested calls are not counted twice
    self_time = _self_times(spans)
    for pkg in PACKAGES:
        out[f"{pkg}.call_s"], out[f"{pkg}.calls"] = 0.0, 0.0
    for sid, _, kind, name, start, _ in spans:
        if kind == "call" and in_window(start):
            pkg = name.split(":", 1)[0]
            out[f"{pkg}.call_s"] += self_time[sid] / n
            out[f"{pkg}.calls"] += 1 / n

    # streaming micro-batches, from the listener's progress events
    batches = [
        p for p in progress
        if in_window(datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp())
    ]
    state_rows: dict[str, float] = {}
    state_bytes: dict[str, float] = {}
    commit_ms = 0.0
    for p in batches:
        ops = p.get("stateOperators", [])
        state_rows[p["runId"]] = max(state_rows.get(p["runId"], 0), sum(o.get("numRowsTotal", 0) for o in ops))
        state_bytes[p["runId"]] = max(state_bytes.get(p["runId"], 0), sum(o.get("memoryUsedBytes", 0) for o in ops))
        commit_ms += sum(o.get("commitTimeMs", 0) for o in ops)
        out["sink.rows_written"] += max(0, p.get("sink", {}).get("numOutputRows", 0)) / n
    out["streaming.batches"] = len(batches) / n
    empty = sum(1 for p in batches if sum(s.get("numInputRows", 0) for s in p.get("sources", [])) == 0)
    out["streaming.empty_batch_frac"] = empty / len(batches) if batches else 0.0
    out["streaming.trigger_s"] = sum(p["durationMs"].get("triggerExecution", 0) for p in batches) / 1e3 / n
    out["streaming.wal_s"] = sum(p["durationMs"].get("walCommit", 0) for p in batches) / 1e3 / n
    out["streaming.state_rows"] = sum(state_rows.values()) / n
    out["streaming.state_bytes"] = sum(state_bytes.values()) / n
    out["streaming.state_commit_s"] = commit_ms / 1e3 / n

    traced_warm = statistics.median(e - s for s, e in windows)
    out["trace.overhead_frac"] = traced_warm / untraced_warm_s - 1
    return {k: {"value": v, "unit": _unit(k)} for k, v in out.items()}
