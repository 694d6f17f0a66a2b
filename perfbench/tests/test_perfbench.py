"""Benchmark-local tests: the traced-run reducer on a canned event log, and
the output check's fail_frac on an injected oracle mismatch. Neither starts
Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import check  # noqa: E402
import fixtures  # noqa: E402
import reduce  # noqa: E402

# Two warm passes, each one query: construct [10, 12), exec [12, 13).
WINDOWS = [(10.0, 13.0), (20.0, 23.0)]
SPANS = [
    # (id, parent, kind, name, start, end)
    (1, 0, "construct", "q", 10.0, 12.0),
    (2, 1, "call", "dedup:m.f", 10.0, 11.0),
    (3, 2, "call", "operators:m.g", 10.2, 10.6),
    (4, 0, "exec", "q", 12.0, 13.0),
    (5, 0, "construct", "q", 20.0, 22.0),
    (6, 5, "call", "dedup:m.f", 20.0, 21.0),
    (7, 0, "exec", "q", 22.0, 23.0),
    (8, 0, "construct", "q", 1.0, 2.0),  # cold pass, outside the windows
]


def _job(job_id, t, group, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": int(t * 1000),
            "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}}


def _task(stage, run_ms, *, task_type="ShuffleMapTask", accs=(), out_rows=0, scan=0, result=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Type": task_type,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Launch Time": 0, "Finish Time": run_ms + 50, "Getting Result Time": 0,
                      "Failed": False, "Accumulables": [{"ID": i, "Update": u} for i, u in accs]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000, "JVM GC Time": 10,
            "Executor Deserialize Time": 0, "Result Serialization Time": 0, "Result Size": result,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": scan, "Records Read": scan // 10},
            "Output Metrics": {"Bytes Written": out_rows * 8, "Records Written": out_rows},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 100, "Fetch Wait Time": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
        },
    }


PLAN = {"nodeName": "Project", "metrics": [], "children": [{
    "nodeName": "ArrowEvalPython",
    "metrics": [
        {"name": "data sent to Python workers", "accumulatorId": 90, "metricType": "size"},
        {"name": "time to run Python workers", "accumulatorId": 91, "metricType": "timing"},
        {"name": "number of output rows", "accumulatorId": 92, "metricType": "sum"},
    ],
    "children": [{"nodeName": "Scan", "metrics": [
        {"name": "number of output rows", "accumulatorId": 93, "metricType": "sum"}]}],
}]}

EVENTS = [
    _job(0, 1.5, "w/q/construct", [0]),  # cold pass: dropped
    _task(0, 1000),
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": PLAN},
    _job(1, 10.5, "w/q/construct", [1]),
    _task(1, 200, task_type="ResultTask", result=64, out_rows=5),
    _job(2, 12.5, "w/q/exec", [2, 3]),
    _task(2, 400, scan=1000, accs=[(90, 4096), (91, 300), (92, 7), (93, 1000)]),
    _task(3, 100, task_type="ResultTask", result=32, out_rows=9),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    _job(3, 21.0, "3f1c-run-id", [4]),  # a stream's own group: attributed by time
    _task(4, 300),
    _job(4, 22.5, "w/q/exec", [5]),
    _task(5, 300),
]

PROGRESS = [
    {"runId": "r1", "timestamp": "1970-01-01T00:00:21.000Z", "durationMs": {"triggerExecution": 800, "walCommit": 50},
     "stateOperators": [{"numRowsTotal": 40, "memoryUsedBytes": 4000, "commitTimeMs": 20}],
     "sources": [{"numInputRows": 100}], "sink": {"numOutputRows": 40}},
    {"runId": "r1", "timestamp": "1970-01-01T00:00:21.500Z", "durationMs": {"triggerExecution": 200, "walCommit": 10},
     "stateOperators": [{"numRowsTotal": 40, "memoryUsedBytes": 4000, "commitTimeMs": 10}],
     "sources": [{"numInputRows": 0}], "sink": {"numOutputRows": 0}},
]


@pytest.fixture(scope="module")
def metrics():
    out = reduce.per_layer(EVENTS, SPANS, PROGRESS, WINDOWS, cores=2, session_start_s=4.0, untraced_warm_s=2.5)
    return {k: v["value"] for k, v in out.items()}


def test_phase_times_and_jobs_per_pass(metrics):
    assert metrics["queries.construct_s"] == pytest.approx(2.0)
    assert metrics["queries.exec_s"] == pytest.approx(1.0)
    assert metrics["queries.construct_jobs"] == pytest.approx(1.0)  # job 1 + the stream's job 3, over 2 passes
    assert metrics["queries.exec_jobs"] == pytest.approx(1.0)
    assert metrics["queries.construct_frac"] == pytest.approx(2 / 3)
    assert metrics["jvm.jobs"] == pytest.approx(2.0)


def test_task_metrics_exclude_the_cold_pass(metrics):
    assert metrics["jvm.tasks"] == pytest.approx(2.5)
    assert metrics["jvm.task_s"] == pytest.approx(1.3 / 2)
    assert metrics["jvm.task_cpu_s"] == pytest.approx(0.65 / 2)
    assert metrics["jvm.gc_s"] == pytest.approx(0.025)
    assert metrics["jvm.sched_delay_s"] == pytest.approx(0.125)
    assert metrics["jvm.stages"] == pytest.approx(1.0)
    assert metrics["jvm.core_busy_frac"] == pytest.approx(1.3 / (6.0 * 2))
    assert metrics["tables.scan_bytes"] == pytest.approx(500)
    assert metrics["tables.scan_task_s"] == pytest.approx(0.2)
    assert metrics["shuffle.write_bytes"] == pytest.approx(250)


def test_driver_and_sink_count_only_construct_work(metrics):
    assert metrics["driver.result_bytes"] == pytest.approx(32)  # the exec ResultTask is the noop sink
    assert metrics["sink.rows_written"] == pytest.approx((5 + 40) / 2)
    assert metrics["sink.bytes_written"] == pytest.approx(20)


def test_python_metrics_come_from_python_plan_nodes_only(metrics):
    assert metrics["python.bytes_sent"] == pytest.approx(2048)
    assert metrics["python.exec_s"] == pytest.approx(0.15)
    assert metrics["python.rows_received"] == pytest.approx(3.5)  # the Scan's rows (id 93) are not Python's


def test_package_self_time(metrics):
    assert metrics["dedup.call_s"] == pytest.approx((0.6 + 1.0) / 2)
    assert metrics["dedup.calls"] == pytest.approx(1.0)
    assert metrics["operators.call_s"] == pytest.approx(0.2)
    assert metrics["ml.calls"] == 0


def test_streaming_from_listener_progress(metrics):
    assert metrics["streaming.batches"] == pytest.approx(1.0)
    assert metrics["streaming.empty_batch_frac"] == pytest.approx(0.5)
    assert metrics["streaming.trigger_s"] == pytest.approx(0.5)
    assert metrics["streaming.wal_s"] == pytest.approx(0.03)
    assert metrics["streaming.state_rows"] == pytest.approx(20)
    assert metrics["streaming.state_commit_s"] == pytest.approx(0.015)


def test_trace_overhead_and_units(metrics):
    assert metrics["trace.overhead_frac"] == pytest.approx(3.0 / 2.5 - 1)
    out = reduce.per_layer(EVENTS, SPANS, PROGRESS, WINDOWS, 2, 4.0, 2.5)
    assert out["session.start_s"] == {"value": 4.0, "unit": "s"}
    assert out["shuffle.read_bytes"]["unit"] == "B"
    assert out["jvm.tasks"]["unit"] == "count"


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fixture"))
    fixtures.generate(d, seed=3, factor=1)
    return d


def test_fixture_is_a_function_of_the_seed(fixture_dir, tmp_path):
    assert fixtures.generate(str(tmp_path / "again"), seed=3, factor=1) == fixtures.digest(fixture_dir)
    assert fixtures.generate(str(tmp_path / "other"), seed=4, factor=1) != fixtures.digest(fixture_dir)


def test_injected_oracle_mismatch_counts_in_fail_frac(fixture_dir):
    from hadoop_gpu_spark.queries import ORACLES
    from tests.oracle import duckdb_con

    name = "q01_pricing_summary"
    con = duckdb_con(fixture_dir)
    good = con.sql(ORACLES[name]).df()
    con.close()
    assert check.check_outputs({name: good}, fixture_dir, {}) == {}

    bad = good.copy()
    bad.loc[0, "count_order"] += 1
    problems = check.check_outputs({name: bad}, fixture_dir, {})
    assert list(problems) == [name]
    fail_frac = len(problems) / 1  # failed / attempted, as run.py reports it
    assert fail_frac > 0

    raised = check.check_outputs({name: None}, fixture_dir, {name: "RuntimeError: boom"})
    assert raised[name] == ["raised: RuntimeError: boom"]
