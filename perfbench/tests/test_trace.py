"""Span bookkeeping and event-log folding on a synthetic event log."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.trace import TAG, Tracer, fold_event_log  # noqa: E402


class FakeContext:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, d):
        self.descriptions.append(d)


def _task(stage, ms, cpu_ns=0, shuffle_w=0, python_ms=None):
    acc = [] if python_ms is None else [{"Name": "time to run Python workers", "Update": str(python_ms)}]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms, "Accumulables": acc},
        "Task Metrics": {"Executor Run Time": ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 0,
                         "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                         "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0},
    }


def test_spans_nest_restore_descriptions_and_fold(tmp_path):
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("run_pipeline") as root:
        with tr.span("write_stage:parse") as ws:
            with tr.span("write_file_stats") as fs:
                pass
    assert [s.parent for s in tr.spans] == [None, root.id, ws.id]
    assert sc.descriptions[-1] is None
    assert sc.descriptions[2] == f"{TAG}{fs.id}:write_file_stats"
    assert sc.descriptions[3] == f"{TAG}{ws.id}:write_stage:parse"

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.job.description": f"{TAG}{ws.id}:write_stage:parse",
                        "spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [1],
         "Properties": {"spark.job.description": f"{TAG}{fs.id}:write_file_stats"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 0, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 7,
         "sparkPlanInfo": {"nodeName": "AdaptiveSparkPlan", "simpleString": "AdaptiveSparkPlan", "children": [
             {"nodeName": "Execute InsertIntoHadoopFsRelationCommand",
              "simpleString": "Execute InsertIntoHadoopFsRelationCommand file:/w/parsed_lineage, false"}]}},
        _task(0, 100, cpu_ns=10**9, shuffle_w=7, python_ms=40),
        _task(0, 100),
        _task(0, 400),
        _task(1, 50),
        _task(2, 999),  # untagged job: attributed to no span
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    fold_event_log(str(log), tr)

    assert ws.events["self"]["tasks"] == 3
    assert ws.events["self"]["lineage_s"] == 2.0
    assert ws.events["total"]["tasks"] == 4
    assert ws.events["total"]["cpu_s"] == 1.0
    assert ws.events["total"]["python_s"] == 0.04
    assert ws.events["total"]["shuffle_write_bytes"] == 7
    assert ws.events["total"]["task_skew"] == 4.0
    assert root.events["total"]["tasks"] == 4
    assert fs.events["total"]["task_skew"] == 1.0


def test_self_seconds_subtracts_children():
    tr = Tracer(FakeContext())
    with tr.span("run_pipeline") as root:
        with tr.span("a") as a:
            pass
        with tr.span("b") as b:
            pass
    root.start, root.end = 0.0, 10.0
    a.start, a.end = 1.0, 3.0
    b.start, b.end = 2.0, 6.0
    assert tr.self_seconds(root) == 5.0
