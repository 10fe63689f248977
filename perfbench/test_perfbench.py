"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import numpy as np  # noqa: E402

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from spans import Span  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "r")


def test_union_length_merges_overlaps_and_clips():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert spans.union_length([], 0, 1) == 0
    assert spans.union_length([(3, 4)], 0, 2) == 0


def test_self_time_subtracts_covered_child_time():
    s = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps its sibling: counted once
        _span(3, 9.0, 12.0, parent=0),  # runs past its parent: clipped
        _span(4, 1.5, 2.0, parent=1),
    ]
    st = spans.self_times(s)
    assert st[0] == 10.0 - 5.0 - 1.0
    assert st[1] == 3.0 - 0.5
    assert st[2] == 3.0
    assert st[4] == 0.5


def test_tracer_records_parents_and_order():
    t = spans.Tracer("run1")
    with t.span("outer"):
        with t.span("inner"):
            pass
    with t.span("next"):
        pass
    outer, inner, nxt = t.spans
    assert (outer.parent, inner.parent, nxt.parent) == (None, outer.id, None)
    assert outer.start <= inner.start <= inner.end <= outer.end <= nxt.start
    assert {s.run_id for s in t.spans} == {"run1"}


# Spark event-log lines (field names as Spark writes them): a collect
# (execution 0, job 0) and a parquet write (execution 1, jobs 1-2) whose
# plan has an ArrowEvalPython node, plus a job 3 submitted after the window.
EVENT_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0], "Properties": {"spark.sql.execution.id": "0"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
     "Task Info": {"Launch Time": 1010, "Finish Time": 1400, "Accumulables": []},
     "Task Metrics": {"Executor Run Time": 380, "JVM GC Time": 20,
                      "Disk Bytes Spilled": 0,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 1048576},
                      "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                               "Local Bytes Read": 0}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 1, "time": 1900,
     "sparkPlanInfo": {
         "nodeName": "Execute InsertIntoHadoopFsRelationCommand",
         "simpleString": "Execute InsertIntoHadoopFsRelationCommand",
         "metrics": [], "children": [{
             "nodeName": "ArrowEvalPython", "simpleString": "ArrowEvalPython",
             "children": [],
             "metrics": [{"name": "number of output rows",
                          "accumulatorId": 77, "metricType": "sum"}]}]}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
     "Stage IDs": [1, 2], "Properties": {"spark.sql.execution.id": "1"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
     "Task Info": {"Launch Time": 2000, "Finish Time": 2900, "Accumulables": [
         {"ID": 77, "Name": "number of output rows", "Update": "40",
          "Value": "40"}]},
     "Task Metrics": {"Executor Run Time": 900, "JVM GC Time": 0,
                      "Disk Bytes Spilled": 2097152}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
     "Task Info": {"Launch Time": 2100, "Finish Time": 2800, "Accumulables": [
         {"ID": 77, "Name": "number of output rows", "Update": 2, "Value": 42}]},
     "Task Metrics": {"Executor Run Time": 700, "JVM GC Time": 100}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 9000,
     "Stage IDs": [5], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 5,
     "Task Info": {"Launch Time": 9000, "Finish Time": 9500, "Accumulables": []},
     "Task Metrics": {"Executor Run Time": 500}},
    {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 9600},
]


def test_attribution_by_time_window():
    log = spans.parse_event_log(json.dumps(e) for e in EVENT_LOG)
    a = spans.attribute(log, 0.5, 4.0)  # epoch seconds; the log is in ms
    assert (a.jobs, a.stages, a.tasks) == (2, 3, 3)
    assert abs(a.task_s - (0.38 + 0.9 + 0.7)) < 1e-9
    assert abs(a.gc_s - 0.12) < 1e-9
    assert a.shuffle_mb == 1.0 and a.spill_mb == 2.0
    # busy: [1.0, 1.5] and [2.0, 3.0] -> idle = 3.5 - 1.5
    assert abs(a.idle_s - 2.0) < 1e-9
    assert abs(a.write_s - 1.0) < 1e-9 and abs(a.collect_s - 0.5) < 1e-9
    assert a.python_rows == 42
    late = spans.attribute(log, 8.0, 10.0)
    assert (late.jobs, late.tasks, late.write_s, late.collect_s) == (1, 1, 0, 0)


def test_every_metric_is_declared_and_well_named():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    per_layer = [m["name"] for m in bench["per_layer"]]
    assert e2e == list(run.END_TO_END)
    assert per_layer == run.per_layer_names()
    names = e2e + per_layer + [w["name"] for w in bench["workloads"]]
    assert len(set(names)) == len(names)
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])


def test_engine_toggles_refuse_the_run(monkeypatch, capsys):
    assert run.refuse_toggles({"PATH": "/bin", "RAQC_RUN_OVERLAP": "0"}) == [
        "RAQC_RUN_OVERLAP"
    ]
    assert run.refuse_toggles({"PATH": "/bin"}) == []
    monkeypatch.setenv("RAQC_FAMILY_WORKERS", "2")
    args = ["--workload", "leaf-sweep", "--seed", "1", "--seconds", "1"]
    assert run.main(args) == 2
    assert capsys.readouterr().out == ""  # no result line


def test_leaf_inputs_follow_the_measured_testdata_figures():
    t = inputs.leaf_frames(3, sf=0.01)
    d, e = t["documents"], t["embeddings"]
    assert (len(d), len(e)) == (500, 500)  # the testdata row counts at sf0.01
    assert d.text.str.endswith(" dup").sum() == 25  # exactly 5%
    words = d.text.str.split()
    assert words.str.len().between(10, 101).all()
    assert set(words.explode()) <= set(inputs._VOCAB) | {"dup"}
    assert (d.n_chars == d.text.str.len()).all()
    assert set(d.lang) == {"en", "zh", "es", "fr", "de"}
    v = np.stack(e.embedding.to_numpy()).astype(float)
    assert v.shape == (500, 64) and np.allclose(np.linalg.norm(v, axis=1), 1, atol=1e-6)
    cos = (v @ v.T)[np.triu_indices(len(v), 1)]
    assert abs(cos.std() - 0.125) < 0.01  # near-uniform: 1/sqrt(64), as measured
    assert abs(cos.mean()) < 0.01
    assert set(e.label) == set(range(10))


def test_dir_stats_counts_matching_files(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.parquet").write_bytes(b"123")
    (tmp_path / "y.parquet").write_bytes(b"45")
    (tmp_path / "_SUCCESS").write_bytes(b"")
    assert inputs.dir_stats(str(tmp_path), ".parquet") == (2, 5)
    assert inputs.dir_stats(str(tmp_path)) == (3, 5)
