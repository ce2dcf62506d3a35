"""Tests of the event-log reader, the span arithmetic and the kernel
layer attribution.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import spans as sp  # noqa: E402
from eventlog import EventLog  # noqa: E402

RECORDED = os.path.join(HERE, "data", "small_eventlog.jsonl")
SQL = "org.apache.spark.sql.execution.ui."


def _node(name, metrics, children=(), desc="", location=None):
    return {
        "nodeName": name,
        "simpleString": desc or name,
        "metadata": {"Location": location} if location else {},
        "metrics": [{"name": n, "accumulatorId": a, "metricType": t}
                    for n, a, t in metrics],
        "children": list(children),
    }


def _stage_done(sid, submitted, completed, n_tasks, accums):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Submission Time": submitted,
        "Completion Time": completed, "Number of Tasks": n_tasks,
        "Accumulables": [{"ID": a, "Value": str(v)} for a, v in accums.items()],
    }}


def _task_end(sid, run_ms, cpu_ns, gc_ms, spill, accums):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Launch Time": 1, "Finish Time": 2,
                          "Accumulables": [{"ID": a, "Update": str(v)}
                                           for a, v in accums.items()]},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc_ms,
                             "Memory Bytes Spilled": spill,
                             "Disk Bytes Spilled": 0}}


def synthetic_events():
    """Two executions: an extraction write (pages scan, routing
    shuffle, MapInPandas, insert) and a table scan with a plain
    exchange, the second starting 3 s after the first ended."""
    write_plan = _node(
        "Execute InsertIntoHadoopFsRelationCommand",
        [("task commit time", 10, "timing"),
         ("number of written files", 11, "sum")],
        [_node("MapInPandas",
               [("data sent to Python workers", 20, "size"),
                ("time to run Python workers", 21, "timing")],
               [_node("Exchange",
                      [("shuffle write time", 30, "nsTiming"),
                       ("shuffle bytes written", 31, "size")],
                      [_node("Scan parquet ",
                             [("scan time", 40, "timing"),
                              ("size of files read", 41, "size")],
                             location="InMemoryFileIndex(1 paths)"
                                      "[file:/w/pages/main]")],
                      desc="Exchange hashpartitioning(xxhash64(url#1, 42), 8)")])])
    scan_plan = _node(
        "Exchange", [("shuffle bytes written", 60, "size")],
        [_node("Scan parquet ", [("scan time", 50, "timing")],
               location="InMemoryFileIndex(2 paths)[file:/w/tables/t0/data]")],
        desc="Exchange SinglePartition")
    return [
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 1,
         "time": 1000, "description": "write", "sparkPlanInfo": write_plan},
        {"Event": "SparkListenerJobStart", "Submission Time": 1001,
         "Stage IDs": [1, 2], "Properties": {"spark.sql.execution.id": "1"}},
        _stage_done(1, 1002, 1500, 2, {30: 2_000_000, 31: 300, 40: 7, 41: 1000}),
        _task_end(2, 300, 150_000_000, 4, 0, {20: 600, 21: 250}),
        _task_end(2, 100, 50_000_000, 1, 64, {20: 300, 21: 150}),
        _stage_done(2, 1501, 2000, 2, {20: 900, 21: 400, 10: 5, 11: 2}),
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 1,
         "accumUpdates": [[11, 1]]},
        {"Event": SQL + "SparkListenerSQLExecutionEnd", "executionId": 1,
         "time": 2100},
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 2,
         "time": 5000, "description": "scan", "sparkPlanInfo": scan_plan},
        {"Event": "SparkListenerJobStart", "Submission Time": 5001,
         "Stage IDs": [3], "Properties": {"spark.sql.execution.id": "2"}},
        _stage_done(3, 5002, 5100, 1, {50: 9, 60: 77}),
        {"Event": SQL + "SparkListenerSQLExecutionEnd", "executionId": 2,
         "time": 5200},
    ]


@pytest.fixture
def log():
    return EventLog(synthetic_events(), "/tables/", "/pages/")


def test_node_metrics_map_to_layers(log):
    view = log.window(0, 10_000)
    assert view.metric("pages.scan", "scan time") == 7
    assert view.metric("pages.scan", "size of files read") == 1000
    assert view.metric("icetable.scan", "scan time") == 9
    assert view.metric("pipeline.shuffle", "shuffle bytes written") == 300
    # the exchange without the xxhash64 routing key is not the
    # pipeline's shuffle
    assert view.metric("shuffle", "shuffle bytes written") == 77
    assert view.metric("pipeline.python", "data sent to Python workers") == 900
    assert view.metric("pipeline.python", "time to run Python workers") == 400
    assert view.metric("icetable.write", "task commit time") == 5


def test_ns_timings_are_converted_to_ms(log):
    assert log.window(0, 10_000).metric(
        "pipeline.shuffle", "shuffle write time") == pytest.approx(2.0)


def test_driver_accumulator_updates_are_added(log):
    # two files from the tasks, one the Spark driver reported
    assert log.window(0, 10_000).metric(
        "icetable.write", "number of written files") == 3


def test_window_selects_executions_and_stages_by_start(log):
    first = log.window(0, 3000)
    assert [e.id for e in first.executions] == [1]
    assert sorted(s.id for s in first.stages) == [1, 2]
    assert first.metric("icetable.scan", "scan time") == 0
    second = log.window(4000, 6000)
    assert [e.id for e in second.executions] == [2]
    assert second.metric("pages.scan", "scan time") == 0
    assert log.executions[1].wall_ms == 1100


def test_tasks_and_stage_task_updates(log):
    view = log.window(0, 3000)
    assert sorted(t.run_ms for t in view.tasks) == [100, 300]
    assert sum(t.spill_bytes for t in view.tasks) == 64
    assert sum(t.gc_ms for t in view.tasks) == 5
    per_stage = view.stage_tasks_with("pipeline.python",
                                      "data sent to Python workers")
    assert [(st.id, rows) for st, rows in per_stage] == [(2, [600, 300])]
    assert view.has_layer(log.executions[1], "pipeline.python")
    assert not view.has_layer(log.executions[2], "pipeline.python")


def test_load_reads_rolling_files_in_numeric_order(tmp_path):
    events = synthetic_events()
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    # events_10 must come after events_2, although it sorts first by name
    chunks = {"events_1_local-1": events[:4], "events_2_local-1": events[4:8],
              "events_10_local-1": events[8:]}
    for name, chunk in chunks.items():
        (app / name).write_text("".join(json.dumps(e) + "\n" for e in chunk))
    (app / "appstatus_local-1").write_text("")
    (app / ".appstatus_local-1.crc").write_text("x")
    loaded = EventLog.load(str(tmp_path), "/tables/", "/pages/")
    view = loaded.window(0, 10_000)
    assert sorted(loaded.executions) == [1, 2]
    assert loaded.executions[2].end == 5200
    assert view.metric("icetable.write", "number of written files") == 3


# ------------------------------------------------------ recorded log

def test_recorded_log_is_consistent():
    """A log Spark wrote for one production job over a 35-row table at
    local[2] (file paths rewritten, only the events the reader uses
    kept): stage totals agree with the task updates, and the Arrow
    hand-off carried every row of the table."""
    with open(RECORDED, encoding="utf-8") as fh:
        events = [json.loads(line) for line in fh]
    log = EventLog(events, "/tables/", "/pages/")
    view = log.window(0, float("inf"))
    python = view.stage_tasks_with("pipeline.python", "number of output rows")
    assert python, "no MapInPandas stage found"
    for st, per_task in python:
        accs = set(view._accs("pipeline.python", "number of output rows"))
        assert sum(per_task) == sum(st.accums.get(a, 0) for a in accs)
    assert sum(sum(rows) for _st, rows in python) == 35
    assert view.metric("pipeline.python", "data sent to Python workers") > 0
    assert view.metric("pipeline.shuffle", "shuffle bytes written") > 0
    assert view.metric("pages.scan", "size of files read") > 0
    assert view.metric("icetable.write", "number of written files") >= 1
    for exe in view.executions:
        assert exe.end >= exe.start


# ------------------------------------------------------------- spans

def test_union_length_counts_overlaps_once():
    assert sp.union_length([]) == 0
    assert sp.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert sp.union_length([(5, 6), (0, 10)]) == 10


def test_self_time_is_span_minus_covered_children():
    spans = [
        sp.Span("job", 0.0, 10.0, None),
        sp.Span("a", 1.0, 3.0, 0),
        sp.Span("b", 2.0, 5.0, 0),  # overlaps a: covered once
        sp.Span("c", 9.0, 12.0, 0),  # outlives the parent: clipped
        sp.Span("a.inner", 1.5, 2.5, 1),
    ]
    selfs = sp.self_times(spans)
    assert selfs[0] == pytest.approx(10 - 4 - 1)
    assert selfs[1] == pytest.approx(1.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(3.0)
    assert selfs[4] == pytest.approx(1.0)


class _Mod:
    pass


def test_recorder_wraps_nests_and_unwraps():
    mod = _Mod()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    originals = (mod.inner, mod.outer)
    ticks = iter(range(100))
    rec = sp.Recorder(clock=lambda: next(ticks))
    rec.wrap(mod, "inner", "inner")
    rec.wrap(mod, "outer", "outer")
    assert mod.outer(1) == 4
    rec.unwrap_all()
    assert (mod.inner, mod.outer) == originals
    assert [(s.name, s.parent) for s in rec.spans] == [("outer", None),
                                                      ("inner", 0)]
    assert sp.has_ancestor(rec.spans, 1, "outer")
    assert not sp.has_ancestor(rec.spans, 0, "inner")


def test_kernel_metrics_attribute_pdf_only_modules():
    import kernel

    spans = [
        sp.Span("extract_document", 0.0, 10.0, None),
        sp.Span("extract_pdf_document", 1.0, 9.0, 0),
        sp.Span("_extract_pdf_once", 1.0, 8.0, 1),
        sp.Span("parse_pdf", 1.0, 3.0, 2),
        sp.Span("detect_tables", 3.0, 4.0, 2),
        # outside the single pass: not counted as tables.ms
        sp.Span("detect_tables", 8.0, 8.5, 1),
        sp.Span("score_quality", 8.5, 9.0, 1),
    ]
    out = kernel.kernel_metrics(spans)
    assert out["pdf_tokenizer.parse_pdf_ms"] == pytest.approx(2000)
    assert out["tables.ms"] == pytest.approx(1000)
    assert out["quality.score_quality_ms"] == pytest.approx(500)
    assert out["html_extract.extract_html_ms"] == 0
    # unwrap is extract_document's self time: 10 s minus the 8 s child
    assert out["document.unwrap_ms"] == pytest.approx(2000)
    assert out["document.parse_pdf_calls_per_pdf"] == 1.0
