"""Checks of the benchmark's own parts that need no Spark session.

Run with ``python3 -m pytest perfbench/test_perfbench.py`` from the root of
the repository.
"""

import json
import os

import pyarrow as pa
import pytest

from perfbench import eventlog, metrics, tracing, verify

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _table(rows):
    return pa.Table.from_pylist(rows)


def _row(url, text="hello world", status="ok"):
    return {
        "url": url, "mime": "text/html", "extracted_text": text, "confidence": 0.5,
        "engine": "pixelocr", "status": status, "error_code": None, "warnings": [],
        "spans": [{"start": 0, "end": len(text), "kind": "block"}],
    }


def test_identical_output_has_no_failures():
    goldens = _table([_row("a"), _row("b"), _row("c", status="IMAGE_TOO_LARGE")])
    check = verify.check_extraction(goldens, goldens)
    assert (check.attempted, check.failed) == (3, 0)
    assert check.statuses == {"ok": 2, "IMAGE_TOO_LARGE": 1}


def test_one_corrupted_url_is_counted():
    goldens = _table([_row("a"), _row("b"), _row("c")])
    output = _table([_row("a"), _row("b", text="hello world!"), _row("c")])
    check = verify.check_extraction(output, goldens)
    assert (check.wrong, check.failed) == (1, 1)


def test_changed_span_is_counted():
    goldens = _table([_row("a")])
    bad = _row("a")
    bad["spans"] = [{"start": 0, "end": 5, "kind": "block"}]
    assert verify.check_extraction(_table([bad]), goldens).wrong == 1


def test_missing_duplicated_and_unknown_urls_are_counted():
    goldens = _table([_row("a"), _row("b"), _row("c")])
    output = _table([_row("a"), _row("a"), _row("b"), _row("z")])
    check = verify.check_extraction(output, goldens)
    assert (check.missing, check.duplicated, check.unexpected, check.wrong) == (1, 1, 1, 0)
    assert check.failed == 3


def test_one_altered_query_row_is_counted():
    cols = ["k", "v"]
    rows = [(1, 0.1), (2, 0.2), (3, None)]
    oracle_cols = ["v", "k"]
    oracle = [(0.2, 2), (None, 3), (0.1, 1)]
    assert verify.query_matches(cols, rows, oracle_cols, oracle)
    altered = [(1, 0.1), (2, 0.2000001), (3, None)]
    assert not verify.query_matches(cols, altered, oracle_cols, oracle)
    assert not verify.query_matches(cols, rows[:2], oracle_cols, oracle)


def test_span_self_time_excludes_children():
    rec = tracing.SpanRecorder("t")
    with rec.span("parent"):
        with rec.span("child"):
            sum(range(100_000))
    parent = next(s for s in rec.spans if s[0] == "parent")
    child = next(s for s in rec.spans if s[0] == "child")
    assert child[3] == rec.spans.index(parent)
    total = parent[2] - parent[1]
    assert rec.self_s["parent"] + rec.self_s["child"] == pytest.approx(total)
    assert rec.self_s["child"] == pytest.approx(child[2] - child[1])


def _plan(name, simple, metrics_=(), children=()):
    return {"nodeName": name, "simpleString": simple, "metrics": list(metrics_), "children": list(children)}


def _task(stage, ms, accs, fetch_wait=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": 0, "Finish Time": ms, "Accumulables": [
            {"ID": i, "Update": str(v), "Metadata": "sql"} for i, v in accs.items()]},
        "Task Metrics": {"Shuffle Read Metrics": {"Fetch Wait Time": fetch_wait},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}},
    }


def test_event_log_reader(tmp_path):
    """Two-pass extraction plan: pass 1 feeds a url exchange, pass 2 reads it."""
    scan = _plan("Scan parquet", "FileScan parquet", [{"name": "size of files read", "accumulatorId": 9}])
    pass1 = _plan("MapInArrow", "MapInArrow kernel", [
        {"name": "data sent to Python workers", "accumulatorId": 1}], [scan])
    exchange = _plan("Exchange", "Exchange hashpartitioning(url#3, 4)", [
        {"name": "shuffle bytes written", "accumulatorId": 2}], [pass1])
    pass2 = _plan("MapInArrow", "MapInArrow kernel", [
        {"name": "data sent to Python workers", "accumulatorId": 3}], [exchange])
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "description": "save", "sparkPlanInfo": pass2, "time": 1000},
        {"Event": "SparkListenerJobStart", "Stage IDs": [10, 11],
         "Properties": {eventlog.PHASE_PROPERTY: "timed", "spark.sql.execution.id": "0"}},
        _task(10, 100, {1: 50, 2: 40}),
        _task(10, 300, {1: 50, 2: 40}),
        _task(11, 200, {3: 5}, fetch_wait=4),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 10, "Submission Time": 0, "Completion Time": 1500}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[9, 1234]]},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
         "executionId": 0, "time": 3000},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    log = eventlog.EventLog(str(tmp_path))
    assert log.python_stages("timed", after_exchange=False) == [10]
    assert log.python_stages("timed", after_exchange=True) == [11]
    assert log.stage_seconds([10]) == 1.5
    assert log.task_skew([10]) == 1.5
    assert log.exchange_metric("timed", "url", "shuffle bytes written") == 80
    assert log.sql_metric("timed", "data sent to Python workers") == 105
    assert log.sql_metric("timed", "size of files read") == 1234
    assert log.total("timed", "fetch_wait_ms") == 4
    assert log.total("timed", "shuffle_write_bytes") == 21
    assert log.execution_span_s(0, 0) == 2.0
    assert log.stages("other") == []


def test_benchmark_json_lists_the_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["extract-mix", "crawl-job"]


def test_headline_queries_follow_bench_py():
    import bench

    assert metrics.HEADLINE == bench.HEADLINE
