"""Span accounting and the Spark event-log parser: self time is the span
minus its children, jobs go to the innermost span holding their
submission time, and on a tiny local run the per-layer wall times add
up to the traced run's wall time."""

import json
import os
import time

import pytest

from spans import (
    EventLog,
    Job,
    Span,
    Task,
    Tracer,
    attribute,
    layer_table,
    length,
    parse_event_log,
    self_intervals,
    subtract,
)


def _span(i, layer, start, end, parent=None):
    s = Span(i, layer, layer, start, parent, "r")
    s.end = end
    return s


def test_interval_helpers():
    assert length([(0, 2), (1, 3), (5, 6)]) == 4
    assert subtract((0, 10), [(2, 4), (3, 5), (8, 12)]) == [(0, 2), (5, 8)]
    assert subtract((0, 10), []) == [(0, 10)]


def test_self_time_is_span_minus_children():
    spans = [_span(0, "run", 0, 10), _span(1, "a", 1, 3, 0), _span(2, "b", 5, 9, 0),
             _span(3, "c", 6, 7, 2)]
    selfs = self_intervals(spans)
    assert length(selfs[0]) == 10 - 2 - 4
    assert length(selfs[2]) == 4 - 1
    assert length(selfs[3]) == 1
    # self times partition the root span
    assert sum(length(v) for v in selfs.values()) == 10


def test_jobs_go_to_innermost_span_by_submission_time():
    spans = [_span(0, "run", 0, 10), _span(1, "a", 1, 3, 0), _span(2, "b", 5, 9, 0),
             _span(3, "c", 6, 7, 2)]
    jobs = [Job(0, 0.5, 0.9, []), Job(1, 2.0, 4.0, []), Job(2, 6.5, 6.8, []),
            Job(3, 8.0, 8.5, []), Job(4, 11.0, 12.0, [])]
    assert attribute(spans, jobs) == {0: 0, 1: 1, 2: 3, 3: 2, 4: None}


def test_layer_table_counts_and_gaps():
    spans = [_span(0, "run", 0, 10), _span(1, "a", 1, 3, 0), _span(2, "b", 5, 9, 0)]
    log = EventLog(
        jobs=[Job(0, 1.5, 2.5, [0]), Job(1, 5.0, 6.0, [1, 2]), Job(2, 7.0, 7.5, [2])],
        tasks=[Task(0, 1.0, 0.5, 0.1, 2**20, 0, 10, 0.2), Task(1, 2.0, 1.0, 0.0, 0, 2**21, 5, 0),
               Task(2, 4.0, 2.0, 0.0, 0, 0, 0, 0)],
    )
    t = layer_table(spans, log)
    assert t["a"]["wall_s"] == 2 and t["a"]["jobs"] == 1 and t["a"]["tasks"] == 1
    assert t["a"]["driver_gap_s"] == pytest.approx(1.0)
    assert t["a"]["shuffle_write_mb"] == 1 and t["a"]["python_worker_s"] == 0.2
    # stage 2 belongs to the first job that lists it (job 1)
    assert t["b"]["jobs"] == 2 and t["b"]["tasks"] == 2
    assert t["b"]["driver_gap_s"] == pytest.approx(4 - 1.5)
    assert t["b"]["spill_mb"] == 2 and t["b"]["task_skew"] == pytest.approx(4 / 3)
    assert t["run"]["wall_s"] == 4 and t["run"]["jobs"] == 0


def test_parse_event_log_reads_rolling_files(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"Name": "time to run Python workers",
                                         "Update": "1500"}]},
         "Task Metrics": {"Executor Run Time": 2000, "Executor CPU Time": 10**9,
                          "JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                          "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                          "Input Metrics": {"Records Read": 42}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    (d / "events_1_app-1").write_text("\n".join(json.dumps(e) for e in evs[:2]) + "\n")
    (d / "events_2_app-1").write_text(json.dumps(evs[2]) + "\n")
    log = parse_event_log(str(tmp_path))
    assert log.jobs == [Job(0, 1.0, 3.0, [0])]
    assert log.tasks == [Task(0, 2.0, 1.0, 0.1, 7, 3, 42, 1.5)]


def test_tiny_local_run(tmp_path, monkeypatch):
    """A real local session with an uncompressed event log: every job
    submitted inside a span is attributed to it, the Python-UDF time
    is found, and the layers' wall times cover the run span."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from run import stop_spark

    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(
        [os.path.dirname(__file__), os.environ.get("PYTHONPATH", "")]))
    logdir = tmp_path / "events"
    logdir.mkdir()
    tr = Tracer(True, "t")
    spark = None
    try:
        with tr.span("run"):
            with tr.span("session"):
                spark = (SparkSession.builder.master("local[2]")
                         .config("spark.ui.enabled", "false")
                         .config("spark.eventLog.enabled", "true")
                         .config("spark.eventLog.compress", "false")
                         .config("spark.eventLog.dir", f"file://{logdir}")
                         .config("spark.local.dir", str(tmp_path / "local"))
                         .getOrCreate())
            with tr.span("query.run"):
                spark.range(1000, numPartitions=4).groupBy(
                    (F.col("id") % 7).alias("k")).count().collect()
            with tr.span("operators.mldf"):
                plus = F.pandas_udf(lambda s: s + 1, "long")
                spark.range(100, numPartitions=2).select(plus("id")).collect()
                time.sleep(0.05)
    finally:
        if spark is not None:
            stop_spark(spark)
    log = parse_event_log(str(logdir))
    t = layer_table(tr.spans, log)
    assert t["query.run"]["jobs"] >= 1 and t["query.run"]["tasks"] >= 4
    assert t["operators.mldf"]["python_worker_s"] > 0
    assert t["operators.mldf"]["driver_gap_s"] >= 0.05
    owner = attribute(tr.spans, log.jobs)
    run_id = next(s.id for s in tr.spans if s.layer == "run")
    assert all(v != run_id for v in owner.values()), "every job ran inside a layer span"
    root = next(s for s in tr.spans if s.layer == "run")
    layers = sum(v["wall_s"] for k, v in t.items() if k != "run")
    assert layers == pytest.approx(root.seconds, rel=0.02)
