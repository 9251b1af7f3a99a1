"""Unit test of the event-log fold on a small hand-written log; no Spark.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import Span, fold, read_events  # noqa: E402


def _job_start(jid, t, stages, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def _stage(sid, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": sid},
            "Properties": props}


def _task(sid, launch, finish, run_ms, gc_ms=0, read=0, written=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                "Disk Bytes Spilled": spill, "Memory Bytes Spilled": 10 * spill,
                "Shuffle Read Metrics": {"Remote Bytes Read": read // 2,
                                         "Local Bytes Read": read - read // 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


def _job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
    # graph: one job, two stages, three tasks
    _job_start(0, 1000, [0, 1], "w/graph"),
    _stage(0, "w/graph"),
    _task(0, 1010, 1110, 90, gc_ms=5, written=300),
    _task(0, 1010, 1210, 180, gc_ms=15, written=500),
    _stage(1, "w/graph"),
    _task(1, 1300, 1400, 100, read=800, spill=64),
    _job_end(0, 1500),
    # an untagged job inside the pagerank span is not billed to it
    _job_start(1, 1950, [2], None),
    _stage(2, None),
    _task(2, 1960, 1990, 30, written=7),
    _job_end(1, 1995),
    # pagerank: two overlapping jobs, then a skipped-stage job
    _job_start(2, 2000, [3], "w/algorithms.pagerank"),
    _stage(3, "w/algorithms.pagerank"),
    _task(3, 2010, 2110, 100, written=40),
    _task(3, 2010, 2410, 400, written=40),
    _task(3, 2010, 2110, 100, written=40),
    _job_start(3, 2300, [3, 4], "w/algorithms.pagerank"),
    _stage(4, "w/algorithms.pagerank"),
    _task(4, 2310, 2410, 100, read=120),
    _job_end(2, 2500),
    _job_end(3, 2600),
]

SPANS = [
    Span("graph", 900.0, 1600.0),
    Span("algorithms.pagerank", 1900.0, 2800.0),
    Span("algorithms.pagerank", 3000.0, 3100.0),
    Span("session", 0.0, 500.0),
]


@pytest.fixture
def log_path(tmp_path):
    path = tmp_path / "local-1"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n\n")
    return str(path)


def test_fold_per_layer(log_path):
    layers = fold(read_events(log_path), SPANS, "w")
    assert list(layers) == ["graph", "algorithms.pagerank", "session"]

    g = layers["graph"]
    assert g["wall_s"] == pytest.approx(0.7)
    assert g["jobs"] == 1
    assert g["shuffle_write_bytes"] == 800
    assert g["shuffle_read_bytes"] == 800
    assert g["spill_bytes"] == 64
    assert g["task_time_s"] == pytest.approx(0.37)
    assert g["gc_s"] == pytest.approx(0.02)
    assert g["task_skew"] == pytest.approx(200 / 100)
    assert g["driver_gap_s"] == pytest.approx(0.2)  # 700 ms span, 500 ms of job

    pr = layers["algorithms.pagerank"]
    assert pr["wall_s"] == pytest.approx(1.0)
    assert pr["jobs"] == 2
    assert pr["shuffle_write_bytes"] == 120
    assert pr["shuffle_read_bytes"] == 120
    assert pr["task_time_s"] == pytest.approx(0.7)
    assert pr["task_skew"] == pytest.approx(400 / 100)
    # jobs cover 2000..2600 of the 900 ms first span; the second span has none
    assert pr["driver_gap_s"] == pytest.approx(0.3 + 0.1)

    s = layers["session"]
    assert s["jobs"] == 0
    assert s["task_time_s"] == 0
    assert s["driver_gap_s"] == pytest.approx(s["wall_s"])


def test_other_prefix_is_ignored(log_path):
    layers = fold(read_events(log_path), SPANS, "other")
    assert layers["graph"]["jobs"] == 0
    assert layers["graph"]["driver_gap_s"] == pytest.approx(0.7)
