import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "fixtures",
                   "eventlog_v2_local-0001")


def test_rollup_of_recorded_log():
    """A trimmed Spark 4.1 rolling event log: a mapInPandas + groupBy job
    pair under job group span-7, two small jobs under span-8."""
    r = eventlog.rollup(eventlog.read_events(LOG))
    assert set(r) == {"span-7", "span-8"}
    a, b = r["span-7"], r["span-8"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (2, 2, 9)
    assert (b["jobs"], b["stages"], b["tasks"]) == (2, 2, 5)
    assert a["python_worker_s"] == pytest.approx(8.0)
    assert a["python_bytes_sent"] == 826496
    assert a["python_bytes_returned"] == 1601792
    assert a["shuffle_write_bytes"] == 2962
    assert a["executor_cpu_s"] == pytest.approx(1.221051809)
    assert b["python_worker_s"] == 0


def test_reused_stage_stays_with_the_job_that_ran_it():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor CPU Time": 2_000_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Shuffle Write Metrics":
                          {"Shuffle Bytes Written": 10}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    r = eventlog.rollup(ev)
    assert r["g1"]["executor_cpu_s"] == pytest.approx(2.0)
    assert r["g2"]["executor_cpu_s"] == 0
    assert r["g2"]["shuffle_write_bytes"] == 10
    assert r[""]["jobs"] == 1 and r[""]["tasks"] == 1


def test_subtree_totals_add_children():
    spans = [{"id": "p", "parent": None}, {"id": "c", "parent": "p"},
             {"id": "g", "parent": "c"}]
    by = {"p": dict(eventlog._empty(), jobs=1),
          "g": dict(eventlog._empty(), jobs=2, tasks=5)}
    t = eventlog.subtree_totals(spans, by)
    assert (t["p"]["jobs"], t["c"]["jobs"], t["g"]["jobs"]) == (3, 2, 2)
    assert t["p"]["tasks"] == 5
