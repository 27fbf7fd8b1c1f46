"""Unit test of the event-log parser over a small recorded log.

    python3 -m pytest perfbench/test_eventlog.py -q

`testdata/eventlog_v2_local-sample/` is a rolling, uncompressed event log
recorded from a `local[2]` session that ran three jobs:

    group "g1"  spark.range(1000).repartition(3).groupBy().count().collect()
    group "g2"  spark.range(10, numPartitions=2).mapInPandas(...).collect()
    no group    spark.range(5).collect()
"""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "testdata")


@pytest.fixture(scope="module")
def groups():
    return eventlog.parse(LOG)


def test_rolling_directory_is_found():
    files = eventlog.log_files(LOG)
    assert [os.path.basename(f)[:9] for f in files] == ["events_1_"]


def test_jobs_are_attributed_to_their_group(groups):
    assert set(groups) == {"g1", "g2", ""}
    assert [groups[g]["jobs"] for g in ("g1", "g2", "")] == [1, 1, 1]
    assert [groups[g]["stages"] for g in ("g1", "g2", "")] == [3, 1, 1]


def test_task_counters(groups):
    g1 = groups["g1"]
    # range (2 tasks) -> repartition(3) (3 tasks) -> global count (1 task)
    assert g1["tasks"] == 6
    assert g1["failed_tasks"] == 0
    assert g1["exec_run_s"] == pytest.approx(0.863)
    assert g1["gc_s"] == pytest.approx(0.12)
    assert 0 < g1["shuffle_write_mb"] < 0.01
    assert g1["spill_mb"] == 0
    assert groups["g2"]["tasks"] == 2


def test_python_worker_metrics_only_where_python_ran(groups):
    g2 = groups["g2"]
    # "timing" SQL metrics are milliseconds in the log
    assert g2["py_start_s"] == pytest.approx(2.723)
    assert g2["py_init_s"] == pytest.approx(0.747)
    assert g2["py_run_s"] == pytest.approx(4.054)
    for g in ("g1", ""):
        assert groups[g]["py_start_s"] == groups[g]["py_run_s"] == 0


def test_total_sums_groups(groups):
    both = eventlog.total(groups, ["g1", "g2", "missing"])
    assert both["tasks"] == groups["g1"]["tasks"] + groups["g2"]["tasks"]
    assert set(both) == set(eventlog.COUNTERS)
