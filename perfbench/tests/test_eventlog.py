"""The parser against a recorded log: one point_in_polygon_join over the
package's 4101-point lattice fixture at res 6 (1818 pairs), run with
local[2]."""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "pip_join.eventlog")
ALL = [(0, 10**14)]


@pytest.fixture(scope="module")
def log():
    return eventlog.load(LOG)


def test_jobs_stages_tasks(log):
    assert len(log.jobs) == 3
    assert len(log.stages) == 3
    assert len(log.tasks) == 5
    s = log.summary(ALL)
    assert s["jobs"] == 3 and s["stages"] == 3
    assert s["task_run_s"] == pytest.approx(sum(t.run_ms for t in log.tasks) / 1e3)
    assert s["shuffle_write_bytes"] == s["shuffle_read_bytes"] == 118


def test_python_worker_metrics(log):
    s = log.summary(ALL)
    assert 0 < s["python_boot_s"] < s["python_run_s"]
    assert s["python_bytes_sent"] > 0 and s["python_bytes_received"] > 0


def test_plan_node_rows(log):
    assert log.node_rows(ALL, "MapInPandas") == 1818  # refined pairs
    assert log.node_rows(ALL, "BroadcastHashJoin") == 1924  # candidates


def test_windows_bucket_jobs_and_tasks(log):
    (submit, end), = [v for k, v in log.jobs.items() if k == 1]
    one = log.summary([(submit, end)])
    assert one["jobs"] == 1
    assert 0 <= one["outside_jobs_s"] < 1e-9  # the job spans its whole window
    none = log.summary([(0, 1)])
    assert none["jobs"] == 0 and none["task_run_s"] == 0
    assert log.summary([])["jobs"] == 0
