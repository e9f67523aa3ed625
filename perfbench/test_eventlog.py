"""The event-log reader on a small recorded log.

    python3 -m pytest perfbench/test_eventlog.py -q

testdata/eventlog_small.jsonl holds the four jobs Spark 4.1 ran for one
``lsh_bucket_stats`` call (job description ``dedup.bucket_stats``) in a
traced neardup run: their JobStart/JobEnd, StageCompleted and TaskEnd
events, verbatim. The expected figures were counted from the raw lines.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog as E  # noqa: E402

LOG = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog_small.jsonl"
)


@pytest.fixture(scope="module")
def log():
    return E.read(LOG)


def test_jobs_and_labels(log):
    assert sorted(log.jobs) == [101, 102, 103, 104]
    assert all(j.succeeded for j in log.jobs.values())
    assert [j.id for j in log.labelled("dedup.")] == [101, 102, 103, 104]
    assert log.labelled("route.") == []


def test_tasks_land_in_the_job_that_ran_their_stage(log):
    assert [len(log.jobs[i].tasks) for i in (101, 102, 103, 104)] == [1, 1, 4, 1]
    assert {t.stage for t in log.jobs[103].tasks} == {207}


def test_totals(log):
    t = E.totals(list(log.jobs.values()))
    assert t["tasks"] == 7
    assert t["task_failures"] == 0
    assert t["cpu_s"] == pytest.approx(0.437502539)
    assert t["shuffle_write_bytes"] == 573827
    assert t["bytes_read"] == 1646


def test_stage_figures(log):
    widest = E.widest_stage(list(log.jobs.values()))
    assert {t.stage for t in widest} == {207}
    # task durations 473, 477, 507, 544 ms
    assert E.skew(widest) == pytest.approx(544 / 492)
    assert E.stage_span_s(widest) == pytest.approx(0.545)


def test_covered_time_merges_job_intervals(log):
    jobs = list(log.jobs.values())
    t0, t1 = 1792210200771, 1792210202210
    # 46 + 34 + 557 + 66 ms of jobs, 736 ms of gaps
    assert E.covered_s(jobs, t0, t1) == pytest.approx(0.703)
    assert E.covered_s(jobs, t0, t0 + 20) == pytest.approx(0.020)
