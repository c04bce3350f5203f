"""The event-log reader on a small log recorded from the engine: two
pandas-UDF jobs, two micro-batch jobs of a foreachBatch stream (job
group = the stream's run id) and one plain job."""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
STREAM_GROUP = "1c7fbec5-8d00-4442-a7e6-0fd62137ecf5"


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(LOG)


def _window(log, first, last, pad=0.05):
    jobs = {j.job_id: j for j in log.jobs}
    return jobs[first].start_ms / 1000 - pad, jobs[last].end_ms / 1000 + pad


def test_parses_jobs_tasks_and_groups(log):
    assert [j.job_id for j in log.jobs] == [5, 6, 11, 12, 33]
    assert [j.group for j in log.jobs if j.job_id in (11, 12)] == [STREAM_GROUP] * 2
    assert len(log.tasks) == 12
    assert log.python_row_ids == {587, 593, 623}


def test_stream_jobs_are_attributed_by_time_not_group(log):
    t0, t1 = _window(log, 11, 12)
    m = eventlog.window_metrics(log, t0, t1, cores=4)
    assert m["spark.jobs"] == 2
    assert m["spark.tasks"] == 6
    assert m["python.run_s"] == 0


def test_python_accumulables(log):
    t0, t1 = _window(log, 5, 6)
    m = eventlog.window_metrics(log, t0, t1, cores=4)
    assert m["spark.jobs"] == 2
    # four tasks of the MapInPandas stage: per-node updates summed
    assert m["python.run_s"] == pytest.approx(17.3)
    assert m["python.boot_s"] == pytest.approx(5.251)
    assert m["python.init_s"] == pytest.approx(9.142)
    assert m["python.sent_mb"] > 0 and m["python.recv_mb"] > 0
    # output rows of Python nodes only (ids from the plan), not of every operator
    assert m["python.rows_recv"] == 7222 + 6771 + 7296 + 6650 + 4 * 31


def test_idle_plus_busy_is_the_window(log):
    t0, t1 = _window(log, 5, 33, pad=0.5)
    m = eventlog.window_metrics(log, t0, t1, cores=4)
    assert m["spark.jobs"] == 5
    assert m["driver.idle_s"] + m["spark.job_busy_s"] == pytest.approx(t1 - t0, abs=1e-6)
    jobs = sorted((j.start_ms, j.end_ms) for j in log.jobs)
    assert m["spark.job_busy_s"] == pytest.approx(sum(e - s for s, e in jobs) / 1000.0)
    assert 0 < m["slot.util"] <= 1.0
    assert m["task.failed"] == 0
    assert m["task.skew"] >= 1.0


def test_jobs_outside_the_window_are_not_counted(log):
    t0, t1 = _window(log, 33, 33)
    m = eventlog.window_metrics(log, t0, t1, cores=4)
    assert m["spark.jobs"] == 1
    assert m["python.run_s"] == 0


def test_union_and_gaps():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert eventlog._union_s(spans) == pytest.approx(4.0)
    assert eventlog._gaps_s(spans, 0.0, 10.0) == pytest.approx(6.0)
