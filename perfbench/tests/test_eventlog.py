import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    with open(LOG) as f:
        return eventlog.parse(f)


def test_jobs_carry_group_and_phase(log):
    assert [(j.group, j.description) for j in log.jobs.values()] == [
        ("wl:q:0", "fn"),
        ("wl:q:0", "final"),
        ("", "final"),
    ]


def test_totals_over_one_operations_jobs(log):
    t = eventlog.totals(log, [j.id for j in log.jobs.values() if j.group == "wl:q:0"])
    assert (t["jobs"], t["stages"], t["tasks"]) == (2, 4, 8)
    assert t["executor_run_s"] == pytest.approx(0.686)
    assert t["gc_s"] == pytest.approx(0.042)
    # every shuffle is written and read inside the same operation
    assert t["shuffle_read_bytes"] == t["shuffle_write_bytes"] == 654


def test_scheduler_delay_is_wall_minus_task_work(log):
    # stage 0: (154 - 69 - 45 - 0) + (172 - 69 - 52 - 1) = 40 + 50 ms
    assert log.stages[0].sched_delay_ms == 90
    assert eventlog.totals(log, [0])["scheduler_delay_s"] == pytest.approx((90 + 14) / 1e3)


def test_busy_seconds_merges_job_intervals():
    log = eventlog.EventLog(
        jobs={
            0: eventlog.Job(0, "g", "fn", 1000, [], end_ms=1500),
            1: eventlog.Job(1, "g", "fn", 1200, [], end_ms=1800),
            2: eventlog.Job(2, "g", "fn", 3000, [], end_ms=3100),
        }
    )
    assert eventlog.busy_seconds(log, [0, 1, 2]) == pytest.approx(0.9)
