import math
import statistics

import pytest

from perfbench import workloads
from perfbench.workloads import DROP_BLOCK, DROP_MAX, DROP_MIN, DROP_STRATA, Ingest, Queries, Run


def make_run(seed=1, seconds=1.0):
    return Run(workload="test", root=".", tmp=".", cache=".", seed=seed, seconds=seconds, trace=False, cpus=1)


def blocks(seed, n=50):
    w = Ingest(make_run(seed))
    return [w.block_sizes() for _ in range(n)]


def test_drop_sizes_cover_the_log_range_and_follow_the_seed():
    sizes = [s for b in blocks(1) for s in b]
    assert all(DROP_MIN <= s <= DROP_MAX for s in sizes)
    assert min(sizes) < 150 and max(sizes) > 15_000
    assert blocks(1) == blocks(1)
    assert blocks(1) != blocks(2)


def test_each_block_holds_a_mirrored_pair_per_stratum():
    lo, hi = math.log(DROP_MIN), math.log(DROP_MAX)
    width = (hi - lo) / DROP_STRATA
    for b in blocks(3, 10):
        assert len(b) == DROP_BLOCK
        strata = sorted(min(int((math.log(s) - lo) / width), DROP_STRATA - 1) for s in b)
        assert strata == sorted(list(range(DROP_STRATA)) * 2)


def test_block_rows_vary_little_with_the_seed():
    totals = [sum(b) for seed in range(20) for b in blocks(seed, 5)]
    mean = sum(totals) / len(totals)
    assert max(abs(t - mean) for t in totals) / mean < 0.2


class Failing(Queries):
    """A query workload whose every query raises."""

    def __init__(self, run):
        super().__init__(run)
        self.order = ["q_a", "q_b"]

    def execute_query(self, name, k):
        raise RuntimeError(f"{name} broke")


def test_a_run_whose_every_operation_fails_still_reports():
    run = make_run(seconds=1e-9)
    w = Failing(run)
    w.timed()  # ends: failed operations count towards the run's seconds
    w.wall_s = 0.5
    assert len(w.failed_s) == 2 and not w.latencies
    assert w.latency_report()["latency_p50_s"] == pytest.approx(statistics.median(w.failed_s))
    assert run.failed == run.attempted == 3
    assert "no timed query succeeded" in run.failures


def test_every_workload_is_registered():
    assert set(workloads.WORKLOADS) == {"ingest_batch", "ingest_stream", "queries_tpch", "queries_iterative"}


class FailingIngest(Ingest):
    """An ingest workload whose every drop raises."""

    def __init__(self, run):
        super().__init__(run)
        self.drops = [("drop.csv", 10, 8)] * 100
        self.next = self.timed_drops = self.timed_rows = 0
        self.main = None
        self.rollups = []

    def next_drop(self, sink, timed=False):
        self.next += 1
        self.failed_s.append(0.01)
        self.run.check(False, "drop raised")
        return None


def test_an_ingest_run_whose_every_drop_fails_ends_on_time():
    run = make_run(seconds=0.1)
    w = FailingIngest(run)
    w.timed()
    assert w.timed_drops == workloads.MIN_TIMED_DROPS and not w.latencies
    assert w.latency_report()["latency_p50_s"] == pytest.approx(0.01)
    assert run.failed == run.attempted == workloads.MIN_TIMED_DROPS + 1
