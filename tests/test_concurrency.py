"""Concurrency smoke: declared queries must be safe to run from multiple
threads on one SparkSession (a driver/harness may parallelize); guards
against shared mutable state in query functions (e.g. temp-view name
collisions)."""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from sales_data_pipeline_gcp_spark.plans import registry

NAMES = [
    "q_agg_group",
    "q_subquery_scalar",      # uses temp views
    "q_subquery_correlated",  # uses the same temp views concurrently
    "q_join_star",
    "q_text_tokens",
    "q_sample_hash",
    "q_window_rank",
    "q_dedup_exact",
    "q_dedup_clusters",       # fixpoint rounds read per-round Observations
    "q_graph_sssp",
]


def test_parallel_query_execution(spark, sf_dir):
    qs = registry.all_queries()

    def run(name):
        return name, qs[name].fn(spark, sf_dir).count()

    with ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(run, NAMES * 2))
    counts = {name: [n for q, n in results if q == name] for name in NAMES}
    assert all(len(ns) == 2 and ns[0] == ns[1] > 0 for ns in counts.values()), counts


#: Session keys a stateful demo stream sets for its own drain.
STREAM_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
)


@pytest.mark.parametrize("name", ["q_stream_dedup", "q_stream_join", "q_stream_join_outer"])
def test_stream_conf_does_not_leak_into_caller(spark, sf_smoke_dir, name):
    """A stateful demo stream drains with its own shuffle-partition count
    (and, for eager-emission streams, without the final no-data batch); a
    neighbour on the caller's session must never see those settings, and
    the caller's conf must be identical afterwards."""
    before = dict(spark.conf.getAll)
    own = tuple(spark.conf.get(k) for k in STREAM_KEYS)
    seen = set()
    with ThreadPoolExecutor(max_workers=1) as ex:
        fut = ex.submit(lambda: registry.all_queries()[name].fn(spark, sf_smoke_dir).count())
        while not fut.done():
            seen.add(tuple(spark.conf.get(k) for k in STREAM_KEYS))
            time.sleep(0.005)
        assert fut.result() > 0
    assert seen <= {own}, f"caller saw {seen - {own}} while {name} drained"
    assert dict(spark.conf.getAll) == before
