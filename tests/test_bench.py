"""bench.measure_lane, the one lane timer behind bench.py and
scripts/time_lanes.py: its Spark counters repeat exactly on a fixed
tree, and every bench lane names a registry entry."""

from __future__ import annotations

import pytest

import bench
from airflow_etl_spark import queries as Q


def test_bench_lanes_are_registry_entries():
    registry = Q.queries()
    missing = [n for n in bench.HEADLINE + bench.EXTENDED if n not in registry]
    assert not missing, f"bench lanes missing from queries(): {missing}"


@pytest.mark.parametrize("name", ["q1_pricing_summary", "dedup_lsh_pairs"])
def test_lane_counters_repeat_across_runs_and_calls(spark, sf_dir, name):
    """dedup_lsh_pairs persists its signature matrix at build time: a
    timer that kept the cache between runs would count fewer jobs from
    run 2 on."""
    fn = Q.queries()[name]
    # a cold first build also infers its tables' schemas (the catalog
    # caches them for the process): warm it so every run starts alike
    fn(spark, sf_dir)
    runs = bench.measure_lane(spark, fn, sf_dir, 2)
    runs += bench.measure_lane(spark, fn, sf_dir, 2)
    counters = {(r["jobs"], r["stages"], r["tasks"]) for r in runs}
    assert len(counters) == 1, runs
    jobs, stages, tasks = counters.pop()
    assert 0 < jobs <= stages <= tasks
    for r in runs:
        assert 0 <= r["build_s"] <= r["wall_s"]


def test_repeat_build_launches_no_jobs(spark, sf_dir):
    """q1's plan build runs no Spark job once the catalog holds
    lineitem's schema."""
    runs = bench.measure_lane(spark, Q.queries()["q1_pricing_summary"], sf_dir, 2)
    assert runs[1]["build_jobs"] == 0, runs
    assert runs[1]["jobs"] > 0
