"""The lane-measurement CLI: bench.py's lane timer (`bench.measure_lane`:
cleared cache, fresh plan, noop sink, per-run Spark counters) over a
named subset of registry lanes — or over every bench lane (HEADLINE +
EXTENDED) when none is named — bracketed by the jvm canary so readings
are normalizable against full bench runs.

Usage:
    python scripts/time_lanes.py [--runs N] [<lane> ...]

Prints one JSON line:
    {"jvm_canary_ratio_in": ..., "jvm_canary_ratio_out": ...,
     "lanes": {name: {"steady": s, "spread_pct": p,
                      "runs": [{"wall_s", "build_s", "jobs", "build_jobs",
                                "stages", "tasks"}, ...]}}}

Wall times swing with host load; the jobs/stages/tasks counters do not,
so they are the before/after evidence for plan and job-count changes.
`build_jobs` are the jobs the plan build itself launched (schema
inference, eager counts and persists).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_etl_spark import get_spark  # noqa: E402
from airflow_etl_spark import queries as Q  # noqa: E402

import bench  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n_runs = 3
    if args and args[0] == "--runs":
        n_runs = int(args[1])
        args = args[2:]
    names = args or bench.HEADLINE + bench.EXTENDED
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("time_lanes", cpus=int(cpus),
                      shuffle_partitions=int(cpus))
    registry = Q.queries()
    canary_in = bench._jvm_canary(spark) / bench.JVM_CANARY_REF_S
    lanes: dict[str, dict] = {}
    for name in names:
        runs = bench.measure_lane(spark, registry[name], sf_dir, n_runs)
        walls = [r["wall_s"] for r in runs]
        steady = min(walls)
        lanes[name] = {
            "steady": steady,
            "spread_pct": round((max(walls) - steady) / steady, 3),
            "runs": runs,
        }
        print(f"# {name}: {lanes[name]}", file=sys.stderr, flush=True)
    canary_out = bench._jvm_canary(spark) / bench.JVM_CANARY_REF_S
    print(json.dumps({
        "jvm_canary_ratio_in": round(canary_in, 3),
        "jvm_canary_ratio_out": round(canary_out, 3),
        "lanes": lanes,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
