"""Decade probe for graph_neighbor_jaccard's ADAPTIVE degree joins
(r12, VERDICT r11 "next round" #1 follow-through / OPTIMIZATION_r12
"not yet optimized" #4): the r12 adaptive gate removed the forced
O(V)-degree broadcast's crash risk, but the SHUFFLE path it degrades to
had no decade measurement. This probe times the lane at sf0.1 and at
the sf1-full decade (TPC-H tables amplified 10x, the graph lanes' real
10x point) in BOTH physical shapes:

  - broadcast: the shipped default (supplier-dim bound fits the budget)
  - shuffle:   core.BROADCAST_MAX_ROWS forced to 0, dissolving every
               degree-side hint — the exact shape a >500k-node graph
               takes at 100 TB

Timing is bench.py's lane timer (bench.measure_lane, min of N runs),
bracketed by the jvm canary.

Run:  python scripts/graph_shuffle_probe.py [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from airflow_etl_spark import get_spark  # noqa: E402
from airflow_etl_spark import queries as Q  # noqa: E402
from airflow_etl_spark.operators import core  # noqa: E402

import bench  # noqa: E402
import scale_sweep  # noqa: E402

LANES = ["graph_neighbor_jaccard", "graph_resource_allocation"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("graph_shuffle_probe", cpus=cpus,
                      shuffle_partitions=cpus)
    registry = Q.queries()

    print("# building sf1-full corpus ...", file=sys.stderr)
    sf1full = scale_sweep.build_sf1_full(spark)
    scales = {"0.1": scale_sweep.SF_DIRS["0.1"], "1full": sf1full}

    canary_in = bench._jvm_canary(spark) / bench.JVM_CANARY_REF_S
    default_budget = core.BROADCAST_MAX_ROWS
    out: dict[str, dict[str, dict[str, float]]] = {}
    for name in LANES:
        fn = registry[name]
        out[name] = {}
        for sf, sf_dir in scales.items():
            out[name][sf] = {}
            for mode, budget in (
                ("broadcast", default_budget), ("shuffle", 0)
            ):
                core.BROADCAST_MAX_ROWS = budget
                try:
                    runs = bench.measure_lane(
                        spark, fn, sf_dir, max(1, args.runs)
                    )
                finally:
                    core.BROADCAST_MAX_ROWS = default_budget
                out[name][sf][mode] = min(r["wall_s"] for r in runs)
                print(f"# {name} sf{sf} {mode}: {out[name][sf][mode]}s",
                      file=sys.stderr)
    canary_out = bench._jvm_canary(spark) / bench.JVM_CANARY_REF_S
    print(json.dumps({
        "jvm_canary_ratio_in": round(canary_in, 3),
        "jvm_canary_ratio_out": round(canary_out, 3),
        "lanes": out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
