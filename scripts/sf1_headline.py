#!/usr/bin/env python3
"""Full-headline decade check (VERDICT r9 #8): run bench.py's frozen
18-query HEADLINE set against the sf1-full corpus — sf0.1 with BOTH the
documents/embeddings tables AND the TPC-H tables amplified 10x with
consistent per-copy key shifts (scale_sweep.build_sf1_full) — and print
one JSON line comparing against a same-session sf0.1 pass.

This is the standing "is the 2x gate still comfortable one decade up"
probe: bench.py's lane timer (bench.measure_lane, min of N runs), both
scales measured by the SAME process on the same host so the comparison
needs no canary.

Run:  python scripts/sf1_headline.py  (idle host; ~10 min)
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE, measure_lane  # noqa: E402
from scale_sweep import build_sf1_full  # noqa: E402

from airflow_etl_spark import get_spark  # noqa: E402
from airflow_etl_spark import queries as Q  # noqa: E402

N_RUNS = 2


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("afes_sf1_headline", cpus=cpus, shuffle_partitions=cpus)
    registry = Q.queries()
    print("# building sf1-full corpus ...", file=sys.stderr)
    sf1full = build_sf1_full(spark)
    out: dict[str, dict[str, float]] = {}
    for sf, sf_dir in (("0.1", "/root/testdata/sf0.1"), ("1full", sf1full)):
        for name in HEADLINE:
            runs = measure_lane(spark, registry[name], sf_dir, N_RUNS)
            out.setdefault(name, {})[sf] = min(r["wall_s"] for r in runs)
            print(f"# sf{sf} {name}: {out[name][sf]}s", file=sys.stderr)
    t01 = round(sum(v["0.1"] for v in out.values()), 3)
    t1 = round(sum(v["1full"] for v in out.values()), 3)
    print(json.dumps({
        "metric": "headline_sf1full_vs_sf0.1_wall_seconds",
        "sf0.1_total": t01,
        "sf1full_total": t1,
        "decade_ratio": round(t1 / max(t01, 1e-9), 2),
        "queries": out,
        "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
