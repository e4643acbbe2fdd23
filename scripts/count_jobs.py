"""Count Spark jobs per registry lane.

Deterministic, load-independent evidence for optimizations that remove
whole Spark actions (per-iteration counts, checkpoint materializations):
wall clock swings with host load, the number of jobs a lane schedules
does not.

Usage:
    python scripts/count_jobs.py <query> [<query> ...]

Prints one JSON line: {name: {"jobs": n}}
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_etl_spark import get_spark  # noqa: E402
from airflow_etl_spark import queries as Q  # noqa: E402


def _job_count(spark) -> int:
    return spark._jsparkSession.sparkContext().statusStore().jobsList(None).size()


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("count_jobs", cpus=int(cpus),
                      shuffle_partitions=int(cpus))
    registry = Q.queries()
    out: dict[str, dict[str, float]] = {}
    for name in names:
        fn = registry[name]
        before = _job_count(spark)
        spark.sparkContext.setJobDescription(f"jobs: {name}")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        after = _job_count(spark)
        out[name] = {"jobs": after - before}
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
