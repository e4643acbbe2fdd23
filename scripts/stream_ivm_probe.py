"""Reproduce the stream_ivm_sink late-session inflation (OPTIMIZATION_r12
"one open measurement anomaly"): time the lane in a FRESH session, age the
session by replaying the exact bench prefix that precedes it (headline +
extended up to stream_ivm_sink, min-of-3 like bench.py), then time it again
with per-batch and per-phase instrumentation so the inflation, if it
reproduces, is attributed to a specific phase (source write / stream drive /
per-batch txn+refresh / final read).

Usage: python scripts/stream_ivm_probe.py [--age-runs N] [--skip-age]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_etl_spark import get_spark  # noqa: E402
from airflow_etl_spark import queries as Q  # noqa: E402
from airflow_etl_spark import streaming  # noqa: E402
import bench  # noqa: E402


def instrumented_stream_ivm(spark, sf_dir):
    """stream_ivm_sink's body with per-phase timers and per-batch capture."""
    from pyspark.sql import functions as F
    from airflow_etl_spark.queries import T, _scratch
    from airflow_etl_spark.sources import txn

    phases = {}
    t0 = time.perf_counter()
    ev = T(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    root = _scratch("stream_ivm_probe_")
    src = root + "/src"
    ev.repartition(4).write.parquet(src)
    phases["src_write"] = time.perf_counter() - t0

    t1 = time.perf_counter()
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    phases["schema_plan"] = time.perf_counter() - t1

    batch_times = []
    orig_apply = streaming.ivm_apply_batch

    def timed_apply(batch_df, batch_id, *a, **kw):
        bt = time.perf_counter()
        orig_apply(batch_df, batch_id, *a, **kw)
        batch_times.append((int(batch_id), round(time.perf_counter() - bt, 3)))

    t2 = time.perf_counter()
    streaming.ivm_apply_batch = timed_apply
    try:
        streaming.write_stream_ivm(
            stream, root + "/base", root + "/mv",
            ["event_type"], {"sum_cents": "cents"}, root + "/ckpt",
        )
    finally:
        streaming.ivm_apply_batch = orig_apply
    phases["stream_drive"] = time.perf_counter() - t2

    t3 = time.perf_counter()
    txn.read(spark, root + "/mv").write.format("noop").mode(
        "overwrite"
    ).save()
    phases["final_read"] = time.perf_counter() - t3
    phases["total"] = time.perf_counter() - t0
    return phases, batch_times


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--age-runs", type=int, default=3)
    ap.add_argument("--skip-age", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("stream_ivm_probe", cpus=cpus, shuffle_partitions=cpus)
    registry = Q.queries()
    registry["q1_pricing_summary"](spark, sf_dir).count()  # warm like bench

    def snapshot(tag):
        out = {"tag": tag}
        for i in range(3):
            ph, bt = instrumented_stream_ivm(spark, sf_dir)
            out[f"run{i}_phases"] = {k: round(v, 3) for k, v in ph.items()}
            out[f"run{i}_batches"] = bt
        print(json.dumps(out), flush=True)

    snapshot("fresh")

    if not args.skip_age:
        prefix = bench.HEADLINE + bench.EXTENDED[
            : bench.EXTENDED.index("stream_ivm_sink")
        ]
        t0 = time.perf_counter()
        for name in prefix:
            bench.measure_lane(spark, registry[name], sf_dir, args.age_runs)
        print(json.dumps({
            "tag": "aged",
            "aging_lanes": len(prefix),
            "aging_wall_s": round(time.perf_counter() - t0, 1),
        }), flush=True)
        snapshot("post-age")

    spark.stop()


if __name__ == "__main__":
    main()
