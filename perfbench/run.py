"""Benchmark of the airflow_etl_spark package, driven from outside.

    python3 perfbench/run.py --workload etl_days|query_mix --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from the seed under
`.perfbench/` in the checkout (removed afterwards); the package is imported
from the checkout and driven through its public API on one SparkSession
(`local[<cores>]`, driver memory pinned to DRIVER_MEM). Outputs are checked
after the measured region. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} - the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1` (the package's
public calls wrapped in spans, each under its own Spark job group; the
spans are also written to `.perfbench/traces/`).

End-to-end metrics, per workload (see BENCHMARK.json for the workloads):
  setup_s      session start plus the median of SETUP_REPS input builds
  total_s      the measured sequence: etl_days = backfill date + churn
               dates + housekeeping; query_mix = a typical pass, the sum
               over lanes of each lane's median over passes
  p50_s        median request: a churn date / a lane run
  peak_rss_mb  peak resident memory of the driver JVM plus Python tree
  success_rate 1 - (failed dates, lanes, housekeeping tasks and output
               checks) / attempted
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
#: pinned driver heap: the package default (16g) gets the JVM OOM-killed on
#: a 16 GB host, and 4g spills on sf0.1 satellite rewrites
DRIVER_MEM = "6g"
YOUNG_GEN = "1g"
INITIAL_HEAP = "2g"
WORKLOADS = ("etl_days", "query_mix")
#: warm-JVM canary slower than this multiple of bench.JVM_CANARY_REF_S
#: means the host was contended during the run
NOISY_CANARY_RATIO = 2.5


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and every
    live descendant (the JVM, the Python workers)."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def start_spark(work: str):
    from airflow_etl_spark import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        "perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # a fixed young generation: heap growth (and so peak RSS and GC
            # pauses) follows the program's live data, not G1's adaptive sizing
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{INITIAL_HEAP} -Xmn{YOUNG_GEN}",
            # keep every job/stage in the status store for the traced run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the `finally` blocks: stop the JVM, wait
    # for it, and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    base = os.path.join(CHECKOUT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, CHECKOUT)
    try:
        return _run(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, base: str, work: str) -> int:
    import bench  # the repo's host-noise probes (annotation only)
    import etl
    import layers
    import querymix
    from spans import Tracer

    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        steal0 = bench._cpu_steal_snapshot()
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            layers.install(tracer)
        if args.workload == "etl_days":
            res = etl.run(spark, work, args.seed, tracer)
        else:
            res = querymix.run(spark, work, args.seed, args.seconds, CHECKOUT, tracer)
        rss = peak_rss_mb()
        steal1 = bench._cpu_steal_snapshot()
        canary_s = bench._jvm_canary(spark)
        if tracer is not None:
            tracer.unwrap()
            sparkc = tracer.spark_counters()
            metrics = layers.per_layer(tracer, sparkc, res["timed_roots"])
            if res.get("passes"):  # query_mix reports its layers per pass
                metrics = {k: v / res["passes"] for k, v in metrics.items()}
            metrics.update(res["layer_extra"])
            metrics.update({f"trace.{k}": res["metrics"][k] for k in ("total_s", "p50_s")})
            _write_spans(tracer, sparkc, base, args)
    finally:
        stop_spark(spark)

    steal = None
    if steal0 and steal1 and steal1[1] > steal0[1]:
        steal = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
    host = {
        "cores": len(os.sched_getaffinity(0)),
        "driver_mem": DRIVER_MEM,
        "jvm_canary_s": canary_s,
        "jvm_canary_ratio": canary_s / bench.JVM_CANARY_REF_S,
        "cpu_steal_share": steal,
        # a slow warm-JVM canary or hypervisor steal marks a run to re-take;
        # these probes flag runs and never rescale a metric
        "noisy": bool((steal or 0) > 0.05
                      or canary_s > NOISY_CANARY_RATIO * bench.JVM_CANARY_REF_S),
    }
    print(json.dumps({"host": host, "checks": res["checks"],
                      "pass_s": res.get("pass_s"), "lane_p50_s": res.get("lane_p50_s")}))
    for e in res["errors"]:
        print(e, file=sys.stderr)

    if not args.trace:
        m = res["metrics"]
        metrics = {
            "setup_s": session_s + m["setup_s"],
            "total_s": m["total_s"],
            "p50_s": m["p50_s"],
            "peak_rss_mb": rss,
            "success_rate": 1.0 - res["failed"] / res["attempted"],
        }
    units = {"peak_rss_mb": "MB", "success_rate": "ratio"}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units.get(k) or layers.unit_of(k)}
                    for k, v in metrics.items()},
    }))
    return 0


def _write_spans(tracer, sparkc, base: str, args) -> None:
    out = os.path.join(base, "traces")
    os.makedirs(out, exist_ok=True)
    selfs = tracer.self_times()
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump([
            {"id": s.sid, "name": s.name, "parent": s.parent, "start": s.start,
             "end": s.end, "self_s": selfs[s.sid], **s.counts, **sparkc[s.sid]}
            for s in tracer.spans
        ], f)


if __name__ == "__main__":
    sys.exit(main())
