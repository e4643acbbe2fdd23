"""Self-test of the benchmark: counter determinism and tracing overhead.

    python3 perfbench/selftest.py --workload etl_days --seed 7 [--seconds 5]

Runs `run.py` once untraced and twice traced on the same seed, one after
the other. Fails (exit 1) unless every run is correct and the
deterministic counters - Spark jobs, stages and tasks, and
txn.partitions_rewritten - repeat exactly across the two traced runs.
Prints the tracing overhead: each traced wall (trace.total_s, trace.p50_s)
minus its untraced counterpart.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DETERMINISTIC = ("spark.jobs", "spark.stages", "spark.tasks", "txn.partitions_rewritten")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()

    plain = run_once(args.workload, args.seed, args.seconds, 0)
    traced = [run_once(args.workload, args.seed, args.seconds, 1) for _ in range(2)]
    ok = all(r["correct"] for r in [plain, *traced])
    report = {"correct": ok, "counters": {}, "tracing_overhead_s": {}}
    for k in DETERMINISTIC:
        a, b = (r["metrics"][k]["value"] for r in traced)
        report["counters"][k] = [a, b]
        ok = ok and a == b
    for k in ("total_s", "p50_s"):
        report["tracing_overhead_s"][k] = (
            traced[0]["metrics"][f"trace.{k}"]["value"] - plain["metrics"][k]["value"])
    report["deterministic"] = ok
    print(json.dumps(report))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
