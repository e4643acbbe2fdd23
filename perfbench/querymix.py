"""The `query_mix` workload: analyst reads over the package's query registry.

One closed-loop client runs passes over `LANES` (oracle-backed registry
entries) in a seeded shuffled order, each lane with a fresh plan, through
Spark's `noop` sink, until `seconds` have passed (at least `MIN_PASSES`),
after `WARMUP_PASSES` untimed passes. After the measured passes, every
lane is collected and compared with its DuckDB oracle
(`queries.oracle_sql()`), using the normalisation of the package's oracle
parity test.

The traced run splits each lane into build (the registry call: Python plan
construction, schema inference and eager jobs), planning (one extra
`executedPlan`) and execution (the noop write, which plans again).
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import statistics
import time
import traceback
from contextlib import nullcontext

import datagen
from layers import plan_runs_python

SF = 0.01
SETUP_REPS = 3
WARMUP_PASSES = 2
MIN_PASSES = 5
LANES = (
    "q1_pricing_summary", "q3_shipping_priority", "q18_large_volume_customer",
    "w1_latest_per_key", "scd2_compress", "dv_bridge_customer_order",
    "dedup_minhash_sigs",
    # an Arrow mapInPandas lane (the Python-worker path)
    "mm_channel_stats",
)


def _parity_helpers(checkout: str):
    """`_oracle_df`, `_normalize` and `_values_equal` of the parity test."""
    path = os.path.join(checkout, "tests", "test_oracle_parity.py")
    spec = importlib.util.spec_from_file_location("perfbench_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def matches_oracle(parity, spark_pdf, oracle_pdf) -> bool:
    if len(spark_pdf) != len(oracle_pdf):
        return False
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False
    s, o = parity._normalize(spark_pdf), parity._normalize(oracle_pdf)
    return all(
        parity._values_equal(a, b)
        for c in s.columns
        for a, b in zip(s[c].tolist(), o[c].tolist())
    )


def run(spark, work: str, seed: int, seconds: float, checkout: str, tracer=None) -> dict:
    from airflow_etl_spark import queries as Q

    phase = tracer.span if tracer else (lambda name: nullcontext())
    registry, oracle = Q.queries(), Q.oracle_sql()

    gen_s = []
    for rep in range(SETUP_REPS):
        sf_dir = os.path.join(work, f"sf{rep}")
        t0 = time.perf_counter()
        datagen.make_snapshot(sf_dir, SF, seed)
        gen_s.append(time.perf_counter() - t0)
        if rep:
            shutil.rmtree(sf_dir)
    sf_dir = os.path.join(work, "sf0")

    rng = random.Random(seed)
    # warm-up (untimed): the first passes of a fresh session are the slowest
    # while the JIT compiles every lane's code paths
    for _ in range(WARMUP_PASSES):
        order = list(LANES)
        rng.shuffle(order)
        for name in order:
            try:
                registry[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception:  # counted when the lane fails in a measured pass
                pass

    pass_s, lane_s = [], {name: [] for name in LANES}
    layer = {"build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0,
             "exec_python_s": 0.0, "exec_jvm_s": 0.0}
    attempted = failed = 0
    errors: list[str] = []
    t_start = time.perf_counter()
    while len(pass_s) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        order = list(LANES)
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            attempted += 1
            t0 = time.perf_counter()
            try:
                with phase("phase.queries"):
                    if tracer is None:
                        registry[name](spark, sf_dir).write.format("noop").mode(
                            "overwrite").save()
                    else:
                        _traced_lane(tracer, registry[name], spark, sf_dir, layer)
            except Exception:
                failed += 1
                errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            lane_s[name].append(time.perf_counter() - t0)
        pass_s.append(time.perf_counter() - t_pass)

    # correctness (untimed): every lane against its DuckDB oracle
    parity = _parity_helpers(checkout)
    checks = {}
    with phase("phase.checks"):
        for name in LANES:
            try:
                checks[name] = matches_oracle(
                    parity, registry[name](spark, sf_dir).toPandas(),
                    parity._oracle_df(sf_dir, oracle[name]))
                if not checks[name]:
                    errors.append(f"lane differs from oracle: {name}")
            except Exception:  # a failing lane is a measured outcome
                checks[name] = False
                errors.append(f"{name}: {traceback.format_exc(limit=3)}")

    attempted += len(checks)
    failed += sum(not ok for ok in checks.values())
    lane_p50 = {n: statistics.median(ts) for n, ts in lane_s.items()}
    # the median request over every lane run of the measured passes
    lat_p50 = statistics.median(t for ts in lane_s.values() for t in ts)
    return {
        "metrics": {
            "setup_s": statistics.median(gen_s),
            # a typical pass: the sum of each lane's median, so that a burst
            # in one pass moves only the lanes it hit
            "total_s": sum(lane_p50.values()),
            "p50_s": lat_p50,
        },
        "layer_extra": {
            **{f"queries.{k}": v / len(pass_s) for k, v in layer.items()},
        },
        "lane_p50_s": lane_p50,
        "pass_s": pass_s,
        "timed_roots": {"phase.queries"},
        "passes": len(pass_s),
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "checks": checks,
    }


def _traced_lane(tracer, fn, spark, sf_dir, layer) -> None:
    t0 = time.perf_counter()
    with tracer.span("queries.build"):
        df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    with tracer.span("queries.plan"):
        runs_python = plan_runs_python(df)
    t2 = time.perf_counter()
    with tracer.span("queries.exec"):
        df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    layer["build_s"] += t1 - t0
    layer["plan_s"] += t2 - t1
    layer["exec_s"] += t3 - t2
    layer["exec_python_s" if runs_python else "exec_jvm_s"] += t3 - t2
