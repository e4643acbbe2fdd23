"""The `etl_days` workload: a backfill day, seeded churn days, housekeeping.

One closed-loop client drives the package's public pipeline API:

1. `Pipeline.run` on a fresh warehouse (two sources plus a multi-source
   hub, sources fanned out over `max_workers=2`) - the bulk-write path;
2. `CHURN_DAYS` churn days run serially (`max_workers=1`), each over a
   source directory `datagen.make_day` derived from the previous one -
   the incremental path (hub/link deltas, copy-on-write satellite bucket
   rewrites, drift checks, ledger reads, resume-skip);
3. the data-housekeeping (compaction) DAG, then the unused-file GC DAG.

The work is fixed, so every run measures the same sequence. Correctness is
checked after the measured region against the generator's key counts.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from contextlib import nullcontext

import pyarrow.parquet as pq

import datagen

SF = 0.01
CHURN_DAYS = 1
SETUP_REPS = 3
DATES = [f"2024-01-{d:02d}" for d in range(1, CHURN_DAYS + 2)]


def _configs():
    from airflow_etl_spark.pipeline import (
        EntityConfig, LinkConfig, MultiSourceConfig, SourceConfig,
    )

    sources = [
        SourceConfig("erp_sales", ["customer", "orders", "lineitem", "nation"], entities=[
            EntityConfig("customer", "customer", ["c_custkey"],
                         ["c_name", "c_mktsegment", "c_acctbal"], domain="01_Customer"),
            EntityConfig("order", "orders", ["o_orderkey"],
                         ["o_orderstatus", "o_orderpriority", "o_totalprice"],
                         domain="02_Sales"),
        ], links=[
            LinkConfig("customer_order", "orders", "customer", ["o_custkey"],
                       "order", ["o_orderkey"], domain="02_Sales"),
            LinkConfig("order_part", "lineitem", "order", ["l_orderkey"],
                       "part", ["l_partkey"], domain="02_Sales"),
        ]),
        SourceConfig("erp_supply", ["supplier", "part", "nation"], entities=[
            EntityConfig("supplier", "supplier", ["s_suppkey"], ["s_name", "s_acctbal"]),
        ]),
    ]
    multi = MultiSourceConfig(
        ["erp_sales", "erp_supply"],
        entities=[EntityConfig("nation", "nation", ["n_nationkey"], [])],
    )
    return sources, multi


def generate(root: str, seed: int) -> dict:
    """Day 0 snapshot plus every churn day, with their key counts."""
    day_dirs = [os.path.join(root, "d0")]
    rows0 = datagen.make_snapshot(day_dirs[0], SF, seed)
    churn = []
    for k in range(1, CHURN_DAYS + 1):
        day_dirs.append(os.path.join(root, f"d{k}"))
        churn.append(datagen.make_day(day_dirs[k - 1], day_dirs[k], seed, k))
    return {"dirs": day_dirs, "rows0": rows0, "churn": churn}


def _parquet_files(root: str, schemas=("staging", "raw_vault")) -> dict[str, int]:
    out = {}
    for schema in schemas:
        for dirpath, _dirs, files in os.walk(os.path.join(root, schema)):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getsize(p)
    return out


def _source_bytes(day_dir: str, sources) -> int:
    return sum(os.path.getsize(os.path.join(day_dir, f"{t}.parquet"))
               for s in sources for t in s.tables)


def _table_paths(wh: str, schemas) -> list[str]:
    return [os.path.join(wh, s, t) for s in schemas
            for t in sorted(os.listdir(os.path.join(wh, s)))]


def run(spark, work: str, seed: int, tracer=None) -> dict:
    from airflow_etl_spark import housekeeping
    from airflow_etl_spark.pipeline import Pipeline
    from airflow_etl_spark.sources import txn

    phase = tracer.span if tracer else (lambda name: nullcontext())
    sources, multi = _configs()

    # -- set-up: generate the inputs (repeated; median reported) ----------
    gen_s = []
    for rep in range(SETUP_REPS):
        root = os.path.join(work, f"src{rep}")
        t0 = time.perf_counter()
        generated = generate(root, seed)
        gen_s.append(time.perf_counter() - t0)
        if rep == 0:
            data = generated
        else:
            shutil.rmtree(root)
    wh = os.path.join(work, "wh")
    t0 = time.perf_counter()
    with phase("phase.setup"):
        p = Pipeline(spark, wh, sources, data["dirs"][0], multi=multi)
        p.ledger.seed_dates([(d, 0, None, 0) for d in DATES])
    setup_s = statistics.median(gen_s) + (time.perf_counter() - t0)

    attempted = failed = 0
    errors: list[str] = []

    def run_date(k: int, workers: int) -> float:
        nonlocal attempted, failed
        attempted += 1
        p.sf_dir = data["dirs"][k]
        t0 = time.perf_counter()
        try:
            with phase("phase.backfill" if k == 0 else "phase.day"):
                p.run(DATES[k], max_workers=workers)
        except Exception:  # a failed date is a measured outcome, not a crash
            failed += 1
            errors.append(traceback.format_exc(limit=3))
        return time.perf_counter() - t0

    # -- measured region ----------------------------------------------------
    backfill_s = run_date(0, workers=2)
    day_s, written = [], 0
    for k in range(1, CHURN_DAYS + 1):
        before = _parquet_files(wh)
        day_s.append(run_date(k, workers=1))
        after = _parquet_files(wh)
        written += sum(n for f, n in after.items() if f not in before)

    vault_tables = _table_paths(wh, ("raw_vault",))
    files_before = sum(len(txn.data_files(t)) for t in vault_tables)
    live_before = set(_parquet_files(wh))
    t0 = time.perf_counter()
    with phase("phase.housekeeping"):
        compact = housekeeping.data_housekeeping_dag(spark, vault_tables).run(
            p.ledger, "housekeeping", DATES[-1])
    compact_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with phase("phase.housekeeping"):
        gc = housekeeping.unused_file_dag(
            spark, wh, _table_paths(wh, ("staging", "raw_vault", "operational_metadata")),
            dry_run=False,
        ).run(p.ledger, "housekeeping", DATES[-1])
    gc_s = time.perf_counter() - t0
    for statuses in (compact, gc):
        for st in statuses.values():
            attempted += 1
            failed += st not in ("success", "skipped")
    # -- end of measured region ---------------------------------------------

    files_after = sum(len(txn.data_files(t)) for t in vault_tables)
    rewritten = sum(n for f, n in _parquet_files(wh).items() if f not in live_before)
    live = sum(txn.live_bytes(t) for t in _table_paths(
        wh, ("staging", "raw_vault", "operational_metadata")))
    ingested = sum(_source_bytes(d, sources) for d in data["dirs"])
    changed = sum(c["changed_bytes"] for c in data["churn"])

    with phase("phase.checks"):
        checks = check(spark, p, data)
    attempted += len(checks)
    failed += sum(not ok for ok in checks.values())
    errors += [f"check failed: {name}" for name, ok in checks.items() if not ok]

    return {
        "metrics": {
            "setup_s": setup_s,
            "total_s": backfill_s + sum(day_s) + compact_s + gc_s,
            "p50_s": statistics.median(day_s),
        },
        "layer_extra": {
            "etl.backfill_s": backfill_s,
            "etl.housekeeping_s": compact_s + gc_s,
            "etl.write_amp": written / changed,
            "etl.space_amp": live / ingested,
            "housekeeping.compact_s": compact_s,
            "housekeeping.gc_s": gc_s,
            "housekeeping.files_before": files_before,
            "housekeeping.files_after": files_after,
            "housekeeping.bytes_rewritten": rewritten,
        },
        "timed_roots": {"phase.backfill", "phase.day", "phase.housekeeping"},
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "checks": checks,
    }


def check(spark, p, data) -> dict[str, bool]:
    """Vault contents against the generator's key counts, and the ledger."""
    from pyspark.sql import functions as F

    from airflow_etl_spark.ledger import ETL_DATES_SCHEMA

    out: dict[str, bool] = {}
    rows0, churn = data["rows0"], data["churn"]
    ever = {
        "customer": rows0["customer"] + sum(c["customer"]["new"] for c in churn),
        "order": rows0["orders"] + sum(c["order"]["new"] for c in churn),
        "supplier": rows0["supplier"], "nation": rows0["nation"],
    }
    live = {
        "customer": ever["customer"] - sum(c["customer"]["retired"] for c in churn),
        "order": ever["order"] - sum(c["order"]["retired"] for c in churn),
        "supplier": rows0["supplier"],
    }
    closed = {
        e: sum(c[e]["changed"] + c[e]["retired"] for c in churn)
        for e in ("customer", "order")
    }
    closed["supplier"] = 0
    keys = {"customer": "c_custkey", "order": "o_orderkey", "supplier": "s_suppkey",
            "nation": "n_nationkey"}

    # hub keys == every business key the sources ever held (ids 0..n-1)
    for ent, n in ever.items():
        r = p._read("raw_vault", f"hub_{ent}").agg(
            F.count("*").alias("n"), F.countDistinct(keys[ent]).alias("d"),
            F.min(keys[ent]).alias("lo"), F.max(keys[ent]).alias("hi"),
        ).collect()[0]
        out[f"hub_{ent}_keys"] = (r.n, r.d, r.lo, r.hi) == (n, n, 0, n - 1)

    # one open satellite row per live key; closed rows == changed + retired
    for ent, n_live in live.items():
        hk = f"{ent}_hash_key"
        sat = p._read("raw_vault", f"satellite_{ent}")
        r = sat.agg(
            F.sum(F.col("load_end_date").isNull().cast("long")).alias("open"),
            F.sum(F.col("load_end_date").isNotNull().cast("long")).alias("closed"),
            F.countDistinct(F.when(F.col("load_end_date").isNull(), F.col(hk))).alias("open_keys"),
        ).collect()[0]
        out[f"satellite_{ent}_one_open_per_live_key"] = r.open == r.open_keys == n_live
        out[f"satellite_{ent}_closed_rows"] = r.closed == closed[ent]

    # links: one row per distinct key pair ever seen
    def pairs(table, cols):
        seen = set()
        for d in data["dirs"]:
            t = pq.read_table(os.path.join(d, f"{table}.parquet"), columns=cols)
            seen |= set(zip(*(t.column(c).to_pylist() for c in cols)))
        return len(seen)

    out["link_customer_order_rows"] = (
        p._read("raw_vault", "link_customer_order").count()
        == pairs("orders", ["o_custkey", "o_orderkey"]))
    out["link_order_part_rows"] = (
        p._read("raw_vault", "link_order_part").count()
        == pairs("lineitem", ["l_orderkey", "l_partkey"]))

    # every date marked success in the ledger
    status = {r.etl_date: r.status for r in
              p.ledger.read("etl_dates", ETL_DATES_SCHEMA).collect()}
    for d in DATES:
        out[f"ledger_{d}_success"] = status.get(d) == "success"
    return out
