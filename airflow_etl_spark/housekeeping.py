"""Housekeeping DAGs — table maintenance with the reference's scheduling
semantics (SURVEY.md §2.11 C13 + C14).

The reference runs three housekeeping DAGs on monthly/daily crons
(dag_housekeeping/): data-file maintenance (Iceberg optimize +
remove_orphan_files, clean_data.py:35-99, cron '0 12 1 * *'),
metadata-file retention (clean_metadata.py:326-394, cron '0 12 L * *'),
and unused-file GC. **C14 monthly gating** (clean_metadata.py:207-224):
the metadata DAG first checks that the data DAG succeeded *this month* and
skips its work otherwise — metadata retention decisions key off the
post-compaction file set, so running them against a month that never
compacted would retain the wrong files.

Here each DAG is a workflow.DagRunner over the maintenance operators; the
gate reads the engine's own run ledger (the analog of the reference
querying its status table by `date_format(created_at,'%Y-%m')` — the P6
month-bucket predicate). Per-table maintenance fans out through
`workflow.run_concurrently`, `max_workers` tables at a time (default
`workflow.MAX_ACTIVE_TASKS`; the reference runs 10 concurrent `optimize`
calls), and the GC and retention plans are driver-side file listings
that launch no Spark job.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import SparkSession

from .ledger import Ledger
from .operators import maintenance
from .workflow import (
    MAX_ACTIVE_TASKS, DagRunner, RunContext, Task, run_concurrently,
)

DATA_DAG_ID = "04__housekeeping__data"
META_DAG_ID = "05__housekeeping__metadata"
DATA_TASK_ID = "compact_tables"


def current_month() -> str:
    """Wall-clock 'yyyy-MM' (UTC — the ledger's created_at clock). The
    reference's gate compares status-row timestamps against the CURRENT
    month (clean_metadata.py:216-217), not the business date."""
    from datetime import datetime, timezone

    return datetime.now(timezone.utc).strftime("%Y-%m")


def data_housekeeping_succeeded_this_month(
    ledger: Ledger, month: str
) -> bool:
    """C14 gate predicate: a success row for the data-housekeeping compact
    task whose created_at falls in `month` (reference
    clean_metadata.py:207-224 — `date_format(created_at, '%Y-%m') =
    current_month`). A driver-side ledger read; no Spark job."""
    return any(
        (r["dag_id"], r["task_id"], r["status"])
        == (DATA_DAG_ID, DATA_TASK_ID, "success")
        and r["created_at"].strftime("%Y-%m") == month
        for r in ledger.rows("status_tasks")
    )


def fold_control_tables(ledger: Ledger) -> int:
    """Rewrite every control table under the ledger's dir that holds more
    than one file (or pending deletes) as ONE file — `txn.read_arrow` →
    `txn.commit_rows` under the table lock. Each ledger row lands as its
    own small file, and the driver-side reader opens every one, so this
    bounds the reader's file count. The rows are unchanged; the previous
    version stays readable for the table's retention window. Returns the
    number of tables folded."""
    from .sources import txn

    folded = 0
    for name in os.listdir(ledger.dir):
        path = os.path.join(ledger.dir, name)
        if txn.live_manifest(path) is None:
            continue
        with txn.table_lock(path):
            m = txn.live_manifest(path)
            if len(m["files"]) <= 1 and not m.get("deletes"):
                continue
            # keep_versions=4 matches the date queue's own commits
            txn.commit_rows(path, txn.read_arrow(path), keep_versions=4)
            folded += 1
    return folded


def data_housekeeping_dag(
    spark: SparkSession,
    table_paths: list[str],
    target_file_bytes: int = 500 * 1024 * 1024,
    sleep_fn: Callable[[float], None] | None = None,
    max_workers: int = MAX_ACTIVE_TASKS,
    catalog=None,
    matview_root: str | None = None,
) -> DagRunner:
    """The data-file maintenance DAG: compact every owned table to
    ~target-sized files (the reference's `ALTER TABLE … EXECUTE
    optimize(file_size_threshold => '500MB')` per table,
    clean_data.py:35-99). Compaction commits through the atomic
    manifest-pointer protocol (sources.txn) — a crash mid-compact leaves
    every table readable. Tables compact concurrently, at most
    `max_workers` at a time (the reference runs 10 concurrent optimize
    calls, clean_data.py:89-93; Spark's scheduler interleaves the rewrite
    jobs, and per-table locks keep commits independent). Every table
    finishes before a failure fails the task; its retry re-runs every
    table, and one the failed attempt compacted is then usually a no-op
    (see maintenance.compact's skip rule).

    `catalog` (a sources.catalog_txn.WarehouseCatalog, optional): when
    the warehouse has a catalog, a `sync_catalog_pins` task runs BEFORE
    compaction so every table's `_pins` file reflects the catalog's
    currently-retained snapshots — the table GC each compaction commit
    triggers then provably keeps every version a catalog branch still
    pins, even when the catalog was last written by another process.

    `matview_root` (optional): when the warehouse carries materialized
    views (operators/matview.py), a `refresh_matviews` task runs BEFORE
    compaction (refreshes ride the cheap append path against the
    pre-compaction manifests) and a `rebase_matviews` task runs AFTER it
    (compaction is content-preserving, so views re-pin without the
    O(base) empty-delta differential; anything rebase's count guard
    refuses is reported needs_refresh, never silently advanced)."""

    def refresh_views(ctx: RunContext) -> str:
        from .operators import matview

        res = matview.refresh_all(spark, matview_root)
        return f"refreshed {len(res)} views: " + ", ".join(
            f"{p.rsplit('/', 1)[-1]}={i['mode']}" for p, i in res.items()
        )

    def rebase_views(ctx: RunContext) -> str:
        from .operators import matview

        res = matview.rebase_all(spark, matview_root)
        return f"rebased {len(res)} views: " + ", ".join(
            f"{p.rsplit('/', 1)[-1]}={i['mode']}" for p, i in res.items()
        )

    def sync_pins(ctx: RunContext) -> str:
        catalog._sync_table_pins()
        return f"pins synced for {len(catalog.pinned_versions())} tables"

    def compact_all(ctx: RunContext) -> str:
        run_concurrently(spark, [
            functools.partial(maintenance.compact, spark, p, target_file_bytes)
            for p in table_paths
        ], max_workers)
        return f"compacted {len(table_paths)} tables"

    # linear chain: start -> [sync_catalog_pins] -> [refresh_matviews]
    #               -> compact -> [rebase_matviews] -> end
    tasks = [Task("start")]
    prev = "start"
    if catalog is not None:
        tasks.append(Task("sync_catalog_pins", fn=sync_pins, depends_on=[prev]))
        prev = "sync_catalog_pins"
    if matview_root is not None:
        tasks.append(
            Task("refresh_matviews", fn=refresh_views, depends_on=[prev])
        )
        prev = "refresh_matviews"
    tasks.append(
        Task(DATA_TASK_ID, fn=compact_all, depends_on=[prev], retries=1)
    )
    prev = DATA_TASK_ID
    if matview_root is not None:
        tasks.append(
            Task("rebase_matviews", fn=rebase_views, depends_on=[prev])
        )
        prev = "rebase_matviews"
    tasks.append(Task("end", depends_on=[prev]))
    return DagRunner(DATA_DAG_ID, tasks, sleep_fn=sleep_fn)


MOR_DAG_ID = "07__housekeeping__mor_deletes"
MOR_TASK_ID = "fold_mor_deletes"


def mor_maintenance_dag(
    spark: SparkSession,
    table_paths: list[str],
    max_delete_files: int = 8,
    max_read_groups: int = 4,
    target_file_bytes: int = 500 * 1024 * 1024,
    sleep_fn: Callable[[float], None] | None = None,
) -> DagRunner:
    """Delete-pressure maintenance DAG — the MoR counterpart of the
    monthly size compaction, meant for a TIGHT cron (daily/hourly): a
    continuously-upserted table (`txn.upsert_mor`, the streaming CDC
    sink) grows one equality-delete file per batch, and every read pays
    one broadcast anti-join per applicable delete until a rewrite folds
    them (txn._read_with_deletes). The sweep reads one manifest per table
    (metadata-only) and rewrites ONLY tables whose delete pressure
    crossed the threshold, so the steady-state cost is O(busy tables),
    not O(owned tables) — the reference's scheduled `optimize` analog
    (utlis/clean_data.py:49) specialized to delete-file pressure. Tables
    are swept concurrently, `workflow.MAX_ACTIVE_TASKS` at a time, like
    the data DAG's compaction."""

    def fold_all(ctx: RunContext) -> str:
        folded = run_concurrently(spark, [
            functools.partial(
                maintenance.compact_if_delete_pressure, spark, p,
                max_delete_files, max_read_groups, target_file_bytes,
            )
            for p in table_paths
        ])
        return f"folded deletes on {sum(folded)}/{len(table_paths)} tables"

    tasks = [
        Task("start"),
        Task(MOR_TASK_ID, fn=fold_all, depends_on=["start"], retries=1),
        Task("end", depends_on=[MOR_TASK_ID]),
    ]
    return DagRunner(MOR_DAG_ID, tasks, sleep_fn=sleep_fn)


UNUSED_DAG_ID = "06__housekeeping__unused"


def unused_file_dag(
    spark: SparkSession,
    root: str,
    live_paths: list[str],
    fs=None,
    dry_run: bool = True,
    sleep_fn: Callable[[float], None] | None = None,
    grace_s: float = 24 * 3600.0,
) -> DagRunner:
    """The unused-file GC DAG (reference housekeeping__unused_file.py,
    clean_metadata.py:498-528): list every file under the warehouse root,
    keep those claimed by live tables, DELETE the rest through the FS
    abstraction. Generate-then-execute: the plan lands in the run context
    either way; `dry_run=False` performs the deletes (fs.delete — LocalFS
    or HadoopFS, so the same DAG runs against an object store).

    `grace_s` (default 24h) shields files younger than the cutoff: a
    table created by a concurrent pipeline run after `live_paths` was
    assembled must not be deleted as orphan (ADVICE r2 — the reference's
    age-based `retention_threshold` serves the same purpose)."""
    from .sources.fs import LocalFS

    the_fs = fs or LocalFS()

    def orphans() -> list[str]:
        # a driver-side listing: a DataFrame of it would cost a Spark job
        # and a Python worker pool to collect
        return [p for p, _n in maintenance.orphan_rows(
            root, live_paths, fs=the_fs, min_age_s=grace_s
        )]

    def plan_gc(ctx: RunContext):
        paths = orphans()
        ctx.results["gc_plan"] = paths
        return f"{len(paths)} orphan files"

    def execute_gc(ctx: RunContext):
        paths = ctx.results.get("gc_plan")
        if paths is None:
            # plan task resume-skipped on a re-run → recompute (the plan
            # is cheap and idempotent; silently deleting nothing would
            # report success for work never done)
            paths = orphans()
        if dry_run:
            return f"dry run: would delete {len(paths)} files"
        n = sum(1 for p in paths if the_fs.delete(p))
        return f"deleted {n} files"

    tasks = [
        Task("start"),
        Task("plan_gc", fn=plan_gc, depends_on=["start"]),
        Task("execute_gc", fn=execute_gc, depends_on=["plan_gc"]),
        Task("end", depends_on=["execute_gc"]),
    ]
    return DagRunner(UNUSED_DAG_ID, tasks, sleep_fn=sleep_fn)


def metadata_housekeeping_dag(
    spark: SparkSession,
    ledger: Ledger,
    root: str,
    cutoff_epoch_s: float,
    sleep_fn: Callable[[float], None] | None = None,
    gate_month: str | None = None,
) -> DagRunner:
    """The metadata-retention DAG with the C14 monthly gate: branch to the
    retention work only when data housekeeping succeeded this month, else
    straight to end (the reference's early-return at
    clean_metadata.py:207-224). The retention step only *plans* (keep/
    delete rows); committing deletions stays with the caller — the
    reference's generate-then-execute housekeeping style.

    A `fold_control_tables` task runs first, ungated: it folds each
    control table's per-row files into one (see fold_control_tables)."""

    def fold(ctx: RunContext) -> str:
        return f"folded {fold_control_tables(ledger)} control tables"

    def check_gate(ctx: RunContext) -> str:
        month = gate_month or current_month()
        if data_housekeeping_succeeded_this_month(ledger, month):
            return "retention_plan"
        return "end"

    def run_retention(ctx: RunContext) -> str:
        plan = maintenance.retention_rows(root, cutoff_epoch_s)
        ctx.results["retention_rows"] = len(plan)
        n_delete = sum(action == "delete" for _p, action in plan)
        return f"{n_delete} files planned for deletion"

    tasks = [
        Task("start"),
        Task("fold_control_tables", fn=fold, depends_on=["start"]),
        Task(
            "check_monthly_gate", fn=check_gate,
            depends_on=["fold_control_tables"], is_branch=True,
        ),
        Task("retention_plan", fn=run_retention, depends_on=["check_monthly_gate"]),
        Task(
            "end",
            depends_on=["check_monthly_gate", "retention_plan"],
            trigger_rule="all_done",
        ),
    ]
    return DagRunner(META_DAG_ID, tasks, sleep_fn=sleep_fn)
