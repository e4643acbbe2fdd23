"""Run ledger — the engine's state machine over tables (SURVEY.md §1.1).

The reference drives everything off three Trino control tables
(`etl_dates`, `info_etlpipeline_by_sources`, `status_etlpipeline_task_airflow`
— utlis/etl_manager.py:24-26) plus Airflow's metadata DB. Here they are
parquet-backed tables under a warehouse dir, with the same schemas
(FIXTURES.md §1) and the same protocol:

- `next_etl_date`: the business-date queue query — earliest non-holiday date
  with NULL status (utlis/etl_manager.py:43-70).
- `start_run` / `finish_run`: the run_id protocol (mint uuid, insert
  'running' row; flip to success/failed — :271-301, :195-216).
- `save_task_status`: per-task ledger rows (:104-164).
- `latest_status_per_source`: the signature ROW_NUMBER dedup (:228-237).
- `has_succeeded`: resume-skip check (`check_conditions`, :435-468).

Control tables hold a few hundred rows, so control reads never launch
Spark: every query above is Python over `txn.read_arrow` (pyarrow over the
live manifest's files, deletes applied), appends go through
`txn.append_rows`, and each date-queue commit is one driver-side
`txn.commit_rows` under the table flock. A Spark job costs ~1-2 s of
scheduling latency; these cost milliseconds (the reference runs them as
Trino metadata queries). `Ledger.read` is the one DataFrame view of a
control table, for the reports and checks that want Spark.
"""

from __future__ import annotations

import os
import threading
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

ETL_DATES_SCHEMA = (
    "etl_date string, holiday_flag int, status string, current_date_flag int"
)
INFO_SCHEMA = (
    "run_id string, source_name string, etl_date string, status string, "
    "created_at timestamp, created_by string"
)
STATUS_SCHEMA = (
    "run_id string, source_name string, dag_id string, task_id string, "
    "status string, etl_date string, created_at timestamp, created_by string"
)
CHECKPOINT_SCHEMA = (
    "run_id string, name string, schema_name string, source_name string, "
    "status string, etl_date string, created_at timestamp"
)


def _now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def arrow_table(rows: list[tuple], schema: str):
    """Build a pyarrow Table matching a Spark DDL schema string — the
    driver-side fast-append representation. Timestamps become
    timestamp[us, UTC] so Spark reads them as TIMESTAMP (LTZ), type-
    compatible with Spark-written files in the same table; naive
    datetimes from _now() are already UTC instants."""
    import pyarrow as pa

    type_map = {
        "string": pa.string(),
        "int": pa.int32(),
        "long": pa.int64(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "double": pa.float64(),
    }
    fields = []
    for part in schema.split(","):
        name, typ = part.strip().rsplit(" ", 1)
        fields.append(pa.field(name, type_map[typ]))
    cols = list(zip(*rows)) if rows else [[] for _ in fields]
    arrays = [
        pa.array(list(col), type=f.type) for col, f in zip(cols, fields)
    ]
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def _pick_next_date(dates: list[dict]) -> str | None:
    """The queue-pick query (utlis/etl_manager.py:48-53: WHERE
    holiday_flag = 0 AND status IS NULL ORDER BY etl_date LIMIT 1)."""
    return min(
        (r["etl_date"] for r in dates
         if r["holiday_flag"] == 0 and r["status"] is None),
        default=None,
    )


def _commit_dates(path: str, rows: list[tuple]) -> None:
    """Replace etl_dates with `rows` (ETL_DATES_SCHEMA tuples). The caller
    holds the table flock."""
    from .sources import txn

    # keep_versions=4 on hot control tables: claim/mark commits can land
    # in quick succession from a second driver, and a reader pinned to an
    # older manifest must still find its files
    txn.commit_rows(path, arrow_table(rows, ETL_DATES_SCHEMA), keep_versions=4)


def _with_date_status(dates: list[dict], etl_date: str, status: str) -> list[tuple]:
    """UPDATE etl_dates SET status, current_date_flag
    (utlis/etl_manager.py:319-337)."""
    return [
        (r["etl_date"], r["holiday_flag"],
         status if r["etl_date"] == etl_date else r["status"],
         int(r["etl_date"] == etl_date))
        for r in dates
    ]


class Ledger:
    """Parquet-backed control tables under `warehouse_dir`."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.dir = warehouse_dir
        os.makedirs(warehouse_dir, exist_ok=True)
        # Control-table writes serialize on txn's per-table flock, which
        # holds across processes (two drivers on one warehouse) and across
        # the threads of one (flock is per open file). This in-process
        # lock additionally wraps the read-modify-writes that span more
        # than one txn call (the date queue) and the Spark-side writers.
        # The reference gets both from Trino/Iceberg transactions.
        # Data-plane writes never take either.
        self._lock = threading.Lock()

    # -- storage helpers ---------------------------------------------------
    def _path(self, table: str) -> str:
        return os.path.join(self.dir, table)

    def _exists(self, table: str) -> bool:
        from .sources import parquet_table_exists

        return parquet_table_exists(self._path(table))

    def rows(self, table: str) -> list[dict]:
        """A control table's live rows, read on the driver
        (`txn.read_arrow`, no Spark job); [] before its first write."""
        from .sources import txn

        if not self._exists(table):
            return []
        return txn.read_arrow(self._path(table)).to_pylist()

    def read(self, table: str, schema: str) -> DataFrame:
        """The one DataFrame view of a control table (reports, checks)."""
        from .sources import txn

        if self._exists(table):
            return txn.read(self.spark, self._path(table))
        return self.spark.createDataFrame([], schema)

    def append(self, table: str, df: DataFrame) -> None:
        from .sources import txn

        with self._lock:
            # atomic single-file append: a crash never tears a row batch
            txn.append(df, self._path(table))

    def append_rows(self, table: str, rows: list[tuple], schema: str) -> None:
        """Driver-side atomic append — no Spark job. The ledger writes a
        handful of 1-row batches per task; through Spark each costs ~2s of
        job latency (measured), through pyarrow + atomic rename it's
        milliseconds with identical durability. Control tables only.
        Only the table's own lock is taken, so appends to different
        tables never queue on each other."""
        from .sources import txn

        txn.append_rows(self._path(table), arrow_table(rows, schema))

    def overwrite(self, table: str, df: DataFrame) -> None:
        from .sources import txn

        with self._lock:
            # manifest-pointer commit: safe even when df's plan reads the
            # table's live version (the old version dir stays until the
            # pointer flips), so no driver-side materialization needed
            txn.commit(df, self._path(table))

    # -- etl_dates queue ---------------------------------------------------
    def seed_dates(self, dates: list[tuple]) -> None:
        """Seed the date queue: rows (etl_date, holiday_flag, status,
        current_date_flag)."""
        from .sources import txn

        path = self._path("etl_dates")
        with self._lock, txn.table_lock(path):
            _commit_dates(path, dates)

    def next_etl_date(self) -> str | None:
        """Earliest non-holiday, not-yet-processed date (read only; see
        claim_next_date to take it)."""
        return _pick_next_date(self.rows("etl_dates"))

    def claim_next_date(self) -> str | None:
        """Atomically pick the next unprocessed date AND mark it 'running'
        under the table flock — two concurrent driver processes draining
        the same queue cannot claim the same date (the reference gets this
        from Airflow's single scheduler; two Pipelines on one warehouse
        need it from the ledger)."""
        from .sources import txn

        path = self._path("etl_dates")
        with self._lock, txn.table_lock(path):
            dates = self.rows("etl_dates")
            etl_date = _pick_next_date(dates)
            if etl_date is not None:
                _commit_dates(path, _with_date_status(dates, etl_date, "running"))
            return etl_date

    def mark_date(self, etl_date: str, status: str) -> None:
        """Set one date's status and make it the current date.

        The whole read→transform→commit holds the table flock: two driver
        PROCESSES marking different dates would otherwise interleave
        read-modify-writes and one update would vanish (the commit itself
        is atomic either way — this serializes the read against it)."""
        from .sources import txn

        path = self._path("etl_dates")
        with self._lock, txn.table_lock(path):
            _commit_dates(
                path, _with_date_status(self.rows("etl_dates"), etl_date, status)
            )

    # -- run protocol ------------------------------------------------------
    def start_run(
        self, source_name: str, etl_date: str, created_by: str = "master",
        run_id: str | None = None,
    ) -> str:
        """fetch_run_id semantics (utlis/etl_manager.py:271-301): reuse the
        given run_id (triggered-by-group path) or mint a uuid; insert a
        'running' row either way."""
        rid = run_id or str(uuid.uuid4())
        row = [(rid, source_name, etl_date, "running", _now(), created_by)]
        self.append_rows("info_by_sources", row, INFO_SCHEMA)
        return rid

    def finish_run(self, run_id: str, source_name: str, etl_date: str,
                   status: str, created_by: str = "master") -> None:
        """The reference UPDATEs the info row (:195-199); append-only ledgers
        record a terminal row instead — latest_status_per_source() resolves
        current state, matching the reference's read pattern."""
        row = [(run_id, source_name, etl_date, status, _now(), created_by)]
        self.append_rows("info_by_sources", row, INFO_SCHEMA)

    def save_task_status(
        self, run_id: str, source_name: str, dag_id: str, task_id: str,
        status: str, etl_date: str, created_by: str = "engine",
    ) -> None:
        row = [(run_id, source_name, dag_id, task_id, status, etl_date, _now(), created_by)]
        self.append_rows("status_tasks", row, STATUS_SCHEMA)

    def save_checkpoint(
        self, run_id: str, name: str, schema_name: str, source_name: str,
        status: str, etl_date: str,
    ) -> None:
        """Per-model checkpoint row (`checkpoint_etlpipeline_dbt_metadata`,
        utlis/send_email.py:403,430-434): one row per staged table / vault
        model load, feeding the completion-report roll-ups."""
        row = [(run_id, name, schema_name, source_name, status, etl_date, _now())]
        self.append_rows("checkpoints", row, CHECKPOINT_SCHEMA)

    # -- queries -----------------------------------------------------------
    def _latest_per_source(self, etl_date: str) -> dict[str, dict]:
        """The signature dedup (utlis/etl_manager.py:228-237): per source,
        the master/group row of `etl_date` with the latest created_at,
        ties to the larger run_id."""
        rows = sorted(
            (r for r in self.rows("info_by_sources")
             if r["etl_date"] == etl_date
             and r["created_by"] in ("master", "group")),
            key=lambda r: (r["created_at"], r["run_id"]),
        )
        return {r["source_name"]: r for r in rows}  # the latest row wins

    def latest_status_per_source(self, etl_date: str) -> DataFrame:
        """`_latest_per_source` as (source_name, status, etl_date) rows."""
        return self.spark.createDataFrame(
            [(s, r["status"], r["etl_date"])
             for s, r in self._latest_per_source(etl_date).items()],
            "source_name string, status string, etl_date string",
        )

    def has_succeeded(
        self, source_name: str, task_id: str, etl_date: str,
        dag_id: str | None = None,
    ) -> bool:
        """Resume-skip check (`check_conditions`, utlis/etl_manager.py:435-468):
        any success row for this (source, task, date) — scoped to the DAG
        when given (the reference's query filters on the dag-id pattern at
        :441-449; without the scope, same-named tasks in sibling DAGs
        poison each other's resume checks)."""
        return any(
            (r["source_name"], r["task_id"], r["etl_date"], r["status"])
            == (source_name, task_id, etl_date, "success")
            and dag_id in (None, r["dag_id"])
            for r in self.rows("status_tasks")
        )

    def successful_tasks(
        self, source_name: str, etl_date: str, dag_id: str
    ) -> set[str]:
        """All task_ids with a success row for (source, dag, date) — ONE
        ledger read per DAG run instead of one `has_succeeded` per task.
        Safe as a run-start snapshot: a task never runs twice within one
        DAG run, so successes written during the run can't affect its own
        resume-skips."""
        return {
            r["task_id"] for r in self.rows("status_tasks")
            if (r["source_name"], r["etl_date"], r["dag_id"], r["status"])
            == (source_name, etl_date, dag_id, "success")
        }

    def all_sources_green(self, etl_date: str) -> bool:
        """update_status_etl all-success gate (:219-268)."""
        latest = self._latest_per_source(etl_date).values()
        return bool(latest) and all(
            r["status"] in ("success", "skipped") for r in latest
        )
