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

Control tables are tiny; reads collect to the driver by design (the data
plane never does).
"""

from __future__ import annotations

import os
import threading
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.core import first_by, latest_per_key

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


def _arrow_table(rows: list[tuple], schema: str):
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


def _pick_next_date(dates: DataFrame) -> str | None:
    """The queue-pick query (utlis/etl_manager.py:48-53: WHERE
    holiday_flag = 0 AND status IS NULL ORDER BY etl_date LIMIT 1)."""
    picked = first_by(
        dates.filter((F.col("holiday_flag") == 0) & F.col("status").isNull()),
        ["etl_date"],
    ).collect()
    return picked[0].etl_date if picked else None


def _commit_date_status(
    dates: DataFrame, path: str, etl_date: str, status: str
) -> None:
    """UPDATE etl_dates SET status, current_date_flag
    (utlis/etl_manager.py:319-337). The caller holds the table flock."""
    from .sources import txn

    is_date = F.col("etl_date") == etl_date
    out = dates.withColumn(
        "status", F.when(is_date, F.lit(status)).otherwise(F.col("status"))
    ).withColumn(
        "current_date_flag", F.when(is_date, F.lit(1)).otherwise(F.lit(0))
    )
    # keep_versions=4 on hot control tables: claim/mark commits can land
    # in quick succession from a second driver, and a reader pinned to an
    # older manifest must still find its files
    txn._commit_locked(out, path, keep_versions=4)


class Ledger:
    """Parquet-backed control tables under `warehouse_dir`."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.dir = warehouse_dir
        os.makedirs(warehouse_dir, exist_ok=True)
        # Control-table writes serialize twice over: this in-process lock
        # keeps the per-source thread fan-out (C2) orderly, and txn's
        # per-table flock serializes ACROSS processes (two drivers on one
        # warehouse). The reference gets both from Trino/Iceberg
        # transactions. Data-plane writes never take either.
        self._lock = threading.Lock()

    # -- storage helpers ---------------------------------------------------
    def _path(self, table: str) -> str:
        return os.path.join(self.dir, table)

    def _exists(self, table: str) -> bool:
        from .sources import parquet_table_exists

        return parquet_table_exists(self._path(table))

    def read(self, table: str, schema: str) -> DataFrame:
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
        milliseconds with identical durability. Control tables only."""
        from .sources import txn

        with self._lock:
            txn.append_rows(self._path(table), _arrow_table(rows, schema))

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
        self.overwrite(
            "etl_dates", self.spark.createDataFrame(dates, ETL_DATES_SCHEMA)
        )

    def next_etl_date(self) -> str | None:
        """Earliest non-holiday, not-yet-processed date (read only; see
        claim_next_date to take it)."""
        return _pick_next_date(self.read("etl_dates", ETL_DATES_SCHEMA))

    def claim_next_date(self) -> str | None:
        """Atomically pick the next unprocessed date AND mark it 'running'
        under the table flock — two concurrent driver processes draining
        the same queue cannot claim the same date (the reference gets this
        from Airflow's single scheduler; two Pipelines on one warehouse
        need it from the ledger)."""
        from .sources import txn

        path = self._path("etl_dates")
        with self._lock, txn.table_lock(path):
            if not txn.table_exists(path):
                return None
            df = txn.read(self.spark, path)
            etl_date = _pick_next_date(df)
            if etl_date is not None:
                _commit_date_status(df, path, etl_date, "running")
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
            df = (
                txn.read(self.spark, path)
                if txn.table_exists(path)
                else self.spark.createDataFrame([], ETL_DATES_SCHEMA)
            )
            _commit_date_status(df, path, etl_date, status)

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
    def latest_status_per_source(self, etl_date: str) -> DataFrame:
        """The signature dedup (utlis/etl_manager.py:228-237)."""
        df = self.read("info_by_sources", INFO_SCHEMA).filter(
            (F.col("etl_date") == etl_date)
            & F.col("created_by").isin("master", "group")
        )
        return latest_per_key(
            df, ["source_name"], "created_at", tie_breakers=["run_id"]
        ).select("source_name", "status", "etl_date")

    def has_succeeded(
        self, source_name: str, task_id: str, etl_date: str,
        dag_id: str | None = None,
    ) -> bool:
        """Resume-skip check (`check_conditions`, utlis/etl_manager.py:435-468):
        any success row for this (source, task, date) — scoped to the DAG
        when given (the reference's query filters on the dag-id pattern at
        :441-449; without the scope, same-named tasks in sibling DAGs
        poison each other's resume checks)."""
        df = self.read("status_tasks", STATUS_SCHEMA)
        cond = (
            (F.col("source_name") == source_name)
            & (F.col("task_id") == task_id)
            & (F.col("etl_date") == etl_date)
            & (F.col("status") == "success")
        )
        if dag_id is not None:
            cond = cond & (F.col("dag_id") == dag_id)
        return df.filter(cond).limit(1).count() > 0

    def successful_tasks(
        self, source_name: str, etl_date: str, dag_id: str
    ) -> set[str]:
        """All task_ids with a success row for (source, dag, date) — ONE
        ledger scan per DAG run instead of one `has_succeeded` job per
        task (20 sources x ~15 tasks would otherwise fire ~300 tiny Spark
        jobs per pipeline run on driver latency alone). Safe as a
        run-start snapshot: a task never runs twice within one DAG run,
        so successes written during the run can't affect its own
        resume-skips."""
        df = self.read("status_tasks", STATUS_SCHEMA)
        rows = (
            df.filter(
                (F.col("source_name") == source_name)
                & (F.col("etl_date") == etl_date)
                & (F.col("dag_id") == dag_id)
                & (F.col("status") == "success")
            )
            .select("task_id")
            .distinct()
            .collect()
        )
        return {r.task_id for r in rows}

    def all_sources_green(self, etl_date: str) -> bool:
        """update_status_etl all-success gate (:219-268)."""
        statuses = self.latest_status_per_source(etl_date)
        row = statuses.agg(
            F.min(F.col("status").isin("success", "skipped").cast("int")).alias("ok"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return row.n > 0 and row.ok == 1
