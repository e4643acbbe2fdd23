"""The driver-side control plane: `txn.read_arrow` applies a manifest the
way the Spark reader does, the ledger queries return what their Spark
forms returned, control calls launch no Spark job, and housekeeping folds
control tables into one file without changing a row."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from airflow_etl_spark import housekeeping
from airflow_etl_spark.ledger import ETL_DATES_SCHEMA, INFO_SCHEMA, STATUS_SCHEMA, Ledger
from airflow_etl_spark.operators.core import first_by, latest_per_key
from airflow_etl_spark.pipeline import Pipeline, SourceConfig
from airflow_etl_spark.sources import txn


def _arrow_rows(t) -> list[tuple]:
    return sorted(tuple(r.values()) for r in t.to_pylist())


def _spark_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------ read_arrow --
def test_read_arrow_keeps_a_key_reinserted_after_its_delete(spark, tmp_path):
    path = str(tmp_path / "t")
    txn.append_rows(path, pa.table({"k": [1, 2], "v": ["a", "b"]}))
    txn.delete_keys_rows(path, pa.table({"k": [1]}), ["k"])
    txn.append_rows(path, pa.table({"k": [1], "v": ["a2"]}))
    got = _arrow_rows(txn.read_arrow(path))
    assert got == [(1, "a2"), (2, "b")]
    assert got == _spark_rows(txn.read(spark, path))


def test_read_arrow_positional_delete_removes_one_of_two_copies(spark, tmp_path):
    path = str(tmp_path / "t")
    txn.append_rows(path, pa.table({"k": [7, 7, 8]}))
    txn.delete_duplicate_positions(spark, path, ["k"])
    got = _arrow_rows(txn.read_arrow(path))
    assert got == [(7,), (8,)]
    assert got == _spark_rows(txn.read(spark, path))


def test_read_arrow_reads_a_merged_column_as_null_in_older_files(spark, tmp_path):
    path = str(tmp_path / "t")
    txn.commit(spark.createDataFrame([(1,)], "k long"), path)
    txn.append_files(
        spark.createDataFrame([(2, "x")], "k long, e string"), path,
        merge_schema=True,
    )
    t = txn.read_arrow(path)
    assert t.column_names == ["k", "e"]
    assert _arrow_rows(t) == [(1, None), (2, "x")]
    assert _arrow_rows(t) == _spark_rows(txn.read(spark, path))


def test_read_arrow_refuses_a_table_over_the_bound_before_reading(tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    txn.append_rows(path, pa.table({"k": [1]}))
    for f in txn.data_files(path):
        os.remove(f)  # any file opened would raise FileNotFoundError
    monkeypatch.setattr(txn, "ARROW_READ_MAX_BYTES", 1)
    with pytest.raises(ValueError, match="read bound"):
        txn.read_arrow(path)


def test_read_arrow_parses_only_files_it_has_not_seen(spark, tmp_path, monkeypatch):
    """Parsed files are reused across reads: a repeat read parses none, a
    read after one append parses exactly the new file, and each read still
    equals the Spark reader through deletes and a fold."""
    import pyarrow.parquet as pq

    real, parsed = pq.read_table, []

    def counting(*args, **kwargs):
        parsed.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(pq, "read_table", counting)

    def parses(path):
        parsed.clear()
        got = _arrow_rows(txn.read_arrow(path))
        assert got == _spark_rows(txn.read(spark, path))
        return len(parsed)

    path = str(tmp_path / "t")
    txn.append_rows(path, pa.table({"k": [1, 2], "v": ["a", "b"]}))
    txn.append_rows(path, pa.table({"k": [3], "v": ["c"]}))
    assert parses(path) == 2
    assert parses(path) == 0
    txn.append_rows(path, pa.table({"k": [4], "v": ["d"]}))
    assert parses(path) == 1
    txn.delete_keys_rows(path, pa.table({"k": [1]}), ["k"])
    assert parses(path) == 1                    # the delete file
    txn.commit_rows(path, txn.read_arrow(path))  # fold to one file
    assert parses(path) == 1
    assert parses(path) == 0


def test_read_arrow_of_a_missing_table_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        txn.read_arrow(str(tmp_path / "nope"))


# ---------------------------------------------------------------- ledger --
DATES = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
SOURCES = ["src_a", "src_b", "src_c"]
DAGS = ["01__x__staging", "02__x__datavault"]


@pytest.fixture()
def busy_ledger(spark, tmp_path):
    """Several sources, DAGs and dates; failed attempts retried under a
    second run; group, master and engine rows."""
    lg = Ledger(spark, str(tmp_path / "lg"))
    lg.seed_dates([
        (DATES[0], 0, "success", 0), (DATES[1], 1, None, 0),
        (DATES[2], 0, None, 0), (DATES[3], 0, None, 0),
    ])
    for date in DATES[2:]:
        for src in SOURCES:
            # src_b fails its first run on every date and is re-run;
            # src_c stays failed on the last date
            outcomes = ["failed", "success"] if src == "src_b" else (
                ["failed"] if (src, date) == ("src_c", DATES[3]) else ["success"]
            )
            for outcome in outcomes:
                rid = lg.start_run(src, date, "master")
                for dag in DAGS:
                    gid = lg.start_run(src, date, "group", run_id=rid)
                    lg.save_task_status(rid, src, dag, "start", "success", date)
                    lg.save_task_status(rid, src, dag, "load", outcome, date)
                    lg.save_task_status(rid, src, dag, "notify", "skipped", date)
                    lg.finish_run(gid, src, date, outcome, "group")
                lg.finish_run(rid, src, date, outcome, "master")
        lg.start_run("src_a", date, "engine")  # not a master/group row
    return lg


def test_ledger_queries_match_their_spark_forms(spark, busy_ledger):
    lg = busy_ledger
    tasks = lg.read("status_tasks", STATUS_SCHEMA)
    ok = {
        (r.source_name, r.etl_date, r.dag_id): set(r.tasks)
        for r in tasks.filter(F.col("status") == "success")
        .groupBy("source_name", "etl_date", "dag_id")
        .agg(F.collect_set("task_id").alias("tasks")).collect()
    }
    for src in SOURCES:
        for date in DATES:
            for dag in DAGS:
                assert lg.successful_tasks(src, date, dag) == ok.get(
                    (src, date, dag), set()
                )
    for args in [("src_b", "load", DATES[2], DAGS[1]), ("src_c", "load", DATES[3], None),
                 ("src_a", "start", DATES[3], None), ("src_a", "load", DATES[2], "other")]:
        src, task, date, dag = args
        cond = (
            (F.col("source_name") == src) & (F.col("task_id") == task)
            & (F.col("etl_date") == date) & (F.col("status") == "success")
        )
        if dag is not None:
            cond = cond & (F.col("dag_id") == dag)
        assert lg.has_succeeded(*args) == (tasks.filter(cond).limit(1).count() > 0)

    info = lg.read("info_by_sources", INFO_SCHEMA)
    for date in DATES:
        spark_latest = latest_per_key(
            info.filter((F.col("etl_date") == date)
                        & F.col("created_by").isin("master", "group")),
            ["source_name"], "created_at", tie_breakers=["run_id"],
        ).select("source_name", "status", "etl_date")
        latest = _spark_rows(spark_latest)
        assert _spark_rows(lg.latest_status_per_source(date)) == latest
        assert lg.all_sources_green(date) == (
            bool(latest) and all(s in ("success", "skipped") for _, s, _ in latest)
        )
    assert lg.all_sources_green(DATES[2]) and not lg.all_sources_green(DATES[3])

    dates = lg.read("etl_dates", ETL_DATES_SCHEMA)
    picked = first_by(
        dates.filter((F.col("holiday_flag") == 0) & F.col("status").isNull()),
        ["etl_date"],
    ).collect()
    assert lg.next_etl_date() == picked[0].etl_date == DATES[2]

    is_date = F.col("etl_date") == DATES[2]
    updated = _spark_rows(dates.select(
        "etl_date", "holiday_flag",
        F.when(is_date, F.lit("running")).otherwise(F.col("status")),
        F.when(is_date, F.lit(1)).otherwise(F.lit(0)),
    ))
    lg.mark_date(DATES[2], "running")
    assert _spark_rows(lg.read("etl_dates", ETL_DATES_SCHEMA)) == updated
    assert lg.claim_next_date() == DATES[3]


def test_control_calls_launch_no_spark_job(spark, tmp_path, sf_dir, jobs_of):
    src = SourceConfig(name="erp_z", tables=["nation", "region"])
    p = Pipeline(spark, str(tmp_path / "wh"), [src], sf_dir)
    p.ledger.seed_dates([("2024-01-01", 0, None, 0)])
    # first sighting registers (and warms the catalog's schema cache)
    assert p.drift_check(src, "r1", "2024-01-01") is False
    p.ledger.save_task_status("r1", "erp_z", "d", "t", "success", "2024-01-01")
    for call, want in [
        (lambda: p.drift_check(src, "r2", "2024-01-02"), False),
        (lambda: p.ledger.successful_tasks("erp_z", "2024-01-01", "d"), {"t"}),
        (lambda: p.ledger.mark_date("2024-01-01", "success"), None),
    ]:
        assert jobs_of(call) == (want, 0)
    assert p.ledger.next_etl_date() is None


# ---------------------------------------------------------- housekeeping --
def test_fold_control_tables_keeps_rows_in_one_file(spark, tmp_path):
    lg = Ledger(spark, str(tmp_path / "lg"))
    for i in range(5):
        lg.save_task_status(f"r{i}", "s", "d", f"t{i}", "success", "2024-01-01")
    lg.seed_dates([("2024-01-01", 0, None, 0)])  # already one file
    path = lg._path("status_tasks")
    rows, prev = _arrow_rows(txn.read_arrow(path)), txn._read_pointer(path)
    assert len(txn.data_files(path)) == 5

    assert housekeeping.fold_control_tables(lg) == 1
    assert _arrow_rows(txn.read_arrow(path)) == rows
    assert len(txn.data_files(path)) == 1
    pinned = txn.read_named_version(spark, path, prev)
    assert sorted(r.task_id for r in pinned.collect()) == [f"t{i}" for i in range(5)]

    dag = housekeeping.metadata_housekeeping_dag(
        spark, lg, str(tmp_path), 0.0, gate_month="1999-01"
    )
    st = dag.run(lg, "housekeeping", "2024-01-01")
    assert st["fold_control_tables"] == "success"
    assert st["retention_plan"] == "skipped"
