"""C8 staggered starts + C14 monthly housekeeping gate (the last two
SURVEY.md §2 rows; reference dag_etlpipeline__root.py:81-85 and
utlis/clean_metadata.py:207-224)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_etl_spark import housekeeping as hk
from airflow_etl_spark.ledger import Ledger
from airflow_etl_spark.pipeline import Pipeline, SourceConfig
from airflow_etl_spark.sources import read_table
from airflow_etl_spark.workflow import DagRunner, Task


# ---------------------------------------------------------------- C8 ----

def test_task_start_delay_ordering(spark, tmp_path):
    """Delays fire before the task body, in dependency order, with the
    configured durations — and not at all for resume-skipped tasks."""
    ledger = Ledger(spark, str(tmp_path / "lg"))
    events: list = []

    def work(ctx):
        events.append("work")

    tasks = [
        Task("start", start_delay_s=7.5),
        Task("work", fn=work, depends_on=["start"], start_delay_s=2.5),
        Task("end", depends_on=["work"]),
    ]
    runner = DagRunner("c8_dag", tasks, sleep_fn=lambda s: events.append(("sleep", s)))
    st = runner.run(ledger, "srcA", "2024-01-01")
    assert st == {"start": "success", "work": "success", "end": "success"}
    assert events == [("sleep", 7.5), ("sleep", 2.5), "work"]

    # re-run: the finished work task resume-skips and must NOT wait again —
    # and neither must the structural head sensor carrying the stagger
    # (ADVICE r2: the ledger records its success too, so a fully-resumed
    # chain re-runs with ZERO waiting)
    events.clear()
    st2 = runner.run(ledger, "srcA", "2024-01-01")
    assert st2["work"] == "skipped"
    assert events == []

    # a DIFFERENT date is a fresh run: the sensor fires again
    events.clear()
    runner.run(ledger, "srcA", "2024-01-02")
    assert ("sleep", 7.5) in events


def test_per_source_stagger_through_pipeline(spark, tmp_path, sf_dir):
    """SourceConfig.start_delay_s reaches the staging DAG's head task."""
    sleeps: list[float] = []
    sources = [
        SourceConfig(name="erp_s1", tables=["region"], start_delay_s=0.0),
        SourceConfig(name="erp_s2", tables=["region"], start_delay_s=3.0),
    ]
    p = Pipeline(
        spark, str(tmp_path / "whc8"), sources, sf_dir,
        sleep_fn=lambda s: sleeps.append(s),
    )
    p.ledger.seed_dates([("2024-02-01", 0, None, 0)])
    p.run("2024-02-01")
    # only the delayed source waits, exactly once, with its configured value
    assert sleeps == [3.0]


# --------------------------------------------------------------- C14 ----

def _run_data_dag(spark, ledger, tmp_path, n=300):
    tbl = str(tmp_path / "hk_tbl")
    spark.range(n).withColumn("v", F.col("id") * 3).repartition(4).write.mode(
        "overwrite"
    ).parquet(tbl)
    dag = hk.data_housekeeping_dag(spark, [tbl], target_file_bytes=10 ** 9)
    st = dag.run(ledger, "housekeeping", "2024-03-01")
    assert st[hk.DATA_TASK_ID] == "success"
    assert read_table(spark, tbl).count() == n
    return tbl


def test_monthly_gate_runs_after_data_success(spark, tmp_path):
    ledger = Ledger(spark, str(tmp_path / "lg14a"))
    _run_data_dag(spark, ledger, tmp_path)
    # the data run's ledger rows were created "now" (wall clock)
    assert hk.data_housekeeping_succeeded_this_month(ledger, hk.current_month())

    meta = hk.metadata_housekeeping_dag(
        spark, ledger, str(tmp_path / "hk_tbl"), cutoff_epoch_s=0.0
    )
    st = meta.run(ledger, "housekeeping", "2024-03-15")
    assert st["check_monthly_gate"] == "success"
    assert st["retention_plan"] == "success"  # gate open → work ran
    assert st["end"] == "success"


def test_monthly_gate_skips_without_data_success(spark, tmp_path):
    ledger = Ledger(spark, str(tmp_path / "lg14b"))
    # no data-housekeeping run recorded at all
    assert not hk.data_housekeeping_succeeded_this_month(ledger, "2024-03")
    (tmp_path / "meta_root").mkdir()
    meta = hk.metadata_housekeeping_dag(
        spark, ledger, str(tmp_path / "meta_root"), cutoff_epoch_s=0.0
    )
    st = meta.run(ledger, "housekeeping", "2024-03-15")
    assert st["retention_plan"] == "skipped"  # gate closed → branch to end
    assert st["end"] == "success"


def test_monthly_gate_is_month_scoped(spark, tmp_path):
    """A success in one month must not open another month's gate (the
    reference keys the check on the CURRENT month's bucket)."""
    ledger = Ledger(spark, str(tmp_path / "lg14c"))
    _run_data_dag(spark, ledger, tmp_path)
    assert hk.data_housekeeping_succeeded_this_month(ledger, hk.current_month())
    assert not hk.data_housekeeping_succeeded_this_month(ledger, "1999-01")

    # a dag wired to a stale gate month skips even though a success exists
    meta = hk.metadata_housekeeping_dag(
        spark, ledger, str(tmp_path / "hk_tbl"), cutoff_epoch_s=0.0,
        gate_month="1999-01",
    )
    st = meta.run(ledger, "housekeeping", "2024-04-15")
    assert st["retention_plan"] == "skipped"


def test_parallel_compaction_fanout(spark, tmp_path):
    """C13 concurrency parity: the reference compacts tables over a
    10-worker pool (clean_data.py:89-93) — parallel compaction of
    independent tables must leave every table intact and compacted."""
    tbls = []
    for i in range(3):
        p = str(tmp_path / f"pk_tbl{i}")
        spark.range(i * 100, i * 100 + 200).repartition(6).write.parquet(p)
        tbls.append(p)
    ledger = Ledger(spark, str(tmp_path / "pk_lg"))
    dag = hk.data_housekeeping_dag(
        spark, tbls, target_file_bytes=10 ** 9, max_workers=3
    )
    st = dag.run(ledger, "housekeeping", "2024-04-01")
    assert st[hk.DATA_TASK_ID] == "success"
    for i, p in enumerate(tbls):
        got = sorted(r.id for r in read_table(spark, p).collect())
        assert got == list(range(i * 100, i * 100 + 200))


def _legacy_tables(spark, tmp_path, n):
    tbls = []
    for i in range(n):
        p = str(tmp_path / f"cc_tbl{i}")
        spark.range(i * 100, i * 100 + 100).repartition(3).write.parquet(p)
        tbls.append(p)
    return tbls


def test_tables_compact_concurrently(spark, tmp_path, monkeypatch):
    """The default data DAG compacts its tables at once: two tables'
    compactions meet on a 2-party barrier, which a serial loop would time
    out."""
    import threading

    from airflow_etl_spark.operators import maintenance
    from airflow_etl_spark.sources import txn

    tbls = _legacy_tables(spark, tmp_path, 2)
    barrier = threading.Barrier(2, timeout=5)
    compact = maintenance.compact

    def compact_at_barrier(*args, **kwargs):
        barrier.wait()
        return compact(*args, **kwargs)

    monkeypatch.setattr(maintenance, "compact", compact_at_barrier)
    dag = hk.data_housekeeping_dag(spark, tbls, target_file_bytes=10 ** 9)
    st = dag.run(Ledger(spark, str(tmp_path / "cc_lg")), "housekeeping", "2024-04-01")
    assert st[hk.DATA_TASK_ID] == "success"
    for i, p in enumerate(tbls):
        assert len(txn.data_files(p)) == 1
        got = sorted(r.id for r in read_table(spark, p).collect())
        assert got == list(range(i * 100, i * 100 + 100))


def test_failed_table_lets_the_others_compact(spark, tmp_path, monkeypatch):
    """A table whose compaction raises fails the task after its retry, but
    every other table is compacted; on the retry those are already compact
    and publish no second version."""
    from airflow_etl_spark.operators import maintenance
    from airflow_etl_spark.sources import txn

    tbls = _legacy_tables(spark, tmp_path, 3)
    bad = tbls[0]
    calls: list[str] = []
    compact = maintenance.compact

    def compact_or_raise(spark_, path, *args, **kwargs):
        calls.append(path)
        if path == bad:
            raise RuntimeError("compaction broke")
        return compact(spark_, path, *args, **kwargs)

    monkeypatch.setattr(maintenance, "compact", compact_or_raise)
    dag = hk.data_housekeeping_dag(spark, tbls, target_file_bytes=10 ** 9)
    st = dag.run(Ledger(spark, str(tmp_path / "cf_lg")), "housekeeping", "2024-04-01")
    assert st[hk.DATA_TASK_ID] == "failed"
    assert "compaction broke" in dag.last_context.errors[hk.DATA_TASK_ID]
    assert sorted(calls) == sorted(tbls * 2)  # each attempt ran every table
    assert txn._read_pointer(bad) is None  # still the legacy dir
    for p in tbls[1:]:
        assert len(txn.data_files(p)) == 1
        assert len(txn._list_versions(p)) == 1


def test_gc_dag_deletes_orphans_without_spark_jobs(spark, tmp_path, jobs_of):
    """Planning and executing the unused-file GC is a driver-side listing
    and deletes: 0 Spark jobs, and exactly the orphans are removed."""
    root = tmp_path / "gc0_root"
    live = root / "live_tbl"
    live.mkdir(parents=True)
    (live / "part-0.parquet").write_bytes(b"L" * 10)
    orphans = [root / "junk_a.tmp", root / "dead_dir" / "junk_b.parquet"]
    orphans[1].parent.mkdir()
    for f in orphans:
        f.write_bytes(b"J" * 4)

    ledger = Ledger(spark, str(tmp_path / "gc0_lg"))
    dag = hk.unused_file_dag(
        spark, str(root), [str(live)], dry_run=False, grace_s=0.0
    )
    st, jobs = jobs_of(lambda: dag.run(ledger, "housekeeping", "2024-05-01"))
    assert jobs == 0
    assert (st["plan_gc"], st["execute_gc"]) == ("success", "success")
    assert sorted(dag.last_context.results["gc_plan"]) == sorted(
        str(f) for f in orphans
    )
    assert not any(f.exists() for f in orphans)
    assert (live / "part-0.parquet").exists()


def test_retention_plan_task_runs_without_spark_jobs(spark, tmp_path, jobs_of):
    """The gated retention task plans off a driver-side listing (0 Spark
    jobs) and counts the same rows `maintenance.retention_plan` returns."""
    import time

    from airflow_etl_spark.operators import maintenance

    ledger = Ledger(spark, str(tmp_path / "lg_rt"))
    tbl = _run_data_dag(spark, ledger, tmp_path)
    cutoff = time.time() + 3600  # every file is stale; the newest per dir stays
    meta = hk.metadata_housekeeping_dag(spark, ledger, tbl, cutoff_epoch_s=cutoff)
    st, jobs = jobs_of(lambda: meta.run(ledger, "housekeeping", "2024-03-15"))
    assert jobs == 0
    assert st["retention_plan"] == "success"
    plan = maintenance.retention_plan(spark, tbl, cutoff).collect()
    n_delete = sum(r.action == "delete" for r in plan)
    assert n_delete > 0
    assert meta.last_context.results["retention_rows"] == len(plan)
    assert meta.last_context.results["retention_plan"] == (
        f"{n_delete} files planned for deletion"
    )


def test_unused_file_gc_dag(spark, tmp_path):
    """The third C13 DAG: orphan plan → execute deletes through the FS
    abstraction; dry_run leaves everything, real run removes exactly the
    orphans."""
    root = tmp_path / "gc_root"
    live = root / "live_tbl"
    live.mkdir(parents=True)
    (live / "part-0.parquet").write_bytes(b"L" * 10)
    (root / "junk_a.tmp").write_bytes(b"J" * 4)
    (root / "dead_dir").mkdir()
    (root / "dead_dir" / "junk_b.parquet").write_bytes(b"K" * 6)

    ledger = Ledger(spark, str(tmp_path / "gclg"))
    dag_dry = hk.unused_file_dag(
        spark, str(root), [str(live)], dry_run=True
    )
    st = dag_dry.run(ledger, "housekeeping", "2024-05-01")
    assert st["execute_gc"] == "success"
    assert (root / "junk_a.tmp").exists()  # dry run deletes nothing

    # default 24h grace: the just-created "orphans" are too young to
    # delete (ADVICE r2 — a concurrent run's new table must survive the
    # window between planning and deleting)
    dag_graced = hk.unused_file_dag(
        spark, str(root), [str(live)], dry_run=False
    )
    stg = dag_graced.run(ledger, "housekeeping", "2024-05-02")
    assert stg["execute_gc"] == "success"
    assert (root / "junk_a.tmp").exists()

    dag_real = hk.unused_file_dag(
        spark, str(root), [str(live)], dry_run=False, grace_s=0.0
    )
    st2 = dag_real.run(ledger, "housekeeping", "2024-05-03")
    assert st2["execute_gc"] == "success"
    assert not (root / "junk_a.tmp").exists()
    assert not (root / "dead_dir" / "junk_b.parquet").exists()
    assert (live / "part-0.parquet").exists()  # live data untouched


def test_mor_delete_pressure_dag_folds_deletes(spark, tmp_path):
    """VERDICT r3 #4 done-criterion: a continuously-upserted MoR table's
    read plan pays one anti-join per delete file until the delete-pressure
    DAG folds them; after the DAG runs, the live manifest carries NO
    deletes, the read plan is a single no-anti-join group, and the values
    still equal the upsert semantics."""
    from airflow_etl_spark.operators import maintenance
    from airflow_etl_spark.plans import formatted_plan
    from airflow_etl_spark.sources import txn

    hot = str(tmp_path / "mor_hot")
    quiet = str(tmp_path / "mor_quiet")
    txn.commit(
        spark.createDataFrame([(k, 0) for k in range(20)], "k long, v int"), hot
    )
    txn.commit(
        spark.createDataFrame([(1, 1)], "k long, v int"), quiet
    )
    # CDC steady state: 5 upsert batches -> 5 delete files, 6 read groups
    for batch in range(1, 6):
        src = spark.createDataFrame(
            [(k, batch) for k in range(batch * 3, batch * 3 + 3)],
            "k long, v int",
        )
        txn.upsert_mor(src, hot, ["k"], keep_versions=2)
    p = maintenance.delete_pressure(hot)
    assert p["n_delete_files"] == 5
    assert p["n_read_groups"] == 6
    assert formatted_plan(txn.read(spark, hot)).count("LeftAnti") > 0
    quiet_ver = txn._read_pointer(quiet)

    ledger = Ledger(spark, str(tmp_path / "mor_lg"))
    dag = hk.mor_maintenance_dag(
        spark, [hot, quiet], max_delete_files=4, max_read_groups=4
    )
    st = dag.run(ledger, "housekeeping", "2024-05-01")
    assert st[hk.MOR_TASK_ID] == "success"

    # hot table: deletes folded, single group, zero anti-joins in the plan
    p2 = maintenance.delete_pressure(hot)
    assert p2 == {"n_delete_files": 0, "delete_bytes": 0, "n_read_groups": 1}
    assert "LeftAnti" not in formatted_plan(txn.read(spark, hot))
    # quiet table below threshold: untouched (no needless rewrite)
    assert txn._read_pointer(quiet) == quiet_ver
    # values: every upserted key shows its LAST batch's value
    got = {r.k: r.v for r in txn.read(spark, hot).collect()}
    expect = {k: 0 for k in range(20)}
    for batch in range(1, 6):
        for k in range(batch * 3, batch * 3 + 3):
            expect[k] = batch
    assert got == expect


def test_auto_compact_cdc_sink_bounds_delete_files(spark, tmp_path):
    """The CDC sink's self-healing valve: with auto_compact_deletes=N the
    table's delete-file count never exceeds N across a long run of
    micro-batches — bounded read-side anti-joins with no external DAG."""
    from airflow_etl_spark import streaming
    from airflow_etl_spark.operators import maintenance
    from airflow_etl_spark.sources import txn

    src_dir = str(tmp_path / "cdc_src")
    path = str(tmp_path / "cdc_tbl")
    ck = str(tmp_path / "cdc_ck")
    max_pressure = []
    for batch in range(6):
        spark.createDataFrame(
            [(k, batch) for k in range(batch * 2, batch * 2 + 4)],
            "k long, v int",
        ).coalesce(1).write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema("k long, v int").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src_dir)
        streaming.write_stream_upsert_mor(
            stream, path, ["k"], ck, query_name=f"q_autocompact_{batch}",
            auto_compact_deletes=3,
        )
        max_pressure.append(maintenance.delete_pressure(path)["n_delete_files"])
    assert max(max_pressure) <= 3
    # correctness: last write per key wins
    got = {r.k: r.v for r in txn.read(spark, path).collect()}
    expect = {}
    for batch in range(6):
        for k in range(batch * 2, batch * 2 + 4):
            expect[k] = batch
    assert got == expect


def test_data_dag_syncs_catalog_pins_before_compaction(spark, tmp_path):
    """C13 + catalog wiring (VERDICT r6 #6): with a WarehouseCatalog
    attached, the data DAG re-syncs every table's `_pins` file BEFORE
    compacting, so the table GC that each compaction commit triggers
    keeps the versions catalog branches still pin — even when the pin
    file on disk was stale (written by another process, or lost)."""
    import os

    from airflow_etl_spark.sources import txn
    from airflow_etl_spark.sources.catalog_txn import WarehouseCatalog

    wh = str(tmp_path / "wh")
    cat = WarehouseCatalog(wh)
    with cat.transaction() as tx:
        tx.commit_table(
            "t", spark.range(3).select(F.col("id").alias("k"),
                                       (F.col("id") * 7).alias("v"))
        )
    main_path, main_ver = cat.table_pin("t")
    cat.create_ref("dev")
    for i in range(3):
        with cat.transaction(ref="dev") as tx:
            tx.commit_table(
                "t", spark.range(3).select(F.col("id").alias("k"),
                                           (F.col("id") * i).alias("v"))
            )
    # simulate stale external pin state: pin file gone
    os.remove(os.path.join(main_path, "_pins"))
    assert txn.read_pins(main_path) == set()

    ledger = Ledger(spark, str(tmp_path / "lg_cat"))
    dag = hk.data_housekeeping_dag(
        spark, [main_path], target_file_bytes=10 ** 9, catalog=cat
    )
    st = dag.run(ledger, "housekeeping", "2024-03-01")
    assert st["sync_catalog_pins"] == "success"
    assert st[hk.DATA_TASK_ID] == "success"
    # the pre-compaction sync restored the pin, so main's version
    # survived the compaction commit's table GC
    assert main_ver in txn.read_pins(main_path)
    got = sorted((r["k"], r["v"]) for r in cat.read(spark, "t").collect())
    assert got == [(0, 0), (1, 7), (2, 14)]
