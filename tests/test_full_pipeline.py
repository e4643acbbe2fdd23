"""End-to-end multi-source pipeline run over the TPC-H-ish testdata:
stage → drift-check → hub/link/satellite loads → ledger green → date marked.
The Spark re-expression of the reference's root DAG lifecycle (SURVEY §3.1).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_etl_spark.pipeline import (
    EntityConfig,
    LinkConfig,
    Pipeline,
    SourceConfig,
)


@pytest.fixture()
def pipeline(spark, tmp_path, sf_dir):
    sources = [
        SourceConfig(
            name="erp_main",
            tables=["customer", "orders"],
            entities=[
                EntityConfig(
                    "customer", "customer", ["c_custkey"],
                    ["c_name", "c_mktsegment"], domain="01_Customer_Relationship",
                ),
                EntityConfig(
                    "order", "orders", ["o_orderkey"],
                    ["o_orderstatus", "o_orderpriority"], domain="02_Sales",
                ),
            ],
            links=[
                LinkConfig(
                    "customer_order", "orders",
                    "customer", ["o_custkey"], "order", ["o_orderkey"],
                    domain="02_Sales",
                ),
            ],
        ),
        SourceConfig(name="erp_side", tables=["supplier"], entities=[
            EntityConfig("supplier", "supplier", ["s_suppkey"], ["s_name"]),
        ]),
    ]
    p = Pipeline(spark, str(tmp_path / "wh"), sources, sf_dir)
    p.ledger.seed_dates(
        [("2024-01-01", 0, None, 0), ("2024-01-02", 0, None, 0)]
    )
    return p


def test_root_run_end_to_end(spark, pipeline, sf_dir):
    results = pipeline.run()

    # every task green
    for source_results in results.values():
        for dag_statuses in source_results.values():
            assert set(dag_statuses.values()) <= {"success", "skipped"}

    # date marked success, queue advanced
    assert pipeline.ledger.next_etl_date() == "2024-01-02"
    assert pipeline.ledger.all_sources_green("2024-01-01")

    # vault contents match the source
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    hub = pipeline._read("raw_vault", "hub_customer")
    assert hub.count() == n_cust
    sat = pipeline._read("raw_vault", "satellite_customer")
    assert sat.filter(F.col("load_end_date").isNull()).count() == n_cust
    link = pipeline._read("raw_vault", "link_customer_order")
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert link.count() == n_orders

    # staging partitioned by etl_date
    staged = pipeline._read("staging", "erp_main__customer")
    assert staged.filter(F.col("etl_date") == "2024-01-01").count() == n_cust


def test_second_day_is_incremental_and_idempotent(spark, pipeline, sf_dir):
    pipeline.run()          # day 1
    pipeline.run()          # day 2 — same source data, nothing new in vault

    hub = pipeline._read("raw_vault", "hub_customer")
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert hub.count() == n_cust  # no duplicate hub rows

    sat = pipeline._read("raw_vault", "satellite_customer")
    # unchanged attrs → no closed rows, still one open row per entity
    assert sat.filter(F.col("load_end_date").isNotNull()).count() == 0
    assert sat.count() == n_cust

    # queue exhausted
    assert pipeline.ledger.next_etl_date() is None


def test_parallel_sources_match_serial(spark, tmp_path, sf_dir):
    """C2 fan-out: a 2-thread run produces the same ledger/vault state as
    serial; the ledger lock serializes control-table writes."""
    sources = [
        SourceConfig(name="src_x", tables=["nation"], entities=[
            EntityConfig("nation", "nation", ["n_nationkey"], ["n_name"]),
        ]),
        SourceConfig(name="src_y", tables=["region"], entities=[
            EntityConfig("region", "region", ["r_regionkey"], ["r_name"]),
        ]),
    ]
    p = Pipeline(spark, str(tmp_path / "whp"), sources, sf_dir)
    p.ledger.seed_dates([("2024-02-01", 0, None, 0)])
    results = p.run("2024-02-01", max_workers=2)
    assert set(results) == {"src_x", "src_y"}
    for res in results.values():
        for dag in res.values():
            assert all(s in ("success", "skipped") for s in dag.values())
    assert p.ledger.all_sources_green("2024-02-01")
    # checkpoints recorded for staging + vault models of both sources
    from airflow_etl_spark.ledger import CHECKPOINT_SCHEMA

    cps = p.ledger.read("checkpoints", CHECKPOINT_SCHEMA).collect()
    names = {(r.source_name, r.name, r.schema_name) for r in cps}
    assert ("src_x", "stg_nation", "staging") in names
    assert ("src_x", "hub_nation", "raw_vault") in names
    assert ("src_y", "satellite_region", "raw_vault") in names


def test_drift_flagged_once_then_registered(spark, tmp_path, sf_dir):
    """A table first seen after initial registration flags drift exactly
    once; the registry folds in the accepted schema."""
    src1 = SourceConfig(name="erp_d", tables=["nation"])
    p1 = Pipeline(spark, str(tmp_path / "whd"), [src1], sf_dir)
    assert p1.drift_check(src1, "r1", "2024-03-01") is False  # first: register

    src2 = SourceConfig(name="erp_d", tables=["nation", "region"])
    p2 = Pipeline(spark, str(tmp_path / "whd"), [src2], sf_dir)
    assert p2.drift_check(src2, "r2", "2024-03-02") is True   # region is new
    assert p2.drift_check(src2, "r3", "2024-03-03") is False  # accepted now


def test_run_all_drains_date_queue(spark, tmp_path, sf_dir):
    src = SourceConfig(name="erp_q", tables=["region"], entities=[
        EntityConfig("region", "region", ["r_regionkey"], ["r_name"]),
    ])
    p = Pipeline(spark, str(tmp_path / "whq"), [src], sf_dir)
    p.ledger.seed_dates([
        ("2024-04-01", 0, None, 0),
        ("2024-04-02", 1, None, 0),   # holiday — never picked
        ("2024-04-03", 0, None, 0),
    ])
    out = p.run_all()
    assert list(out) == ["2024-04-01", "2024-04-03"]
    assert p.ledger.next_etl_date() is None  # queue drained
    assert p.ledger.all_sources_green("2024-04-03")


def test_drift_notification_writes_email_rows(spark, tmp_path, sf_dir):
    src_v1 = SourceConfig(name="erp_n", tables=["nation"])
    p1 = Pipeline(spark, str(tmp_path / "whn"), [src_v1], sf_dir)
    p1.ledger.seed_dates([("2024-05-01", 0, None, 0), ("2024-05-02", 0, None, 0)])
    p1.run("2024-05-01")  # registers the schema, no drift

    src_v2 = SourceConfig(name="erp_n", tables=["nation", "supplier"])
    p2 = Pipeline(spark, str(tmp_path / "whn"), [src_v2], sf_dir)
    st = p2.staging_dag(src_v2).run(p2.ledger, "erp_n", "2024-05-02")
    assert st["notify_drift"] == "success"  # branch taken
    from airflow_etl_spark.sources import read_table

    mails = read_table(
        spark, str(tmp_path / "whn" / "operational_metadata" / "email_notification")
    ).collect()
    assert len(mails) == 1
    assert mails[0].event_type == "SCHEMA_DRIFT"
    assert "supplier" in mails[0].email_body


def test_multi_source_hub_integrates_across_sources(spark, tmp_path, sf_dir):
    """tag:multi_sources parity: a cross-source hub loads from the union of
    both sources' staged tables, deduping shared business keys; it runs only
    after every per-source DAG is green."""
    from airflow_etl_spark.pipeline import MultiSourceConfig

    sources = [
        SourceConfig(name="erp_a", tables=["customer"]),
        SourceConfig(name="erp_b", tables=["customer"]),
    ]
    multi = MultiSourceConfig(
        sources=["erp_a", "erp_b"],
        entities=[EntityConfig("customer_all", "customer", ["c_custkey"], [])],
    )
    p = Pipeline(spark, str(tmp_path / "whm"), sources, sf_dir, multi=multi)
    p.ledger.seed_dates([("2024-06-01", 0, None, 0)])
    results = p.run("2024-06-01", max_workers=2)
    assert "multi_sources" in results
    assert all(
        s in ("success", "skipped")
        for s in results["multi_sources"]["datavault"].values()
    )
    from airflow_etl_spark.sources import read_table
    hub = read_table(spark, str(tmp_path / "whm" / "raw_vault" / "hub_customer_all"))
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert hub.count() == n_cust  # both sources' keys integrated, deduped
    assert hub.select("record_source").distinct().collect()[0][0] == "multi_sources"


def test_check_records_reconciles(spark, tmp_path, sf_dir):
    src = SourceConfig(name="erp_r", tables=["region", "nation"])
    p = Pipeline(spark, str(tmp_path / "whr"), [src], sf_dir)
    p.ledger.seed_dates([("2024-07-01", 0, None, 0)])
    p.run("2024-07-01")
    recon = p.check_records("2024-07-01").collect()
    assert len(recon) == 2
    assert all(r.is_matched == 1 and r.n_source == r.n_target for r in recon)


def test_failed_run_writes_error_email(spark, tmp_path, sf_dir):
    import pytest as _pytest

    from airflow_etl_spark.operators.checks import PipelineStateError

    # a source configured with a nonexistent table fails its staging task
    src = SourceConfig(name="erp_x", tables=["no_such_table"])
    p = Pipeline(spark, str(tmp_path / "whx"), [src], sf_dir)
    p.ledger.seed_dates([("2024-08-01", 0, None, 0)])
    with _pytest.raises(PipelineStateError):
        p.run("2024-08-01")
    from airflow_etl_spark.sources import read_table

    mails = read_table(
        spark, str(tmp_path / "whx" / "operational_metadata" / "email_notification")
    ).collect()
    assert any(m.event_type == "ETL_ERROR" for m in mails)
    assert "stage__no_such_table" in mails[0].email_body


def test_rerun_finished_date_is_noop(spark, tmp_path, sf_dir):
    """Reference C4 at the root level: re-running a finished date
    resume-skips every work task and loads nothing twice."""
    src = SourceConfig(name="erp_i", tables=["region"], entities=[
        EntityConfig("region", "region", ["r_regionkey"], ["r_name"]),
    ])
    p = Pipeline(spark, str(tmp_path / "whi"), [src], sf_dir)
    p.ledger.seed_dates([("2024-10-01", 0, None, 0)])
    p.run("2024-10-01")
    hub_path = str(tmp_path / "whi" / "raw_vault" / "hub_region")
    from airflow_etl_spark.sources import read_table
    n1 = read_table(spark, hub_path).count()

    results = p.run("2024-10-01")  # explicit re-run of the finished date
    staging = results["erp_i"]["staging"]
    vault_st = results["erp_i"]["vault"]
    assert staging["stage__region"] == "skipped"
    assert all(
        s == "skipped" for t, s in vault_st.items() if t.startswith("domain__")
    )
    assert read_table(spark, hub_path).count() == n1  # nothing loaded twice


def test_vault_not_run_when_staging_fails(spark, tmp_path, sf_dir):
    """A failed staging must NOT run the vault DAG: loading over a missing
    partition would retire every satellite row and record a success that
    resume-skip then honors."""
    import pytest as _pytest

    from airflow_etl_spark.ledger import STATUS_SCHEMA
    from airflow_etl_spark.operators.checks import PipelineStateError

    src = SourceConfig(name="erp_f", tables=["no_such"], entities=[
        EntityConfig("nation", "nation", ["n_nationkey"], ["n_name"]),
    ])
    p = Pipeline(spark, str(tmp_path / "whf"), [src], sf_dir)
    p.ledger.seed_dates([("2024-11-01", 0, None, 0)])
    with _pytest.raises(PipelineStateError):
        p.run("2024-11-01")
    vault_rows = (
        p.ledger.read("status_tasks", STATUS_SCHEMA)
        .filter(F.col("dag_id").contains("datavault"))
        .count()
    )
    assert vault_rows == 0  # vault never executed → nothing to poison


def test_run_all_keeps_green_results_on_failure(spark, tmp_path, sf_dir):
    src = SourceConfig(name="erp_g", tables=["region"])
    p = Pipeline(spark, str(tmp_path / "whg"), [src], sf_dir)
    p.ledger.seed_dates([("2024-12-01", 0, None, 0), ("2024-12-02", 0, None, 0)])
    out = p.run_all()
    assert set(out) == {"2024-12-01", "2024-12-02"}

    p2 = Pipeline(spark, str(tmp_path / "whg2"),
                  [SourceConfig(name="erp_g", tables=["region"]),
                   SourceConfig(name="erp_bad", tables=["nope"])], sf_dir)
    p2.ledger.seed_dates([("2025-01-01", 0, None, 0), ("2025-01-02", 0, None, 0)])
    out = p2.run_all()
    assert "error" in out["2025-01-01"]     # red day recorded, not raised
    assert list(out) == ["2025-01-01"]       # queue halted


def test_content_gate_passes_clean_and_catches_value_rot(spark, tmp_path, sf_dir):
    """The Merkle content gate (r11, Pipeline.check_content — VERDICT
    r10 #8): a faithful load reconciles to ZERO differing buckets with
    no row-grain exchange; a staged partition whose VALUES rot while
    its ROW COUNT stays intact (the failure row-count reconciliation is
    blind to) must surface as a differing bucket. So must a dropped row:
    every stage task runs this gate on the partition it wrote, and run()
    has no other content check, so it has to catch what the row-count
    check_records test catches."""
    from airflow_etl_spark.sources import txn

    src = SourceConfig(name="erp_c", tables=["region"])
    p = Pipeline(spark, str(tmp_path / "whc"), [src], sf_dir)
    p.ledger.seed_dates([("2024-07-01", 0, None, 0)])
    p.run("2024-07-01")
    assert p.check_content("2024-07-01").count() == 0

    # value rot: same row count, one r_name silently changed
    staged_path = p._tpath("staging", "erp_c__region")
    cur = p._read("staging", "erp_c__region")
    rotten = cur.withColumn(
        "r_name",
        F.when(F.col("r_regionkey") == 0, F.lit("CORRUPTED"))
        .otherwise(F.col("r_name")),
    )
    txn.commit(rotten, staged_path, keep_versions=5)
    # row counts still reconcile — the count gate is blind to this
    assert all(
        r.is_matched == 1 for r in p.check_records("2024-07-01").collect()
    )
    bad = p.check_content("2024-07-01").collect()
    assert len(bad) >= 1 and all(r.table_name == "erp_c__region" for r in bad)

    # dropped row: the count check and the content gate both flag it
    txn.commit(cur.filter(F.col("r_regionkey") != 0), staged_path, keep_versions=5)
    assert any(
        r.is_matched == 0 for r in p.check_records("2024-07-01").collect()
    )
    bad = p.check_content("2024-07-01").collect()
    assert len(bad) >= 1 and all(r.table_name == "erp_c__region" for r in bad)


def test_stage_gate_fails_a_partition_that_differs_from_its_source(
    spark, tmp_path, sf_dir, monkeypatch
):
    """The content gate runs inside each stage task: a staged partition
    that drops a row fails its stage task (after the retry re-stages it),
    the vault never loads, and the run fails with an ETL_ERROR email naming
    the stage task."""
    from airflow_etl_spark.operators.checks import PipelineStateError
    from airflow_etl_spark.sources import read_table, txn

    real = txn.replace_partitions
    writes = []

    def lossy(df, path, *args, **kwargs):
        if path.endswith("__region"):
            writes.append(path)
            df = df.filter(F.col("r_regionkey") != 0)
        return real(df, path, *args, **kwargs)

    monkeypatch.setattr(txn, "replace_partitions", lossy)
    src = SourceConfig(name="erp_l", tables=["region", "nation"], entities=[
        EntityConfig("region", "region", ["r_regionkey"], ["r_name"]),
    ])
    p = Pipeline(spark, str(tmp_path / "whl"), [src], sf_dir)
    p.ledger.seed_dates([("2024-07-02", 0, None, 0)])

    stg = p.staging_dag(src)
    out, ok = p._run_group(
        "erp_l", {"staging": stg, "vault": p.vault_dag(src)}, "2024-07-02"
    )
    assert not ok and len(writes) == 2          # first attempt + its retry
    assert out["staging"]["stage__region"] == "failed"
    assert out["staging"]["stage__nation"] == "success"
    assert out["staging"]["check_drift"] == "upstream_failed"
    assert out["vault"] == {"__vault__": "upstream_failed"}
    assert stg.last_context.errors["stage__region"].startswith(
        "PipelineStateError: staged partition erp_l__region"
    )
    assert not p._exists("raw_vault", "hub_region")

    with pytest.raises(PipelineStateError):
        p.run("2024-07-02")
    assert not p._exists("raw_vault", "hub_region")
    mails = read_table(
        spark, p._tpath("operational_metadata", "email_notification")
    ).collect()
    assert [m.event_type for m in mails] == ["ETL_ERROR"]
    assert "stage__region" in mails[0].email_body
    assert "stage__nation" not in mails[0].email_body


def test_content_gate_trivially_passes_with_zero_sources(spark, tmp_path, sf_dir):
    """Advisor r11 (low): a pipeline with no sources (or no tables) must
    pass the content audit trivially — diffs[0] on an empty list used to
    raise IndexError (then from inside run()'s success path)."""
    p = Pipeline(spark, str(tmp_path / "wh0"), [], sf_dir)
    out = p.check_content("2024-07-01")
    assert out.count() == 0
    assert set(out.columns) == {"table_name", "bucket"}
