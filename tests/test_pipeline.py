"""End-to-end pipeline lifecycle tests (SURVEY.md §7.3 minimum slice):
ledger date queue → staged source → drift check → hub/satellite load →
status rows → latest-status dedup → all-success → date marked success.
Plus workflow-runner semantics: resume-skip, branch, retry, trigger rules,
concurrent ready tasks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_etl_spark import vault
from airflow_etl_spark.ledger import Ledger
from airflow_etl_spark.workflow import DagRunner, Task


@pytest.fixture()
def ledger(spark, tmp_path):
    led = Ledger(spark, str(tmp_path / "warehouse"))
    led.seed_dates(
        [
            ("2024-01-01", 0, "success", 0),
            ("2024-01-02", 1, None, 0),      # holiday — skipped by the queue
            ("2024-01-03", 0, None, 0),      # ← next
            ("2024-01-04", 0, None, 0),
        ]
    )
    return led


def test_date_queue(ledger):
    assert ledger.next_etl_date() == "2024-01-03"
    ledger.mark_date("2024-01-03", "success")
    assert ledger.next_etl_date() == "2024-01-04"


def test_run_protocol_and_latest_status(ledger):
    rid = ledger.start_run("src_a", "2024-01-03", "master")
    ledger.finish_run(rid, "src_a", "2024-01-03", "failed")
    rid2 = ledger.start_run("src_a", "2024-01-03", "master")
    ledger.finish_run(rid2, "src_a", "2024-01-03", "success")
    latest = {
        r.source_name: r.status
        for r in ledger.latest_status_per_source("2024-01-03").collect()
    }
    assert latest == {"src_a": "success"}
    assert ledger.all_sources_green("2024-01-03")


def test_workflow_resume_skip_and_ledger(ledger):
    calls = []

    def work(ctx):
        calls.append(ctx.run_id)
        return "done"

    dag = DagRunner(
        "01__src__staging",
        [
            Task("start"),
            Task("load", fn=work, depends_on=["start"]),
            # the reference's end tasks run regardless (trigger_rule
            # all_done, C10) so a resume-skipped chain still closes out
            Task("end", depends_on=["load"], trigger_rule="all_done"),
        ],
    )
    st1 = dag.run(ledger, "src_a", "2024-01-03")
    assert st1 == {"start": "success", "load": "success", "end": "success"}
    assert len(calls) == 1

    # second run: the work task resume-skips (structural markers re-run free)
    st2 = dag.run(ledger, "src_a", "2024-01-03")
    assert st2 == {"start": "success", "load": "skipped", "end": "success"}
    assert len(calls) == 1  # resume-skip prevented re-execution
    assert ledger.all_sources_green("2024-01-03")


def test_workflow_branch_and_trigger_rules(ledger):
    hits = []

    dag = DagRunner(
        "02__src__branching",
        [
            Task("check", fn=lambda ctx: "notify", is_branch=True),
            Task("notify", fn=lambda ctx: hits.append("notify"), depends_on=["check"]),
            Task("skip_path", fn=lambda ctx: hits.append("skip"), depends_on=["check"]),
            Task("end", depends_on=["notify", "skip_path"], trigger_rule="all_done"),
        ],
    )
    st = dag.run(ledger, "src_b", "2024-01-03")
    assert st["notify"] == "success"
    assert st["skip_path"] == "skipped"
    assert st["end"] == "success"
    assert hits == ["notify"]


def test_workflow_retry_and_failure_gate(ledger):
    attempts = {"n": 0}

    def flaky(ctx):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("boom")
        return "ok"

    dag = DagRunner(
        "03__src__retry",
        [Task("flaky", fn=flaky, retries=2, retry_delay_s=0)],
    )
    st = dag.run(ledger, "src_c", "2024-01-03")
    assert st == {"flaky": "success"}
    assert attempts["n"] == 3

    def always_fail(ctx):
        raise RuntimeError("nope")

    dag2 = DagRunner(
        "04__src__fail",
        [
            Task("bad", fn=always_fail),
            Task("after", fn=lambda ctx: 1, depends_on=["bad"]),
        ],
    )
    st2 = dag2.run(ledger, "src_d", "2024-01-03")
    assert st2 == {"bad": "failed", "after": "upstream_failed"}
    assert not ledger.all_sources_green("2024-01-04")


def test_retry_delay_goes_through_injected_sleep(ledger):
    """Retry waits use the runner's injected sleep, not time.sleep; and
    sleep_fn=None means the real clock."""
    import time as _time

    slept = []
    attempts = {"n": 0}

    def flaky(ctx):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("boom")
        return "ok"

    dag = DagRunner(
        "05__src__retry_sleep",
        [Task("flaky", fn=flaky, retries=2, retry_delay_s=7.5)],
        sleep_fn=slept.append,
    )
    assert dag.run(ledger, "src_e", "2024-01-03") == {"flaky": "success"}
    assert slept == [7.5, 7.5]
    assert DagRunner("06__src__clock", [], sleep_fn=None)._sleep is _time.sleep


def test_failed_attempts_are_logged_and_kept(ledger, caplog):
    """Every failed attempt is logged with its traceback, and the last
    error's text stays reachable on the run's context after run()."""
    import logging

    def bad(ctx):
        raise RuntimeError("disk on fire")

    dag = DagRunner("07__src__errors", [Task("bad", fn=bad, retries=1)])
    with caplog.at_level(logging.WARNING, logger="airflow_etl_spark.workflow"):
        assert dag.run(ledger, "src_f", "2024-01-03") == {"bad": "failed"}
    assert dag.last_context.errors == {"bad": "RuntimeError: disk on fire"}
    assert [r.exc_info[0] for r in caplog.records] == [RuntimeError] * 2


def test_vault_minimum_slice(spark, ledger, sf_dir):
    """SURVEY §7.3: one source, one day — customer → hub + satellite."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")

    hub = vault.load_hub(None, customer, ["c_custkey"], "customer",
                         "2024-01-03", "tpch")
    assert hub.count() == customer.select("c_custkey").distinct().count()

    # incremental: the loader returns only the rows to append — a re-load
    # with the same source adds nothing, a new key adds exactly its row
    added = vault.load_hub(hub, customer, ["c_custkey"], "customer",
                           "2024-01-04", "tpch")
    assert added.count() == 0
    new_key = spark.createDataFrame([(10**9,)], "c_custkey long")
    added = vault.load_hub(hub, customer.select("c_custkey").union(new_key),
                           ["c_custkey"], "customer", "2024-01-04", "tpch")
    assert [r.c_custkey for r in added.collect()] == [10**9]

    sat = vault.load_satellite(
        None, customer, ["c_custkey"], ["c_name", "c_mktsegment"], "customer",
        "2024-01-03",
    )
    assert sat.filter(F.col("load_end_date").isNotNull()).count() == 0

    # day 2: one customer changes segment → old row closed, new row open
    changed = customer.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") == 1, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    sat2 = vault.load_satellite(
        sat, changed, ["c_custkey"], ["c_name", "c_mktsegment"], "customer",
        "2024-01-04",
    )
    closed = sat2.filter(F.col("load_end_date").isNotNull())
    assert closed.count() == 1
    opened = sat2.filter(
        (F.col("load_date") == "2024-01-04") & F.col("load_end_date").isNull()
    )
    assert opened.count() == 1
    assert sat2.count() == sat.count() + 1


def test_task_timeout_fails_attempt(ledger, caplog):
    import logging
    import time as _time

    from airflow_etl_spark.workflow import DagRunner, Task

    calls = []

    def slow(ctx):
        calls.append(1)
        _time.sleep(5)
        return "done"

    dag = DagRunner(
        "t__timeout",
        [Task("slow", fn=slow, timeout_s=0.3)],
    )
    with caplog.at_level(logging.WARNING, logger="airflow_etl_spark.workflow"):
        st = dag.run(ledger, "src_t", "2024-01-09")
    assert st == {"slow": "failed"}
    assert len(calls) == 1
    # the abandoned attempt is visible: its error and the warning name the
    # thread that is still running it
    err = dag.last_context.errors["slow"]
    assert err.startswith("TimeoutError: task slow exceeded 0.3s")
    assert "abandoned" in err and "still running" in err
    assert "task-t__timeout.slow" in err
    assert any(
        "abandoned" in r.getMessage() and "task-t__timeout.slow" in r.getMessage()
        for r in caplog.records
    )

    # and a fast task under the same timeout succeeds
    dag2 = DagRunner(
        "t__timeout_ok", [Task("fast", fn=lambda ctx: "ok", timeout_s=5.0)]
    )
    assert dag2.run(ledger, "src_t", "2024-01-09") == {"fast": "success"}


def test_trigger_rules_after_branch(ledger):
    """C10: a join task below a deselected branch arm skips under
    none_skipped, runs under all_done, and runs under all_success when at
    least one upstream succeeded."""
    from airflow_etl_spark.workflow import DagRunner, Task

    def build(join_rule):
        return DagRunner(
            f"t__rules_{join_rule}",
            [
                Task("start"),
                Task("pick", fn=lambda ctx: "arm_a", depends_on=["start"],
                     is_branch=True),
                Task("arm_a", fn=lambda ctx: "a", depends_on=["pick"]),
                Task("arm_b", fn=lambda ctx: "b", depends_on=["pick"]),
                Task("join", fn=lambda ctx: "j", depends_on=["arm_a", "arm_b"],
                     trigger_rule=join_rule),
            ],
        )

    st = build("none_skipped").run(ledger, "src_r", "2024-09-01")
    assert st["arm_b"] == "skipped"
    assert st["join"] == "skipped"          # a skipped upstream blocks it

    st = build("all_done").run(ledger, "src_r", "2024-09-02")
    assert st["join"] == "success"          # runs regardless

    st = build("all_success").run(ledger, "src_r", "2024-09-03")
    assert st["join"] == "success"          # one success + one skip → runs


def test_branch_rerun_reapplies_selection(ledger):
    """A branch task is exempt from resume-skip: on re-run it re-applies its
    selection so a previously-chosen arm that failed gets retried."""
    from airflow_etl_spark.workflow import DagRunner, Task

    attempts = []

    def flaky(ctx):
        attempts.append(1)
        if len(attempts) == 1:
            raise RuntimeError("transient")
        return "ok"

    def build():
        return DagRunner(
            "t__branch_rerun",
            [
                Task("pick", fn=lambda ctx: "arm", is_branch=True),
                Task("arm", fn=flaky, depends_on=["pick"]),
            ],
        )

    st1 = build().run(ledger, "src_b", "2024-11-05")
    assert st1 == {"pick": "success", "arm": "failed"}

    st2 = build().run(ledger, "src_b", "2024-11-05")
    assert st2 == {"pick": "success", "arm": "success"}  # retried, not skipped
    assert len(attempts) == 2


def test_independent_tasks_run_concurrently(ledger):
    """Two tasks with no dependency between them are in flight at once:
    each waits on a 2-party barrier, which a serial runner would time
    out."""
    import threading

    barrier = threading.Barrier(2, timeout=5)

    def meet(ctx):
        return barrier.wait()

    dag = DagRunner("t__concurrent", [
        Task("start"),
        Task("left", fn=meet, depends_on=["start"]),
        Task("right", fn=meet, depends_on=["start"]),
        Task("end", depends_on=["left", "right"]),
    ])
    st = dag.run(ledger, "src_p", "2024-02-01")
    assert st == {"start": "success", "left": "success", "right": "success",
                  "end": "success"}
    assert sorted(dag.last_context.results[t] for t in ("left", "right")) == [0, 1]


def test_no_task_starts_before_its_upstreams_finish(ledger):
    """Ready-set order: every task starts after all of its upstreams
    ended, and the ledger gets exactly one status row per task."""
    import threading
    import time as _time

    stamps: dict[str, tuple[float, float]] = {}
    lock = threading.Lock()

    def work(tid, pause):
        def fn(ctx):
            t0 = _time.monotonic()
            _time.sleep(pause)
            with lock:
                stamps[tid] = (t0, _time.monotonic())
        return fn

    deps = {
        "a": [], "b": ["a"], "c": ["a"], "d": ["b", "c"], "e": ["b"],
        "f": [], "g": ["f", "e"],
    }
    pauses = {"a": 0.05, "b": 0.2, "c": 0.02, "d": 0.01, "e": 0.05,
              "f": 0.3, "g": 0.01}
    dag = DagRunner("t__order", [
        Task(t, fn=work(t, pauses[t]), depends_on=ds) for t, ds in deps.items()
    ])
    st = dag.run(ledger, "src_o", "2024-02-02")
    assert st == dict.fromkeys(deps, "success")
    for tid, ds in deps.items():
        for d in ds:
            assert stamps[tid][0] >= stamps[d][1], (tid, d)

    rows = [r for r in ledger.rows("status_tasks")
            if r["run_id"] == dag.last_context.run_id]
    assert sorted(r["task_id"] for r in rows) == sorted(deps)
    assert all(r["status"] == "success" for r in rows)


def test_staging_dag_with_a_missing_table(spark, tmp_path, sf_dir):
    """Stage tasks are independent: a missing table fails only its own
    stage task, its siblings still stage, the drift check (which waits on
    every stage task) is upstream_failed, and run() still fails."""
    from airflow_etl_spark.operators.checks import PipelineStateError
    from airflow_etl_spark.pipeline import Pipeline, SourceConfig

    src = SourceConfig(name="erp_m", tables=["region", "nope", "nation"])
    p = Pipeline(spark, str(tmp_path / "whm"), [src], sf_dir)
    p.ledger.seed_dates([("2024-02-03", 0, None, 0)])
    with pytest.raises(PipelineStateError):
        p.run("2024-02-03")
    st = {r["task_id"]: r["status"] for r in p.ledger.rows("status_tasks")
          if r["dag_id"] == "01__erp_m__staging"}
    assert st == {
        "start": "success", "stage__region": "success",
        "stage__nope": "failed", "stage__nation": "success",
        "check_drift": "upstream_failed", "notify_drift": "upstream_failed",
        "end": "success",
    }
    assert p._exists("staging", "erp_m__region")
    assert p._exists("staging", "erp_m__nation")


def test_claim_next_date_is_exclusive(spark, tmp_path):
    """Concurrent claimants each get a DISTINCT date (atomic pick+mark
    under the table lock); the queue drains to None."""
    from concurrent.futures import ThreadPoolExecutor

    from airflow_etl_spark.ledger import Ledger

    lg = Ledger(spark, str(tmp_path / "claim_lg"))
    lg.seed_dates([
        ("2024-09-01", 0, None, 0), ("2024-09-02", 0, None, 0),
        ("2024-09-03", 1, None, 0),  # holiday — never claimable
        ("2024-09-04", 0, None, 0),
    ])
    with ThreadPoolExecutor(4) as pool:
        claims = list(pool.map(lambda _: lg.claim_next_date(), range(4)))
    got = sorted(c for c in claims if c is not None)
    assert got == ["2024-09-01", "2024-09-02", "2024-09-04"]
    assert claims.count(None) == 1
    assert lg.claim_next_date() is None


def test_staging_drift_absorbed_not_just_reported(spark, tmp_path):
    """VERDICT r2 next-round #4: a source that GAINS a column between two
    etl_dates must still stage (merge_schema commit absorbs the drift);
    the earlier date's rows read the new column as NULL, and drift_check
    both detects the change and folds it into the registry."""
    import os

    from airflow_etl_spark.pipeline import EntityConfig, Pipeline, SourceConfig
    from airflow_etl_spark.sources import read_table

    sf = str(tmp_path / "src")
    os.makedirs(sf)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.parquet(f"{sf}/things.parquet")

    src = SourceConfig(
        name="erp_d", tables=["things"],
        entities=[EntityConfig("thing", "things", ["id"], ["name"])],
    )
    p = Pipeline(spark, str(tmp_path / "wh"), [src], sf)
    p.stage_table(src, "things", "2024-01-01")
    assert not p.drift_check(src, "r1", "2024-01-01")  # first run registers

    # the source gains a column (and a row) before day 2
    spark.createDataFrame(
        [(1, "a", "x@x"), (2, "b", "y@y"), (3, "c", "z@z")],
        "id long, name string, email string",
    ).write.mode("overwrite").parquet(f"{sf}/things.parquet")

    assert p.drift_check(src, "r2", "2024-01-02")  # detected (C5 branch)
    p.stage_table(src, "things", "2024-01-02")     # AND absorbed

    staged = read_table(spark, str(tmp_path / "wh/staging/erp_d__things"))
    assert set(staged.columns) == {"id", "name", "email", "etl_date", "record_source"}
    day1 = staged.filter(F.col("etl_date") == "2024-01-01")
    assert [r.email for r in day1.collect()] == [None, None]
    day2 = staged.filter(F.col("etl_date") == "2024-01-02")
    assert sorted(r.email for r in day2.collect()) == ["x@x", "y@y", "z@z"]
    # re-detection is quiet: the registry accepted the new shape
    assert not p.drift_check(src, "r3", "2024-01-03")

    # and the vault load path runs over the evolved staging table
    p._append_new_keys(
        "hub_thing", vault.load_hub, day2, ["id"], "thing", "2024-01-02", "erp_d"
    )
    assert read_table(spark, str(tmp_path / "wh/raw_vault/hub_thing")).count() == 3


def test_restage_same_date_replaces_partition(spark, tmp_path):
    """Re-running a date's staging load must atomically replace exactly
    that date (the dynamic-overwrite contract, now COW through txn)."""
    import os

    from airflow_etl_spark.pipeline import EntityConfig, Pipeline, SourceConfig
    from airflow_etl_spark.sources import read_table

    sf = str(tmp_path / "src")
    os.makedirs(sf)
    spark.createDataFrame([(1,), (2,)], "id long").write.parquet(
        f"{sf}/t.parquet"
    )
    src = SourceConfig(name="s", tables=["t"],
                       entities=[EntityConfig("t", "t", ["id"], [])])
    p = Pipeline(spark, str(tmp_path / "wh"), [src], sf)
    p.stage_table(src, "t", "2024-01-01")
    p.stage_table(src, "t", "2024-01-02")
    p.stage_table(src, "t", "2024-01-02")  # re-run: replaces, not appends
    staged = read_table(spark, str(tmp_path / "wh/staging/s__t"))
    counts = {
        r.etl_date: r.n
        for r in staged.groupBy("etl_date").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"2024-01-01": 2, "2024-01-02": 2}


def _sales_domain(spark, tmp_path, sf_dir, name: str):
    """A pipeline whose one source has a `02_Sales` domain holding one
    entity (hub + satellite) and one link."""
    from airflow_etl_spark.pipeline import (
        EntityConfig, LinkConfig, Pipeline, SourceConfig,
    )

    src = SourceConfig(name=name, tables=["orders"], entities=[
        EntityConfig("order", "orders", ["o_orderkey"], ["o_orderstatus"],
                     domain="02_Sales"),
    ], links=[
        LinkConfig("customer_order", "orders", "customer", ["o_custkey"],
                   "order", ["o_orderkey"], domain="02_Sales"),
    ])
    p = Pipeline(spark, str(tmp_path / f"wh_{name}"), [src], sf_dir)
    p.ledger.seed_dates([("2024-03-01", 0, None, 0)])
    return p


def test_domain_models_load_concurrently(spark, tmp_path, sf_dir, monkeypatch):
    """A domain task loads its models at once: the hub append, the
    satellite upsert and the link append each wait on a 3-party barrier,
    which a serial domain would time out."""
    import threading

    from airflow_etl_spark.sources import read_table, txn

    p = _sales_domain(spark, tmp_path, sf_dir, "erp_cc")
    barrier = threading.Barrier(3, timeout=5)
    met: list[str] = []
    append, upsert = p._append_new_keys, txn.upsert_mor

    def append_at_barrier(table, *args):
        met.append(table)
        barrier.wait()
        return append(table, *args)

    def upsert_at_barrier(df, path, *args, **kwargs):
        met.append(path.rsplit("/", 1)[-1])
        barrier.wait()
        return upsert(df, path, *args, **kwargs)

    monkeypatch.setattr(p, "_append_new_keys", append_at_barrier)
    monkeypatch.setattr(txn, "upsert_mor", upsert_at_barrier)
    out = p.run("2024-03-01")
    assert out["erp_cc"]["vault"]["domain__02_Sales"] == "success"
    assert sorted(met) == ["hub_order", "link_customer_order", "satellite_order"]
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    for table in ("hub_order", "satellite_order", "link_customer_order"):
        assert read_table(spark, p._tpath("raw_vault", table)).count() == n_orders
    models = sorted(r["name"] for r in p.ledger.rows("checkpoints")
                    if r["schema_name"] == "raw_vault")
    assert models == ["hub_order", "link_customer_order", "satellite_order"]


def test_failed_model_lets_its_domain_siblings_finish(
    spark, tmp_path, sf_dir, monkeypatch
):
    """A link load that always raises fails its domain task after the
    retry, but only once every sibling model has finished: the entity,
    which waits for the link to fail before it loads, still writes its
    hub, satellite and checkpoint rows. The run fails and the ETL_ERROR
    email names the domain task."""
    import threading

    from airflow_etl_spark.operators.checks import PipelineStateError
    from airflow_etl_spark.sources import read_table

    p = _sales_domain(spark, tmp_path, sf_dir, "erp_lf")
    link_failed = threading.Event()
    load_entity = p.load_entity

    def broken_link(*args):
        link_failed.set()
        raise RuntimeError("link load broke")

    def entity_after_link_failure(*args):
        assert link_failed.wait(5), "the link load never ran"
        return load_entity(*args)

    monkeypatch.setattr(p, "load_link", broken_link)
    monkeypatch.setattr(p, "load_entity", entity_after_link_failure)
    with pytest.raises(PipelineStateError):
        p.run("2024-03-01")

    st = [r["status"] for r in p.ledger.rows("status_tasks")
          if r["task_id"] == "domain__02_Sales"]
    assert st == ["failed"]
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    for table in ("hub_order", "satellite_order"):
        assert read_table(spark, p._tpath("raw_vault", table)).count() == n_orders
    assert not p._exists("raw_vault", "link_customer_order")
    models = {r["name"] for r in p.ledger.rows("checkpoints")
              if r["schema_name"] == "raw_vault"}
    assert models == {"hub_order", "satellite_order"}
    mails = read_table(
        spark, p._tpath("operational_metadata", "email_notification")
    ).collect()
    assert [m.event_type for m in mails] == ["ETL_ERROR"]
    assert "domain__02_Sales" in mails[0].email_body


def test_domain_retry_reloads_only_unloaded_models(
    spark, tmp_path, sf_dir, monkeypatch
):
    """A link load that raises on its first attempt only: the domain's
    retry loads the link and leaves the entity, which loaded in the failed
    attempt, alone. Every model ends with exactly one checkpoint row for
    the date, so completion roll-ups count each model once."""
    from collections import Counter

    from airflow_etl_spark.sources import read_table

    p = _sales_domain(spark, tmp_path, sf_dir, "erp_rt")
    link_calls, entity_calls = [], []
    load_link, load_entity = p.load_link, p.load_entity

    def link_fails_once(*args):
        link_calls.append(args)
        if len(link_calls) == 1:
            raise RuntimeError("first link load broke")
        return load_link(*args)

    def counted_entity(*args):
        entity_calls.append(args)
        return load_entity(*args)

    monkeypatch.setattr(p, "load_link", link_fails_once)
    monkeypatch.setattr(p, "load_entity", counted_entity)
    out = p.run("2024-03-01")
    assert out["erp_rt"]["vault"]["domain__02_Sales"] == "success"
    assert (len(link_calls), len(entity_calls)) == (2, 1)
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    for table in ("hub_order", "satellite_order", "link_customer_order"):
        assert read_table(spark, p._tpath("raw_vault", table)).count() == n_orders
    counts = Counter(
        r["name"] for r in p.ledger.rows("checkpoints")
        if r["schema_name"] == "raw_vault" and r["etl_date"] == "2024-03-01"
    )
    assert counts == {
        "hub_order": 1, "satellite_order": 1, "link_customer_order": 1,
    }


def test_two_writers_of_one_vault_table_are_rejected(spark, tmp_path, sf_dir):
    """Models of one domain and source groups load concurrently, so two
    per-source models may not write one raw_vault table; a multi-source
    model may share a per-source model's table (it runs alone, after every
    source)."""
    from airflow_etl_spark.pipeline import (
        EntityConfig, LinkConfig, MultiSourceConfig, Pipeline, SourceConfig,
    )

    region = EntityConfig("region", "region", ["r_regionkey"], ["r_name"])
    link = LinkConfig("region_nation", "nation", "region", ["n_regionkey"],
                      "nation", ["n_nationkey"])
    wh = str(tmp_path / "wh2")
    with pytest.raises(ValueError, match="hub_region has two writers: "
                       "entity region of source a and entity region of source b"):
        Pipeline(spark, wh, [SourceConfig("a", ["region"], entities=[region]),
                             SourceConfig("b", ["region"], entities=[region])],
                 sf_dir)
    with pytest.raises(ValueError, match="link_region_nation has two writers"):
        Pipeline(spark, wh, [SourceConfig("a", ["nation"], links=[link]),
                             SourceConfig("b", ["nation"], links=[link])],
                 sf_dir)
    Pipeline(spark, wh, [SourceConfig("a", ["region"], entities=[region])],
             sf_dir, multi=MultiSourceConfig(["a"], entities=[region]))


def test_control_appends_queue_only_on_their_own_table(ledger):
    """A ledger append waits for its own table's lock only: while another
    holder has status_tasks locked, a status append blocks, and a
    checkpoint append from a third thread completes meanwhile."""
    import threading
    import time as _time

    from airflow_etl_spark.sources import txn

    with txn.table_lock(ledger._path("status_tasks")):
        status = threading.Thread(target=ledger.save_task_status, args=(
            "r1", "src_l", "dag", "t", "success", "2024-01-03"))
        status.start()
        _time.sleep(0.5)  # let it reach the held lock
        checkpoint = threading.Thread(target=ledger.save_checkpoint, args=(
            "r1", "m", "raw_vault", "src_l", "success", "2024-01-03"))
        checkpoint.start()
        checkpoint.join(10)
        assert not checkpoint.is_alive()
        assert status.is_alive()
    status.join(10)
    assert not status.is_alive()
    assert [r["task_id"] for r in ledger.rows("status_tasks")] == ["t"]
    assert [r["name"] for r in ledger.rows("checkpoints")] == ["m"]
