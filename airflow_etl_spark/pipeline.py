"""Pipeline assembly — the reference's DAG factories, Spark-first.

The reference builds per-source staging and vault DAGs from a config dict of
~20 sources (`SOURCES_DICT1`, visible at
dag_etlpipeline_multi_source__datavault.py:16-37) and a root DAG that fans
out TaskGroups per source (dag_etlpipeline__root.py:73-130). Here the same
shape is a declarative `SourceConfig` list compiled into workflow.Task DAGs:

root run:
  pick etl_date → per source: [staging DAG → vault DAG] → all-success gate
  → mark etl_date success

staging DAG (per source):   start → stage__<table> (one independent task
                            per table, each auditing the partition it wrote
                            against its source) → drift check (branch:
                            notify vs continue) → status rows
vault DAG (per source):     one task per domain, which loads the domain's
                            hub, link and satellite models concurrently
                            (the reference's dbt `DBT_THREADS`), with
                            resume-skip (check_conditions semantics)

Ready tasks of a DAG run concurrently (workflow.MAX_ACTIVE_TASKS).

Data tables are parquet dirs under the warehouse; control tables live in the
Ledger. Everything is idempotent per (source, task, etl_date): re-running a
finished date is a no-op chain of skips (reference C4).
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession, functions as F

from . import vault
from .catalog import load_table
from .ledger import Ledger
from .operators import drift
from .operators.checks import PipelineStateError
from .sources import parquet_table_exists, read_table
from .workflow import DagRunner, RunContext, Task, all_green, run_concurrently


@dataclass
class EntityConfig:
    """One business entity within a source: which staged table feeds its
    hub/satellite, on which business keys, with which descriptive attrs."""

    name: str
    table: str
    business_keys: list[str]
    attr_cols: list[str]
    domain: str = "01_Default"


@dataclass
class LinkConfig:
    name: str
    table: str
    left_entity: str
    left_keys: list[str]
    right_entity: str
    right_keys: list[str]
    domain: str = "01_Default"


@dataclass
class SourceConfig:
    """Analog of one SOURCES_DICT entry (data_source/prefix pair)."""

    name: str
    tables: list[str]
    entities: list[EntityConfig] = field(default_factory=list)
    links: list[LinkConfig] = field(default_factory=list)
    # C8: TimeSensor stagger (reference dag_etlpipeline__root.py:81-85 —
    # per-source `wait_time` minutes offsets ~20 sources' starts). Applied
    # to the staging DAG's head task under the concurrent fan-out.
    start_delay_s: float = 0.0


@dataclass
class MultiSourceConfig:
    """Cross-source vault models (`tag:multi_sources`,
    dag_etlpipeline_multi_source__datavault.py:71-82): hubs/links loaded
    from the UNION of several sources' staged tables, run after every
    per-source DAG succeeds (root trigger C1). Satellites stay per-source —
    Data Vault keeps descriptive attrs source-specific; only business keys
    and relationships integrate."""

    sources: list[str]
    entities: list[EntityConfig] = field(default_factory=list)
    links: list[LinkConfig] = field(default_factory=list)


def _check_vault_writers(sources: list[SourceConfig]) -> None:
    """Raise ValueError when two per-source models write one raw_vault
    table. A domain's models load concurrently and so do source groups,
    and a hub/link append pins the existing table before it takes the
    table lock: two writers of one hub would both append the same new
    keys, and two satellite loads would close each other's open rows.
    Multi-source models run alone, after every source, so they may share
    a per-source model's table."""
    writers: dict[str, str] = {}

    def claim(table: str, writer: str) -> None:
        if table in writers:
            raise ValueError(
                f"raw_vault table {table} has two writers: "
                f"{writers[table]} and {writer}"
            )
        writers[table] = writer

    for source in sources:
        for ent in source.entities:
            for table in (f"hub_{ent.name}", f"satellite_{ent.name}"):
                claim(table, f"entity {ent.name} of source {source.name}")
        for lk in source.links:
            claim(f"link_{lk.name}", f"link {lk.name} of source {source.name}")


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        sources: list[SourceConfig],
        sf_dir: str,
        multi: MultiSourceConfig | None = None,
        sleep_fn=None,
        catalog=None,
    ):
        self.spark = spark
        self.warehouse = warehouse_dir
        self.sources = sources
        self.multi = multi
        self.sf_dir = sf_dir
        self._sleep_fn = sleep_fn  # injectable for tests (C8); None = time.sleep
        # catalog (sources/catalog_txn.WarehouseCatalog) → every GREEN run
        # ends by publishing one catalog snapshot pinning the live version
        # of every warehouse table (publish_warehouse_state, tagged with
        # the etl_date): catalog readers get run-consistent views and a
        # failed run publishes nothing — the orchestrator-level Nessie
        # pattern the reference's Airflow-on-Nessie stack implies.
        self.catalog = catalog
        _check_vault_writers(sources)
        self.ledger = Ledger(spark, os.path.join(warehouse_dir, "operational_metadata"))
        os.makedirs(warehouse_dir, exist_ok=True)
        # The schema registry + schemadrift tables are SHARED across sources;
        # under the C2 thread fan-out two drift checks would race the
        # read-check-write (both taking the "first run" register path and
        # colliding on the same swap-tmp dir). Metadata-scale op → serialize.
        import threading

        self._drift_lock = threading.Lock()

    # -- physical table helpers -------------------------------------------
    def _tpath(self, schema: str, table: str) -> str:
        return os.path.join(self.warehouse, schema, table)

    def _exists(self, schema: str, table: str) -> bool:
        return parquet_table_exists(self._tpath(schema, table))

    def _read(self, schema: str, table: str):
        return read_table(self.spark, self._tpath(schema, table))

    def _source(self, table: str):
        """A live source table. sf_dir moves per date and sources are
        rewritten in place; the catalog re-infers a rewritten file's
        schema."""
        return load_table(self.spark, self.sf_dir, table)

    def _checkpoint(self, run_id: str, name: str, schema: str,
                    source_name: str, etl_date: str) -> None:
        """Per-model checkpoint row (checkpoint_etlpipeline_dbt_metadata,
        utlis/send_email.py:403) — feeds the completion-report roll-ups."""
        self.ledger.save_checkpoint(
            run_id, name, schema, source_name, "success", etl_date
        )

    # -- staging -----------------------------------------------------------
    def stage_table(self, source: SourceConfig, table: str, etl_date: str) -> None:
        """Source → staging load, partitioned by etl_date (the reference's
        per-etl_date dbt staging run). Copy-on-write per date partition
        through the txn manifest (re-running a date atomically replaces
        exactly that date's files), with **drift absorption**: a source
        that gained or lost columns still stages (merge_schema=True folds
        the change into the table schema; earlier dates read the new
        columns as NULL — the reference's dbt+Iceberg staging behavior,
        SURVEY §1.3). etl_date stays a data column (keep_column) so every
        downstream reader's date filter works unchanged.

        The content gate runs here, on the partition just written: a
        staged partition that differs from its source raises
        PipelineStateError, so the stage task fails (after its retry) and
        the vault never loads it."""
        from .sources import txn

        out = (
            self._source(table)
            .withColumn("etl_date", F.lit(etl_date))
            .withColumn("record_source", F.lit(source.name))
        )
        name = f"{source.name}__{table}"
        txn.replace_partitions(
            out, self._tpath("staging", name), "etl_date",
            merge_schema=True, keep_column=True,
        )
        if self._content_diff(source, table, etl_date).limit(1).collect():
            raise PipelineStateError(
                f"staged partition {name} for {etl_date} differs from its source"
            )

    def drift_check(self, source: SourceConfig, run_id: str, etl_date: str) -> bool:
        """Compare live source schemas against the registered schema table;
        write schemadrift rows; return True when drift exists (branch C5).
        Driver-side throughout (operators/drift.py): the live schemas come
        from the catalog's cache, the registry from `txn.read_arrow`.

        The whole read-check-write holds BOTH the in-process lock (thread
        fan-out) and the registry's table flock (a second driver process):
        without the flock, two processes could both take the first-run
        register path and silently swallow each other's registrations."""
        from .ledger import arrow_table
        from .sources import txn

        live = [
            row for t in source.tables
            for row in drift.schema_rows(
                self._source(t).schema, f"{source.name}__{t}"
            )
        ]
        mine = f"{source.name}__"
        reg_path = self._tpath("operational_metadata", "schema_registry")
        with self._drift_lock, txn.table_lock(reg_path):
            registry = [
                (r["table_name"], r["column_name"], r["data_type"])
                for r in self.ledger.rows("schema_registry")
            ]
            registered = [r for r in registry if r[0].startswith(mine)]
            # THIS source's first sighting registers without drift — the
            # short-circuit is per-source, not global, or every source
            # after the first gets full false drift on day one
            changes = drift.diff(live, registered) if registered else []
            if registered and not changes:
                return False
            if changes:
                detail, flags = drift.change_rows(
                    changes, run_id, source.name, etl_date
                )
                self.ledger.append_rows(
                    "schemadrift_tablechangedetail", detail, drift.DETAIL_SCHEMA
                )
                self.ledger.append_rows(
                    "schemadrift_tablechange", flags, drift.FLAG_SCHEMA
                )
            # fold the observed schema into the registry so the drift is
            # reported once (this run) and the next run compares against the
            # accepted new shape — without this, a table first seen after
            # initial registration re-flags full drift forever
            others = [r for r in registry if not r[0].startswith(mine)]
            txn.commit_rows(
                reg_path, arrow_table(others + live, drift.REGISTRY_SCHEMA)
            )
            return bool(changes)

    # -- vault -------------------------------------------------------------
    def _vault_table(self, table: str):
        """A raw_vault table, or None before its first load."""
        if self._exists("raw_vault", table):
            return self._read("raw_vault", table)
        return None

    def _append_new_keys(self, table: str, load, *args) -> None:
        """Insert-only hub/link load as an O(delta) atomic append:
        `load(existing, *args)` (vault.load_hub / vault.load_link) returns
        the rows to add, and the new manifest references the existing
        snapshot's files plus only those rows (txn.append_files) — a hub at
        100 TB must never be rewritten to add a day's keys. On a missing
        table the append commits the initial snapshot."""
        from .sources import txn

        txn.append_files(
            load(self._vault_table(table), *args),
            self._tpath("raw_vault", table),
        )

    def load_entity(self, source: SourceConfig, ent: EntityConfig, etl_date: str):
        """The hub append and the SCD2 satellite load, run concurrently:
        each reads only the staged partition and its own vault table. The
        satellite load is ONE merge-on-read upsert (txn.upsert_mor) keyed
        on (hash key, load_date): the delta (vault.satellite_delta) holds
        the closed copies of changed/retired open rows, which share the
        identity of the open rows they replace, and the new open rows. The
        write is O(changed keys) plus one equality-delete file; no
        untouched row is rewritten (the Iceberg v2 row-level MERGE of the
        reference's dbt satellites), and compaction folds the pending
        deletes. An identical snapshot publishes nothing; a first load is
        the same call on a missing table."""
        from .sources import txn

        staged = self._read("staging", f"{source.name}__{ent.table}").filter(
            F.col("etl_date") == etl_date
        )
        sat_name = f"satellite_{ent.name}"

        def hub():
            self._append_new_keys(
                f"hub_{ent.name}", vault.load_hub, staged, ent.business_keys,
                ent.name, etl_date, source.name,
            )

        def satellite():
            delta = vault.satellite_delta(
                self._vault_table(sat_name), staged, ent.business_keys,
                ent.attr_cols, ent.name, etl_date, source.name,
            )
            txn.upsert_mor(
                delta, self._tpath("raw_vault", sat_name),
                [f"{ent.name}_hash_key", "load_date"],
            )

        run_concurrently(self.spark, [hub, satellite])

    def load_link(self, source: SourceConfig, lk: LinkConfig, etl_date: str):
        staged = self._read("staging", f"{source.name}__{lk.table}").filter(
            F.col("etl_date") == etl_date
        )
        self._append_new_keys(
            f"link_{lk.name}", vault.load_link, staged, lk.left_keys,
            lk.right_keys, lk.name, lk.left_entity, lk.right_entity,
            etl_date, source.name,
        )

    def _staged_union(self, table: str, source_names: list[str], etl_date: str):
        """UNION of several sources' staged copies of one logical table —
        the input grain of a multi-source vault model. record_source rides
        along from staging, so integrated rows stay attributable."""
        parts = [
            self._read("staging", f"{s}__{table}").filter(
                F.col("etl_date") == etl_date
            )
            for s in source_names
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def load_multi_entity(self, ent: EntityConfig, etl_date: str) -> None:
        """Cross-source hub load: distinct business keys over the union;
        load_hub's insert-new-keys-only semantics dedupe keys seen by
        several sources (first load's record_source wins, reference hub
        grain)."""
        staged = self._staged_union(ent.table, self.multi.sources, etl_date)
        self._append_new_keys(
            f"hub_{ent.name}", vault.load_hub, staged, ent.business_keys,
            ent.name, etl_date, "multi_sources",
        )

    def load_multi_link(self, lk: LinkConfig, etl_date: str) -> None:
        staged = self._staged_union(lk.table, self.multi.sources, etl_date)
        self._append_new_keys(
            f"link_{lk.name}", vault.load_link, staged, lk.left_keys,
            lk.right_keys, lk.name, lk.left_entity, lk.right_entity,
            etl_date, "multi_sources",
        )

    # -- DAG assembly ------------------------------------------------------
    def staging_dag(self, source: SourceConfig) -> DagRunner:
        tasks: list[Task] = [Task("start", start_delay_s=source.start_delay_s)]
        for t in source.tables:
            def stage_and_checkpoint(ctx: RunContext, tt=t):
                self.stage_table(source, tt, ctx.etl_date)
                self._checkpoint(
                    ctx.run_id, f"stg_{tt}", "staging", source.name, ctx.etl_date
                )

            tasks.append(Task(f"stage__{t}", fn=stage_and_checkpoint,
                              depends_on=["start"], retries=1))

        def check_drift(ctx: RunContext):
            has_drift = self.drift_check(source, ctx.run_id, ctx.etl_date)
            return "notify_drift" if has_drift else "end"

        stages = [t.task_id for t in tasks[1:]] or ["start"]
        tasks.append(Task("check_drift", fn=check_drift, depends_on=stages,
                          is_branch=True))

        def notify_drift(ctx: RunContext):
            """Schema-drift notification TaskGroup (C5 + S16,
            dag_etlpipeline__staging.py:132-164): render the drift detail to
            HTML and record email_notification rows; actual SMTP delivery is
            a side-effect outside the data plane."""
            from . import report
            from .sources import txn

            detail = self._read(
                "operational_metadata", "schemadrift_tablechangedetail"
            ).filter(F.col("run_id") == ctx.run_id)
            body = report.to_html_table(
                detail.select("table_name", "column_name", "data_type", "status")
                .orderBy("table_name", "column_name")
            )
            rows = report.email_rows(
                self.spark, ctx.run_id, ctx.etl_date,
                ["data-team@example.com"], "SCHEMA_DRIFT",
                f"Schema drift detected: {source.name} {ctx.etl_date}", body,
            )
            txn.append(
                rows, self._tpath("operational_metadata", "email_notification")
            )
            return "drift notification recorded"

        tasks.append(Task("notify_drift", fn=notify_drift, depends_on=["check_drift"]))
        tasks.append(
            Task("end", depends_on=["check_drift", "notify_drift"], trigger_rule="all_done")
        )
        return DagRunner(f"01__{source.name}__staging", tasks, sleep_fn=self._sleep_fn)

    def vault_dag(self, source: SourceConfig) -> DagRunner:
        """Per-domain fan-out (C3): entities/links grouped by domain, each
        domain an independent task off start, so domains run concurrently.
        A domain task loads all of its models at once (dbt's `threads`
        inside one `dbt run -s path:models/raw_vault/<domain>`) and fails
        once every model has finished if any one failed; its retry re-runs
        only the models that have not loaded in this DAG run (the run
        context records each loaded one), so no model is loaded or
        checkpointed twice."""
        tasks: list[Task] = [Task("start")]
        domain_tasks = []
        domains: dict[str, list] = {}
        for ent in source.entities:
            domains.setdefault(ent.domain, []).append(("entity", ent))
        for lk in source.links:
            domains.setdefault(lk.domain, []).append(("link", lk))

        def load_model(ctx: RunContext, loaded: set, kind: str, cfg) -> None:
            if kind == "entity":
                self.load_entity(source, cfg, ctx.etl_date)
                models = [f"hub_{cfg.name}", f"satellite_{cfg.name}"]
            else:
                self.load_link(source, cfg, ctx.etl_date)
                models = [f"link_{cfg.name}"]
            for model in models:
                self._checkpoint(
                    ctx.run_id, model, "raw_vault", source.name, ctx.etl_date
                )
            loaded.add((kind, cfg.name))

        for domain, items in sorted(domains.items()):
            tid = f"domain__{domain}"

            def run_domain(ctx: RunContext, items=items, tid=tid):
                loaded = ctx.results.setdefault(f"{tid}.loaded", set())
                run_concurrently(self.spark, [
                    functools.partial(load_model, ctx, loaded, kind, cfg)
                    for kind, cfg in items if (kind, cfg.name) not in loaded
                ])
                return f"{len(items)} loads"

            tasks.append(Task(tid, fn=run_domain, depends_on=["start"], retries=1))
            domain_tasks.append(tid)
        tasks.append(Task("end", depends_on=domain_tasks or ["start"]))
        return DagRunner(
            f"02__{source.name}__datavault", tasks, sleep_fn=self._sleep_fn
        )

    def multi_source_dag(self) -> DagRunner:
        """The multi_source__datavault DAG (C1: root-triggered after all
        per-source DAGs, dag_etlpipeline_multi_source__datavault.py)."""
        tasks: list[Task] = [Task("start")]
        model_tasks = []
        for ent in self.multi.entities:
            def run_ent(ctx: RunContext, e=ent):
                self.load_multi_entity(e, ctx.etl_date)
                self._checkpoint(
                    ctx.run_id, f"hub_{e.name}", "raw_vault", "multi_sources",
                    ctx.etl_date,
                )

            tid = f"hub__{ent.name}"
            tasks.append(Task(tid, fn=run_ent, depends_on=["start"], retries=1))
            model_tasks.append(tid)
        for lk in self.multi.links:
            def run_lk(ctx: RunContext, l=lk):
                self.load_multi_link(l, ctx.etl_date)
                self._checkpoint(
                    ctx.run_id, f"link_{l.name}", "raw_vault", "multi_sources",
                    ctx.etl_date,
                )

            tid = f"link__{lk.name}"
            tasks.append(Task(tid, fn=run_lk, depends_on=["start"], retries=1))
            model_tasks.append(tid)
        tasks.append(Task("end", depends_on=model_tasks or ["start"]))
        return DagRunner(
            "03__multi_source__datavault", tasks, sleep_fn=self._sleep_fn
        )

    # -- root --------------------------------------------------------------
    def _run_group(self, name: str, dags: dict[str, DagRunner],
                   etl_date: str) -> tuple[dict, bool]:
        """One ledger-wrapped chain of DAGs under a single run_id (a
        root-DAG TaskGroup, C2): a source's staging → vault, or the
        multi-source vault. Returns ({key: statuses}, all green).

        Each DAG runs ONLY if every earlier one went green (the root
        trigger's allowed_states=['success']): loading the vault over a
        failed staging's stale/missing partition would retire every
        satellite row for the date AND record a success that resume-skip
        then honors. A DAG not run reports `{"__<key>__":
        "upstream_failed"}`."""
        run_id = self.ledger.start_run(name, etl_date, "master")
        out: dict = {}
        ok = True
        for key, dag in dags.items():
            if ok:
                out[key] = dag.run(
                    self.ledger, name, etl_date, run_id=run_id,
                    created_by="group",
                )
                ok = all_green(out[key])
            else:
                out[key] = {f"__{key}__": "upstream_failed"}
        self.ledger.finish_run(
            run_id, name, etl_date, "success" if ok else "failed", "master"
        )
        return out, ok

    def run(self, etl_date: str | None = None, max_workers: int = 1) -> dict:
        """One root run: the reference's 00__etlpipeline__root lifecycle
        (§3.1): date pick → per-source staging+vault → all-green → mark
        date success. Returns {source: {dag: statuses}}.

        `max_workers` is the source-group fan-out: `> 1` runs that many
        sources' staging → vault chains at once on a driver thread pool
        (the reference runs ~20 source TaskGroups concurrently, C2; Spark's
        scheduler is thread-safe and interleaves the jobs), each source
        thread carrying the caller's job group and scheduler pool. Sources
        are independent by construction — disjoint staging/vault tables
        (`_check_vault_writers`) — and each ledger append takes its own
        table's lock. Tasks inside each DAG run concurrently whatever
        `max_workers` is. The content gate runs in each stage task
        (stage_table), so a date is green only when every staged partition
        reconciled with its source."""
        if etl_date is None:
            # atomic pick+mark: two drivers draining one queue cannot
            # claim the same date (C4 idempotency across processes)
            etl_date = self.ledger.claim_next_date()
            if etl_date is None:
                return {}
        else:
            self.ledger.mark_date(etl_date, "running")

        def run_source(source: SourceConfig) -> tuple[dict, bool]:
            dags = {"staging": self.staging_dag(source),
                    "vault": self.vault_dag(source)}
            return self._run_group(source.name, dags, etl_date)

        try:
            if max_workers <= 1:
                outcomes = [run_source(s) for s in self.sources]
            else:
                outcomes = run_concurrently(self.spark, [
                    functools.partial(run_source, s) for s in self.sources
                ], max_workers)
        except Exception:
            # an unexpected failure (ledger IO, a worker raising) must not
            # leave the date stuck at 'running' — the queue only picks
            # status-NULL dates, so a stuck date becomes a silent gap day
            self.ledger.mark_date(etl_date, "failed")
            raise
        results = {s.name: r for s, (r, _) in zip(self.sources, outcomes)}
        ok = all(src_ok for _, src_ok in outcomes)

        # multi-source models run only when every per-source DAG is green
        # (root TriggerDagRunOperator with allowed_states=['success'], C1)
        if self.multi and ok:
            results["multi_sources"], ok = self._run_group(
                "multi_sources", {"datavault": self.multi_source_dag()},
                etl_date,
            )

        self.ledger.mark_date(etl_date, "success" if ok else "failed")
        if ok and self.catalog is not None:
            self.catalog.publish_warehouse_state(
                meta={"etl_date": etl_date, "published_by": "pipeline.run"}
            )
        if not ok:
            # C6: record the error notification before failing the run
            # (check_etl_pipeline_error → send_email_etl_error group,
            # dag_etlpipeline__root.py:206-211)
            self._notify_error(etl_date)
            raise PipelineStateError(f"pipeline failed for etl_date {etl_date}")
        return results

    def check_records(self, etl_date: str):
        """Row-count reconciliation (§5 #1): every (source, table) staged
        partition for this date vs the source table it was loaded from.
        Not a gate of run(): the content gate in stage_table compares
        per-bucket row counts too, so it catches every mismatch this one
        does."""
        from .operators import checks

        src_tables: dict = {}
        tgt_tables: dict = {}
        for source in self.sources:
            for t in source.tables:
                name = f"{source.name}__{t}"
                src_tables[name] = self._source(t)
                tgt_tables[name] = self._read("staging", name).filter(
                    F.col("etl_date") == etl_date
                )
        src = checks.rowcounts(self.spark, src_tables)
        tgt = checks.rowcounts(self.spark, tgt_tables)
        return checks.reconcile(src, tgt)

    def _content_diff(self, source: SourceConfig, table: str, etl_date: str):
        """Merkle-bucket CONTENT reconciliation of one staged partition
        against its source table (operators/recon): the gate stage_table
        runs on the partition it just wrote, a superset of the
        check_records row-count test. Each row's 60-bit md5 fingerprint
        over the canonical full-row string (identical Spark expressions
        both sides) is signed — source rows carry (n=+1, fp=+h), staged
        rows (n=-1, fp=-h) — and summed per bucket, so a bucket differs
        iff its (n_rows, fp_sum) summaries differ. Returns the differing
        (table_name, bucket) rows, EMPTY on a faithful load. Cost at any
        scale: two narrow scans and one n_buckets-partial shuffle; no row
        ever shuffles."""
        from .operators import recon

        name = f"{source.name}__{table}"
        src = self._source(table)
        tgt = self._read("staging", name).filter(F.col("etl_date") == etl_date)
        # NULLs get an explicit sentinel: concat_ws SKIPS nulls, which
        # would let (1, NULL, 2) collide with (1, 2, NULL)
        h = recon.h60(F.concat_ws("\x1f", *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in sorted(src.columns)
        ]))

        def signed(df, sign: int):
            return df.select(
                F.pmod(h, F.lit(recon.RECON_BUCKETS)).cast("long").alias("bucket"),
                F.lit(sign).alias("n"),
                (h * sign).cast("decimal(38,0)").alias("fp"),
            )

        return (
            signed(src, 1).unionByName(signed(tgt, -1))
            .groupBy("bucket").agg(F.sum("n").alias("n"), F.sum("fp").alias("fp"))
            .filter((F.col("n") != 0) | (F.col("fp") != 0))
            .select(F.lit(name).alias("table_name"), "bucket")
        )

    def check_content(self, etl_date: str):
        """The content gate of every (source, table) staged partition for
        this date (_content_diff), for on-demand audits: the differing
        (table_name, bucket) rows, EMPTY on a faithful load — and with zero
        sources or tables."""
        out = self.spark.createDataFrame([], "table_name string, bucket long")
        for source in self.sources:
            for t in source.tables:
                out = out.unionByName(self._content_diff(source, t, etl_date))
        return out

    def _notify_error(self, etl_date: str) -> None:
        """Error-email rows from the failed tasks of this date (C6 +
        send_email.py:703-811 error detail)."""
        from . import report

        failed = sorted(
            ((r["source_name"], r["dag_id"], r["task_id"], r["status"])
             for r in self.ledger.rows("status_tasks")
             if r["etl_date"] == etl_date
             and r["status"] not in ("success", "skipped")),
            key=lambda r: (r[1], r[2]),
        )
        body = report.to_html_table(self.spark.createDataFrame(
            failed,
            "source_name string, dag_id string, task_id string, status string",
        ))
        rows = report.email_rows(
            self.spark, "root", etl_date, ["data-team@example.com"],
            "ETL_ERROR", f"ETL pipeline failed: {etl_date}", body,
        )
        from .sources import txn

        txn.append(
            rows, self._tpath("operational_metadata", "email_notification")
        )

    def run_all(self, max_workers: int = 1, limit: int | None = None) -> dict:
        """Drain the etl_dates queue: the reference's scheduler loop (each
        cron tick picks the next unprocessed non-holiday date,
        utlis/etl_manager.py:43-70) compressed into one call. Returns
        {etl_date: per-source results}; a failed date stops the queue and
        maps to {"error": message} so the green dates' results survive
        (the reference likewise halts the queue on a red day)."""
        out: dict = {}
        while limit is None or len(out) < limit:
            etl_date = self.ledger.next_etl_date()
            if etl_date is None:
                break
            try:
                out[etl_date] = self.run(etl_date, max_workers=max_workers)
            except PipelineStateError as e:
                out[etl_date] = {"error": str(e)}
                break
        return out
