"""Which package calls the traced run times, and the per-layer metrics.

`install` wraps public entry points of each layer of the package with
`spans.Tracer` spans. `per_layer` turns the recorded spans into the flat
per-layer metric dict; every name in PER_LAYER is always present (0 where
the workload never enters that layer, which is itself the prediction for a
layer the workload bypasses).
"""

from __future__ import annotations

from spans import SPARK_KEYS, Tracer

PIPELINE_CALLS = (
    "run", "stage_table", "drift_check", "load_entity", "load_link",
    "load_multi_entity", "load_multi_link", "check_records", "check_content",
)
#: Pipeline.run collects these two lazy results itself; the traced run
#: collects them inside the call's span so their jobs are attributed to it
LAZY_PIPELINE_CALLS = ("check_records", "check_content")
LEDGER_CALLS = (
    "read", "append", "append_rows", "overwrite", "seed_dates",
    "next_etl_date", "claim_next_date", "mark_date", "start_run",
    "finish_run", "save_task_status", "save_checkpoint",
    "latest_status_per_source", "has_succeeded", "successful_tasks",
    "all_sources_green",
)
TXN_WRITES = ("replace_partitions", "append_files", "commit", "append_rows", "append")
TXN_CALLS = ("replace_partitions", "append_files", "commit", "append_rows", "read_partitions")
REPORTED_PIPELINE = (
    "stage_table", "drift_check", "load_entity", "load_link",
    "check_records", "check_content",
)
#: plan operators that run rows through a Python worker
PYTHON_OPERATORS = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "ArrowWindowPython", "PythonMapInArrow",
)

PER_LAYER = (
    [f"pipeline.{c}_{k}" for c in REPORTED_PIPELINE for k in ("s", "calls", "jobs")]
    + ["workflow.dag_overhead_s", "workflow.dag_runs", "ledger.calls", "ledger.s"]
    + [f"txn.{c}_{k}" for c in TXN_CALLS for k in ("s", "calls", "jobs")]
    + ["txn.bytes_written", "txn.files_written", "txn.partitions_rewritten"]
    + [f"housekeeping.{k}" for k in
       ("compact_s", "gc_s", "files_before", "files_after", "bytes_rewritten")]
    + [f"day.{k}" for k in
       ("wall_s", "pipeline_self_s", "workflow_self_s", "ledger_self_s",
        "txn_self_s", "residue_s")]
    + ["catalog.load_table_calls", "catalog.load_table_s", "catalog.load_table_jobs"]
    + [f"queries.{k}" for k in
       ("build_s", "build_jobs", "plan_s", "exec_s", "exec_python_s",
        "exec_jvm_s")]
    + [f"spark.{k}" for k in SPARK_KEYS] + ["spark.unattributed_jobs"]
    + ["etl.backfill_s", "etl.housekeeping_s", "etl.write_amp", "etl.space_amp"]
    + ["trace.total_s", "trace.p50_s", "trace.bookkeeping_s"]
)


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_amp"):
        return "ratio"
    return "bytes" if "bytes" in name else "count"


def _entries(txn, path) -> dict:
    m = txn.live_manifest(path)
    return {e["path"]: e for e in m["files"]} if m else {}


def install(tracer: Tracer) -> None:
    from airflow_etl_spark import catalog, ledger, pipeline, workflow
    from airflow_etl_spark.operators import maintenance
    from airflow_etl_spark.sources import txn

    for name in PIPELINE_CALLS:
        tracer.wrap(
            pipeline.Pipeline, name, f"pipeline.{name}",
            materialize=(lambda df: df.sparkSession.createDataFrame(df.collect(), df.schema))
            if name in LAZY_PIPELINE_CALLS else None,
        )

    def task_spans(args, kwargs):
        """Give every task callable of the DAG its own span, so the runner's
        own time (DagRunner.run minus its tasks) can be separated."""
        runner = args[0]
        saved = []
        for task in runner.tasks.values():
            if task.fn is not None:
                saved.append((task, task.fn))
                task.fn = _task_span(tracer, task.fn)
        return saved

    def restore_tasks(span, args, kwargs, result, saved):
        for task, fn in saved:
            task.fn = fn

    tracer.wrap(workflow.DagRunner, "run", "workflow.DagRunner.run",
                before=task_spans, after=restore_tasks)
    for name in LEDGER_CALLS:
        tracer.wrap(ledger.Ledger, name, f"ledger.{name}")

    def write_path(name):
        def before(args, kwargs):
            path = kwargs.get("path", args[0] if name == "append_rows" else args[1])
            return path, _entries(txn, path)
        return before

    def count_written(span, args, kwargs, result, state):
        path, old = state
        new = [e for p, e in _entries(txn, path).items() if p not in old]
        span.counts["files_written"] = len(new)
        span.counts["bytes_written"] = sum(e.get("bytes", 0) for e in new)
        span.counts["partitions_rewritten"] = len(
            {e["partition"] for e in new if e.get("partition") is not None})

    for name in TXN_WRITES:
        tracer.wrap(txn, name, f"txn.{name}", before=write_path(name), after=count_written)
    tracer.wrap(txn, "read_partitions", "txn.read_partitions")
    tracer.wrap(catalog, "load_table", "catalog.load_table")
    tracer.wrap(maintenance, "compact", "housekeeping.compact")
    tracer.wrap(maintenance, "orphan_files", "housekeeping.orphan_files")


def _task_span(tracer: Tracer, fn):
    def run_task(ctx):
        with tracer.span("workflow.task"):
            return fn(ctx)
    return run_task


def plan_runs_python(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return any(op in plan for op in PYTHON_OPERATORS)


def per_layer(tracer: Tracer, sparkc: dict, timed_roots: set[str]) -> dict[str, float]:
    """Flat per-layer metrics over the spans below the timed phase spans
    named in `timed_roots`; `sparkc` is `tracer.spark_counters()`. Values
    the workload measures itself (housekeeping file counts, traced walls)
    are merged in by the caller."""
    spans = tracer.spans
    by_id = {s.sid: s for s in spans}
    selfs = tracer.self_times()

    def ancestors(s):
        while s.parent is not None:
            s = by_id[s.parent]
            yield s

    def root_of(s):
        return next(reversed(list(ancestors(s))), s)

    def under(s, layer_prefix):
        """True when an ancestor span already belongs to the same layer."""
        return any(a.name.startswith(layer_prefix) for a in ancestors(s))

    timed = [s for s in spans if root_of(s).name in timed_roots]
    out = dict.fromkeys(PER_LAYER, 0.0)
    # jobs of a span and everything below it (children open after parents)
    jobs_incl = {s.sid: sparkc[s.sid]["jobs"] for s in spans}
    for s in reversed(spans):
        if s.parent is not None:
            jobs_incl[s.parent] += jobs_incl[s.sid]

    for s in timed:
        dur = s.end - s.start
        short = s.name.split(".", 1)[-1]
        if s.name.startswith("pipeline.") and short in REPORTED_PIPELINE:
            out[f"pipeline.{short}_s"] += dur
            out[f"pipeline.{short}_calls"] += 1
            out[f"pipeline.{short}_jobs"] += jobs_incl[s.sid]
        elif s.name == "workflow.DagRunner.run":
            out["workflow.dag_runs"] += 1
            out["workflow.dag_overhead_s"] += dur
        elif s.name == "workflow.task":
            out["workflow.dag_overhead_s"] -= dur
        elif s.name.startswith("ledger.") and not under(s, "ledger."):
            out["ledger.calls"] += 1
            out["ledger.s"] += dur
        elif s.name.startswith("txn.") and short in TXN_CALLS:
            out[f"txn.{short}_s"] += dur
            out[f"txn.{short}_calls"] += 1
            out[f"txn.{short}_jobs"] += jobs_incl[s.sid]
        elif s.name == "queries.build":
            out["queries.build_jobs"] += jobs_incl[s.sid]
        elif s.name == "catalog.load_table":
            out["catalog.load_table_calls"] += 1
            out["catalog.load_table_s"] += dur
            out["catalog.load_table_jobs"] += jobs_incl[s.sid]
        if s.name.startswith("txn.") and not under(s, "txn."):
            for k in ("bytes_written", "files_written", "partitions_rewritten"):
                out[f"txn.{k}"] += s.counts.get(k, 0)
        for k in SPARK_KEYS:
            out[f"spark.{k}"] += sparkc[s.sid][k]

    # blocking-path accounting of the median churn day: each layer's self
    # time, and what no layer span covers
    days = [s for s in spans if s.name == "phase.day"]
    if days:
        rows = []
        for d in days:
            inside = [s for s in spans if any(a is d for a in ancestors(s))]
            row = {"wall_s": d.end - d.start}
            for layer in ("pipeline", "workflow", "ledger", "txn"):
                row[f"{layer}_self_s"] = sum(
                    selfs[s.sid] for s in inside if s.name.startswith(layer + "."))
            row["residue_s"] = row["wall_s"] - sum(
                row[f"{la}_self_s"] for la in ("pipeline", "workflow", "ledger", "txn"))
            rows.append(row)
        mid = sorted(rows, key=lambda r: r["wall_s"])[(len(rows) - 1) // 2]
        for k, v in mid.items():
            out[f"day.{k}"] = v

    out["spark.unattributed_jobs"] = tracer.unattributed_jobs()
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s
    return out

