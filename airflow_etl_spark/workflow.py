"""Workflow runner — the Airflow replacement (SURVEY.md §2.11 C1-C11).

The reference's control-flow semantics, minus the scheduler daemon:

- task DAG with dependencies (C1/C2/C3 fan-out is just building many tasks)
- resume-skip: a task is skipped when the ledger already records success for
  its (source, task, etl_date) — `check_conditions`
  (utlis/etl_manager.py:435-468) / C4.
- branching: a task callable may return a branch label; non-selected
  branch targets are skipped (C5/C6).
- retries with per-task policy (C9).
- trigger rules: 'all_success' (default), 'all_done', 'none_skipped' (C10).
- run-ledger protocol: every task writes a status row; the run flips to
  success only when all tasks are success/skipped (C7).
- XCom analog: task results are stored in a run context dict keyed by task
  id (C11).

Single-process, driver-side; tasks themselves launch Spark jobs (Spark
provides the data-plane parallelism, mirroring how the reference delegates
to Trino/dbt). Ready tasks run concurrently on a thread pool of at most
MAX_ACTIVE_TASKS threads (the reference's dbt `threads`; Spark's scheduler
is thread-safe and the session runs FAIR): a task is submitted once every
upstream has a final status, so tasks that touch one table must declare a
dependency between them.

`run_concurrently` is the one fan-out helper for work inside a task or a
run (a vault domain's models, a root run's source groups): it runs a list
of callables at once, each thread carrying the caller's Spark local
properties, waits for every one, and then re-raises the first failure in
submission order, so nothing is still writing when the caller moves on.
"""

from __future__ import annotations

import logging
import threading
import time
from collections.abc import Callable, Sequence
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.util import inheritable_thread_target

from .ledger import Ledger

log = logging.getLogger(__name__)

#: most tasks of one DAG run at once (Airflow's default
#: max_active_tasks_per_dag)
MAX_ACTIVE_TASKS = 16


def run_concurrently(spark, fns: Sequence[Callable[[], object]],
                     max_workers: int = MAX_ACTIVE_TASKS) -> list:
    """Run every callable in `fns` at once on a pool of
    min(len(fns), max_workers) threads and return their results in
    submission order. Each submit captures its own copy of the caller's
    Spark local properties (job group, scheduler pool). Every callable
    runs to its end before the first failure, in submission order, is
    re-raised."""
    with ThreadPoolExecutor(max(1, min(len(fns), max_workers))) as pool:
        futs = [pool.submit(inheritable_thread_target(spark)(fn)) for fn in fns]
    return [fut.result() for fut in futs]  # the pool has joined every one


def all_green(statuses: dict[str, str]) -> bool:
    """A DAG run (or chain of runs) succeeded: every task success/skipped."""
    return all(s in ("success", "skipped") for s in statuses.values())


@dataclass
class Task:
    task_id: str
    fn: Callable[["RunContext"], object] | None = None
    depends_on: Sequence[str] = ()
    retries: int = 0
    retry_delay_s: float = 0.0
    trigger_rule: str = "all_success"  # all_success | all_done | none_skipped
    is_branch: bool = False  # fn returns the task_id(s) to follow
    timeout_s: float | None = None  # C9 dagrun_timeout analog, per attempt
    # C8 TimeSensor analog (reference dag_etlpipeline__root.py:81-85:
    # per-source `wait_time` staggers ~20 sources' starts so they don't
    # slam the warehouse simultaneously). The delay runs once per DAG run,
    # before the first attempt; resume-skipped tasks don't wait.
    start_delay_s: float = 0.0


@dataclass
class RunContext:
    run_id: str
    source_name: str
    etl_date: str
    ledger: Ledger
    results: dict[str, object] = field(default_factory=dict)
    #: task_id → "ExcType: message" of its last failed attempt
    errors: dict[str, str] = field(default_factory=dict)

    def xcom_pull(self, task_id: str):
        return self.results.get(task_id)


class DagRunner:
    """Ready-set executor with the reference's skip/branch/retry rules."""

    def __init__(
        self,
        dag_id: str,
        tasks: Sequence[Task],
        sleep_fn: Callable[[float], None] | None = None,
    ):
        self.dag_id = dag_id
        self.tasks = {t.task_id: t for t in tasks}
        # injectable clock-sleep (tests stub it; the reference's TimeSensor
        # is likewise scheduler-time, not task logic); None = time.sleep
        self._sleep = sleep_fn or time.sleep
        #: the RunContext of the latest run() — results and task errors
        self.last_context: RunContext | None = None
        # validate DAG
        for t in tasks:
            for d in t.depends_on:
                if d not in self.tasks:
                    raise ValueError(f"{t.task_id} depends on unknown task {d}")

    def run(
        self,
        ledger: Ledger,
        source_name: str,
        etl_date: str,
        run_id: str | None = None,
        created_by: str = "master",
    ) -> dict[str, str]:
        """Execute the DAG; returns {task_id: final_status}. Statuses:
        success | failed | skipped | upstream_failed."""
        rid = ledger.start_run(source_name, etl_date, created_by, run_id)
        ctx = RunContext(rid, source_name, etl_date, ledger)
        self.last_context = ctx
        status: dict[str, str] = {}
        deselected: set[str] = set()
        # resume-skip snapshot: one ledger scan for the whole DAG run
        # (per-task has_succeeded jobs add a driver round trip per task)
        succeeded = ledger.successful_tasks(source_name, etl_date, self.dag_id)

        self._topo_order()  # cycle check
        # ready-set scheduling: a task is submitted once every upstream has
        # a final status; this thread alone records statuses, in completion
        # order. Each submit captures its own copy of the caller's Spark
        # local properties (job group, scheduler pool) for the task thread:
        # threads that shared one copy would see each other's job groups.
        waiting = dict(self.tasks)
        running: dict = {}
        workers = max(1, min(len(self.tasks), MAX_ACTIVE_TASKS))
        with ThreadPoolExecutor(workers, f"dag-{self.dag_id}") as pool:
            while waiting or running:
                for tid, task in list(waiting.items()):
                    if all(d in status for d in task.depends_on):
                        del waiting[tid]
                        fn = inheritable_thread_target(ledger.spark)(
                            self._decide_and_run
                        )
                        fut = pool.submit(
                            fn, task, ctx, status, deselected, succeeded
                        )
                        running[fut] = tid
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    tid = running.pop(fut)
                    status[tid] = fut.result()
                    ledger.save_task_status(
                        rid, source_name, self.dag_id, tid, status[tid], etl_date
                    )

        ledger.finish_run(
            rid, source_name, etl_date,
            "success" if all_green(status) else "failed", created_by,
        )
        return {tid: status[tid] for tid in self.tasks}

    # ------------------------------------------------------------------
    def _topo_order(self) -> list[str]:
        seen: dict[str, int] = {}
        out: list[str] = []

        def visit(tid: str, stack: tuple = ()):
            if tid in stack:
                raise ValueError(f"cycle at {tid}")
            if seen.get(tid):
                return
            for d in self.tasks[tid].depends_on:
                visit(d, stack + (tid,))
            seen[tid] = 1
            out.append(tid)

        for tid in self.tasks:
            visit(tid)
        return out

    def _decide_and_run(
        self,
        task: Task,
        ctx: RunContext,
        status: dict[str, str],
        deselected: set[str],
        succeeded: set[str],
    ) -> str:
        ups = [status[d] for d in task.depends_on]

        if task.task_id in deselected:
            return "skipped"
        rule = task.trigger_rule
        if rule == "all_success":
            if any(s in ("failed", "upstream_failed") for s in ups):
                return "upstream_failed"
            if any(s == "skipped" for s in ups) and not ups.count("success"):
                return "skipped"
        elif rule == "none_skipped":
            if any(s == "skipped" for s in ups):
                return "skipped"
            if any(s in ("failed", "upstream_failed") for s in ups):
                return "upstream_failed"
        elif rule == "all_done":
            pass  # run regardless of upstream outcome
        else:
            raise ValueError(f"unknown trigger rule {rule}")

        if task.fn is None:  # structural no-op (start/end markers) — never
            # C8 staggered start: the TimeSensor analog usually rides the
            # structural head task of a source's chain. A resumed re-run
            # must not re-pay the stagger: the ledger records success for
            # structural tasks too, so the succeeded-set check applies to
            # them exactly as it does to work tasks (ADVICE r2).
            if task.start_delay_s > 0 and task.task_id not in succeeded:
                self._sleep(task.start_delay_s)
            return "success"  # resume-skipped, so skips don't cascade

        # resume-skip (C4): already succeeded for this (source, dag, task,
        # date). Branch tasks are EXEMPT: they are control decisions, not
        # work — skipping one on a re-run would never re-apply the branch
        # selection, so a previously-chosen arm that failed would silently
        # skip instead of retry.
        if not task.is_branch and task.task_id in succeeded:
            return "skipped"

        # C8: work-task delay runs AFTER the resume-skip check — a resumed
        # re-run of a finished chain must not re-pay the stagger waits
        if task.start_delay_s > 0:
            self._sleep(task.start_delay_s)

        attempts = task.retries + 1
        for attempt in range(attempts):
            try:
                result = self._call(task, ctx)
                ctx.results[task.task_id] = result
                if task.is_branch:
                    chosen = result if isinstance(result, (list, tuple, set)) else [result]
                    for candidate in self._downstream(task.task_id):
                        # all_done tasks run regardless (C10) — a join/end
                        # sitting directly downstream of the branch must not
                        # be deselected along with the unchosen arms
                        if (
                            candidate not in chosen
                            and self.tasks[candidate].trigger_rule != "all_done"
                        ):
                            deselected.add(candidate)
                return "success"
            except Exception as e:
                # the runner must outlive any task: record, then retry/fail
                log.warning(
                    "%s.%s attempt %d/%d failed", self.dag_id, task.task_id,
                    attempt + 1, attempts, exc_info=True,
                )
                ctx.errors[task.task_id] = f"{type(e).__name__}: {e}"
                if attempt + 1 >= attempts:
                    return "failed"
                self._sleep(task.retry_delay_s)
        return "failed"

    def _call(self, task: Task, ctx: RunContext):
        """Run one attempt, honoring timeout_s (C9: the reference's retry +
        dagrun_timeout policies, dag_etlpipeline__root.py:37-38,
        dag_etlpipeline__staging.py:77). The timed-out callable cannot be
        force-killed in-process (same as an Airflow local task losing the
        race); the attempt is FAILED and counts against retries, and its
        error names the abandoned thread, which keeps running (a daemon,
        so it never blocks interpreter exit)."""
        if task.timeout_s is None:
            return task.fn(ctx)
        out: dict = {}

        def attempt():
            try:
                out["result"] = task.fn(ctx)
            except BaseException as e:  # re-raised on the caller's thread
                out["error"] = e

        t = threading.Thread(
            target=inheritable_thread_target(ctx.ledger.spark)(attempt),
            name=f"task-{self.dag_id}.{task.task_id}", daemon=True,
        )
        t.start()
        t.join(task.timeout_s)
        if t.is_alive():
            log.warning(
                "%s.%s exceeded %ss: attempt abandoned, thread %s (ident %d) "
                "is still running", self.dag_id, task.task_id, task.timeout_s,
                t.name, t.ident,
            )
            raise TimeoutError(
                f"task {task.task_id} exceeded {task.timeout_s}s; attempt "
                f"abandoned, thread {t.name} (ident {t.ident}) is still running"
            )
        if "error" in out:
            raise out["error"]
        return out["result"]

    def _downstream(self, tid: str) -> list[str]:
        return [t.task_id for t in self.tasks.values() if tid in t.depends_on]
